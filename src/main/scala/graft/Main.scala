package graft

import org.apache.spark.sql.SparkSession
import graft.core.Types.Rates
import graft.etl.{Billing, Enrich, Ingest, InvoiceSink}

/** CLI batch entry point — EP1 of SURVEY.md §3, the analog of the
  * reference's `python -m openstack_billing_db.main`
  * (/root/reference/src/openstack_billing_db/main.py:33-155).
  *
  * Reads nova-shaped parquet tables (`instances`, `instance_extra`,
  * `instance_actions`) from --data-dir, folds the billing window through
  * the state machine, prices per-project service-unit hours, and writes
  * the 16-column invoice CSV. Rates arrive as CLI decimals exactly like
  * main.py:95-121; S3 upload becomes key computation only (zero-egress
  * environment) — the key templates match billing.py:267-291.
  *
  * Usage:
  *   runMain graft.Main (--data-dir DIR | --dump-file nova.sql[.gz]|DUMP_DIR [--dump-merge first|union]
  *                       | --fetch-dump BUCKET_DIR [--fetch-date YYYY-MM-DD]) --output-dir DIR
  *     [--rates-file rates.yaml|URL] [--outages-file outages.csv|URL [--cluster-name stack]]
  *     [--upload-dest s3a://bucket|file:///dir] [--no-upload-to-primary]
  *     [--start 2024-01-01T00:00:00] [--end 2024-02-01T00:00:00]
  *     [--invoice-month 2024-01]
  *     [--rate-cpu-su 0.013] [--rate-gpu-a100-su 1.803] ...
  *     [--include-stopped-runtime] [--exclude-interval START,END]...
  */
object Main {

  final case class Config(
      dataDir: String = "",
      dumpFile: String = "",
      fetchDump: String = "",
      fetchDate: Option[java.time.LocalDate] = None,
      dumpMerge: String = "first",
      ratesFile: String = "",
      outagesFile: String = "",
      clusterName: String = etl.OutagesConfig.DefaultCluster,
      outputDir: String = "",
      uploadDest: String = "",
      uploadToPrimary: Boolean = true, // main.py:136 default True
      start: Option[java.time.LocalDateTime] = None,
      end: Option[java.time.LocalDateTime] = None,
      invoiceMonth: Option[String] = None,
      rates: Rates = Rates(
        cpu = BigDecimal(0), gpuA100 = BigDecimal(0), gpuA100sxm4 = BigDecimal(0),
        gpuV100 = BigDecimal(0), gpuA2 = BigDecimal(0), gpuK80 = BigDecimal(0),
        includeStoppedRuntime = false),
      excludeIntervals: Seq[(java.time.LocalDateTime, java.time.LocalDateTime)] = Seq.empty)

  /** Accepts date-only (YYYY-MM-DD) or full ISO local datetimes, like the
    * reference's fromisoformat-based parse_time_argument.
    */
  def parseTimeArg(s: String): java.time.LocalDateTime =
    if (s.length == 10) java.time.LocalDate.parse(s).atStartOfDay()
    else java.time.LocalDateTime.parse(s)

  def parseArgs(args: Seq[String]): Config = {
    def ldt(s: String) = parseTimeArg(s)
    @annotation.tailrec
    def go(rest: List[String], c: Config): Config = rest match {
      case "--data-dir" :: v :: t   => go(t, c.copy(dataDir = v))
      case "--dump-file" :: v :: t  => go(t, c.copy(dumpFile = v))
      case "--fetch-dump" :: v :: t => go(t, c.copy(fetchDump = v))
      case "--fetch-date" :: v :: t =>
        go(t, c.copy(fetchDate = Some(java.time.LocalDate.parse(v))))
      case "--dump-merge" :: v :: t => go(t, c.copy(dumpMerge = v))
      case "--rates-file" :: v :: t => go(t, c.copy(ratesFile = v))
      case "--outages-file" :: v :: t => go(t, c.copy(outagesFile = v))
      case "--cluster-name" :: v :: t => go(t, c.copy(clusterName = v))
      case "--output-dir" :: v :: t => go(t, c.copy(outputDir = v))
      case "--upload-dest" :: v :: t => go(t, c.copy(uploadDest = v))
      case "--no-upload-to-primary" :: t =>
        go(t, c.copy(uploadToPrimary = false))
      case "--start" :: v :: t => go(t, c.copy(start = Some(ldt(v))))
      case "--end" :: v :: t   => go(t, c.copy(end = Some(ldt(v))))
      case "--invoice-month" :: v :: t => go(t, c.copy(invoiceMonth = Some(v)))
      case "--rate-cpu-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(cpu = BigDecimal(v))))
      case "--rate-gpu-a100-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(gpuA100 = BigDecimal(v))))
      case "--rate-gpu-a100sxm4-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(gpuA100sxm4 = BigDecimal(v))))
      case "--rate-gpu-v100-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(gpuV100 = BigDecimal(v))))
      case "--rate-gpu-a2-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(gpuA2 = BigDecimal(v))))
      case "--rate-gpu-k80-su" :: v :: t =>
        go(t, c.copy(rates = c.rates.copy(gpuK80 = BigDecimal(v))))
      case "--include-stopped-runtime" :: t =>
        go(t, c.copy(rates = c.rates.copy(includeStoppedRuntime = true)))
      case "--exclude-interval" :: v :: t =>
        val Array(s, e) = v.split(",", 2)
        go(t, c.copy(excludeIntervals = c.excludeIntervals :+ (ldt(s), ldt(e))))
      case Nil => c
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown argument: $other")
    }
    val c = go(args.toList, Config())
    require(c.dataDir.nonEmpty || c.dumpFile.nonEmpty || c.fetchDump.nonEmpty,
      "--data-dir, --dump-file, or --fetch-dump is required")
    require(c.outputDir.nonEmpty, "--output-dir is required")
    c
  }

  private def toUs(t: java.time.LocalDateTime): Long =
    t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  /** Config sources (`--rates-file`, `--outages-file`) accept a plain
    * path OR any URL — the reference fetches its rates YAML over HTTPS
    * (main.py:179 `load_from_url`); here `https://…` does the same when
    * egress exists and `file://…` exercises the identical code path with
    * zero network.
    */
  def readConfigSource(pathOrUrl: String): String =
    if (pathOrUrl.contains("://")) {
      val in = java.net.URI.create(pathOrUrl).toURL.openStream()
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } else
      java.nio.file.Files.readString(java.nio.file.Paths.get(pathOrUrl))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(parseArgs(args.toIndexedSeq), spark)
    finally spark.stop()
  }

  /** The whole batch job against a caller-owned session (testable without
    * tearing the session down — `main` owns the lifecycle, not the work).
    */
  def run(cfg: Config, spark: SparkSession): Unit = {
    // F6 — window defaulting (main.py:21-30)
    val (defStart, defEnd) = InvoiceSink.defaultWindow(java.time.LocalDate.now())
    val start = cfg.start.getOrElse(defStart)
    val end = cfg.end.getOrElse(defEnd)
    // Reference quirk preserved (main.py:60): the default invoice month
    // comes from the DEFAULT start's month, even when --start overrides
    // the window.
    val invoiceMonth = cfg.invoiceMonth.getOrElse(
      defStart.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")))

    // --rates-file: the config-repo rates path (reference --use-nerc-rates,
    // main.py:174-192) with the HTTP hop left to the caller — the file is
    // the same YAML the reference fetches, resolved at the invoice month.
    // Overrides any CLI rate flags, as the reference's flag does.
    val rates =
      if (cfg.ratesFile.nonEmpty)
        etl.RatesConfig.ratesAt(
          etl.RatesConfig.parse(readConfigSource(cfg.ratesFile)), invoiceMonth)
      else cfg.rates

    val startUs = toUs(start)
    val endUs = toUs(end)
    // --outages-file: the outages-config path (billing.py:121-124) —
    // this cluster's outages overlapping the window, clipped to it, then
    // subtracted through the same single-pass interval join as
    // --exclude-interval
    val fileOutages =
      if (cfg.outagesFile.nonEmpty)
        etl.OutagesConfig.outagesDuring(
          etl.OutagesConfig.parse(readConfigSource(cfg.outagesFile)),
          start, end, cfg.clusterName)
      else Seq.empty
    val outages =
      (cfg.excludeIntervals ++ fileOutages).map { case (s, e) => (toUs(s), toUs(e)) }

    // --dump-file: the reference's whole fetch.py entry path collapsed
    // into one hop — a mysqldump (plain or .sql.gz, local or s3a://;
    // gzip is non-splittable, so DumpConvert stages .gz through one
    // streaming gunzip and parses the splittable copy in parallel)
    // converts to parquet once and the run proceeds off the converted
    // layout. A reference user can point the CLI straight at today's
    // dump key.
    // --fetch-dump: the reference's WHOLE fetch.py path (fetch.py:11-95)
    // — list today's (or --fetch-date's) per-controller prefixes in
    // fallback order, take the first object of the first non-empty
    // listing, and feed the selected key into the dump conversion. The
    // listing runs through Hadoop FileSystem, so a file:// fixture dir
    // and the real s3a:// bucket exercise the identical code path.
    val dumpFile =
      if (cfg.fetchDump.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(cfg.fetchDump)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val date = cfg.fetchDate.getOrElse(java.time.LocalDate.now())
        val key = etl.DumpFetch
          .selectDumpKey(date, etl.DumpFetch.fsListing(fs, root))
          .getOrElse(throw new IllegalStateException(
            // fetch.py:74's raise, same message shape
            s"No database dumps found for ${date.format(
              java.time.format.DateTimeFormatter.BASIC_ISO_DATE)}"))
        println(s"[main] selected dump key: $key")
        new org.apache.hadoop.fs.Path(root, key).toString
      } else cfg.dumpFile
    // the converted parquet lives only as long as this run
    val converted =
      if (dumpFile.nonEmpty) Some(java.nio.file.Files.createTempDirectory("graft-dump-pq").toString)
      else None
    try {
      converted.foreach(etl.DumpConvert.convert(spark, dumpFile, _, cfg.dumpMerge))
      val dataDir = converted.getOrElse(cfg.dataDir)
      val instances = Ingest.table(spark, dataDir, "instances")
      val extra = Ingest.table(spark, dataDir, "instance_extra")
      val actions = Ingest.table(spark, dataDir, "instance_actions")

      val enriched = Enrich.enrichInstances(instances, extra, startUs)
      val su = Billing.instanceSuHours(actions, enriched, rates, startUs, endUs, outages)
      val invoices = Billing.projectInvoices(su, rates)

      val isoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
      val rows = InvoiceSink.csvRows(invoices, invoiceMonth,
        start.atOffset(java.time.ZoneOffset.UTC).format(isoFmt),
        end.atOffset(java.time.ZoneOffset.UTC).format(isoFmt),
        // timespec="seconds" parity with billing.py:160
        java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
          .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).format(isoFmt))
      InvoiceSink.writeCsv(rows, cfg.outputDir)
    } finally converted.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }

    // S7 — the triple upload (billing.py:244-293): same body to primary
    // (skippable, --no-upload-to-primary), daily, and archive keys, in
    // that order, through Hadoop FileSystem — file:// fixtures and
    // s3a:// buckets take the identical path. Without --upload-dest the
    // keys are computed and reported only.
    val now = java.time.Instant.now()
    if (cfg.uploadDest.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(cfg.uploadDest)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val written = InvoiceSink.uploadInvoice(
        InvoiceSink.readCsvBytes(cfg.outputDir), invoiceMonth, endUs, now,
        InvoiceSink.fsPut(fs, root), cfg.uploadToPrimary)
      written.foreach(k => println(s"[main] uploaded: $k"))
    }
    val (primary, daily, archive) =
      InvoiceSink.s3Keys(invoiceMonth, endUs, now)
    println(s"[main] wrote invoice CSV to ${cfg.outputDir}")
    println(s"[main] s3 primary key: $primary")
    println(s"[main] s3 daily key:   $daily")
    println(s"[main] s3 archive key: $archive")
  }
}
