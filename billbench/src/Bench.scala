package billbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Main
import graft.etl._
import graft.sql.RuntimeSql

/** The billing-run benchmark's JVM side. `run.py` starts it twice per run:
  *
  *   --mode gen   write the seed's input files (unless already on disk)
  *                and run the generator self-check; no Spark
  *   --mode run   create the SparkSession, print BILLBENCH_READY, then
  *                regenerate the fleet in memory, compute the oracle
  *                invoice, and run billing jobs back to back (closed loop,
  *                one job at a time) for --seconds
  *
  * Each mode ends with one BILLBENCH_RESULT JSON line. Input files are
  * written in their own JVM so that the first billing job of `run` is the
  * first parquet and Spark work of a fresh JVM, as in the daily CronJob.
  *
  * Untraced jobs call `graft.Main.run` exactly as the CLI does. A traced
  * job (--trace 1, interleaved with untraced ones) composes the same
  * public entry points as `Main.run`, materializing each layer's output
  * at its boundary inside a span.
  */
object Bench {

  /** Untraced jobs after the cold one and before timing starts, per
    * workload. Job times keep falling for several warm jobs while the JIT
    * compiles Spark's planner and the program's code paths; these counts
    * bring the timed jobs near the level part of that curve on a 4-vCPU
    * host (README).
    */
  val Warmups: Map[String, Int] = Map("month_close" -> 10, "daily_dump" -> 7, "outage_skew" -> 8)

  val Specs: Map[String, Spec] = Seq(
    Spec("month_close", instances = 10000, actions = 100000, projects = 1000, outages = 1,
      zipfS = 0, bigTenant = 0, start = LocalDate.of(2024, 1, 1), end = LocalDate.of(2024, 2, 1),
      includeStopped = false, dump = false),
    Spec("daily_dump", instances = 3000, actions = 36000, projects = 300, outages = 2,
      zipfS = 0, bigTenant = 0, start = LocalDate.of(2024, 2, 1), end = LocalDate.of(2024, 2, 15),
      includeStopped = false, dump = true),
    Spec("outage_skew", instances = 2500, actions = 60000, projects = 250, outages = 96,
      zipfS = 1.0, bigTenant = 1.0 / 3, start = LocalDate.of(2024, 1, 1),
      end = LocalDate.of(2024, 2, 1), includeStopped = true, dump = false)
  ).map(s => s.name -> s).toMap

  /** Every path under `root`, `root` included. */
  def walk(root: Path): Seq[Path] = {
    val w = Files.walk(root)
    try w.toArray.map(_.asInstanceOf[Path]).toSeq finally w.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).sortBy(-_.getNameCount).foreach(Files.delete)

  def clearDir(p: Path): Unit = { deleteTree(p); Files.createDirectories(p) }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("billbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(a("--work")).toAbsolutePath
    val tree = new InputTree(Specs(a("--workload")), a("--seed").toLong, work)
    val out =
      if (a("--mode") == "gen") tree.prepare()
      else {
        val spark = session(work, a("--cores").toInt)
        println("BILLBENCH_READY")
        System.out.flush()
        try new Run(spark, tree, a("--seconds").toDouble, a("--trace") == "1", work).result()
        finally spark.stop()
      }
    println("BILLBENCH_RESULT " + Json(out))
  }

  /** Fixed integer work, timed: a host-health probe, not a metric. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** (steal, total) jiffies over all CPUs since boot, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Share of CPU time the hypervisor took from this VM between two
    * `cpuJiffies` readings: a host-contention diagnostic, like the CPU probe.
    */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    (to._1 - from._1).toDouble / math.max(1L, to._2 - from._2)

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result line (numbers, strings, booleans,
  * nested maps and sequences).
  */
object Json {
  def apply(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => q(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => q(other.toString)
  }
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

/** One workload's input files for one seed: where they live, and the
  * `gen` mode that writes them. Parquet goes through parquet's own writer
  * and the dump through plain Java, so no Spark runs here.
  */
final class InputTree(val spec: Spec, val seed: Long, work: Path) {
  import Bench._

  val dir: Path = work.resolve("inputs").resolve(s"${spec.name}-$seed")
  /** Holds the digest of the fleet the files were written from. */
  val marker: Path = dir.resolve("COMPLETE")

  private val dayKey = spec.end.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
  /** Today's dump on controller 1; controller 0 only has yesterday's, so
    * the listing falls back; a later same-day dump on controller 1 and one
    * on controller 2 are decoys the first-object rule must skip.
    */
  val dumpKey = s"dbs/nerc-ctl-1/nova-${dayKey}000002.sql.gz"

  private def write(f: Fleet, dir: Path, parts: Int): Unit = {
    Inputs.writeText(dir.resolve("outages.csv"), Inputs.outagesCsv(f))
    Inputs.writeText(dir.resolve("rates.yaml"), Inputs.ratesYaml)
    if (spec.dump) {
      val b = dir.resolve("bucket")
      Inputs.writeDump(f, b.resolve(dumpKey))
      val junk = "this is not a dump\n"
      val prev = spec.end.minusDays(1).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      Inputs.writeText(b.resolve(s"dbs/nerc-ctl-0/nova-${prev}000001.sql"), junk)
      Inputs.writeText(b.resolve(s"dbs/nerc-ctl-1/nova-${dayKey}120000.sql"), junk)
      Inputs.writeText(b.resolve(s"dbs/nerc-ctl-2/nova-${dayKey}000001.sql"), junk)
    } else Inputs.writeParquet(f, dir.resolve("pq"), parts)
  }

  /** Same seed ⇒ byte-identical input files, on a small fleet of this
    * workload's shape.
    */
  private def generatorDeterminism(): Option[String] = {
    val small = spec.copy(instances = 200, actions = 3000, projects = 20,
      outages = math.min(spec.outages, 4))
    val digests = (1 to 2).map { k =>
      val d = work.resolve(s"selfcheck-$k")
      clearDir(d)
      write(Gen.generate(small, seed), d, 2)
      try Inputs.treeDigest(d) finally deleteTree(d)
    }
    if (digests(0) != digests(1)) Some("generator: same seed wrote different bytes") else None
  }

  /** `gen` mode: write this seed's inputs unless the same fleet is on disk. */
  def prepare(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val problems = generatorDeterminism().toSeq
    val fleet = Gen.generate(spec, seed)
    if (!Files.exists(marker) || Files.readString(marker) != fleet.digest) {
      clearDir(dir)
      write(fleet, dir, 4)
      Files.writeString(marker, fleet.digest)
    }
    Map("problems" -> problems, "diag" -> Map(
      "input.bytes" -> walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum,
      "setup.gen_s" -> (System.nanoTime() - t0) / 1e9))
  }
}

/** One benchmark run of one workload. */
final class Run(spark: SparkSession, tree: InputTree, seconds: Double, trace: Boolean, work: Path) {
  import Bench._

  private val spec = tree.spec
  private val seed = tree.seed
  private val us = 1000000L
  private val month = spec.start.toString.take(7)
  private val startIso = s"${spec.start}T00:00:00+00:00"
  private val endIso = s"${spec.end}T00:00:00+00:00"
  private val inputs = tree.dir
  private val outDir = work.resolve("out")
  private val uploadDir = work.resolve("upload")
  private val tmpDir = Paths.get(sys.props("java.io.tmpdir"))
  private val diag = mutable.LinkedHashMap.empty[String, Any]
  private val problems = mutable.ArrayBuffer.empty[String]

  private def mainArgs: Seq[String] = {
    val window = Seq("--output-dir", outDir.toString, "--start", spec.start.toString,
      "--end", spec.end.toString, "--invoice-month", month,
      "--outages-file", inputs.resolve("outages.csv").toString)
    if (spec.dump)
      Seq("--fetch-dump", "file://" + inputs.resolve("bucket"), "--fetch-date", spec.end.toString,
        "--rates-file", inputs.resolve("rates.yaml").toString,
        "--upload-dest", "file://" + uploadDir) ++ window
    else
      Seq("--data-dir", inputs.resolve("pq").toString) ++ window ++
        Inputs.Rates.flatMap { case (flag, _, v) => Seq(flag, v) } ++
        (if (spec.includeStopped) Seq("--include-stopped-runtime") else Nil)
  }

  private val dumpKey = tree.dumpKey

  private def pricing: Oracle.Pricing =
    Oracle.Pricing(Inputs.Rates.map { case (_, t, v) => t -> v }.toMap, month)

  // ---- self-checks of the benchmark's own pieces ----

  /** The MainSpec fleet: one 2-SU instance running 10 h → 20 SU-hours,
    * 0.26 at 0.013.
    */
  private def oracleHandCheck(): Unit = {
    val s = Gen.epoch(LocalDate.of(2024, 1, 1))
    val f = new Fleet(Array("i1"), Array("projA"), Array(2), Array(8192L), Array(1L), Array(null),
      Array(0), Array(true), Array(-1L), Array(0), Array(0, 0), Array(s, s + 36000), Array("create", "delete"),
      Array(null, null), Nil)
    val inv = Oracle.invoice(Oracle.suHours(f, s, Gen.epoch(LocalDate.of(2024, 2, 1)), false),
      pricing.copy(month = "2024-01"), "a", "b")
    val row = inv.get(("projA", "OpenStack CPU"))
    if (!row.exists(r => r(11) == "20" && r(14) == "0.26"))
      problems += s"oracle hand check: expected 20 SU-hours / 0.26, got $row"
  }

  /** A deliberately wrong invoice must count as an error. */
  private def wrongInvoiceCheck(csv: String, expected: Oracle.Invoice): Unit = {
    val lines = csv.split("\n", -1)
    val cells = lines(1).split(",", -1)
    cells(14) = cells(14) + "1"
    lines(1) = cells.mkString(",")
    if (Oracle.mismatches(lines.mkString("\n"), expected) == 0)
      problems += "oracle compare: a corrupted Cost cell went unnoticed"
  }

  // ---- one billing job ----

  private def resetScratch(): Unit = {
    clearDir(outDir); clearDir(uploadDir)
    val ls = Files.list(tmpDir)
    try ls.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("graft-")).foreach(deleteTree)
    finally ls.close()
  }

  private def csvText: String = new String(InvoiceSink.readCsvBytes(outDir.toString), "UTF-8")

  /** Cells the job got wrong, incl. uploads that differ from the CSV. */
  private def check(expected: Oracle.Invoice): Int = {
    def note(d: String): Unit = if (!diag.contains("first_mismatch")) diag("first_mismatch") = d
    val body = InvoiceSink.readCsvBytes(outDir.toString)
    var bad = Oracle.mismatches(new String(body, "UTF-8"), expected, note)
    if (spec.dump) {
      // Hadoop's local filesystem writes a .crc beside each upload
      val files = walk(uploadDir).filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
      val names = files.map(uploadDir.relativize(_).toString)
      val want = Seq(s"Invoices/$month/Service Invoices/NERC OpenStack $month.csv",
        s"Invoices/$month/Service Invoices/NERC OpenStack ${spec.end.minusDays(1)}.csv")
      if (files.size != 3 || !want.forall(names.contains) ||
        !files.forall(p => java.util.Arrays.equals(Files.readAllBytes(p), body))) {
        bad += 1
        note(s"uploads: $names")
      }
    }
    bad
  }

  private def untracedJob(): Double = {
    resetScratch()
    val t0 = System.nanoTime()
    Main.run(Main.parseArgs(mainArgs), spark)
    (System.nanoTime() - t0) / 1e9
  }

  private val listener = new LayerListener
  private val spanLog = mutable.ArrayBuffer.empty[Span]

  /** One job composed from the same public entry points as `Main.run`,
    * each layer's output materialized at its boundary inside a span.
    * Returns the job span's seconds (probe spans excluded) and the
    * per-layer metrics.
    */
  private def tracedJob(id: Int): (Double, Map[String, Double]) = {
    resetScratch()
    val sc = spark.sparkContext
    val tr = new Tracer(id, sc)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached += p
      (p, p.count())
    }
    val cfg = Main.parseArgs(mainArgs)
    val start = cfg.start.get
    val end = cfg.end.get
    def toUs(t: java.time.LocalDateTime): Long = t.toEpochSecond(java.time.ZoneOffset.UTC) * us

    // probes, outside the job span: the gunzip and the DDL scan that
    // DumpConvert.convert runs internally, timed on their own. Like every
    // layer span below, a span also wraps the branch that skips its layer
    // on a workload without it, so its time reads near zero, as measured.
    val dump = inputs.resolve("bucket").resolve(dumpKey).toString
    val staged = tr.span("probe.stage")(if (spec.dump) Some(DumpConvert.stageSplittable(spark, dump)) else None)
    tr.span("probe.ddl_scan")(staged.foreach(DumpConvert.tableColumns(spark, _)))
    val stagedBytes = staged.map(p => Files.size(Paths.get(p))).getOrElse(0L)
    staged.foreach(p => Files.delete(Paths.get(p)))
    listener.drain(sc, -id)
    listener.reset()

    var counts = Map.empty[String, Long]
    var nOutages = 0
    var csvBytes = 0L
    tr.span("job") {
      val (rates, outages) = tr.span("config") {
        val r =
          if (cfg.ratesFile.nonEmpty)
            RatesConfig.ratesAt(RatesConfig.parse(Main.readConfigSource(cfg.ratesFile)), month)
          else cfg.rates
        val o = OutagesConfig.outagesDuring(
          OutagesConfig.parse(Main.readConfigSource(cfg.outagesFile)), start, end, cfg.clusterName)
        (r, (cfg.excludeIntervals ++ o).map { case (a, b) => (toUs(a), toUs(b)) })
      }
      nOutages = outages.size
      val dumpFile = tr.span("dumpfetch") {
        if (cfg.fetchDump.isEmpty) None
        else {
          val root = new HPath(cfg.fetchDump)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          Some(new HPath(root, DumpFetch.selectDumpKey(cfg.fetchDate.get, DumpFetch.fsListing(fs, root)).get).toString)
        }
      }
      val dataDir = tr.span("dumpconvert") {
        dumpFile.map { f =>
          val conv = Files.createTempDirectory("graft-dump-pq").toString
          DumpConvert.convert(spark, f, conv, cfg.dumpMerge)
          conv
        }.getOrElse(cfg.dataDir)
      }
      val ((instances, nInst), (extra, nExtra), (actions, nAct)) = tr.span("ingest") {
        (mat(Ingest.table(spark, dataDir, "instances")), mat(Ingest.table(spark, dataDir, "instance_extra")),
          mat(Ingest.table(spark, dataDir, "instance_actions")))
      }
      val startUs = toUs(start)
      val endUs = toUs(end)
      val (enriched, nEnriched) = tr.span("enrich")(mat(Enrich.enrichInstances(instances, extra, startUs)))
      val (su, nSu) = tr.span("billing.instance_su") {
        // the inputs Billing.instanceSuHours hands to RuntimeSql, built the
        // same way, so the outer call below reads these two layers' cached
        // outputs instead of recomputing them
        val tie =
          if (actions.columns.contains("id")) col("id").cast("long")
          else monotonically_increasing_id()
        val shaped = actions.select(col("instance_uuid").as("key"),
          unix_micros(col("created_at")).as("ts_us"), tie.as("tie"),
          RuntimeSql.mapState(col("action"), col("message")).as("state"))
        val deleted = enriched.filter(col("deleted_at").isNotNull)
          .select(col("uuid").as("key"), unix_micros(col("deleted_at")).as("deleted_at_us"))
        val (runs, nRuns) = tr.span("runtimesql.state_runs")(mat(RuntimeSql.stateRuns(shaped, Some(deleted))))
        tr.span("runtimesql.excluding")(mat(RuntimeSql.runtimeExcluding(runs, startUs, endUs, outages)))
        counts += "runs" -> nRuns
        val r = mat(Billing.instanceSuHours(actions, enriched, rates, startUs, endUs, outages))
        diag("trace.runtime_cache_reused") = !r._1.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
        r
      }
      val (invoices, nInv) = tr.span("billing.project_invoices")(mat(Billing.projectInvoices(su, rates)))
      val isoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
      tr.span("invoicesink.csv") {
        InvoiceSink.writeCsv(InvoiceSink.csvRows(invoices, month,
          start.atOffset(java.time.ZoneOffset.UTC).format(isoFmt),
          end.atOffset(java.time.ZoneOffset.UTC).format(isoFmt),
          java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
            .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).format(isoFmt)), cfg.outputDir)
      }
      tr.span("invoicesink.upload")(if (cfg.uploadDest.nonEmpty) {
        val root = new HPath(cfg.uploadDest)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        InvoiceSink.uploadInvoice(InvoiceSink.readCsvBytes(cfg.outputDir), month, endUs,
          java.time.Instant.now(), InvoiceSink.fsPut(fs, root), cfg.uploadToPrimary)
      })
      csvBytes = InvoiceSink.readCsvBytes(cfg.outputDir).length.toLong
      counts ++= Map("instances" -> nInst, "extra" -> nExtra, "actions" -> nAct,
        "enriched" -> nEnriched, "su" -> nSu, "invoices" -> nInv)
      counts += "gpu" -> enriched.filter(col("su_type") =!= "cpu").count()
    }
    listener.drain(sc, id)
    cached.foreach(_.unpersist(blocking = true))
    spanLog ++= tr.spans

    val jobGroups = listener.groups.filterNot(g => g.startsWith("fence-") || g.startsWith("probe.")).toSeq
    val all = listener.get(jobGroups: _*)
    val conv = listener.get("dumpconvert")
    val rs = listener.get("runtimesql.state_runs", "runtimesql.excluding")
    val probes = tr.seconds("probe.stage") + tr.seconds("probe.ddl_scan")
    val m = Map[String, Double](
      "dumpfetch.select_s" -> tr.seconds("dumpfetch"),
      "dumpconvert.stage_s" -> tr.seconds("probe.stage"),
      "dumpconvert.ddl_scan_s" -> tr.seconds("probe.ddl_scan"),
      "dumpconvert.convert_s" -> (tr.seconds("dumpconvert") - (if (spec.dump) probes else 0.0)),
      "dumpconvert.bytes_in" -> (if (spec.dump) Files.size(inputs.resolve("bucket").resolve(dumpKey)).toDouble else 0.0),
      "dumpconvert.rows_out" -> conv.recordsWritten.toDouble,
      "dumpconvert.scan_amplification" -> (if (stagedBytes > 0) conv.inputBytes.toDouble / stagedBytes else 0.0),
      "ingest.s" -> tr.seconds("ingest"),
      "ingest.rows" -> (counts("instances") + counts("extra") + counts("actions")).toDouble,
      "ingest.bytes_read" -> listener.get("ingest").inputBytes.toDouble,
      "enrich.s" -> tr.seconds("enrich"),
      "enrich.rows_in" -> counts("instances").toDouble,
      "enrich.rows_out" -> counts("enriched").toDouble,
      "enrich.gpu_rows" -> counts("gpu").toDouble,
      "runtimesql.state_runs_s" -> tr.seconds("runtimesql.state_runs"),
      "runtimesql.runs_per_event" -> counts("runs").toDouble / counts("actions"),
      "runtimesql.excluding_s" -> tr.seconds("runtimesql.excluding"),
      "runtimesql.interval_rows" -> (counts("runs") * (1L + nOutages)).toDouble,
      "runtimesql.shuffle_bytes" -> (rs.shuffleWrite + rs.shuffleRead).toDouble,
      "runtimesql.spill_bytes" -> rs.spill.toDouble,
      "runtimesql.task_skew" -> rs.skew,
      "billing.instance_su_self_s" -> tr.self("billing.instance_su"),
      "billing.project_invoices_s" -> tr.seconds("billing.project_invoices"),
      "billing.instances_billed" -> counts("su").toDouble,
      "billing.invoice_rows" -> counts("invoices").toDouble,
      "invoicesink.csv_s" -> tr.seconds("invoicesink.csv"),
      "invoicesink.upload_s" -> tr.seconds("invoicesink.upload"),
      "invoicesink.csv_bytes" -> csvBytes.toDouble,
      "config.parse_s" -> tr.seconds("config"),
      "config.outages" -> nOutages.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.executor_run_s" -> all.runMs / 1000.0,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.shuffle_bytes" -> (all.shuffleWrite + all.shuffleRead).toDouble)
    (tr.seconds("job"), m)
  }

  // ---- the run ----

  /** `run` mode: the measured billing jobs. */
  def result(): Map[String, Any] = {
    diag("settings") = Map("master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "warmup_jobs" -> Warmups(spec.name),
      "seconds" -> seconds, "seed" -> seed)
    val jiffiesStart = cpuJiffies()
    diag("host.cpu_probe_s") = cpuProbe()

    val tSetup = System.nanoTime()
    val fleet = Gen.generate(spec, seed)
    // the gen JVM wrote the files from its own generation of this seed
    if (!Files.exists(tree.marker) || Files.readString(tree.marker) != fleet.digest)
      problems += "generator: this seed's fleet differs from the one written to disk"
    diag("input.actions") = fleet.nActions
    diag("input.instances") = spec.instances
    diag("input.same_second_pairs") = fleet.actSec.indices.count(j =>
      j > 0 && fleet.actSec(j) == fleet.actSec(j - 1) && fleet.actInst(j) == fleet.actInst(j - 1))
    val expected = Oracle.invoice(
      Oracle.suHours(fleet, Gen.epoch(spec.start), Gen.epoch(spec.end), spec.includeStopped),
      pricing, startIso, endIso)
    diag("oracle.invoice_rows") = expected.size
    oracleHandCheck()
    diag("setup.oracle_s") = (System.nanoTime() - tSetup) / 1e9

    var attempted = 0
    var failed = 0
    // GC during the billing jobs themselves, not the set-up or the checks
    var jobsGc = 0.0
    def attempt[T](job: => T): Option[T] = {
      attempted += 1
      try {
        val gc0 = gcSeconds()
        val r = try job finally jobsGc += gcSeconds() - gc0
        if (check(expected) > 0) { failed += 1; None } else Some(r)
      } catch {
        case e: Exception =>
          failed += 1
          if (!diag.contains("first_exception")) diag("first_exception") = e.toString
          e.printStackTrace()
          None
      }
    }

    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val first = attempt(untracedJob())
    val codegenFirst = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9
    diag("host.steal_share_cold") = stealShare(jiffiesStart, cpuJiffies())
    if (first.isDefined) wrongInvoiceCheck(csvText, expected)
    diag("jobs.warmup_s") = (1 to Warmups(spec.name)).flatMap(_ => attempt(untracedJob()))

    val times = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    if (trace) spark.sparkContext.addSparkListener(listener)
    val jobSteal = mutable.ArrayBuffer.empty[Double]
    val timedStart = cpuJiffies()
    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val j0 = cpuJiffies()
      if (trace && k % 2 == 1) attempt(tracedJob(k)).foreach(traced += _)
      else attempt(untracedJob()).foreach(times += _)
      jobSteal += stealShare(j0, cpuJiffies())
      k += 1
    }
    diag("host.steal_share") = stealShare(timedStart, cpuJiffies())
    diag("jobs.steal_share") = jobSteal.toSeq
    val n = times.size
    // the highest percentile with ≥ 10 samples above it; a run too short
    // to have one reports its slowest job
    val sorted = times.sorted
    val tailIdx = if (n >= 11) n - 11 else n - 1
    diag("jobs.timed") = n
    diag("jobs.times_s") = times.toSeq
    diag("job_s_tail") = if (n > 0) sorted(tailIdx) else 0.0
    diag("jobs.tail_percentile") = if (n > 0) 100.0 * tailIdx / n else 0.0
    diag("jobs.tail_samples_beyond") = n - 1 - tailIdx
    diag("error_rate") = if (attempted > 0) failed.toDouble / attempted else 1.0
    diag("peak_rss_mb") = vmHwmMb()
    diag("gc_s_jobs") = jobsGc
    if (n == 0) problems += "no timed job completed"

    val p50 = median(times.toSeq)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "first_job_s" -> first.getOrElse(0.0),
        "job_s_p50" -> p50,
        "events_per_s" -> (if (p50 > 0) fleet.nActions / p50 else 0.0))
      else {
        val keys = traced.headOption.map(_._2.keySet).getOrElse(Set.empty)
        val spansOut = work.resolve("traces").resolve(s"${spec.name}-$seed.jsonl")
        Files.createDirectories(spansOut.getParent)
        Files.writeString(spansOut, spanLog.map(s => Json(Map("job" -> s.job, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n"))
        diag("trace.spans_file") = Paths.get("").toAbsolutePath.relativize(spansOut).toString
        diag("trace.jobs") = traced.size
        keys.map(key => key -> median(traced.map(_._2(key)).toSeq)).toMap ++ Map(
          // GC is too rare to time per job: the jobs' total over their count
          "spark.gc_s" -> jobsGc / attempted,
          "spark.codegen_compile_s" -> codegenFirst,
          "trace.overhead_s" -> (median(traced.map(_._1).toSeq) - p50))
      }
    if (trace && traced.isEmpty) problems += "no traced job completed"
    diag("problems") = problems.toSeq
    Map("correct" -> (problems.isEmpty && failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "diag" -> diag)
  }
}
