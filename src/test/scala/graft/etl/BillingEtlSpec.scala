package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.core.Types
import graft.core.Types.Rates

/** End-to-end billing pipeline over a nova-shaped in-memory fixture:
  * enrichment (R2/R3/F1-F3) → state machine (K1/K2) → aggregation (A1-A3)
  * → CSV contract (S6) and key templates (S7).
  */
class BillingEtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val HOUR: Long = 3600L * 1000000L
  val start: Long = Types.utcMicros(2024, 1, 1)
  val end: Long = Types.utcMicros(2024, 2, 1)
  def ts(us: Long) = new java.sql.Timestamp(us / 1000L)

  val rates: Rates = Rates(
    cpu = BigDecimal("0.013"), gpuA100 = BigDecimal("1.803"),
    gpuA100sxm4 = BigDecimal("2.078"), gpuV100 = BigDecimal("1.214"),
    gpuA2 = BigDecimal("0.463"), gpuK80 = BigDecimal("0.463"),
    includeStoppedRuntime = false)

  // i1: plain cpu, 2 vcpus, ran 10h; i2: v100 gpu ×2, ran 5h30m (ceil→6);
  // i3: deleted before window (filtered by R3); i4: stopped the whole time.
  lazy val instances = Seq(
    ("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"),
    ("i2", "host2", 2L, 4096L, 1, None: Option[java.sql.Timestamp], 0, "projA"),
    ("i3", "host3", 1L, 4096L, 1, Some(ts(start - 100 * HOUR)), 1, "projB"),
    ("i4", "host4", 1L, 4096L, 1, None: Option[java.sql.Timestamp], 0, "projB")
  ).toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
    "deleted_at", "deleted", "project_id")

  lazy val instanceExtra = Seq(
    ("i2", """[{"count": "2", "alias_name": "V100"}]"""),
    ("i4", null: String)
  ).toDF("instance_uuid", "pci_requests")

  lazy val actions = Seq(
    (1L, "i1", ts(start), "create", ""),
    (2L, "i1", ts(start + 10 * HOUR), "delete", ""),
    (3L, "i2", ts(start), "create", ""),
    (4L, "i2", ts(start + 5 * HOUR + HOUR / 2), "delete", ""),
    (5L, "i3", ts(start - 200 * HOUR), "create", ""),
    (6L, "i4", ts(start), "create", ""),
    (7L, "i4", ts(start + HOUR), "stop", "")
  ).toDF("id", "instance_uuid", "created_at", "action", "message")

  lazy val enriched = Enrich.enrichInstances(instances, instanceExtra, start)

  test("enrichment: R3 filter, F2/F3 gpu parse, F1 service units") {
    val rows = enriched.select("uuid", "su_type", "gpu_count", "service_units")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("i1", "i2", "i4")) // i3 dropped by R3
    assert(rows("i1") == (("cpu", 0, 2L)))       // max(2 vcpus, 8192/4096)
    assert(rows("i2") == (("gpu_v100", 2, 2L)))  // gpu count wins
    assert(rows("i4") == (("cpu", 0, 1L)))       // null pci → cpu
  }

  test("billing: runtime → ceil hours → su_hours per instance") {
    val su = Billing.instanceSuHours(actions, enriched, rates, start, end)
      .collect().map(r => r.getAs[String]("uuid") ->
        ((r.getAs[Long]("runtime_hours"), r.getAs[Long]("su_hours")))).toMap
    assert(su.keySet == Set("i1", "i2", "i4"))
    assert(su("i1") == ((10L, 20L)))     // 10h × 2 SU
    assert(su("i2") == ((6L, 12L)))      // ceil(5.5h)=6 × 2 GPU
    assert(su("i4") == ((1L, 1L)))       // ran 1h before stopping
  }

  test("billing: include_stopped_runtime counts stopped hours (A3)") {
    val su = Billing.instanceSuHours(actions, enriched,
        rates.copy(includeStoppedRuntime = true), start, end)
      .collect().map(r => r.getAs[String]("uuid") -> r.getAs[Long]("runtime_hours")).toMap
    // i4: 1h running + rest of month stopped = full window = 744h
    assert(su("i4") == 31 * 24L)
  }

  test("K2: outage interval subtracts runtime") {
    val su = Billing.instanceSuHours(actions, enriched, rates, start, end,
        outages = Seq((start + HOUR, start + 3 * HOUR)))
      .collect().map(r => r.getAs[String]("uuid") -> r.getAs[Long]("runtime_hours")).toMap
    assert(su("i1") == 8L) // 10h − 2h outage
  }

  test("A1/A2 aggregate: su-hours and cost per (project, SU type)") {
    val su = Billing.instanceSuHours(actions, enriched, rates, start, end)
    val long = Billing.projectInvoices(su, rates)
    val got = long.collect().map(r => (r.getAs[String]("project_id"),
      r.getAs[String]("su_type")) -> ((r.getAs[Long]("su_hours"),
      r.getAs[java.math.BigDecimal]("cost").toPlainString))).toMap
    assert(got(("projA", "cpu")) == ((20L, "0.260000")))       // 20 × 0.013
    assert(got(("projA", "gpu_v100")) == ((12L, "14.568000"))) // 12 × 1.214
    assert(got(("projB", "cpu")) == ((1L, "0.013000")))        // i4's 1h
  }

  test("S6 CSV contract: 16 columns, '|' quote, HALF_UP cents") {
    val long = Billing.projectInvoices(
      Billing.instanceSuHours(actions, enriched, rates, start, end), rates)
    val rows = InvoiceSink.csvRows(long, "2024-01",
      "2024-01-01T00:00:00+00:00", "2024-02-01T00:00:00+00:00",
      "2024-02-01T07:00:00+00:00")
    assert(rows.columns.toSeq == Seq( // billing.py:167-186
      "Invoice Month", "Report Start Time", "Report End Time",
      "Project - Allocation", "Project - Allocation ID", "Manager (PI)",
      "Cluster Name", "Invoice Email", "Invoice Address", "Institution",
      "Institution - Specific Code", "SU Hours (GBhr or SUhr)", "SU Type",
      "Rate", "Cost", "Generated At"))

    val dir = java.nio.file.Files.createTempDirectory("invoice").toString
    InvoiceSink.writeCsv(rows, dir)
    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".csv")).findFirst().get()
    val lines = scala.io.Source.fromFile(csv.toFile).getLines().toSeq
    assert(lines.head.startsWith("Invoice Month,Report Start Time"))
    assert(lines.head.split(",").length == 16)
    val cpuLine = lines.find(_.contains("OpenStack CPU")).get
    assert(cpuLine.contains(",20,OpenStack CPU,0.013,0.26,"))
  }

  test("S7 key templates incl. end-minus-one-second daily date") {
    val (p, d, a) = InvoiceSink.s3Keys("2024-01", end,
      java.time.Instant.parse("2024-02-01T07:03:04Z"))
    assert(p == "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01.csv")
    assert(d == "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01-31.csv")
    assert(a == "Invoices/2024-01/Archive/NERC OpenStack 2024-01 20240201T070304Z.csv")
  }

  test("S7 triple upload: same bytes, three keys in order, primary skippable") {
    val now = java.time.Instant.parse("2024-02-01T07:03:04Z")
    val body = "Invoice Month,...\n".getBytes("UTF-8")
    val puts = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    val keys = InvoiceSink.uploadInvoice(body, "2024-01", end, now,
      (k, b) => puts += ((k, b)))
    assert(keys == Seq(
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01.csv",
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01-31.csv",
      "Invoices/2024-01/Archive/NERC OpenStack 2024-01 20240201T070304Z.csv"))
    assert(puts.map(_._1) == keys && puts.forall(_._2.sameElements(body)))
    // upload_to_primary_location=false drops only the primary copy
    val noPrimary = InvoiceSink.uploadInvoice(body, "2024-01", end, now,
      (_, _) => (), uploadToPrimary = false)
    assert(noPrimary == keys.tail)
  }

  test("S7 upload e2e: --upload-dest writes the CSV bytes to all three keys over file://") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val HOUR = 3600L * 1000000L
    val start = graft.core.Types.utcMicros(2024, 1, 1)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)

    val dataDir = java.nio.file.Files.createTempDirectory("graft-up-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-up-out").toString
    val bucket = java.nio.file.Files.createTempDirectory("graft-up-bucket")
    Seq(("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"))
      .toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
        "deleted_at", "deleted", "project_id")
      .write.mode("overwrite").parquet(s"$dataDir/instances.parquet")
    Seq(("i1", null: String)).toDF("instance_uuid", "pci_requests")
      .write.mode("overwrite").parquet(s"$dataDir/instance_extra.parquet")
    Seq((1L, "i1", ts(start), "create", ""), (2L, "i1", ts(start + 10 * HOUR), "delete", ""))
      .toDF("id", "instance_uuid", "created_at", "action", "message")
      .write.mode("overwrite").parquet(s"$dataDir/instance_actions.parquet")

    graft.Main.run(graft.Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--upload-dest", bucket.toString,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01", "--rate-cpu-su", "0.013")), spark)

    val body = InvoiceSink.readCsvBytes(outDir)
    val primary = bucket.resolve(
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01.csv")
    val daily = bucket.resolve(
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01-31.csv")
    assert(java.nio.file.Files.exists(primary))
    assert(java.nio.file.Files.exists(daily))
    assert(java.nio.file.Files.readAllBytes(primary).sameElements(body))
    assert(java.nio.file.Files.readAllBytes(daily).sameElements(body))
    // Hadoop's checksummed local FS writes a .crc sidecar per file —
    // ignore those; the CSV itself is what the upload contract covers
    val archives = java.nio.file.Files.list(
      bucket.resolve("Invoices/2024-01/Archive")).toArray.map(_.toString)
      .filterNot(_.split('/').last.startsWith("."))
    assert(archives.length == 1 && archives(0).contains("NERC OpenStack 2024-01 2"))

    // --no-upload-to-primary drops only the primary copy
    val bucket2 = java.nio.file.Files.createTempDirectory("graft-up-bucket2")
    graft.Main.run(graft.Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--upload-dest", bucket2.toString, "--no-upload-to-primary",
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01", "--rate-cpu-su", "0.013")), spark)
    assert(!java.nio.file.Files.exists(bucket2.resolve(
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01.csv")))
    assert(java.nio.file.Files.exists(bucket2.resolve(
      "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01-31.csv")))
  }

  /** The lenient F3 columns over pci_requests payloads: uuid →
    * (su_type, quarantine_reason). A row is clean when su_type resolves
    * and no reason is set.
    */
  private def lenient(extra: org.apache.spark.sql.DataFrame): Map[String, (String, String)] =
    extra.withColumn("pci", Enrich.parsedPci(col("pci_requests")))
      .select(col("instance_uuid"), Enrich.gpuSuTypeLenient(col("pci")),
        Enrich.quarantineReason(col("pci")))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

  test("lenient enrichment quarantines bad pci rows instead of failing") {
    val badExtra = Seq(
      ("b1", """[{"count": "1", "alias_name": "H100"}]"""),      // unknown alias
      ("b2", """[{"count": "1", "alias_name": "V100"}, {"count": "1", "alias_name": "K80"}]"""), // 2 entries
      ("b3", """[{"count": "2", "alias_name": "K80"}]""")        // fine
    ).toDF("instance_uuid", "pci_requests")
    assert(lenient(badExtra) == Map(
      "b1" -> ((null, "invalid pci alias h100")),
      "b2" -> ((null, "multiple pci_requests entries")),
      "b3" -> (("gpu_k80", null))))
  }

  test("strict mode fails on a non-numeric pci count; lenient quarantines it") {
    val inst = Seq(
      ("c1", "h", 1L, 4096L, 1, None: Option[java.sql.Timestamp], 0, "projC")
    ).toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
      "deleted_at", "deleted", "project_id")
    val extra = Seq(
      ("c1", """[{"count": "two", "alias_name": "V100"}]""")
    ).toDF("instance_uuid", "pci_requests")

    val ex = intercept[Exception] {
      Enrich.enrichInstances(inst, extra, start).collect()
    }
    // ANSI-mode cast raises CAST_INVALID_INPUT — the strict-mode contract
    assert(ex.getMessage.contains("CAST_INVALID_INPUT") ||
      Option(ex.getCause).exists(_.getMessage.contains("CAST_INVALID_INPUT")))

    assert(lenient(extra) == Map("c1" -> (("gpu_v100", "invalid pci count two"))))
  }

  test("F6 default window") {
    val (s1, e1) = InvoiceSink.defaultWindow(java.time.LocalDate.of(2024, 3, 15))
    assert(s1 == java.time.LocalDateTime.of(2024, 3, 1, 0, 0))
    assert(e1 == java.time.LocalDateTime.of(2024, 3, 15, 0, 0))
    // run on the 1st → previous month
    val (s2, _) = InvoiceSink.defaultWindow(java.time.LocalDate.of(2024, 3, 1))
    assert(s2 == java.time.LocalDateTime.of(2024, 2, 1, 0, 0))
  }
}
