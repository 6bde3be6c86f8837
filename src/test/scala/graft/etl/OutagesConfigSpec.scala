package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDateTime

/** Outages-config semantics (reference billing.py:121-124
  * `get_outages_during`: cluster filter + window clip).
  */
class OutagesConfigSpec extends AnyFunSuite {
  def t(s: String): LocalDateTime = graft.Main.parseTimeArg(s)

  val text =
    """# maintenance calendar
      |stack,2024-01-10,2024-01-11
      |stack,2023-12-30,2024-01-02          # clips to window start
      |stack,2024-01-31T12:00:00,2024-02-05 # clips to window end
      |other-cluster,2024-01-15,2024-01-16  # different cluster: dropped
      |stack,2023-11-01,2023-11-02          # fully before: dropped
      |""".stripMargin

  test("parse, cluster filter, and window clipping") {
    val out = OutagesConfig.outagesDuring(
      OutagesConfig.parse(text), t("2024-01-01"), t("2024-02-01"))
    assert(out == Seq(
      (t("2024-01-10"), t("2024-01-11")),
      (t("2024-01-01"), t("2024-01-02")),
      (t("2024-01-31T12:00:00"), t("2024-02-01"))))
  }

  test("other clusters select their own outages") {
    val out = OutagesConfig.outagesDuring(
      OutagesConfig.parse(text), t("2024-01-01"), t("2024-02-01"),
      cluster = "other-cluster")
    assert(out == Seq((t("2024-01-15"), t("2024-01-16"))))
  }

  test("malformed lines and inverted intervals fail loudly") {
    intercept[IllegalArgumentException](OutagesConfig.parse("stack,2024-01-01\n"))
    intercept[IllegalArgumentException](
      OutagesConfig.parse("stack,2024-01-02,2024-01-01\n"))
  }

  test("--outages-file reduces billed hours through the CLI") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val HOUR = 3600L * 1000000L
    val start = graft.core.Types.utcMicros(2024, 1, 1)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)

    val dataDir = java.nio.file.Files.createTempDirectory("graft-out-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-out-csv").toString
    Seq(("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"))
      .toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
        "deleted_at", "deleted", "project_id")
      .write.mode("overwrite").parquet(s"$dataDir/instances.parquet")
    Seq(("i1", null: String)).toDF("instance_uuid", "pci_requests")
      .write.mode("overwrite").parquet(s"$dataDir/instance_extra.parquet")
    Seq((1L, "i1", ts(start), "create", ""), (2L, "i1", ts(start + 10 * HOUR), "delete", ""))
      .toDF("id", "instance_uuid", "created_at", "action", "message")
      .write.mode("overwrite").parquet(s"$dataDir/instance_actions.parquet")
    val outagesFile = java.nio.file.Files.createTempFile("outages", ".csv")
    // 4h outage inside the instance's 10h run; the other cluster's outage
    // must NOT subtract
    java.nio.file.Files.writeString(outagesFile,
      "stack,2024-01-01T02:00:00,2024-01-01T06:00:00\n" +
        "other,2024-01-01T00:00:00,2024-01-01T10:00:00\n")

    graft.Main.run(graft.Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--outages-file", outagesFile.toString,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)

    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("SU Hours (GBhr or SUhr)") == "12") // (10h − 4h) × 2 SU
    assert(byCol("Cost") == "0.16")                  // 12 × 0.013 → 0.156 → HALF_UP
  }
}
