package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Rates-config semantics (reference main.py:174-192 `--use-nerc-rates`,
  * resolved per invoice month from the versioned YAML's history ranges).
  */
class RatesConfigSpec extends AnyFunSuite {

  val yaml =
    """# NERC rate history
      |- name: CPU SU Rate
      |  history:
      |    - value: "0.013"
      |      from: 2020-01
      |      until: 2023-05
      |    - value: "0.026"
      |      from: 2023-06
      |- name: GPUA100 SU Rate
      |  history:
      |    - value: "1.803"
      |      from: 2020-01
      |- name: GPUA100SXM4 SU Rate
      |  history:
      |    - value: "2.078"
      |      from: 2020-01
      |- name: GPUV100 SU Rate
      |  history:
      |    - value: "1.214"
      |      from: 2020-01
      |- name: GPUA2 SU Rate
      |  history:
      |    - value: "0.466"
      |      from: 2020-01
      |- name: GPUK80 SU Rate
      |  history:
      |    - value: "0.463"
      |      from: 2020-01
      |- name: Charge for Stopped Instances
      |  history:
      |    - value: "True"
      |      from: 2020-01
      |      until: 2023-12
      |    - value: "False"
      |      from: 2024-01
      |""".stripMargin

  test("key order within a history item does not matter ('- from:' leader)") {
    // YAML mappings are order-independent: an item led by `- from:` is
    // the same document as one led by `- value:` — both entries must
    // survive, with no field bleed between them.
    val reordered =
      """- name: CPU SU Rate
        |  history:
        |    - from: 2020-01
        |      until: 2023-05
        |      value: "0.013"
        |    - from: 2023-06
        |      value: "0.026"
        |""".stripMargin
    val p = RatesConfig.parse(reordered)
    assert(p("CPU SU Rate") == Seq(
      RatesConfig.RateEntry("0.013", "2020-01", Some("2023-05")),
      RatesConfig.RateEntry("0.026", "2023-06", None)))
    assert(RatesConfig.valueAt(p, "CPU SU Rate", "2023-05") == "0.013")
    assert(RatesConfig.valueAt(p, "CPU SU Rate", "2023-06") == "0.026")
  }

  test("re-assigned field within one history entry is rejected, not overwritten") {
    val dup =
      """- name: CPU SU Rate
        |  history:
        |    - value: "0.013"
        |      from: 2020-01
        |      from: 2021-01
        |""".stripMargin
    val e = intercept[IllegalArgumentException](RatesConfig.parse(dup))
    assert(e.getMessage.contains("duplicate 'from'"))
  }

  test("month-range resolution picks the covering history entry") {
    val p = RatesConfig.parse(yaml)
    assert(RatesConfig.valueAt(p, "CPU SU Rate", "2023-05") == "0.013")
    assert(RatesConfig.valueAt(p, "CPU SU Rate", "2023-06") == "0.026")
    assert(RatesConfig.valueAt(p, "CPU SU Rate", "2026-01") == "0.026") // open until
  }

  test("uncovered month and unknown rate fail loudly") {
    val p = RatesConfig.parse(yaml)
    intercept[IllegalArgumentException](
      RatesConfig.valueAt(p, "CPU SU Rate", "2019-12"))
    intercept[IllegalArgumentException](
      RatesConfig.valueAt(p, "No Such Rate", "2024-01"))
  }

  test("overlapping ranges are ambiguous, not first-match") {
    val p = RatesConfig.parse(
      """- name: R
        |  history:
        |    - value: "1"
        |      from: 2020-01
        |    - value: "2"
        |      from: 2021-01
        |""".stripMargin)
    intercept[IllegalArgumentException](RatesConfig.valueAt(p, "R", "2021-06"))
  }

  test("empty and malformed files fail loudly, not silently zero-rate") {
    assert(RatesConfig.parse("").isEmpty)
    intercept[IllegalArgumentException](
      RatesConfig.ratesAt(RatesConfig.parse(""), "2024-01"))
    intercept[IllegalArgumentException](
      RatesConfig.parse("just some prose\n"))
    // history entry with value but no from
    intercept[IllegalArgumentException](
      RatesConfig.parse("- name: R\n  history:\n    - value: \"1\"\n"))
  }

  test("ratesAt builds the full Rates with exact decimals and the bool flag") {
    val r = RatesConfig.ratesAt(RatesConfig.parse(yaml), "2024-02")
    assert(r.cpu == BigDecimal("0.026"))
    assert(r.cpu.toString == "0.026") // scale preserved for CSV display
    assert(r.gpuA100 == BigDecimal("1.803"))
    assert(r.gpuA100sxm4 == BigDecimal("2.078"))
    assert(!r.includeStoppedRuntime)
    val r23 = RatesConfig.ratesAt(RatesConfig.parse(yaml), "2023-01")
    assert(r23.cpu == BigDecimal("0.013") && r23.includeStoppedRuntime)
  }

  test("--rates-file drives the billing CLI end-to-end") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val HOUR = 3600L * 1000000L
    val start = graft.core.Types.utcMicros(2024, 1, 1)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)

    val dataDir = java.nio.file.Files.createTempDirectory("graft-rates-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-rates-out").toString
    Seq(("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"))
      .toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
        "deleted_at", "deleted", "project_id")
      .write.mode("overwrite").parquet(s"$dataDir/instances.parquet")
    Seq(("i1", null: String)).toDF("instance_uuid", "pci_requests")
      .write.mode("overwrite").parquet(s"$dataDir/instance_extra.parquet")
    Seq((1L, "i1", ts(start), "create", ""), (2L, "i1", ts(start + 10 * HOUR), "delete", ""))
      .toDF("id", "instance_uuid", "created_at", "action", "message")
      .write.mode("overwrite").parquet(s"$dataDir/instance_actions.parquet")
    val ratesFile = java.nio.file.Files.createTempFile("rates", ".yaml")
    java.nio.file.Files.writeString(ratesFile, yaml)

    graft.Main.run(graft.Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--rates-file", ratesFile.toString,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01")), spark)

    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("Rate") == "0.026")       // resolved from the 2024-01 range
    assert(byCol("Cost") == "0.52")        // 20 SU-hours × 0.026
  }

  test("config sources accept URLs: file:// rates parse identically to the plain path") {
    // the reference fetches its rates YAML over HTTPS (main.py:179
    // load_from_url); the URL branch is the same code path with a
    // file:// scheme, so it runs with zero network
    val f = java.nio.file.Files.createTempFile("rates-url", ".yaml")
    java.nio.file.Files.writeString(f, yaml)
    val viaPath = graft.Main.readConfigSource(f.toString)
    val viaUrl = graft.Main.readConfigSource(f.toUri.toString)
    assert(f.toUri.toString.startsWith("file://"))
    assert(viaPath == viaUrl)
    assert(RatesConfig.parse(viaUrl) == RatesConfig.parse(yaml))
  }
}
