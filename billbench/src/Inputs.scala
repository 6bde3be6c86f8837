package billbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Writes a [[Fleet]] as the files the billing CLI reads: nova-shaped
  * parquet tables, a mysqldump `.sql.gz` controller tree, an outages CSV
  * and a rates YAML. Same fleet ⇒ byte-identical files (fixed part-file
  * names, gzip header without mtime, no wall-clock anywhere).
  */
object Inputs {

  /** (CLI flag, SU type, rate) as the reference's example production run
    * priced 2024-03 (BASELINE.md); A2 has no valid alias, so it never bills.
    */
  val Rates: Seq[(String, String, String)] = Seq(
    ("--rate-cpu-su", "cpu", "0.013"), ("--rate-gpu-a100sxm4-su", "gpu_a100sxm4", "2.078"),
    ("--rate-gpu-a100-su", "gpu_a100", "1.803"), ("--rate-gpu-v100-su", "gpu_v100", "1.214"),
    ("--rate-gpu-k80-su", "gpu_k80", "0.463"), ("--rate-gpu-a2-su", "gpu_a2", "0.463"))

  /** The rates YAML: one superseded history entry per rate, then the
    * current one, so month resolution has to pick.
    */
  def ratesYaml: String = {
    val names = Seq("CPU SU Rate", "GPUA100SXM4 SU Rate", "GPUA100 SU Rate",
      "GPUV100 SU Rate", "GPUK80 SU Rate", "GPUA2 SU Rate")
    val sb = new StringBuilder
    names.zip(Rates.map(_._3)).foreach { case (n, v) =>
      sb.append(s"- name: $n\n  history:\n")
      sb.append(s"    - value: ${BigDecimal(v) * 2}\n      from: 2022-01\n      until: 2023-12\n")
      sb.append(s"    - value: $v\n      from: 2024-01\n")
    }
    sb.append("- name: Charge for Stopped Instances\n  history:\n    - value: false\n      from: 2022-01\n")
    sb.toString
  }

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME
  private def iso(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).format(isoFmt)

  /** `cluster,start,end` lines; a foreign-cluster line must be ignored. */
  def outagesCsv(f: Fleet): String = {
    val sb = new StringBuilder("# cluster,start,end\n")
    f.outages.foreach { case (a, b) => sb.append(s"stack,${iso(a)},${iso(b)}\n") }
    f.outages.headOption.foreach { case (a, b) => sb.append(s"other-cluster,${iso(a - 86400)},${iso(b)}\n") }
    sb.toString
  }

  def writeText(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Parquet tables `instances`, `instance_extra`, `instance_actions`
    * under `dir`, each as `parts` files cut from contiguous row ranges.
    * Written with parquet's own writer, not Spark, so generating inputs
    * runs no Spark job. Timestamps are INT64 micros, UTC-adjusted — what
    * Spark reads back as TimestampType.
    */
  def writeParquet(f: Fleet, dir: Path, parts: Int): Unit = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    def write(name: String, schema: String, rows: Int)(fill: (Group, Int) => Unit): Unit = {
      val out = dir.resolve(s"$name.parquet")
      Files.createDirectories(out)
      val t = MessageTypeParser.parseMessageType(s"message spark_schema { $schema }")
      val groups = new SimpleGroupFactory(t)
      for (p <- 0 until parts) {
        val w = ExampleParquetWriter
          .builder(new org.apache.parquet.io.LocalOutputFile(out.resolve(f"part-$p%05d.snappy.parquet")))
          .withType(t).withCompressionCodec(CompressionCodecName.SNAPPY).build()
        try (rows.toLong * p / parts).toInt.until((rows.toLong * (p + 1) / parts).toInt).foreach { i =>
          val g = groups.newGroup()
          fill(g, i)
          w.write(g)
        } finally w.close()
      }
    }
    def str(g: Group, k: String, v: String): Unit = if (v != null) g.append(k, v)
    def ts(g: Group, k: String, sec: Long): Unit = if (sec >= 0) g.append(k, sec * 1000000L)
    val n = f.uuid.length
    write("instances",
      """optional binary uuid (STRING); optional binary hostname (STRING);
        |optional int64 instance_type_id; optional int64 memory_mb; optional int32 vcpus;
        |optional int64 deleted_at (TIMESTAMP(MICROS,true)); optional int32 deleted;
        |optional binary project_id (STRING);""".stripMargin, n) { (g, i) =>
      g.append("uuid", f.uuid(i)).append("hostname", s"vm-$i").append("instance_type_id", f.flavorId(i))
        .append("memory_mb", f.memMb(i)).append("vcpus", f.vcpus(i))
      ts(g, "deleted_at", f.deletedAt(i))
      g.append("deleted", f.deleted(i)).append("project_id", f.project(i))
    }
    write("instance_extra",
      "optional binary instance_uuid (STRING); optional binary pci_requests (STRING);", n) { (g, i) =>
      g.append("instance_uuid", f.uuid(i))
      str(g, "pci_requests", Gen.pciJson(f, i))
    }
    write("instance_actions",
      """optional int64 id; optional binary instance_uuid (STRING);
        |optional int64 created_at (TIMESTAMP(MICROS,true)); optional binary action (STRING);
        |optional binary message (STRING);""".stripMargin, f.nActions) { (g, j) =>
      g.append("id", j + 1L).append("instance_uuid", f.uuid(f.actInst(j)))
      ts(g, "created_at", f.actSec(j))
      g.append("action", f.actName(j))
      str(g, "message", f.actMsg(j))
    }
  }

  private def q(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\"", "\\\"") + "'"
  private def dt(sec: Long): String = if (sec < 0) "NULL" else "'" + iso(sec).replace('T', ' ') + "'"

  /** mysqldump text of the three nova tables with more of nova's real
    * columns than the pipeline reads (`id` included), extended INSERTs
    * wrapped near mysqldump's 1 MB net_buffer_length. Returns the
    * uncompressed size.
    */
  def writeDump(f: Fleet, gz: Path): Long = {
    Files.createDirectories(gz.getParent)
    val raw = new java.io.ByteArrayOutputStream(1 << 24)
    val w = new java.io.OutputStreamWriter(raw, UTF_8)
    w.write("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n-- Host: localhost    Database: nova\n\n")
    w.write("/*!40101 SET NAMES utf8mb4 */;\n/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, UNIQUE_CHECKS=0 */;\n\n")
    def table(name: String, cols: Seq[(String, String)], rows: Int, tuple: Int => String): Unit = {
      w.write(s"DROP TABLE IF EXISTS `$name`;\nCREATE TABLE `$name` (\n")
      w.write(cols.map { case (c, t) => s"  `$c` $t" }.mkString(",\n"))
      w.write(",\n  PRIMARY KEY (`id`)\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;\n")
      w.write(s"LOCK TABLES `$name` WRITE;\n")
      var i = 0
      while (i < rows) {
        val line = new StringBuilder(1 << 20)
        line.append(s"INSERT INTO `$name` VALUES ")
        var first = true
        while (i < rows && line.length < 1000000) {
          if (!first) line.append(',')
          line.append('(').append(tuple(i)).append(')')
          first = false; i += 1
        }
        line.append(";\n")
        w.write(line.toString)
      }
      w.write("UNLOCK TABLES;\n\n")
    }
    val n = f.uuid.length
    table("instances", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "id" -> "int NOT NULL AUTO_INCREMENT",
      "user_id" -> "varchar(255) DEFAULT NULL", "project_id" -> "varchar(255) DEFAULT NULL",
      "image_ref" -> "varchar(255) DEFAULT NULL", "hostname" -> "varchar(255) DEFAULT NULL",
      "host" -> "varchar(255) DEFAULT NULL", "instance_type_id" -> "int DEFAULT NULL",
      "memory_mb" -> "int DEFAULT NULL", "vcpus" -> "int DEFAULT NULL",
      "root_gb" -> "int DEFAULT NULL", "uuid" -> "varchar(36) NOT NULL",
      "display_name" -> "varchar(255) DEFAULT NULL", "vm_state" -> "varchar(255) DEFAULT NULL",
      "deleted" -> "int DEFAULT NULL"), n, i =>
      Seq(dt(1704067200L - 86400L * 90), dt(1704067200L), dt(f.deletedAt(i)), (i + 1).toString,
        q(f.project(i).reverse), q(f.project(i)), q("0b5e8b3c-7b0f-4cb4-9d3c-2f9e3d1c8a11"),
        q(s"vm-$i"), q(s"compute-${i % 64}"), f.flavorId(i).toString, f.memMb(i).toString,
        f.vcpus(i).toString, "20", q(f.uuid(i)), q(s"vm-$i"),
        q(if (f.deletedAt(i) >= 0) "deleted" else "active"), f.deleted(i).toString).mkString(","))
    table("instance_extra", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "deleted" -> "int DEFAULT NULL",
      "id" -> "int NOT NULL AUTO_INCREMENT", "instance_uuid" -> "varchar(36) NOT NULL",
      "numa_topology" -> "text", "pci_requests" -> "text", "flavor" -> "text",
      "vcpu_model" -> "text"), n, i =>
      Seq(dt(1704067200L - 86400L * 90), "NULL", "NULL", "0", (i + 1).toString, q(f.uuid(i)),
        "NULL", q(Gen.pciJson(f, i)),
        q(s"""{"cur": {"nova_object.name": "Flavor", "nova_object.data": {"id": ${f.flavorId(i)}, "vcpus": ${f.vcpus(i)}, "memory_mb": ${f.memMb(i)}}}}"""),
        "NULL").mkString(","))
    table("instance_actions", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "id" -> "int NOT NULL AUTO_INCREMENT",
      "action" -> "varchar(255) DEFAULT NULL", "instance_uuid" -> "varchar(36) DEFAULT NULL",
      "request_id" -> "varchar(255) DEFAULT NULL", "user_id" -> "varchar(255) DEFAULT NULL",
      "project_id" -> "varchar(255) DEFAULT NULL", "start_time" -> "datetime DEFAULT NULL",
      "finish_time" -> "datetime DEFAULT NULL", "message" -> "varchar(255) DEFAULT NULL",
      "deleted" -> "int DEFAULT NULL"), f.nActions, j => {
      val i = f.actInst(j)
      Seq(dt(f.actSec(j)), "NULL", "NULL", (j + 1).toString, q(f.actName(j)), q(f.uuid(i)),
        q(s"req-${f.uuid(i).substring(0, 8)}-$j"), q(f.project(i).reverse), q(f.project(i)),
        dt(f.actSec(j)), "NULL", q(f.actMsg(j)), "0").mkString(",")
    })
    w.write("-- Dump completed\n")
    w.flush()
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz), 1 << 16)
    try raw.writeTo(out) finally out.close()
    raw.size().toLong
  }

  /** SHA-256 over every regular file under `root`, in path order. */
  def treeDigest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Bench.walk(root).filter(Files.isRegularFile(_)).sortBy(root.relativize(_).toString).foreach { p =>
      md.update(root.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
