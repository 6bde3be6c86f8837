package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** S3 — the migration path off the reference's dump pipeline: mysqldump
  * text → the nova-shaped parquet layout `Main`/`Ingest.table` read.
  *
  * The reference converts mysqldump → SQLite with an external binary and
  * re-reads it per run (fetch.py:98-124, model.py:180-186); a Spark user
  * converts ONCE to parquet and gets pruned columnar scans forever after.
  * The conversion itself is distributed: `spark.read.text` splits the dump
  * file across executors, each `INSERT INTO` line parses where it lands
  * (mysqldump writes one extended-INSERT statement per line), and only the
  * CREATE TABLE column lists — a few KB of DDL lines — ever reach the
  * driver.
  *
  * Gzip is NOT a splittable codec — the real dumps are `.sql.gz`
  * (fetch.py:28-39), and reading one through `spark.read.text` directly
  * parses the whole file in ONE task. [[stageSplittable]] closes that
  * hole: `.gz` inputs stream-gunzip once (the inherently serial step —
  * same cost the reference pays in its explicit `gzip -d`) into a
  * decompressed staging copy, and the expensive part — the INSERT parse —
  * runs distributed over that splittable copy. With that staging, a
  * multi-GB dump converts with no single-process bottleneck in the parse;
  * only the gunzip itself is serial, and it is IO-bound, not CPU-bound.
  *
  * Value grammar handled (mysqldump defaults): single-quoted strings with
  * backslash escapes, bare numerics, NULL, parenthesized tuples separated
  * by commas.
  */
object DumpConvert {

  /** The three tables the billing pipeline reads (model.py:228-244,
    * 205-209) and the column types `Ingest.table` expects downstream.
    * `instance_actions.id` is the tiebreak `Billing` uses for same-second
    * events.
    */
  val tableSchemas: Map[String, Seq[(String, String)]] = Map(
    "instances" -> Seq(
      "uuid" -> "string", "hostname" -> "string",
      "instance_type_id" -> "long", "memory_mb" -> "long",
      "vcpus" -> "int", "deleted_at" -> "timestamp",
      "deleted" -> "int", "project_id" -> "string"),
    "instance_extra" -> Seq(
      "instance_uuid" -> "string", "pci_requests" -> "string"),
    "instance_actions" -> Seq(
      "id" -> "long", "instance_uuid" -> "string", "created_at" -> "timestamp",
      "action" -> "string", "message" -> "string"))

  /** Decode a mysqldump single-quoted literal body (escapes per the MySQL
    * string grammar; `''` doubling also accepted).
    */
  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        b.append(s.charAt(i + 1) match {
          case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
          case '0' => '\u0000'; case 'b' => '\b'; case 'Z' => '\u001a'
          case other => other // covers \' \" \\ and pass-through
        })
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Parse every `(...)` tuple after the VALUES keyword of one INSERT
    * statement. None = SQL NULL. Pure function — safe inside executors.
    */
  def parseTuples(stmt: String): Seq[Seq[Option[String]]] = {
    val vi = stmt.toUpperCase.indexOf("VALUES")
    if (vi < 0) return Seq.empty
    val s = stmt
    var i = vi + "VALUES".length
    val tuples = Seq.newBuilder[Seq[Option[String]]]
    var tuple: scala.collection.mutable.Builder[Option[String], Seq[Option[String]]] = null
    while (i < s.length) {
      s.charAt(i) match {
        case '(' =>
          tuple = Seq.newBuilder[Option[String]]; i += 1
        case ')' =>
          if (tuple != null) { tuples += tuple.result(); tuple = null }
          i += 1
        case '\'' =>
          // string literal: scan to the closing quote honoring \-escapes
          // and '' doubling
          val b = new StringBuilder
          i += 1
          var done = false
          while (!done && i < s.length) {
            val c = s.charAt(i)
            if (c == '\\' && i + 1 < s.length) { b.append(c).append(s.charAt(i + 1)); i += 2 }
            else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') { b.append("\\'"); i += 2 }
            else if (c == '\'') { done = true; i += 1 }
            else { b.append(c); i += 1 }
          }
          if (tuple != null) tuple += Some(unescape(b.toString))
        case c if c == ',' || c.isWhitespace || c == ';' =>
          i += 1
        case _ =>
          // bare token: number or NULL, up to the next delimiter
          val j = s.indexWhere(ch => ch == ',' || ch == ')' || ch.isWhitespace, i)
          val end = if (j < 0) s.length else j
          val tok = s.substring(i, end)
          if (tuple != null)
            tuple += (if (tok.equalsIgnoreCase("NULL")) None else Some(tok))
          i = end
      }
    }
    tuples.result()
  }

  /** The explicit column list of a `--complete-insert` statement
    * (`INSERT INTO t (a, b) VALUES ...`), if present before VALUES.
    */
  def insertColumns(stmt: String): Option[Seq[String]] = {
    val vi = stmt.toUpperCase.indexOf("VALUES")
    if (vi < 0) return None
    val head = stmt.substring(0, vi)
    val open = head.indexOf('(')
    val close = head.lastIndexOf(')')
    if (open < 0 || close <= open) None
    else Some(head.substring(open + 1, close)
      .split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq)
  }

  /** Associate backticked column-definition lines with their most recent
    * `CREATE TABLE` header — the driver-side step, fed only DDL lines.
    * Input pairs are (file-order index, line text).
    */
  def createColumns(ddlLines: Seq[(Long, String)]): Map[String, Seq[String]] = {
    val header = """(?i)\s*CREATE TABLE\s+`?(\w+)`?.*""".r
    val colDef = """\s*`(\w+)`\s.*""".r
    var current: String = null
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    ddlLines.sortBy(_._1).foreach {
      case (_, header(t)) => current = t; acc.getOrElseUpdate(current, Vector.empty)
      case (_, colDef(c)) if current != null => acc(current) = acc(current) :+ c
      case _ => ()
    }
    acc.toMap.view.mapValues(_.toSeq).toMap
  }

  /** Stage a non-splittable dump into a form the distributed parse can
    * split. `.gz` inputs stream-gunzip ONCE through Hadoop IO (works for
    * `file://` and `s3a://` alike) into `stagingDir`; anything else
    * passes through untouched. The caller deletes the staged copy. A
    * corrupt or truncated `.gz` fails with an `IOException` that names
    * `dumpPath`, and leaves no partial copy behind.
    *
    * `stagingDir` defaults to the local tmpdir (right for local mode and
    * for a driver-side staging step); a multi-executor cluster should
    * point `SPARK_GRAFT_STAGING_DIR` at a shared filesystem (HDFS, S3)
    * so the staged copy is visible to every executor.
    */
  def stageSplittable(spark: SparkSession, dumpPath: String,
      stagingDir: String = sys.env.getOrElse("SPARK_GRAFT_STAGING_DIR",
        sys.props("java.io.tmpdir"))): String =
    if (!dumpPath.endsWith(".gz")) dumpPath
    else {
      // The default staging dir is the DRIVER's local tmpdir — executors
      // on other hosts cannot read it, so the subsequent distributed
      // spark.read.text would fail with FileNotFound on every non-driver
      // task. Refuse up front with the fix in the message rather than
      // letting the cluster discover it one task failure at a time. (An
      // explicitly-passed stagingDir or SPARK_GRAFT_STAGING_DIR is
      // trusted to be executor-visible.)
      require(spark.sparkContext.isLocal ||
          stagingDir != sys.props("java.io.tmpdir"),
        "stageSplittable: staging a .gz dump on a non-local master needs " +
          "a staging dir every executor can read (HDFS/S3) — set " +
          "SPARK_GRAFT_STAGING_DIR or pass stagingDir; the default " +
          s"${sys.props("java.io.tmpdir")} is driver-local")
      val conf = spark.sessionState.newHadoopConf()
      val src = new org.apache.hadoop.fs.Path(dumpPath)
      val srcFs = src.getFileSystem(conf)
      val dst = new org.apache.hadoop.fs.Path(stagingDir,
        s"graft-stage-${java.util.UUID.randomUUID()}-" +
          src.getName.stripSuffix(".gz"))
      val dstFs = dst.getFileSystem(conf)
      val raw = srcFs.open(src)
      try {
        val in = new java.util.zip.GZIPInputStream(raw)
        org.apache.hadoop.io.IOUtils.copyBytes(in, dstFs.create(dst, true), 1 << 20, true)
      } catch {
        case e: java.io.IOException =>
          raw.close()
          dstFs.delete(dst, false)
          throw new java.io.IOException(s"cannot gunzip dump $dumpPath: ${e.getMessage}", e)
      }
      dst.toString
    }

  /** Stage every dump, run `f` over the staged paths, and delete the
    * staged copies afterwards, also when staging or `f` fails.
    */
  private def withStaged[T](spark: SparkSession, dumps: Seq[String])(
      f: Seq[String] => T): T = {
    val copies = scala.collection.mutable.ArrayBuffer.empty[String]
    try f(dumps.map { d =>
      val staged = stageSplittable(spark, d)
      if (staged != d) copies += staged
      staged
    })
    finally copies.foreach { c =>
      val p = new org.apache.hadoop.fs.Path(c)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
    }
  }

  /** The single dump file, verified: the parse relies on
    * `monotonically_increasing_id` reflecting file-offset order, which
    * Spark's text source guarantees for ONE file but not for a directory
    * or glob (multi-file listing order is a filesystem detail).
    */
  private def requireSingleFile(spark: SparkSession, dumpPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dumpPath)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    require(st.isFile,
      s"dump path must be a single file, not a directory/glob: $dumpPath")
  }

  /** Column order of each CREATE TABLE in the dump. Only lines that look
    * like DDL are collected (KBs); the scan itself is distributed.
    * `monotonically_increasing_id` is partition-major and `spark.read
    * .text` assigns partitions in file-offset order for a single file
    * (enforced by [[requireSingleFile]]), so sorting by it restores file
    * order for the collected subset.
    */
  def tableColumns(spark: SparkSession, dumpPath: String): Map[String, Seq[String]] = {
    requireSingleFile(spark, dumpPath)
    val lines = spark.read.text(dumpPath)
      .select(monotonically_increasing_id().as("id"), col("value"))
      .filter(col("value").rlike("^\\s*CREATE TABLE ") ||
        col("value").rlike("^\\s*`\\w+` "))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    createColumns(lines)
  }

  /** One table of a staged dump as a typed DataFrame: distributed parse
    * of its INSERT lines, columns named from CREATE order (`allCols`, the
    * dump's DDL map, scanned once for all tables), cast to the target
    * schema. Unknown target columns (absent from this dump's DDL) fail
    * loudly rather than silently producing nulls.
    */
  private def loadTable(spark: SparkSession, dumpPath: String,
      table: String, allCols: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    val createOrder = allCols.getOrElse(table,
      throw new IllegalArgumentException(
        s"dump has no CREATE TABLE `$table` — tables found: " +
          allCols.keys.mkString(", ")))
    val target = tableSchemas.getOrElse(table,
      throw new IllegalArgumentException(s"no target schema for $table"))
    val missing = target.map(_._1).filterNot(createOrder.contains)
    require(missing.isEmpty,
      s"dump's `$table` lacks columns the pipeline needs: ${missing.mkString(", ")}")

    val prefix = s"INSERT INTO `$table` "
    val prefixNoTick = s"INSERT INTO $table "
    // `--complete-insert` dumps write an explicit column list; those
    // statements realign to CREATE order per line (absent columns → NULL)
    // instead of being silently mis-mapped
    val order = createOrder
    val raw: Dataset[Seq[Option[String]]] = spark.read.textFile(dumpPath)
      .filter((l: String) => l.startsWith(prefix) || l.startsWith(prefixNoTick))
      .flatMap { (l: String) =>
        val tuples = parseTuples(l)
        insertColumns(l) match {
          case None => tuples
          case Some(cs) =>
            val idx = order.map(cs.indexOf)
            tuples.map(t => idx.map(i => if (i >= 0 && i < t.length) t(i) else None))
        }
      }
    val n = createOrder.length
    val rows = raw.map(t => t.padTo(n, None).take(n).map(_.orNull))
      .map(vals => vals.toArray) // Array[String] row in CREATE order
    val asCols = createOrder.zipWithIndex.map { case (c, i) =>
      element_at(col("value"), i + 1).as(c)
    }
    rows.toDF("value").select(asCols: _*)
      .select(target.map { case (c, t) => col(c).cast(t).as(c) }: _*)
  }

  /** Convert the whole dump to the parquet layout `Main --data-dir`
    * expects: one `<out>/<table>.parquet` per pipeline table. A
    * DIRECTORY input routes to [[convertDir]] — the multi-controller
    * operational layout.
    */
  def convert(spark: SparkSession, dumpPath: String, outDir: String,
      merge: String = "first"): Unit = {
    val p = new org.apache.hadoop.fs.Path(dumpPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.getFileStatus(p).isDirectory) convertDir(spark, dumpPath, outDir, merge)
    else withStaged(spark, Seq(dumpPath)) { case Seq(staged) =>
      // staged ONCE for all three tables: the gunzip cost is paid one
      // time, every per-table parse below splits across executors
      val allCols = tableColumns(spark, staged)
      tableSchemas.keys.toSeq.sorted.foreach { t =>
        loadTable(spark, staged, t, allCols)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    }
  }

  /** The `.sql`/`.sql.gz` dumps under `dumpDir`, including one directory
    * level down (the fetch layout is `dbs/<controller>/nova-<date>.sql.gz`
    * — fetch.py:42-56), in path-sorted order so controller 0 outranks
    * controller 1 exactly like the reference's fallback loop.
    */
  private def listDumps(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] = {
    def isDump(n: String) = n.endsWith(".sql") || n.endsWith(".sql.gz")
    val top = fs.listStatus(dir)
    (top.filter(s => s.isFile && isDump(s.getPath.getName)) ++
      top.filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(s => s.isFile && isDump(s.getPath.getName))))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Multi-controller conversion: each controller uploads its own dump of
    * the same database, and any one of them may be stale, partial, or
    * empty. Per pipeline table:
    *
    *   - `merge = "first"`: the first (controller-ordered) dump whose
    *     parse yields rows for that table wins — the reference's
    *     first-non-empty-listing fallback (fetch.py:42-74), applied
    *     per-table instead of wholesale so one controller's truncated
    *     dump can't blank a table another controller has;
    *   - `merge = "union"`: all dumps' rows concatenate (sharded
    *     sources, where each dump holds a disjoint slice).
    *
    * Nothing serializes through the driver: every candidate parse is the
    * same distributed INSERT scan [[loadTable]] runs, the `first` probe
    * is a limit-1 existence check per candidate (no materialization),
    * and `union` is a plan-level concatenation of distributed scans.
    */
  def convertDir(spark: SparkSession, dumpDir: String, outDir: String,
      merge: String = "first"): Unit = {
    require(merge == "first" || merge == "union",
      s"merge must be 'first' or 'union', got '$merge'")
    val p = new org.apache.hadoop.fs.Path(dumpDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val dumps = listDumps(fs, p)
    require(dumps.nonEmpty, s"no .sql/.sql.gz dumps found under $dumpDir")
    // stage + DDL-scan each dump once, not once per table
    withStaged(spark, dumps) { staged =>
      val colMaps = staged.map(d => d -> tableColumns(spark, d))
      tableSchemas.keys.toSeq.sorted.foreach { t =>
        val candidates = colMaps.collect {
          case (d, cols) if cols.contains(t) => loadTable(spark, d, t, cols)
        }
        require(candidates.nonEmpty,
          s"no dump under $dumpDir has CREATE TABLE `$t`")
        val chosen = merge match {
          // all-empty falls back to the first candidate: an empty but
          // correctly-typed table, same as single-dump zero-INSERT behavior
          case "first" => candidates.find(!_.isEmpty).getOrElse(candidates.head)
          case "union" => candidates.reduce(_.unionByName(_))
        }
        chosen.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    }
  }

  /** CLI: runMain graft.etl.DumpConvert <dump.sql|dumpDir> <outDir> [first|union] */
  def main(args: Array[String]): Unit = {
    val (dumpPath, outDir, merge) = args match {
      case Array(d, o)    => (d, o, "first")
      case Array(d, o, m) => (d, o, m)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try convert(spark, dumpPath, outDir, merge)
    finally spark.stop()
    println(s"[dump-convert] wrote ${tableSchemas.size} tables to $outDir")
  }
}
