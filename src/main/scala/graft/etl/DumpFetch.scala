package graft.etl

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** S2 — the dump-fetch entry path (reference fetch.py:11-95), expressed as
  * PURE key-selection functions so the logic is unit-testable with zero
  * network. The reference lists `dbs/{ctl}/nova-{yyyymmdd}` prefixes over
  * three controllers in order and downloads the first object of the first
  * non-empty listing; here the listing itself is a caller-supplied
  * function (a real S3 client, `FileSystem.listStatus` over `s3a://`, or a
  * test fixture), and everything around it — prefix templates, fallback
  * order, first-object rule — is deterministic string logic.
  *
  * The selected key feeds `s3a://bucket/key` straight into Spark/Hadoop
  * IO, so the reference's download to `/tmp` has no counterpart here;
  * `DumpConvert.stageSplittable` takes the place of its `gzip -d`.
  */
object DumpFetch {

  /** Controller fallback order (fetch.py:65). */
  val defaultControllers: Seq[String] =
    Seq("nerc-ctl-0", "nerc-ctl-1", "nerc-ctl-2")

  private val yyyymmdd = DateTimeFormatter.BASIC_ISO_DATE

  /** `dbs/{ctl}/nova-{yyyymmdd}` — the per-controller daily prefix
    * (fetch.py:66). Dump keys extend it with a timestamp suffix, e.g.
    * `dbs/nerc-ctl-0/nova-20240202000002.sql.gz`.
    */
  def dumpPrefix(controller: String, date: LocalDate): String =
    s"dbs/$controller/nova-${date.format(yyyymmdd)}"

  /** All candidate prefixes for a date, in fallback order. */
  def candidatePrefixes(
      date: LocalDate,
      controllers: Seq[String] = defaultControllers): Seq[String] =
    controllers.map(dumpPrefix(_, date))

  /** First object of the first controller whose listing is non-empty
    * (fetch.py:65-70: `Contents[0]` of the first hit). `list` receives a
    * prefix and returns that prefix's keys; S3 ListObjectsV2 returns keys
    * in lexicographic order, so the sort here makes the rule hold for
    * listing sources with no order guarantee too. None = no dump today on
    * any controller (the reference raises; callers decide).
    */
  def selectDumpKey(
      date: LocalDate,
      list: String => Seq[String],
      controllers: Seq[String] = defaultControllers): Option[String] =
    candidatePrefixes(date, controllers).iterator
      .map(p => list(p).sorted)
      .collectFirst { case keys if keys.nonEmpty => keys.head }

  /** A prefix-listing function backed by Hadoop `FileSystem` — the same
    * API over `file://` fixtures and `s3a://` buckets, which is what lets
    * [[selectDumpKey]] run end-to-end with zero network (and against the
    * real bucket unchanged when credentials exist). Keys come back
    * bucket-root-relative, exactly like S3 ListObjectsV2 `Contents[].Key`;
    * a missing controller directory lists as empty, matching an S3 prefix
    * with no objects.
    */
  def fsListing(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String => Seq[String] = { prefix =>
    val slash = prefix.lastIndexOf('/')
    val (dir, base) =
      if (slash < 0) ("", prefix) else (prefix.take(slash), prefix.drop(slash + 1))
    val d = if (dir.isEmpty) root else new org.apache.hadoop.fs.Path(root, dir)
    try fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(_.startsWith(base))
      .map(n => if (dir.isEmpty) n else s"$dir/$n")
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }
}
