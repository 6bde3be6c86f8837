package billbench

import scala.collection.mutable
import graft.core.StateMachine
import graft.core.Types.BillingEvent

/** The invoice the billing run must produce, computed without Spark: each
  * instance's log (in `id` order, the reference's equal-timestamp
  * tiebreak) folds through `StateMachine.runtimeExcluding` — the pure
  * semantic reference, a separate code path from the `RuntimeSql` plan
  * the job runs — then ceil-hours × service units, summed per (project,
  * SU type), priced with BigDecimal HALF_UP to cents.
  *
  * Everything else — liveness, the SU formula, alias → SU type, SU names,
  * CSV cells — is written out here from the reference's rules, not taken
  * from the program.
  */
object Oracle {

  val Header: Seq[String] = Seq(
    "Invoice Month", "Report Start Time", "Report End Time",
    "Project - Allocation", "Project - Allocation ID", "Manager (PI)",
    "Cluster Name", "Invoice Email", "Invoice Address", "Institution",
    "Institution - Specific Code", "SU Hours (GBhr or SUhr)", "SU Type",
    "Rate", "Cost", "Generated At")
  private val GeneratedAt = Header.indexOf("Generated At")

  private val SuName = Map(
    "cpu" -> "OpenStack CPU", "gpu_a100" -> "OpenStack GPUA100",
    "gpu_a100sxm4" -> "OpenStack GPUA100SXM4", "gpu_v100" -> "OpenStack GPUV100",
    "gpu_k80" -> "OpenStack GPUK80", "gpu_a2" -> "OpenStack GPUA2")

  /** Expected CSV rows keyed by (project, SU Type), cells minus Generated At. */
  type Invoice = Map[(String, String), Seq[String]]

  final case class Pricing(rates: Map[String, String], month: String)

  def suType(alias: String): String =
    if (alias == null) "cpu" else "gpu_" + alias.toLowerCase.replace("-", "")

  def serviceUnits(f: Fleet, i: Int): Long =
    if (f.gpuCount(i) != 0) f.gpuCount(i).toLong
    else math.max(f.vcpus(i).toDouble, f.memMb(i) / 4096.0).toLong

  /** su_hours per (project, su_type). */
  def suHours(f: Fleet, startSec: Long, endSec: Long, includeStopped: Boolean): Map[(String, String), Long] = {
    val us = 1000000L
    val n = f.uuid.length
    // counting sort of action indices by instance, keeping id order
    val cnt = new Array[Int](n + 1)
    f.actInst.foreach(i => cnt(i + 1) += 1)
    for (i <- 1 to n) cnt(i) += cnt(i - 1)
    val pos = cnt.clone()
    val byInst = new Array[Int](f.nActions)
    f.actInst.indices.foreach { j => val i = f.actInst(j); byInst(pos(i)) = j; pos(i) += 1 }

    val outagesUs = f.outages.map { case (a, b) => (a * us, b * us) }
    val acc = mutable.HashMap.empty[(String, String), Long]
    for (i <- 0 until n) {
      val live = f.deletedAt(i) > startSec || f.deleted(i) == 0
      if (live && cnt(i + 1) > cnt(i)) {
        val events = (cnt(i) until cnt(i + 1)).map { k =>
          val j = byInst(k)
          BillingEvent(f.actSec(j) * us, f.actName(j), f.actMsg(j))
        }
        val rt = StateMachine.runtimeExcluding(events,
          if (f.deletedAt(i) >= 0) Some(f.deletedAt(i) * us) else None,
          startSec * us, endSec * us, outagesUs)
        val sec = (if (includeStopped) rt.runningUs + rt.stoppedUs else rt.runningUs) / us
        val hours = math.ceil(sec / 3600.0).toLong
        if (hours > 0) {
          val k = (f.project(i), suType(f.gpuAlias(i)))
          acc(k) = acc.getOrElse(k, 0L) + hours * serviceUnits(f, i)
        }
      }
    }
    acc.toMap
  }

  def invoice(hours: Map[(String, String), Long], p: Pricing, startIso: String, endIso: String): Invoice =
    hours.map { case ((project, t), h) =>
      val rate = p.rates(t)
      val cost = (BigDecimal(rate) * h).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      (project, SuName(t)) -> Seq(p.month, startIso, endIso, project, project, "", "stack",
        "", "", "", "N/A", h.toString, SuName(t), rate, cost.bigDecimal.toPlainString)
    }

  /** Cells that differ between a written invoice CSV and the oracle;
    * a missing or extra row counts as one, a wrong header as one.
    * 0 ⇔ the invoice is exact.
    */
  def mismatches(csv: String, expected: Invoice, firstDiff: String => Unit = _ => ()): Int = {
    val lines = csv.split("\n", -1).toSeq.filter(_.nonEmpty)
    var bad = 0
    if (lines.isEmpty || lines.head.split(",", -1).toSeq != Header) {
      bad += 1; firstDiff(s"header: ${lines.headOption.getOrElse("<empty>")}")
    }
    val seen = mutable.HashSet.empty[(String, String)]
    lines.drop(1).foreach { l =>
      val cells = l.split(",", -1).toSeq
      val key = (cells.lift(3).getOrElse(""), cells.lift(12).getOrElse(""))
      expected.get(key) match {
        case Some(exp) if cells.length == Header.length && seen.add(key) =>
          val got = cells.patch(GeneratedAt, Nil, 1)
          val d = got.zip(exp).count { case (a, b) => a != b }
          if (d > 0) firstDiff(s"row $key: got ${got.mkString(",")} expected ${exp.mkString(",")}")
          bad += d
        case _ => bad += 1; firstDiff(s"unexpected row: $l")
      }
    }
    val missing = expected.keySet.diff(seen)
    missing.headOption.foreach(k => firstDiff(s"missing row $k"))
    bad + missing.size
  }
}
