package billbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Workload shape. Every size and distribution knob that differs between
  * workloads lives here, so the numbers in README.md and BENCHMARK.json
  * are read off one place; the shares all workloads have in common are
  * constants in [[Gen]].
  *
  * @param zipfS        0 = events spread evenly over instances; > 0 = the
  *                     i-th heaviest instance gets weight 1/(i+1)^zipfS
  * @param bigTenant    share of the fleet owned by one project
  */
final case class Spec(
    name: String,
    instances: Int,
    actions: Int,
    projects: Int,
    outages: Int,
    zipfS: Double,
    bigTenant: Double,
    start: LocalDate,
    end: LocalDate,
    includeStopped: Boolean,
    dump: Boolean)

/** A generated nova fleet, column-major. Times are epoch seconds (nova's
  * DATETIME columns have second resolution); `-1` in `deletedAt` is NULL.
  * Actions are stored in `id` order (id = index + 1), which is also the
  * order they appear in the dump — the tiebreak sqlite used for equal
  * `created_at` in the reference.
  */
final class Fleet(
    val uuid: Array[String],
    val project: Array[String],
    val vcpus: Array[Int],
    val memMb: Array[Long],
    val flavorId: Array[Long],
    val gpuAlias: Array[String],
    val gpuCount: Array[Int],
    val pciNull: Array[Boolean],
    val deletedAt: Array[Long],
    val deleted: Array[Int],
    val actInst: Array[Int],
    val actSec: Array[Long],
    val actName: Array[String],
    val actMsg: Array[String],
    val outages: Seq[(Long, Long)]) {

  def nActions: Int = actInst.length

  /** SHA-256 over every field: equal digests ⇔ identical fleets. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def l(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def s(v: String): Unit =
      if (v == null) l(-1) else { val b = v.getBytes("UTF-8"); l(b.length); md.update(b) }
    uuid.indices.foreach { i =>
      s(uuid(i)); s(project(i)); l(vcpus(i)); l(memMb(i)); l(flavorId(i)); s(gpuAlias(i))
      l(gpuCount(i)); l(if (pciNull(i)) 1 else 0); l(deletedAt(i)); l(deleted(i))
    }
    actInst.indices.foreach { j => l(actInst(j)); l(actSec(j)); s(actName(j)); s(actMsg(j)) }
    outages.foreach { case (a, b) => l(a); l(b) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {

  def epoch(d: LocalDate): Long = d.atStartOfDay().toEpochSecond(ZoneOffset.UTC)

  /** (vcpus, memory_mb) of the CPU flavors; the 2/16384 one is
    * memory-bound (4 SU), which exercises `max(vcpus, memory/4096)`.
    */
  private val CpuFlavors = Array((1, 2048L), (2, 4096L), (4, 8192L), (8, 16384L), (16, 65536L), (2, 16384L))
  /** Only aliases the strict parser accepts, in mixed case as nova stores
    * them; Enrich lower-cases before matching.
    */
  private val GpuAliases = Array("A100", "a100-sxm4", "V100", "k80")
  private val GpuCounts = Array(1, 1, 2, 4)

  /** Fleet shares every workload has in common: GPU instances, instances
    * deleted inside the window and before it, and instances given a
    * same-second shelve/unshelve pair whose order changes the bill.
    */
  val GpuShare = 0.10
  val DeletedMidShare = 0.10
  val DeletedBeforeShare = 0.05
  val TieShare = 0.02

  /** Unmapped actions outnumber billable ones, as in a real action log. */
  private val Actions = Array(
    "start" -> 14, "stop" -> 14, "shelve" -> 4, "unshelve" -> 4, "reboot" -> 20,
    "resize" -> 6, "attach_interface" -> 10, "live-migration" -> 8,
    "rebuild" -> 4, "pause" -> 6, "unpause" -> 6, "create" -> 4)
  private val ActionCdf = Actions.map(_._2).scanLeft(0)(_ + _).tail
  private def pickAction(r: SplittableRandom): String = {
    val x = r.nextInt(ActionCdf.last)
    Actions(ActionCdf.indexWhere(x < _))._1
  }

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(Character.forDigit(r.nextInt(16), 16))
    sb.toString
  }
  private def uuid(r: SplittableRandom): String = {
    val h = hex(r, 32)
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20)}"
  }

  /** Event counts per instance summing to about `total`, at least 1 each:
    * uniform ±50% around the mean, or Zipf by instance rank.
    */
  private def eventCounts(spec: Spec, r: SplittableRandom): Array[Int] = {
    val n = spec.instances
    if (spec.zipfS <= 0) {
      val mean = spec.actions.toDouble / n
      Array.fill(n)(math.max(1, (mean * (0.5 + r.nextDouble())).round.toInt))
    } else {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, spec.zipfS))
      val sum = w.sum
      val counts = w.map(x => math.max(2, (spec.actions * x / sum).round.toInt))
      // shuffle which instance gets which rank, so heavy keys are not the
      // first uuids generated
      var i = n - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val t = counts(i); counts(i) = counts(j); counts(j) = t; i -= 1
      }
      counts
    }
  }

  /** Non-overlapping outages: `k` slots evenly cut from the window, one
    * outage of 30-150 minutes at a random offset inside each slot.
    */
  private def outages(spec: Spec, r: SplittableRandom, s: Long, e: Long): Seq[(Long, Long)] = {
    val slot = (e - s) / spec.outages
    (0 until spec.outages).map { k =>
      val len = 1800L + r.nextInt(7201)
      val off = r.nextLong(math.max(1L, slot - len))
      val a = s + k * slot + off
      (a, a + len)
    }
  }

  def generate(spec: Spec, seed: Long): Fleet = {
    val r = new SplittableRandom(seed * 1000003L + spec.name.hashCode)
    val s = epoch(spec.start)
    val e = epoch(spec.end)
    val win = e - s
    val n = spec.instances
    val projects = Array.fill(spec.projects)(hex(r, 32))

    val uuidA = Array.fill(n)(uuid(r))
    val projA = new Array[String](n)
    val vcpus = new Array[Int](n)
    val mem = new Array[Long](n)
    val flavor = new Array[Long](n)
    val alias = new Array[String](n)
    val gcount = new Array[Int](n)
    val pciNull = new Array[Boolean](n)
    val delAt = Array.fill(n)(-1L)
    val deleted = new Array[Int](n)
    val counts = eventCounts(spec, r)

    // per-instance event lists, instance-major; sorted globally below
    val evInst = Array.newBuilder[Int]
    val evSec = Array.newBuilder[Long]
    val evName = Array.newBuilder[String]
    val evMsg = Array.newBuilder[String]

    for (i <- 0 until n) {
      projA(i) =
        if (r.nextDouble() < spec.bigTenant) projects(0)
        else projects(1 + r.nextInt(spec.projects - 1))
      if (r.nextDouble() < GpuShare) {
        val g = r.nextInt(GpuAliases.length)
        alias(i) = GpuAliases(g); gcount(i) = GpuCounts(r.nextInt(GpuCounts.length))
        vcpus(i) = 8 * gcount(i); mem(i) = 65536L * gcount(i); flavor(i) = 100 + g
      } else {
        val f = r.nextInt(CpuFlavors.length)
        vcpus(i) = CpuFlavors(f)._1; mem(i) = CpuFlavors(f)._2; flavor(i) = 1 + f
        pciNull(i) = r.nextBoolean() // NULL vs "[]": both mean cpu
      }
      val created =
        if (r.nextDouble() < 0.35) s - 3600L - r.nextLong(60L * 86400L)
        else s + r.nextLong(win * 9 / 10)
      val u = r.nextDouble()
      val stop =
        if (u < DeletedMidShare) {
          val d = math.max(created, s) + 3600L + r.nextLong(math.max(1L, e - math.max(created, s) - 7200L))
          delAt(i) = d; deleted(i) = i + 1; d
        } else if (u < DeletedMidShare + DeletedBeforeShare && created < s - 7200L) {
          val d = created + 3600L + r.nextLong(s - created - 3600L)
          delAt(i) = d; deleted(i) = i + 1; d
        } else e + 2L * 86400L // some events land after the window end
      val k = counts(i)
      val times = Array.fill(k - 1)(created + 1 + r.nextLong(math.max(1L, stop - created - 1)))
      java.util.Arrays.sort(times)
      val names = Array.fill(k - 1)(pickAction(r))
      val msgs = Array.fill(k - 1)(if (r.nextInt(100) == 0) "Error" else if (r.nextBoolean()) null else "")

      def emit(t: Long, a: String, m: String): Unit = { evInst += i; evSec += t; evName += a; evMsg += m }
      emit(created, "create", null)
      // the tie block goes into the widest gap: start at t-1 makes the
      // state Running, then shelve/unshelve at the same second t in random
      // order — unshelve-first leaves it Shelved until the next event,
      // shelve-first leaves it Running, and the gap is ≥ 2h so the
      // ceil-hours differ whichever way the order resolves
      val tieAt =
        if (r.nextDouble() < TieShare) {
          val bounds = created +: times :+ stop
          val g = (0 until bounds.length - 1).maxBy(j => bounds(j + 1) - bounds(j))
          if (bounds(g + 1) - bounds(g) >= 4 * 3600L) bounds(g) + (bounds(g + 1) - bounds(g)) / 2 else -1L
        } else -1L
      var tieDone = false
      def tieBlock(): Unit = {
        emit(tieAt - 1, "start", null)
        if (r.nextBoolean()) { emit(tieAt, "shelve", null); emit(tieAt, "unshelve", null) }
        else { emit(tieAt, "unshelve", null); emit(tieAt, "shelve", null) }
        tieDone = true
      }
      for (j <- times.indices) {
        if (tieAt > 0 && !tieDone && times(j) > tieAt) tieBlock()
        emit(times(j), names(j), msgs(j))
      }
      if (tieAt > 0 && !tieDone) tieBlock()
      if (delAt(i) >= 0) emit(delAt(i), "delete", null)
    }

    // global id order = (created_at, instance, per-instance order), like
    // nova's auto-increment ids assigned as actions happen
    val inst0 = evInst.result(); val sec0 = evSec.result()
    val name0 = evName.result(); val msg0 = evMsg.result()
    val base = sec0.min
    val keys = Array.tabulate(inst0.length)(j => ((sec0(j) - base) << 28) | j.toLong)
    java.util.Arrays.sort(keys)
    val order = keys.map(k => (k & ((1L << 28) - 1)).toInt)
    new Fleet(uuidA, projA, vcpus, mem, flavor, alias, gcount, pciNull, delAt, deleted,
      order.map(inst0), order.map(sec0), order.map(name0), order.map(msg0),
      outages(spec, r, s, e))
  }

  def pciJson(f: Fleet, i: Int): String =
    if (f.gpuAlias(i) != null)
      s"""[{"count": "${f.gpuCount(i)}", "alias_name": "${f.gpuAlias(i)}", "numa_policy": "legacy", "request_id": null}]"""
    else if (f.pciNull(i)) null
    else "[]"
}
