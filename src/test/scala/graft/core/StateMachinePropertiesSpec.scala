package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Types.{BillingEvent, Runtime}

/** Property tests the reference lacks (SURVEY.md §5 port strategy):
  * algebraic invariants of the billing kernel over randomized event logs
  * (seeded sampling — the offline dependency cache has no
  * scalatest-scalacheck bridge, so properties are checked over 300
  * deterministic samples each).
  */
class StateMachinePropertiesSpec extends AnyFunSuite {

  val start: Long = Types.utcMicros(2024, 1, 1)
  val end: Long = Types.utcMicros(2024, 2, 1)
  val span: Long = end - start

  private val actions = Array("create", "start", "stop", "delete", "shelve",
    "unshelve", "volume_attach", "resize")

  /** Random log: times straddle the window on both sides; minute grid
    * forces equal-timestamp ties; ~1 in 6 events carries message=Error.
    */
  private def sample(rnd: scala.util.Random): (List[BillingEvent], Option[Long]) = {
    val log = List.fill(rnd.nextInt(14)) {
      val t = start - span / 4 + (rnd.nextDouble() * 1.5 * span).toLong
      BillingEvent((t / 60000000L) * 60000000L,
        actions(rnd.nextInt(actions.length)),
        if (rnd.nextInt(6) == 0) "Error" else "")
    }.sortBy(_.timeUs)
    // Data contract (Nova semantics): deleted_at, when set, is at or
    // after the last action — nothing happens to a VM post-deletion.
    // (On INCONSISTENT data — deleted_at before later events — the
    // reference computes negative durations via deleted_at −
    // last_entered, model.py:119-125; both our formulations mirror that
    // faithfully, see the dedicated test below.)
    val lastT = log.lastOption.map(_.timeUs).getOrElse(start)
    val del =
      if (rnd.nextBoolean()) Some(lastT + (rnd.nextDouble() * span / 4).toLong)
      else None
    (log, del)
  }

  private def forAllSamples(seed: Long = 42)(check: (List[BillingEvent], Option[Long]) => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    (1 to 300).foreach { _ => val (log, del) = sample(rnd); check(log, del) }
  }

  test("runtime components are within [0, window] and sum <= window") {
    forAllSamples() { (log, del) =>
      val r = StateMachine.runtimeDuring(log, del, start, end)
      assert(r.runningUs >= 0 && r.stoppedUs >= 0)
      // billing.py:146 invariant, strengthened to the sum
      assert(r.runningUs + r.stoppedUs <= span)
    }
  }

  test("window splitting is additive: [a,b) + [b,c) == [a,c)") {
    forAllSamples() { (log, del) =>
      val mid = start + span / 2
      val whole = StateMachine.runtimeDuring(log, del, start, end)
      val lo = StateMachine.runtimeDuring(log, del, start, mid)
      val hi = StateMachine.runtimeDuring(log, del, mid, end)
      assert(whole - hi == lo,
        s"split mismatch: $lo + $hi != $whole for log=$log del=$del")
    }
  }

  test("sub-window runtime sum never exceeds full-window sum (monotonicity)") {
    forAllSamples() { (log, del) =>
      val full = StateMachine.runtimeDuring(log, del, start, end)
      val half = StateMachine.runtimeDuring(log, del, start, start + span / 2)
      assert(half.runningUs + half.stoppedUs <= full.runningUs + full.stoppedUs)
    }
  }

  test("outage subtraction of the whole window yields zero") {
    forAllSamples() { (log, del) =>
      val r = StateMachine.runtimeExcluding(log, del, start, end, Seq((start, end)))
      assert(r == Runtime(0L, 0L))
    }
  }

  test("outage subtraction equals additive complement: total - outage == rest") {
    forAllSamples() { (log, del) =>
      val mid = start + span / 3
      val excl = StateMachine.runtimeExcluding(log, del, start, end, Seq((start, mid)))
      val tail = StateMachine.runtimeDuring(log, del, mid, end)
      assert(excl == tail,
        s"complement mismatch: $excl != $tail for log=$log del=$del")
    }
  }

  test("inconsistent deleted_at (before events) mirrors the reference, including negatives") {
    // reference parity on bad data: deleted_at before the current state's
    // entry produces a negative duration in BOTH the reference
    // (model.py:119-125) and this engine; the equivalence property suite
    // (RuntimeSqlEquivalenceSpec) checks A≡B under exactly this case.
    val log = List(BillingEvent(start + span / 2, "create", ""))
    val r = StateMachine.runtimeDuring(log, Some(start), start, end)
    assert(r.runningUs == -(span / 2)) // exit at clamp(deleted_at)=start
  }

  test("duplicate events at identical timestamps are idempotent (same-state re-entry)") {
    forAllSamples() { (log, del) =>
      val doubled = log.flatMap(e => List(e, e)).sortBy(_.timeUs)
      val a = StateMachine.runtimeDuring(log, del, start, end)
      val b = StateMachine.runtimeDuring(doubled, del, start, end)
      // duplicating an event re-triggers the same state, which the
      // machine ignores (model.py:114) — EXCEPT Error→Error, which
      // re-enters at the same clamped time: zero added duration either way
      assert(a == b, s"duplication changed runtime: $a != $b for log=$log")
    }
  }
}
