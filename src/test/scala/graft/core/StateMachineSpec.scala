package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Types._

/** The reference's unit scenarios ported 1:1 — the de-facto golden outputs.
  * Sources: /root/reference/src/openstack_billing_db/tests/unit/
  * test_instance.py, test_billing.py, test_instance_runtime.py, utils.py.
  */
class StateMachineSpec extends AnyFunSuite {

  // tests/unit/utils.py:9-12 (in microseconds)
  val MINUTE: Long = 60L * 1000000L
  val HOUR: Long   = 60L * MINUTE
  val DAY: Long    = 24L * HOUR
  val MONTH: Long  = 31L * DAY

  def ev(t: Long, name: String, message: String = ""): BillingEvent =
    BillingEvent(t, name, message)

  def run(
      events: Seq[BillingEvent],
      start: Long,
      end: Long,
      deletedAt: Option[Long] = None
  ): Runtime = StateMachine.runtimeDuring(events, deletedAt, start, end)

  val jan1_2000: Long = utcMicros(2000, 1, 1)
  val jan2_2000: Long = utcMicros(2000, 1, 2)
  val feb1_2000: Long = utcMicros(2000, 2, 1)
  val feb2_2000: Long = utcMicros(2000, 2, 2)

  // test_instance.py:8-23
  test("simple runtime: create then delete 30min later") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create"), ev(t + 30 * MINUTE, "delete")),
      jan1_2000, feb2_2000)
    assert(r.runningUs == 30 * MINUTE)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:26-41
  test("events entirely before window bill zero") {
    val t = utcMicros(1991, 1, 2)
    val r = run(
      Seq(ev(t, "create"), ev(t + 30 * MINUTE, "delete")),
      jan1_2000, feb2_2000)
    assert(r.runningUs == 0)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:44-56
  test("started before window, still running: clamps to full window") {
    val t = utcMicros(1991, 1, 2)
    val r = run(Seq(ev(t, "create")), jan1_2000, feb1_2000)
    assert(r.runningUs == MONTH)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:59-78
  test("stopped and started cycles") {
    val t = jan2_2000
    val r = run(
      Seq(
        ev(t, "create"),
        ev(t + 40 * MINUTE, "stop"),
        ev(t + DAY, "start"),
        ev(t + DAY + 40 * MINUTE, "delete")),
      jan1_2000, feb1_2000)
    assert(r.runningUs == 40 * MINUTE + 40 * MINUTE)
    assert(r.stoppedUs == DAY - 40 * MINUTE)
  }

  // test_instance.py:81-115
  test("deleted_at without delete action, in and out of window") {
    val t = jan2_2000
    val events = Seq(ev(t, "create"))
    val deletedAt = Some(t + DAY + 40 * MINUTE)

    val inWindow = run(events, jan1_2000, feb1_2000, deletedAt)
    assert(inWindow.runningUs == DAY + 40 * MINUTE)
    assert(inWindow.stoppedUs == 0)

    val after = run(events, feb1_2000, utcMicros(2000, 3, 1), deletedAt)
    assert(after.runningUs == 0)
    assert(after.stoppedUs == 0)

    val before = run(events, utcMicros(1999, 11, 1), utcMicros(1999, 12, 1), deletedAt)
    assert(before.runningUs == 0)
    assert(before.stoppedUs == 0)
  }

  // test_instance.py:118-137
  test("stopped then deleted_at") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create"), ev(t + 40 * MINUTE, "stop")),
      jan1_2000, feb1_2000,
      Some(t + DAY + 40 * MINUTE))
    assert(r.runningUs == 40 * MINUTE)
    assert(r.stoppedUs == DAY)
  }

  // test_instance.py:140-160
  test("stopped, restarted, then deleted_at") {
    val t = jan2_2000
    val r = run(
      Seq(
        ev(t, "create"),
        ev(t + 40 * MINUTE, "stop"),
        ev(t + DAY, "start")),
      jan1_2000, feb1_2000,
      Some(t + DAY + 40 * MINUTE))
    assert(r.runningUs == 40 * MINUTE + 40 * MINUTE)
    assert(r.stoppedUs == DAY - 40 * MINUTE)
  }

  // test_instance.py:163-182
  test("stopped then delete event") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create"), ev(t + HOUR, "stop"), ev(t + 2 * HOUR, "delete")),
      jan1_2000, feb1_2000)
    assert(r.runningUs == HOUR)
    assert(r.stoppedUs == HOUR)
  }

  // test_instance.py:185-206
  test("shelved and unshelved: shelved time is neither running nor stopped") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create"), ev(t + 40 * MINUTE, "shelve"), ev(t + DAY, "unshelve")),
      jan1_2000, feb1_2000,
      Some(t + DAY + 40 * MINUTE))
    assert(r.runningUs == 40 * MINUTE + 40 * MINUTE)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:209-228
  test("shelved, never unshelved") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create"), ev(t + 40 * MINUTE, "shelve")),
      jan1_2000, feb1_2000,
      Some(t + DAY + 40 * MINUTE))
    assert(r.runningUs == 40 * MINUTE)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:231-257
  test("shelve and stop interleave") {
    val t = jan2_2000
    val r = run(
      Seq(
        ev(t, "create"),
        ev(t + 40 * MINUTE, "stop"),
        ev(t + DAY, "start"),
        ev(t + DAY + 6 * HOUR, "shelve"),
        ev(t + DAY + 12 * HOUR, "unshelve")),
      jan1_2000, feb1_2000,
      Some(t + 2 * DAY))
    assert(r.runningUs == 40 * MINUTE + 6 * HOUR + 12 * HOUR)
    assert(r.stoppedUs == DAY - 40 * MINUTE)
  }

  // test_instance.py:260-275
  test("Error on create: zero billable") {
    val t = jan2_2000
    val r = run(
      Seq(ev(t, "create", "Error"), ev(t + HOUR, "delete")),
      jan1_2000, feb1_2000)
    assert(r.runningUs == 0)
    assert(r.stoppedUs == 0)
  }

  // test_instance.py:278-299
  test("Error on start after stop: stopped time keeps accruing") {
    val t = jan2_2000
    val r = run(
      Seq(
        ev(t, "create"),
        ev(t + 45 * MINUTE, "stop"),
        ev(t + HOUR, "start", "Error"),
        ev(t + HOUR + 10 * MINUTE, "delete")),
      jan1_2000, feb1_2000)
    assert(r.runningUs == 45 * MINUTE)
    assert(r.stoppedUs == 15 * MINUTE)
  }

  // test_instance.py:302-326
  test("Error then successful restart") {
    val t = jan2_2000
    val r = run(
      Seq(
        ev(t, "create"),
        ev(t + 45 * MINUTE, "stop"),
        ev(t + HOUR, "start", "Error"),
        ev(t + HOUR + 15 * MINUTE, "start"),
        ev(t + HOUR + 25 * MINUTE, "delete")),
      jan1_2000, feb1_2000)
    assert(r.runningUs == 45 * MINUTE + 10 * MINUTE)
    assert(r.stoppedUs == 15 * MINUTE)
  }

  // test_instance.py:342-362
  test("Error event outside window clamps to boundary") {
    val start = jan1_2000
    val end = feb1_2000
    val before = run(Seq(ev(start - HOUR, "create", "Error")), start, end)
    assert(before.runningUs == 0)
    assert(before.stoppedUs == 0)

    val after = run(
      Seq(ev(start, "create"), ev(end + HOUR, "stop", "Error")),
      start, end)
    assert(after.runningUs == MONTH)
    assert(after.stoppedUs == 0)
  }

  // test_billing.py:10-36 (K2 outage subtraction)
  test("outage subtraction: 15-day runtime minus 1-day and 1-hour outages") {
    val t = jan1_2000
    val events = Seq(ev(t, "create"), ev(t + 15 * DAY, "delete"))
    val r = StateMachine.runtimeExcluding(
      events, None, jan1_2000, feb1_2000,
      Seq(
        (utcMicros(2000, 1, 7), utcMicros(2000, 1, 8)),
        (utcMicros(2000, 1, 1, 9), utcMicros(2000, 1, 1, 10))))
    assert(r.runningUs == 15 * DAY - DAY - HOUR)
    assert(r.stoppedUs == 0)
  }

  // test_instance_runtime.py:4-11
  test("runtime componentwise subtraction") {
    val a = Runtime(1000, 1000)
    val b = Runtime(100, 200)
    val c = a - b
    assert(c.runningUs == 900)
    assert(c.stoppedUs == 800)
  }

  // documented deviation from model.py:124/127 (reference crashes)
  test("no state-mapped events yields zero runtime, not a crash") {
    val r = run(Seq(ev(jan2_2000, "volume_attach")), jan1_2000, feb1_2000,
      Some(jan2_2000 + DAY))
    assert(r == Runtime(0L, 0L))
    assert(run(Nil, jan1_2000, feb1_2000) == Runtime(0L, 0L))
  }

  // model.py:38-46 service-unit formula (F1)
  test("service units: gpu count wins, else truncated max(vcpus, mem/4GiB)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (gpu_count, vcpus, memory_mb) → expected service units
    val cases = Seq(
      (0, 1, 4096L) -> 1L,
      (0, 2, 4096L) -> 2L,
      (0, 1, 6144L) -> 1L, // int(1.5) truncates
      (0, 1, 8192L) -> 2L,
      (2, 8, 65536L) -> 2L)
    val got = cases.map(_._1).toDF("gpu_count", "vcpus", "memory_mb")
      .select(graft.etl.Enrich.serviceUnits(
        col("gpu_count"), col("vcpus"), col("memory_mb")))
      .as[Long].collect().toSeq
    assert(got == cases.map(_._2))
  }
}
