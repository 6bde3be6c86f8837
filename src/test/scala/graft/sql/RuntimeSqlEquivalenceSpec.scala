package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.core.{StateMachine, Types}
import graft.core.Types.BillingEvent

/** Property test: the relational formulation (RuntimeSql, "Option B") is
  * equivalent to the reference-mirroring pure fold (StateMachine, "Option
  * A") on randomized event logs — including unknown actions, Error
  * messages, equal timestamps, out-of-window events, deleted_at (before,
  * inside, after the window, and before earlier events), and outage
  * intervals overlapping the window edges.
  */
class RuntimeSqlEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val actions =
    Seq("create", "start", "stop", "delete", "shelve", "unshelve",
      "volume_attach", "resize", "pause") // last three: unknown → skipped
  private val messages = Seq("", "", "", "", "Error", "ok")

  case class Inst(key: Long, events: Seq[BillingEvent], deletedAt: Option[Long])

  private def genInstances(seed: Long, n: Int, windowStart: Long, windowEnd: Long): Seq[Inst] = {
    val rnd = new scala.util.Random(seed)
    val span = windowEnd - windowStart
    (0 until n).map { k =>
      val nEvents = rnd.nextInt(12)
      val times = Seq.fill(nEvents) {
        // 20% before window, 20% after, rest inside; coarse grid to force ties
        val r = rnd.nextDouble()
        val base =
          if (r < 0.2) windowStart - rnd.nextInt(1000).toLong * 1000000L
          else if (r < 0.4) windowEnd + rnd.nextInt(1000).toLong * 1000000L
          else windowStart + (rnd.nextDouble() * span).toLong
        (base / 60000000L) * 60000000L // minute grid → frequent equal ts
      }.sorted
      val events = times.map { t =>
        BillingEvent(t, actions(rnd.nextInt(actions.length)),
          messages(rnd.nextInt(messages.length)))
      }
      val deletedAt =
        if (rnd.nextDouble() < 0.4)
          Some(windowStart + ((rnd.nextDouble() * 1.4 - 0.2) * span).toLong)
        else None
      Inst(k.toLong, events, deletedAt)
    }
  }

  private def check(seed: Long, outages: Seq[(Long, Long)]): Unit = {
    val start = Types.utcMicros(2024, 1, 1)
    val end = Types.utcMicros(2024, 2, 1)
    val insts = genInstances(seed, 80, start, end)

    import spark.implicits._
    val eventsDf = insts
      .flatMap(i => i.events.zipWithIndex.map { case (e, idx) =>
        (i.key, e.timeUs, idx.toLong, e.name, e.message)
      })
      .toDF("key", "ts_us", "tie", "action", "message")
      .withColumn("state", RuntimeSql.mapState(col("action"), col("message")))
    val deletedDf = insts.flatMap(i => i.deletedAt.map(d => (i.key, d)))
      .toDF("key", "deleted_at_us")

    val runs = RuntimeSql.stateRuns(eventsDf, Some(deletedDf))
    val got = RuntimeSql.runtimeExcluding(runs, start, end, outages)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    insts.foreach { i =>
      val expected = StateMachine.runtimeExcluding(
        i.events, i.deletedAt, start, end, outages)
      val actual = got.get(i.key)
      val matches = actual match {
        case Some((r, s)) => r == expected.runningUs && s == expected.stoppedUs
        case None => expected == Types.Runtime(0L, 0L) // no state-mapped events
      }
      assert(matches,
        s"key=${i.key} seed=$seed expected=(${expected.runningUs},${expected.stoppedUs}) got=$actual " +
          s"events=${i.events} deletedAt=${i.deletedAt}")
    }
  }

  test("A ≡ B on random event logs, plain window") {
    check(seed = 1, outages = Seq.empty)
    check(seed = 2, outages = Seq.empty)
  }

  test("A ≡ B with outage intervals, including edge-overlapping ones") {
    val start = Types.utcMicros(2024, 1, 1)
    val outages = Seq(
      (Types.utcMicros(2024, 1, 7), Types.utcMicros(2024, 1, 8)),
      (start - 3600000000L, start + 3600000000L), // straddles window start
      (Types.utcMicros(2024, 1, 31, 12), Types.utcMicros(2024, 2, 1, 12))) // straddles end
    check(seed = 3, outages = outages)
    check(seed = 4, outages = outages.take(1))
  }
}
