package billbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters per layer. Before each layer boundary the traced job sets
  * a Spark job group named after the span; every stage of every job in
  * that group is attributed to it. Callbacks run on the listener-bus
  * thread, reads on the benchmark thread, hence `synchronized`.
  */
final class LayerListener extends SparkListener {

  final class Acc {
    var stages, tasks = 0
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, inputBytes, recordsWritten = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    /** max ÷ median task duration, worst stage with ≥ 2 tasks; 1 if none. */
    def skew: Double = {
      val per = taskMs.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
      if (per.isEmpty) 1.0 else per.max
    }
  }

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val acc = mutable.HashMap.empty[String, Acc]
  private val ended = mutable.HashSet.empty[String]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(ended += _)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc.getOrElseUpdate(g, new Acc).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc)
    a.tasks += 1
    a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  def reset(): Unit = synchronized { stageGroup.clear(); acc.clear(); ended.clear() }

  /** Counters of the given groups merged (a fresh Acc when none ran). */
  def get(groups: String*): Acc = synchronized {
    val out = new Acc
    groups.flatMap(acc.get).foreach { a =>
      out.stages += a.stages; out.tasks += a.tasks; out.runMs += a.runMs
      out.cpuNs += a.cpuNs; out.shuffleWrite += a.shuffleWrite; out.shuffleRead += a.shuffleRead
      out.spill += a.spill; out.inputBytes += a.inputBytes; out.recordsWritten += a.recordsWritten
      a.taskMs.foreach { case (k, v) => out.taskMs(k) = v }
    }
    out
  }
  def groups: Set[String] = synchronized(acc.keySet.toSet)

  /** Block until every event posted before this call has been delivered:
    * run a one-task job in a fresh group and wait for its end event,
    * which the bus delivers after everything queued ahead of it.
    */
  def drain(sc: SparkContext, id: Int): Unit = {
    val g = s"fence-$id"
    sc.setJobGroup(g, g)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(ended.contains(g))) {
      require(System.nanoTime() < deadline, "listener bus did not drain in 30 s")
      Thread.sleep(2)
    }
  }
}

/** One timed region of a traced job. `parent` is "" for the root. */
final case class Span(job: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one traced job, kept in memory. Entering a span also makes it
  * the current Spark job group, so [[LayerListener]] attributes the tasks
  * it runs; leaving restores the enclosing span's group.
  */
final class Tracer(job: Int, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(job, name, parent, t0, System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Span time minus the time its direct children cover. */
  def self(name: String): Double =
    seconds(name) - spans.filter(_.parent == name).map(_.seconds).sum
}
