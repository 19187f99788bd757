package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a layer, opened and closed by the
  * benchmark around that call. `iter` is the iteration (pass) id. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startMs: Long, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  /** Wall-clock end, on the same clock Spark stamps job submissions. */
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0
  var taskBusyMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var failedTasks = 0
}

/** In-memory span recorder. Spans are recorded only while `enabled`;
  * with tracing off, `span` just runs its body. The benchmark opens
  * spans from one thread, so the open-span stack is single-threaded. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long, Long)]
  private var nextId = 0
  var iter = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, name, System.currentTimeMillis(), System.nanoTime()))
      try body
      finally {
        val (_, _, ms, ns) = stack.pop()
        done.synchronized { done += Span(id, name, parent, iter, ms, ns, System.nanoTime()) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList).sortBy(_.id)

  /** Self time per span id: its duration minus the union of the
    * intervals its child spans cover. */
  def selfTimes: Map[Int, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val a1 = math.max(a, reach)
          if (b > a1) (sum + (b - a1), b) else (sum, reach)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Collects job, stage and task events. Jobs are attributed to spans
  * after the fact by submission time: the program submits some jobs
  * from its own thread pools, whose threads inherit Spark's local
  * properties from whichever span created them, so a job-group or
  * local-property tag would name a stale span. The benchmark calls
  * layers one at a time, so the innermost span open at a job's
  * submission time is the call that caused it. */
final class WorkListener extends SparkListener {
  private case class TaskSum(var busyMs: Long = 0, var schedMs: Long = 0,
                             var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                             var failed: Int = 0)
  private val jobTimes = mutable.Map.empty[Int, Long]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val perStage = mutable.Map.empty[Int, TaskSum]
  private var failedTotal = 0
  private var spillTotal = 0L
  @volatile private var markersSeen = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes(e.jobId) = e.time
    e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
    Option(e.properties).flatMap(p => Option(p.getProperty(WorkListener.MarkerKey)))
      .foreach(m => markersSeen += m)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = perStage.getOrElseUpdate(e.stageId, TaskSum())
    val info = e.taskInfo
    if (info.failed || info.killed) { t.failed += 1; failedTotal += 1 }
    val m = e.taskMetrics
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      t.spillBytes += spill
      spillTotal += spill
      // the Spark UI's scheduler delay (AppStatusUtils.schedulerDelay)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      t.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }

  def failedTasks: Int = synchronized(failedTotal)
  def spillBytes: Long = synchronized(spillTotal)

  /** Block until every event posted before this call has been
    * delivered: run a tagged no-op job and wait to see it. */
  def drain(sc: SparkContext): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(WorkListener.MarkerKey)
    sc.setLocalProperty(WorkListener.MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(WorkListener.MarkerKey, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (!markersSeen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Spark work per span id, attributing each job to the innermost
    * span open at its submission time. */
  def attribute(spans: Seq[Span]): Map[Int, SparkWork] = synchronized {
    val out = mutable.Map.empty[Int, SparkWork]
    def owner(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.startNs).headOption
    val spanOfJob = jobTimes.iterator.flatMap { case (j, t) => owner(t).map(j -> _.id) }.toMap
    spanOfJob.values.foreach(id => out.getOrElseUpdate(id, new SparkWork).jobs += 1)
    perStage.foreach { case (stage, t) =>
      jobOfStage.get(stage).flatMap(spanOfJob.get).foreach { id =>
        val w = out.getOrElseUpdate(id, new SparkWork)
        w.taskBusyMs += t.busyMs
        w.schedWaitMs += t.schedMs
        w.shuffleWriteBytes += t.shuffleBytes
        w.spillBytes += t.spillBytes
        w.failedTasks += t.failed
      }
    }
    out.toMap
  }
}

object WorkListener {
  val MarkerKey = "perfbench.marker"
}
