package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so that spans line
  * up with the millisecond event times of Spark's listener bus.
  * `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
  def contains(t: Long): Boolean = start <= t && t <= end
}

/** Records nested spans on the client thread. While `on` is false it only
  * times the block, so untraced units pay for nothing else. While a
  * span is open, the local property [[Tracer.SpanKey]] names it, and
  * every job the client thread submits carries that property.
  */
final class Tracer(sc: SparkContext, var on: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Runs `f` inside a span named `name`; returns its value and seconds. */
  def span[A](name: String)(f: => A): (A, Double) = {
    val start = now()
    if (!on) {
      val r = f
      return (r, (now() - start) / 1e9)
    }
    val id = open(name, start)
    try {
      val r = f
      (r, (spans(id).end - start) / 1e9)
    } finally close(id)
  }

  private def open(name: String, start: Long): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), name, start, -1L)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    id
  }

  private def close(id: Int): Unit = {
    spans(id).end = now()
    stack = stack.tail
    sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
  }

  /** Adds a finished span under the innermost open one (for intervals
    * marked by callbacks, like the chain's per-stage seam).
    */
  def record(name: String, start: Long, end: Long): Unit =
    if (on) spans += Span(spans.size, stack.headOption.getOrElse(-1), name, start, end)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** What the listeners saw of one job: its stages' task counts, task
  * time and bytes, summed.
  */
final case class JobRec(jobId: Int, tagged: Int, start: Long, var end: Long,
                        stageIds: Seq[Int], var tasks: Long = 0L,
                        var taskNanos: Long = 0L, var shuffleWrite: Long = 0L,
                        var spill: Long = 0L, var input: Long = 0L)

/** Planning time of one executed query, from its QueryPlanningTracker;
  * `end` is when its last phase ended, which is inside the action.
  */
final case class PlanRec(end: Long, planNanos: Long)

/** The benchmark's own SparkListener and QueryExecutionListener. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val rec = JobRec(e.jobId, tag, e.time * 1000000L, -1L, e.stageIds)
    jobs += rec
    e.stageIds.foreach(stageToJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageToJob.get(si.stageId).foreach { j =>
      val m = si.taskMetrics
      j.tasks += si.numTasks
      if (m != null) {
        j.taskNanos += m.executorRunTime * 1000000L
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (ph.nonEmpty)
        plans += PlanRec(ph.map(_.endTimeMs).max * 1000000L, ph.map(_.durationMs).sum * 1000000L)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Joins the spans with the listener records: every job becomes a child
  * span of the span it ran under. A job tagged through the local
  * property starts its search at that span; untagged jobs (submitted
  * from pool threads that did not inherit the property) start at the
  * roots. Either way the job lands in the deepest span that contains
  * its start.
  */
final class TraceView(spanSeq: Seq[Span], jobRecs: Seq[JobRec], planRecs: Seq[PlanRec]) {
  val spans: IndexedSeq[Span] = spanSeq.toIndexedSeq
  private val kids: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  def children(id: Int): Seq[Span] = kids.getOrElse(id, Nil)

  private def descend(s: Span, t: Long): Span =
    children(s.id).filter(_.contains(t)).sortBy(-_.start).headOption
      .map(descend(_, t)).getOrElse(s)

  // job times have millisecond resolution, so a root matches with 1 ms of slack
  private def root(t: Long): Option[Span] =
    children(-1).find(s => s.start - 1000000L <= t && t <= s.end + 1000000L)

  val jobParent: Map[Int, Int] = jobRecs.map { j =>
    val base =
      if (j.tagged >= 0 && j.tagged < spans.size) Some(spans(j.tagged)) else root(j.start)
    j.jobId -> base.map(descend(_, j.start).id).getOrElse(-1)
  }.toMap

  def ancestors(id: Int): Iterator[Span] =
    Iterator.iterate(id)(i => if (i < 0) -1 else spans(i).parent)
      .takeWhile(_ >= 0).map(spans(_))

  /** The jobs that ran inside span `id` or any span below it. */
  def jobsUnder(id: Int): Seq[JobRec] =
    jobRecs.filter(j => ancestors(jobParent(j.jobId)).exists(_.id == id))

  def plansUnder(s: Span): Seq[PlanRec] = planRecs.filter(p => s.contains(p.end))

  /** All spans, the jobs included as spans named `job <id>`. */
  def withJobs: Seq[Span] = spans ++ jobRecs.filter(_.end >= 0).zipWithIndex.map {
    case (j, i) => Span(spans.size + i, jobParent(j.jobId), s"job ${j.jobId}", j.start, j.end)
  }
}
