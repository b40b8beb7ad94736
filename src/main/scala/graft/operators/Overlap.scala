package graft.operators

/** Overlap INDEPENDENT eager chains (guide §2.6 "overlap independent
  * jobs"): Spark happily schedules several jobs at once inside one
  * application — iterative operators like
  * [[Dedup.connectedComponents]] and [[Graphs.pageRank]] are sequential
  * chains of small pin/broadcast jobs, and when a query runs two such
  * chains over the SAME pinned input, running them from two driver
  * threads lets each chain's tasks back-fill the idle slots of the
  * other's stragglers and job gaps. Row-identity is trivial: the chains
  * share no mutable state (each consumes an already-pinned frame and
  * pins its own rounds), so the pair of results is byte-identical to
  * the sequential composition.
  *
  * Failure contract (the [[graft.operators]] fan-out discipline, as
  * in `Similarity.unionSlices`): both thunks tag their jobs with one
  * job group; if either fails, the group is cancelled TOGETHER WITH its
  * future jobs, so the surviving chain can neither keep a running job
  * nor start a new one, and `par2` waits (at most [[SiblingWait]]) for
  * that chain to unwind before the original failure rethrows — no job
  * of the group starts after `par2` has thrown. Pins already
  * materialized by the failed query are reclaimed by the session's
  * ContextCleaner (`spark.cleaner.referenceTracking.cleanCheckpoints`),
  * exactly as they would be if the same failure hit the sequential
  * form.
  */
object Overlap {

  /** How long an aborting [[par2]] waits for the surviving chain: its
    * next job fails at submission, so it normally unwinds at once; the
    * bound only covers a chain stuck in driver-side work.
    */
  private[operators] val SiblingWait =
    scala.concurrent.duration.FiniteDuration(5, "s")

  /** Run two independent chain thunks concurrently; returns both
    * results. Each thunk runs on its own thread with the job group set
    * BEFORE any of its eager work, so an abort can interrupt it.
    */
  def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sess = org.apache.spark.sql.SparkSession.active
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val group = s"graft-par2-${java.util.UUID.randomUUID()}"
    def wrap[T](f: () => T): Future[T] = Future {
      val sc = sess.sparkContext
      sc.setJobGroup(group, "graft overlapped chain",
        interruptOnCancel = true)
      try f() finally sc.clearJobGroup()
    }
    val (a, b) = (wrap(fa), wrap(fb))
    try Await.result(a.zip(b), Duration.Inf)
    catch { case e: Throwable =>
      scala.util.Try(sess.sparkContext.cancelJobGroupAndFutureJobs(group))
      val deadline = SiblingWait.fromNow
      for (f <- Seq(a, b)) scala.util.Try(Await.ready(f, deadline.timeLeft))
      throw e
    } finally pool.shutdown()
  }
}
