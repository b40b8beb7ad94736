package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** [[Overlap.par2]]'s failure contract: when one chain throws, the
  * other chain's jobs are cancelled, including the ones it has not
  * submitted yet.
  */
class OverlapSpec extends SparkSpec {

  test("par2 abort: no job of the group starts after par2 throws") {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[java.lang.Long]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-par2-"))
          .foreach(_ => starts.add(j.time))
    }
    val ran = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // the surviving chain ignores failures and keeps submitting jobs for
    // longer than par2 waits for it
    val stopAt = System.currentTimeMillis() +
      Overlap.SiblingWait.toMillis + 2000
    val survivor = () =>
      try {
        while (System.currentTimeMillis() < stopAt) {
          try sc.parallelize(1 to 4, 2).count()
          catch { case _: Exception => }
          ran.countDown()
          Thread.sleep(20)
        }
      } finally done.countDown()
    val failing = () => {
      ran.await(30, TimeUnit.SECONDS)
      throw new IllegalStateException("chain failed")
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException](Overlap.par2(failing, survivor))
      val thrownAt = System.currentTimeMillis()
      assert(e.getMessage == "chain failed")
      assert(done.await(60, TimeUnit.SECONDS))
      org.apache.spark.GraftListenerTestHook.drain(sc)
      val times = starts.asScala.map(_.longValue).toSeq
      assert(times.nonEmpty, "the surviving chain ran no job in the group")
      val late = times.filter(_ > thrownAt)
      assert(late.isEmpty,
        s"${late.size} job(s) of the group started after par2 threw")
    } finally sc.removeSparkListener(listener)
  }
}
