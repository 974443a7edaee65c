package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs submitted while a block runs.
  *
  * Listener events arrive asynchronously, in submission order. The count
  * is drained by running a marker job and waiting for its end event, by
  * which time every earlier job's start event has been delivered.
  */
object Jobs {
  private val MarkerKey = "graft.test.jobMarker"

  private final class Counter extends SparkListener {
    val jobs = new AtomicInteger
    @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
    @volatile private var markerJob = -1

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) == marker._1)) markerJob = e.jobId
      else jobs.incrementAndGet()

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) marker._2.countDown()

    def drain(sc: SparkContext): Unit = {
      val id = java.util.UUID.randomUUID().toString
      val done = new CountDownLatch(1)
      marker = (id, done)
      sc.setLocalProperty(MarkerKey, id)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(done.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job's end")
    }
  }

  /** `body`'s result and the number of Spark jobs submitted while it ran. */
  def counted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val c = new Counter
    sc.addSparkListener(c)
    try {
      c.drain(sc)
      c.jobs.set(0)
      val out = body
      c.drain(sc)
      (out, c.jobs.get)
    } finally sc.removeSparkListener(c)
  }
}
