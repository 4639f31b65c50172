package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Job and block censuses for specs that bound how many Spark jobs a call
  * submits and what it leaves persisted. */
object TestJobs {

  /** RDDs `body` leaves persisted once the frames it returns are released:
    * an operator frees every checkpoint it made on the way, so only its
    * result's remain, and the caller drops those. */
  def leftPersisted(spark: SparkSession)(body: => Seq[DataFrame]): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body.foreach(graft.operators.PinnedLoop.release(_))
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  /** Jobs `body` submits. They are tagged with a job group; a marker job in
    * the same group, submitted after `body`, tells when the listener has
    * seen every earlier job (one listener sees events in order). */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-census-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (p.exists(_.getProperty("spark.job.description") == "marker")) drained.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
