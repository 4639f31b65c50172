package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job censuses for specs that bound how many Spark jobs a call submits. */
object TestJobs {

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
