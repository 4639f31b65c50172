package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: one-run job/stage/task census of a declared query — tells
  * whether a query's wall time is per-job overhead (many jobs, little task
  * time) or real compute (task time ≈ wall × cores). A sf0.001 warmup run
  * precedes the measured run so codegen/classloading are excluded.
  * Usage: runMain graft.ProfileQuery <queryName> [sfDir]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.localSession()

    def run(): Unit = {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    run() // warmup (same sf: deterministic internal index dirs reused safely)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    val jobDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        j.stageInfos.foreach(si => stageJob.put(si.stageId, j.jobId))
        if (verbose) {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobDesc.put(j.jobId, s"stages=${j.stageInfos.size} $d")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val si = s.stageInfo
          val ms = Option(si.taskMetrics).map(_.executorRunTime).getOrElse(-1L)
          println(s"PQSTAGE ${si.stageId} tasks=${si.numTasks} runMs=$ms " +
            si.name.take(120))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          val j = stageJob.getOrDefault(t.stageId, -1)
          jobTaskMs.computeIfAbsent(j, _ => new AtomicLong())
            .addAndGet(t.taskInfo.duration)
          jobTasks.computeIfAbsent(j, _ => new AtomicInteger())
            .incrementAndGet()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val wallMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.removeSparkListener(listener)
    if (verbose) {
      import scala.jdk.CollectionConverters._
      jobTaskMs.asScala.toSeq.sortBy(_._1).foreach { case (j, ms) =>
        println(s"PQJOB $j tasks=${jobTasks.get(j)} taskMs=${ms.get} " +
          jobDesc.getOrDefault(j, ""))
      }
    }
    println(f"PROFILEQUERY $name wallMs=$wallMs%.0f jobs=${jobs.get} " +
      f"stages=${stages.get} tasks=${tasks.get} taskTimeMs=${taskMs.get}")
    spark.stop()
  }
}
