package rorbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes every Spark job to the layer of the program that caused it,
  * from outside the program.
  *
  * A job is mapped through its `spark.sql.execution.id` (and the root
  * execution id, for subqueries and adaptive-execution stage jobs) to the
  * long-form call site of `SparkListenerSQLExecutionStart`. The innermost
  * `graft.<package>` frame there names the layer; the long call site of the
  * job's result stage is the fallback. A job whose call sites reach the
  * benchmark's own driver without any program frame belongs to the span
  * the benchmark was in (`queries.exec`: executing a query's plan). What is
  * left is `unattributed`. */
final class LayerTrace extends SparkListener {

  final class Job(val id: Int, val startMs: Long, val layer: String, val how: String) {
    @volatile var endMs: Long = -1L
    var tasks = 0L; var failed = 0L; var busyMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var bytesWritten = 0L; var recordsRead = 0L
  }

  private val execDetails = new ConcurrentHashMap[Long, (Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val jobs = new ConcurrentHashMap[Int, Job]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execDetails.put(e.executionId, (e.rootExecutionId.getOrElse(e.executionId), e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    val root = prop("spark.sql.execution.root.id").map(_.toLong)
      .orElse(exec.flatMap(x => Option(execDetails.get(x)).map(_._1)))
    val sqlSites = (root.toSeq ++ exec.toSeq).distinct.flatMap(x => Option(execDetails.get(x)).map(_._2))
    val stageSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).toSeq
    val (layer, how) =
      sqlSites.iterator.flatMap(LayerTrace.layerOf).nextOption().map(_ -> "sql")
        .orElse(stageSite.iterator.flatMap(LayerTrace.layerOf).nextOption().map(_ -> "stage"))
        .getOrElse("unattributed" -> "none")
    val job = new Job(e.jobId, e.time, layer, how)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failed += 1
        j.busyMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq.sortBy(_.id)
}

object LayerTrace {

  private val Frame = """^\s*(?:at\s+)?((?:graft|rorbench)\.[\w.$]+)\.[\w$]+\(.*""".r

  /** Sub-layers by the object that owns the frame. */
  private def sub(pkg: String, obj: String): String = (pkg, obj) match {
    case ("sources", "Jsonl" | "LocalDumpSource" | "DumpSource" | "CatalogSelect") => "sources.jsonl"
    case ("sources", o) if o.contains("Index") => "sources.index"
    case ("sources", _) => "sources.snapshot"
    case ("ops", "UltimateParent") => "ops.ultimate_parent"
    case ("ops", "QualityGates") => "ops.gates"
    case ("ops", "Enrich") => "ops.enrich"
    case ("ops", "ParentEdges") => "ops.edges"
    case (p, _) => p
  }

  /** Layer named by the innermost program frame of a long call site, if any. */
  def layerOf(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator.collectFirst { case Frame(cls) => cls }.map { cls =>
      val parts = cls.split('.')
      if (parts(0) == "rorbench") "queries.exec"
      else if (parts.length < 3) "graft"
      else sub(parts(1), parts(2).takeWhile(_ != '$'))
    }
}
