package rorbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.rorbench.SessionProbe

import graft.{SparkEntry, Verify}
import graft.pipeline.RorPipeline

/** Runs one workload's op list in this JVM and writes what it measured as
  * JSON. The op list comes from the Python side, which also generated every
  * input and checks the outputs after this process exits.
  *
  * Usage: `Main <plan file> <result file> <task slots>`
  *
  * Plan file lines (tab-separated):
  *  - `dir <path>`: harness-table directory read by the queries;
  *  - `warehouse <path>`: warehouse of the weekly refresh;
  *  - `<phase> <pass> query <name>`: run one query;
  *  - `<phase> <pass> refresh <dump path> <run date>`: one `RorPipeline.run`;
  *  - `check <pass> verify <out dir> <name,name,...>`: `graft.Verify.run` for
  *    those queries (each query's rows as parquet, plus `oracle_sql.json`).
  *
  * Phases: `warm` ops come before the measured phase (set-up ends at the
  * first other op), `measure` ops are timed, `trace` ops are timed with the
  * layer listener attached, `check` ops only produce outputs to check.
  *
  * After each op, outside its timer, the benchmark reads the session state
  * it left (cached relations, changed conf keys) and clears the cache; after
  * the last timed op of each pass it then forces one full GC and reads the
  * heap still live from the collector's notification. Per op it also keeps
  * the GC time and the largest heap in use right after a collection. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(planFile, resultFile, slots) = args
    val plan = Files.readAllLines(Paths.get(planFile)).asScala.toSeq.map(_.split('\t').toSeq)
    def setting(k: String) = plan.collectFirst { case Seq(`k`, v) => v }
    val gcs = new GcWatch
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new LayerTrace
    val sessionMs = System.currentTimeMillis()

    val ops = Seq.newBuilder[Map[String, Any]]
    var readyMs = 0L
    val opLines = plan.filter(_.length >= 3)
    opLines.zipWithIndex.foreach { case (line, i) =>
      if (readyMs == 0L && (line.head == "measure" || line.head == "trace")) readyMs = System.currentTimeMillis()
      val traced = line.head == "trace"
      if (traced) spark.sparkContext.addSparkListener(trace)
      val op = line match {
        case Seq(phase, pass, "query", name) => runQuery(spark, setting("dir").get, name) ++
          Map("phase" -> phase, "pass" -> pass.toInt, "name" -> name)
        case Seq(phase, pass, "refresh", dump, date) =>
          runRefresh(spark, setting("warehouse").get, dump, date) ++
            Map("phase" -> phase, "pass" -> pass.toInt, "name" -> s"refresh $date")
        case Seq("check", pass, "verify", out, names) => verify(spark, setting("dir").get, out, names) ++
          Map("phase" -> "check", "pass" -> pass.toInt, "name" -> "verify")
      }
      if (traced) {
        SessionProbe.drainListeners(spark)
        spark.sparkContext.removeSparkListener(trace)
      }
      val cached = SessionProbe.cachedRelations(spark)
      spark.catalog.clearCache()
      val timed = line.head == "measure" || line.head == "trace"
      val passEnds = i + 1 == opLines.length || opLines(i + 1)(1) != line(1)
      val live = if (timed && passEnds) Some(gcs.liveHeapBytes()) else None
      ops += op ++ Map("cached_left" -> cached) ++ live.map("live_heap_bytes" -> _)
    }
    // what the program keeps on disk: its warehouse and its temp directory
    val keptBytes = (setting("warehouse").toSeq :+ System.getProperty("java.io.tmpdir"))
      .map(d => dirBytes(new java.io.File(d))).sum

    val opList = ops.result().map { op =>
      val (t0, t1) = (op("t0_ms").asInstanceOf[Long], op("t1_ms").asInstanceOf[Long])
      val gc = gcs.within(t0, t1)
      op ++ Map("gc_ms" -> gc.map(_.durationMs).sum, "gc_peak_bytes" -> (0L +: gc.map(_.usedAfterBytes)).max) ++
        (if (op("phase") == "trace") Map("jobs" -> trace.jobsBetween(t0, t1).map(jobJson)) else Map.empty)
    }
    val result = Map("session_ms" -> sessionMs, "ready_ms" -> readyMs, "kept_bytes" -> keptBytes, "ops" -> opList)
    Files.write(Paths.get(resultFile), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def jobJson(j: LayerTrace#Job): Map[String, Any] = Map(
    "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "layer" -> j.layer, "how" -> j.how,
    "tasks" -> j.tasks, "failed" -> j.failed, "busy_ms" -> j.busyMs, "shuffle_bytes" -> j.shuffleBytes,
    "spill_bytes" -> j.spillBytes, "bytes_written" -> j.bytesWritten, "records_read" -> j.recordsRead)

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  private def confDelta(before: Map[String, String], after: Map[String, String]): Int =
    (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))

  /** One query: build (the query function), plan (`executedPlan`) and
    * execute (every row of the planned query computed, none collected). */
  private def runQuery(spark: SparkSession, dir: String, name: String): Map[String, Any] = {
    val conf0 = spark.conf.getAll
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var (nb, np) = (n0, n0)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      nb = System.nanoTime()
      val qe = df.queryExecution
      qe.executedPlan
      np = System.nanoTime()
      val rows = SQLExecution.withNewExecutionId(qe, Some(s"rorbench $name"))(qe.toRdd.count())
      val n3 = System.nanoTime()
      Map("t0_ms" -> t0, "t1_ms" -> System.currentTimeMillis(), "wall_s" -> (n3 - n0) / 1e9,
        "build_s" -> (nb - n0) / 1e9, "plan_s" -> (np - nb) / 1e9, "exec_s" -> (n3 - np) / 1e9,
        "rows" -> rows, "conf_changed" -> confDelta(conf0, spark.conf.getAll))
    } catch {
      case e: Throwable => failure(t0, n0, e) ++ Map("conf_changed" -> confDelta(conf0, spark.conf.getAll))
    }
  }

  /** The repository's own correctness dump for `names`; a query that fails
    * there leaves no result directory, which the checker reports. */
  private def verify(spark: SparkSession, dir: String, out: String, names: String): Map[String, Any] = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    Verify.run(spark, dir, out, names.split(',').toSet)
    Map("t0_ms" -> t0, "t1_ms" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - n0) / 1e9,
      "rows" -> 0L, "conf_changed" -> 0)
  }

  /** One weekly refresh, default mode; its run report goes to the checker. */
  private def runRefresh(spark: SparkSession, warehouse: String, dump: String, date: String): Map[String, Any] = {
    val conf0 = spark.conf.getAll
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try {
      val r = RorPipeline.run(spark, RorPipeline.Config(dump, warehouse, runDate = LocalDate.parse(date)))
      Map("t0_ms" -> t0, "t1_ms" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - n0) / 1e9,
        "rows" -> r.records, "capped_count" -> r.cappedCount, "capped_ids" -> r.cappedIds,
        "gates" -> r.gates.map(g => Map("name" -> g.name, "passed" -> g.passed)),
        "backup" -> r.backupPath, "prod" -> r.productionPath,
        "conf_changed" -> confDelta(conf0, spark.conf.getAll))
    } catch {
      case e: Throwable => failure(t0, n0, e) ++ Map("conf_changed" -> confDelta(conf0, spark.conf.getAll))
    }
  }

  private def failure(t0: Long, n0: Long, e: Throwable): Map[String, Any] =
    Map("t0_ms" -> t0, "t1_ms" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - n0) / 1e9,
      "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
