package graft

/** Benchmark main — runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Methodology:
  *  - a warmup pass (tiny scale factor) triggers JVM/codegen/parquet-footer
  *    warmth so the measured pass reflects steady-state plan execution, not
  *    first-call classloading;
  *  - results are materialized through the `noop` datasource — a full
  *    compute of every output row/column with no sink cost — because
  *    `count()` lets Catalyst prune away column computation entirely.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.localSession()

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      } finally spark.catalog.clearCache() // drop operator-persisted relations
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    // warmup at the smallest scale factor (fall back to the bench dir)
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory) "/root/testdata/sf0.001"
      else sfDir
    names.foreach(runOnce(_, warmDir))

    // several measured passes, keep the per-query minimum: single-shot
    // numbers on a shared box carry up to 2x scheduler/GC noise
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val measured = (1 to passes).map(_ => names.map(n => n -> runOnce(n, sfDir)).toMap)
    val results = names.map { n =>
      val ok = measured.map(_(n)).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // 3-decimal per-query seconds: millisecond resolution is all the
    // round-over-round comparison uses, and it keeps the detailed line
    // ~5 KB instead of ~15 KB — the r12 capture truncated mid-line and
    // cost a whole round its per-query comparison (r13 verdict item).
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (n, v) if v < 0 => n }
    val total = results.map(_._2).filter(_ >= 0).sum
    // `failures` makes a failed query impossible to mistake for a faster
    // total (a -1 entry is excluded from the sum but counted here).
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""failures":${failed.length},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // stdout (raw line — build.sbt's StdoutOutput keeps it free of sbt's
    // `[info]` prefix) AND a well-known file, so the harness can pick up
    // the result even if the process output gets wrapped by a logger.
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    // A second, COMPACT object (no per-query map) as the LAST stdout line:
    // the harness captures a bounded tail of output, and at 90+ queries the
    // detailed line above grows past that window, cutting off the
    // head-positioned "value" field. A short final line is always captured
    // whole, whatever the query count. Per-query detail stays in $outFile.
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""nqueries":${names.length},"failures":${failed.length},""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    println(compact)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
