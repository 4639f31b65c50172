package graft

/** Dev tool: honest wall-time of queries under bench conditions — Bench's
  * session, noop sink, cache cleared between passes (a query with an
  * internal persist() otherwise reuses pass 1's cache and reports a lie;
  * see CLAUDE.md perf traps). Usage:
  *   runMain graft.TimeQuery <queryName>[,<queryName>...] [sfDir] [passes]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.localSession()
    names.foreach { name =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIMEQUERY $name passes=${times.map(t => f"$t%.2f").mkString(",")} min=${times.min}%.2f")
    }
    spark.stop()
  }
}
