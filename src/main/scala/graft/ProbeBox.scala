package graft

/** Dev tool: absolute box-speed anchors (see CLAUDE.md round-12 close).
  * Prints per-job scheduling overhead (spark.range(1).count x30) and a
  * compute anchor (32M-mult sum over SPARK_GRAFT_CPUS cores) so bench
  * totals can be compared across rounds on a drifting box.
  * Usage: runMain graft.ProbeBox
  */
object ProbeBox {
  def main(args: Array[String]): Unit = {
    val spark = Harness.localSession()
    // warm
    (1 to 5).foreach(_ => spark.range(1).count())
    val t0 = System.nanoTime()
    (1 to 30).foreach(_ => spark.range(1).count())
    val perJob = (System.nanoTime() - t0) / 30e6
    val t1 = System.nanoTime()
    spark.range(32L * 1000 * 1000).selectExpr("sum(id * 3 + 1)").collect()
    val mult = (System.nanoTime() - t1) / 1e6
    println(f"PROBEBOX perJobMs=$perJob%.0f mult32mMs=$mult%.0f")
    spark.stop()
  }
}
