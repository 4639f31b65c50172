package graft

/** Dev tool: write `.explain("formatted")` of one declared query to a file
  * (plan evidence for the optimization rounds). Any internal actions the
  * query performs (index builds, table commits) run as part of constructing
  * the DataFrame; the captured plan is the final returned frame's.
  * Usage: runMain graft.ExplainQuery <queryName> <outFile> [sfDir]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val outFile = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Harness.localSession()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"EXPLAINQUERY wrote $outFile (${plan.length} chars)")
    spark.stop()
  }
}
