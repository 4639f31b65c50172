package graft

/** Dev tool: write `.explain("formatted")` of declared queries to files
  * (plan evidence for the optimization rounds). Any internal actions a
  * query performs (index builds, table commits) run as part of constructing
  * the DataFrame; the captured plan is the final returned frame's.
  *
  * The written plan is masked ([[mask]]) so that two runs of one source
  * tree write identical files, and a plain `diff` of two trees' outputs
  * shows only real plan changes.
  *
  * Usage: runMain graft.ExplainQuery <q1,q2,...> <outDir> [sfDir]
  * Plans every listed query in one session and writes
  * `<outDir>/<query>.txt` for each.
  */
object ExplainQuery {

  /** Blank the tokens that change from run to run but not with the plan:
    * the session-global Exchange `plan_id` counter, the JVM's synthetic
    * lambda class names and identity hashes that `MapPartitions` and
    * friends print, this process's pid inside per-process scratch paths
    * (`graft_<what>_<pid>_…`), and the random UUIDs in staged data
    * directory and part-file names. */
  def mask(plan: String, pid: Long): String =
    plan
      .replaceAll("""plan_id=\d+""", "plan_id=#")
      .replaceAll("""\$\$Lambda[$\w]*(/0x[0-9a-f]+)?(@[0-9a-f]+)?""", "\\$\\$Lambda")
      .replaceAll("""(graft_\w+?)_""" + pid + "_", "$1_<pid>_")
      .replaceAll("""[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""", "<uuid>")

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val out = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Harness.localSession()
    val pid = ProcessHandle.current().pid()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = mask(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode), pid)
      val outFile = java.nio.file.Paths.get(out, s"$name.txt")
      java.nio.file.Files.write(outFile,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"EXPLAINQUERY wrote $outFile (${plan.length} chars)")
    }
    spark.stop()
  }
}
