package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The plan masking of [[ExplainQuery]]: every token that changes from run
  * to run is blanked, and nothing else is touched, so two trees' plan
  * files diff to exactly their plan changes. */
class ExplainQuerySpec extends AnyFunSuite {
  private val pid = 4242L

  test("Exchange plan ids blank to one token") {
    val plan = "Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=17]\n" +
      "ReusedExchange [k#9L], Exchange hashpartitioning(k#1L, 4), [plan_id=203]"
    assert(ExplainQuery.mask(plan, pid) ==
      "Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=#]\n" +
      "ReusedExchange [k#9L], Exchange hashpartitioning(k#1L, 4), [plan_id=#]")
  }

  test("lambda class names and identity hashes blank, in both JVM spellings") {
    assert(ExplainQuery.mask(
      "MapPartitions graft.ops.Dedup$$$Lambda/0x00007f3c8c52a000@5e2d1a3f, obj#12", pid) ==
      "MapPartitions graft.ops.Dedup$$$Lambda, obj#12")
    assert(ExplainQuery.mask(
      "MapElements graft.Q$$Lambda$1234/0x0000000801a2b040@6b7d1df8, class", pid) ==
      "MapElements graft.Q$$Lambda, class")
  }

  test("only this process's pid is masked in scratch paths") {
    assert(ExplainQuery.mask("Location [file:/tmp/graft_idx_4242_17/part]", pid) ==
      "Location [file:/tmp/graft_idx_<pid>_17/part]")
    assert(ExplainQuery.mask("Location [file:/tmp/graft_idx_4242_17/part]", 99L) ==
      "Location [file:/tmp/graft_idx_4242_17/part]", "another process's path stays")
    assert(ExplainQuery.mask("/tmp/graft_idx_42421_3/x", pid) == "/tmp/graft_idx_42421_3/x",
      "a number that only starts with the pid stays")
    assert(ExplainQuery.mask("/tmp/graft_ror_snap_4242_3/x", pid) ==
      "/tmp/graft_ror_snap_<pid>_3/x", "multi-word scratch names")
  }

  test("staged data-dir and part-file UUIDs blank") {
    val plan = "data-0f8e4c2a-1b3d-4e5f-8a9b-0c1d2e3f4a5b/" +
      "part-00000-7a6b5c4d-3e2f-4a1b-9c8d-7e6f5a4b3c2d-c000.snappy.parquet"
    assert(ExplainQuery.mask(plan, pid) ==
      "data-<uuid>/part-00000-<uuid>-c000.snappy.parquet")
  }

  test("text with nothing volatile passes through; masking is idempotent") {
    val plan = "== Physical Plan ==\n* Project (3)\n+- * Filter (2)\n   +- Scan parquet  (1)\n" +
      "Arguments: [k#1L, v#2], isnotnull(k#1L), 4242"
    assert(ExplainQuery.mask(plan, pid) == plan)
    val noisy = "[plan_id=3] $$Lambda/0x01@ff graft_x_4242_1 " +
      "0f8e4c2a-1b3d-4e5f-8a9b-0c1d2e3f4a5b"
    val once = ExplainQuery.mask(noisy, pid)
    assert(once != noisy && ExplainQuery.mask(once, pid) == once)
  }

  test("one frame planned twice masks to the same text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = spark.range(200).toDF("k")
      .repartition(4, col("k"))
      .as[Long].mapPartitions(it => it.map(_ * 2)).toDF()
    // a fresh physical planning of the same logical plan: expression ids
    // stay, the session-global plan ids move on
    def formatted() = spark.sessionState.executePlan(df.queryExecution.logical)
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val (a, b) = (formatted(), formatted())
    assert(a.contains("plan_id="), "the plan under test must carry an Exchange id")
    assert(a != b, "raw plans differ between plannings (fresh plan ids)")
    val me = ProcessHandle.current().pid()
    assert(ExplainQuery.mask(a, me) == ExplainQuery.mask(b, me))
  }
}
