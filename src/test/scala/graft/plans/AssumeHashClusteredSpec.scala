package graft.plans

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The partitioning assertion that lets iterative loops carry a full-outer
  * merge's clustering across localCheckpoint rounds (the SSSP round merge).
  * Proves (1) results are identical to the unasserted form, and (2) a
  * consumer join over the asserted checkpoint shuffles ONLY its other side
  * — the structural claim the SSSP loop relies on. */
class AssumeHashClusteredSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt

  // Exchange censuses need the plain executedPlan tree: sparkPlan predates
  // EnsureRequirements (no exchanges exist yet) and the AQE wrapper hides
  // them from collect().
  private def withPlainPlans[T](body: => T): T = {
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try body finally {
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        v => conf.set("spark.sql.adaptive.enabled", v))
    }
  }

  private def mergedPair() = {
    val left = (1L to 200L).map(v => (v, v * 10))
      .toDF("v", "dist").repartition(nParts, col("v")).sortWithinPartitions("v")
      .localCheckpoint()
    val right = (150L to 350L).map(v => (v, v + 1)).toDF("v", "nd")
    val joined = left.join(right.hint("merge"), Seq("v"), "full")
      .select(col("v"),
        least(coalesce(col("dist"), lit(Long.MaxValue)),
          coalesce(col("nd"), lit(Long.MaxValue))).as("d"))
    joined
  }

  test("asserted full-outer merge returns the same rows as the plain form") {
    val plain = mergedPair().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val asserted = AssumeHashClustered(mergedPair(), "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(asserted.sameElements(plain))
    assert(asserted.length == 350)
  }

  test("checkpoint of the asserted merge carries clustering: consumer join shuffles only the other side") {
    withPlainPlans {
      val ck = AssumeHashClustered(mergedPair(), "v").localCheckpoint()
      val probe = (1L to 50L).map(v => (v, v % 7)).toDF("v", "x")
      // force a shuffle join so the exchange census is meaningful
      val q = ck.join(probe.hint("merge"), Seq("v"))
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"expected exactly one exchange (probe side), got ${exchanges.length}:\n" +
          q.queryExecution.executedPlan.toString)
      // and the result is still correct
      assert(q.count() == 50)
    }
  }

  test("without the assertion the same consumer join shuffles both sides") {
    withPlainPlans {
      val ck = mergedPair().localCheckpoint()
      val probe = (1L to 50L).map(v => (v, v % 7)).toDF("v", "x")
      val q = ck.join(probe.hint("merge"), Seq("v"))
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.length == 2,
        "control: the full-outer SMJ output declares UnknownPartitioning, " +
          s"expected both sides exchanged, got ${exchanges.length}")
    }
  }

  test("unknown key column fails loudly") {
    intercept[IllegalArgumentException] {
      AssumeHashClustered(Seq((1L, 2L)).toDF("a", "b"), "nope")
    }
  }
}
