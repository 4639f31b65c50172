package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference implementation the [[UltimateParent]] specs check
  * `resolveDistributed` against: collect the edge map to the driver and
  * walk it — byte-faithful to the reference's in-memory dict. */
object UltimateParentReference {

  /** Driver-collected walk — mirrors the reference's dict-based recursion
    * (get_ultimate_parent.py:13-52) with an explicit step cap instead of the
    * Python recursion limit. Same output contract as
    * [[UltimateParent.resolveDistributed]].
    */
  def resolveCollected(edges: DataFrame, maxDepth: Int = 200): DataFrame = {
    val spark = edges.sparkSession
    val parentOf: Map[String, String] = edges
      .select(col("id").cast("string"), col("parent").cast("string"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap

    def walk(start: String): (String, Boolean) = {
      var cur   = start
      var steps = 0
      while (steps <= maxDepth) {
        val p = parentOf.getOrElse(cur, cur)
        if (p == cur) return (cur, false)
        cur = p
        steps += 1
      }
      (start, true) // depth cap or cycle → fallback to self (reference :39)
    }

    import spark.implicits._
    parentOf.keys.toSeq
      .map { id => val (up, capped) = walk(id); (id, up, capped) }
      .toDF("id", "ultimate_parent", "capped")
  }
}
