package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Misra–Gries update/merge core of the aggregate below. Pure map
  * mutations — the proofs live on [[MisraGriesAgg]]. */
object MisraGries {
  /** One stream item: hit increments; a miss inserts while there is room,
    * else decrements every counter (dropping zeros) — each decrement step
    * burns k+1 stream items, hence the n/(k+1) undercount bound. */
  def observe(buf: mutable.HashMap[String, Long], key: String, k: Int): Unit =
    buf.get(key) match {
      case Some(c) => buf.update(key, c + 1L)
      case None if buf.size < k => buf.update(key, 1L)
      case None =>
        buf.mapValuesInPlace((_, c) => c - 1L)
        buf.filterInPlace((_, c) => c > 0L)
    }

  /** Mergeable-summaries combine: sum counters; if > k keys survive,
    * subtract the (k+1)-th largest from all (keeping positives) — the
    * error bound telescopes across any merge tree. */
  def merge(a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long], k: Int): mutable.HashMap[String, Long] = {
    b.foreach { case (key, c) => a.update(key, a.getOrElse(key, 0L) + c) }
    if (a.size > k) {
      val kth = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      a.mapValuesInPlace((_, c) => c - kth)
      a.filterInPlace((_, c) => c > 0L)
    }
    a
  }
}

/** Misra–Gries heavy-hitters summary as a bounded custom aggregate — the
  * deterministic-guarantee counterpart to the Count-Min sketch (q63): at
  * most `k` (key, counter) pairs per partition buffer, merged with the
  * Agarwal-et-al mergeable-summaries rule, with the classic frequent-items
  * guarantee
  *
  *   true_count − n/(k+1)  ≤  estimate  ≤  true_count
  *
  * for EVERY key after any merge tree (n = stream length). So every key
  * with true_count > n/(k+1) is guaranteed present in the summary —
  * order- and partitioning-INDEPENDENT, which is what q97's oracle gates
  * check (the summary's exact contents legitimately vary with execution
  * order; the guarantee booleans cannot).
  *
  * Mechanics: a hit increments its counter; a miss inserts at 1 while
  * there is room, else decrements every counter (dropping zeros) — each
  * such step burns k+1 stream items, hence the n/(k+1) bound. Merge sums
  * counters, and if more than `k` keys survive, subtracts the (k+1)-th
  * largest counter from all (keeping positives) — the merged error stays
  * ≤ n/(k+1) (mergeable-summaries result), which keeps the aggregation
  * tree shape irrelevant.
  *
  * The shuffle carries ≤ k entries per partition regardless of stream
  * volume — the same bounded-buffer posture as Count-Min (32 KB) and HLL,
  * but with exact membership guarantees instead of probabilistic ones.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) MisraGries.observe(buf, v.asInstanceOf[UTF8String].toString, k)
    buf
  }

  override def merge(a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
    MisraGries.merge(a, b, k)

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic ORDER for a given map content (est desc, key asc);
    // the content itself is legitimately execution-order-dependent
    val entries = buf.toArray.sortBy { case (key, c) => (-c, key) }
    new GenericArrayData(entries.map { case (key, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(key), c))
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    // writeUTF caps a key at 64 KB — far beyond any token/trigram; a
    // pathological key fails loudly here rather than corrupting the buffer
    buf.foreach { case (key, c) => out.writeUTF(key); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object MisraGriesAggregate {
  /** `misra_gries(key)` as a Column aggregate → array<struct<key,est>>
    * of at most `k` candidate heavy hitters. */
  def summary(key: Column, k: Int): Column = {
    SparkSession.active.sessionState.functionRegistry.createOrReplaceTempFunction(
      s"graft_mg_$k",
      exprs => MisraGriesAgg(exprs.head, k).toAggregateExpression(),
      "built-in")
    call_function(s"graft_mg_$k", key)
  }
}
