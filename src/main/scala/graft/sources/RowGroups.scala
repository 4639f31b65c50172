package graft.sources

import scala.jdk.CollectionConverters._

/** Row-group skipping on parquet footer stats, for the snapshot catalog's
  * file reader ([[GraftSnapshotFileReader]]). File-level pruning stops
  * mattering once files are GB-sized: a 1 GB parquet file holds ~8 row
  * groups, and a selective predicate usually hits one of them. The reader
  * evaluates pushed predicates against each row group's footer MIN/MAX
  * and skips non-qualifying groups BEFORE any page I/O. Pruning is
  * ADVISORY — every pushed filter is also returned as residual so Spark
  * re-applies it row-by-row — which makes a conservative "survive"
  * always safe; only numeric columns prune (parquet string stats order
  * by unsigned bytes, which Java string compares don't match). */
object RowGroups {

  /** Parquet projection for the requested columns, built from the FILE's
    * own footer schema so repetition levels (required vs optional) match
    * exactly — the record assembler rejects a projection whose repetition
    * disagrees with the file. */
  private[sources] def projectionOf(
      fileSchema: org.apache.parquet.schema.MessageType, names: Seq[String])
    : org.apache.parquet.schema.MessageType = {
    val picked = names.map { n =>
      require(fileSchema.containsField(n), s"column $n missing in file schema")
      fileSchema.getFields.get(fileSchema.getFieldIndex(n))
    }
    new org.apache.parquet.schema.MessageType("spark_schema", picked: _*)
  }

  /** Diagnostic counters (JVM-wide — exact in local mode, per-executor on
    * a cluster): row groups materialized vs skipped by footer stats. */
  val read = new java.util.concurrent.atomic.AtomicLong
  val skipped = new java.util.concurrent.atomic.AtomicLong

  private def toDec(v: Any): Option[java.math.BigDecimal] = v match {
    case l: java.lang.Long    => Some(java.math.BigDecimal.valueOf(l))
    case i: java.lang.Integer => Some(java.math.BigDecimal.valueOf(i.longValue))
    case s: java.lang.Short   => Some(java.math.BigDecimal.valueOf(s.longValue))
    case b: java.lang.Byte    => Some(java.math.BigDecimal.valueOf(b.longValue))
    case d: java.lang.Double  =>
      if (d.isNaN || d.isInfinite) None else Some(new java.math.BigDecimal(d))
    case f: java.lang.Float    =>
      if (f.isNaN || f.isInfinite) None else Some(new java.math.BigDecimal(f.doubleValue))
    case _                    => None
  }

  /** (min, max) of a column's row-group stats as exact decimals, or None
    * when stats are absent/non-numeric/NaN — in which case the group
    * survives (never prune on unknown). */
  private def statBounds(
      block: org.apache.parquet.hadoop.metadata.BlockMetaData, colName: String)
    : Option[(java.math.BigDecimal, java.math.BigDecimal)] =
    block.getColumns.asScala.find(_.getPath.toDotString == colName).flatMap { c =>
      val st = c.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue) None
      else for (mn <- toDec(st.genericGetMin); mx <- toDec(st.genericGetMax))
        yield (mn, mx)
    }

  /** True iff the row group can possibly contain a matching row. */
  private[sources] def blockSurvives(
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def one(f: Filter): Boolean = f match {
      case EqualTo(c, v) => (statBounds(block, c), toDec(v)) match {
        case (Some((mn, mx)), Some(d)) => d.compareTo(mn) >= 0 && d.compareTo(mx) <= 0
        case _                         => true
      }
      case GreaterThan(c, v) => (statBounds(block, c), toDec(v)) match {
        case (Some((_, mx)), Some(d)) => mx.compareTo(d) > 0
        case _                        => true
      }
      case GreaterThanOrEqual(c, v) => (statBounds(block, c), toDec(v)) match {
        case (Some((_, mx)), Some(d)) => mx.compareTo(d) >= 0
        case _                        => true
      }
      case LessThan(c, v) => (statBounds(block, c), toDec(v)) match {
        case (Some((mn, _)), Some(d)) => mn.compareTo(d) < 0
        case _                        => true
      }
      case LessThanOrEqual(c, v) => (statBounds(block, c), toDec(v)) match {
        case (Some((mn, _)), Some(d)) => mn.compareTo(d) <= 0
        case _                        => true
      }
      case IsNotNull(c) =>
        // skippable only when the chunk records every value as null
        !block.getColumns.asScala.find(_.getPath.toDotString == c).exists { cc =>
          val st = cc.getStatistics
          st != null && !st.isEmpty && !st.hasNonNullValue &&
            st.getNumNulls == block.getRowCount
        }
      case And(l, r) => one(l) && one(r)
      case _         => true
    }
    filters.forall(one)
  }
}
