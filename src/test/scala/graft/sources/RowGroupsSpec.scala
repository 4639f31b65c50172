package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row-group skipping on parquet footer stats ([[RowGroups]]), checked
  * against the footers Spark really writes: one small single-group file
  * per case, the decision read straight off `blockSurvives`. */
class RowGroupsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Footer schema and the (only) row group of `df` written as one file. */
  private def footer(df: DataFrame): (MessageType, BlockMetaData) = {
    val dir = Files.createTempDirectory("graft_rg").resolve("t").toString
    df.coalesce(1).write.parquet(dir)
    val part = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        new org.apache.hadoop.conf.Configuration()))
    try {
      assert(r.getRowGroups.size == 1, "each case needs a single-group file")
      (r.getFooter.getFileMetaData.getSchema, r.getRowGroups.get(0))
    } finally r.close()
  }

  /** k = 10..20 (long), s = "a".."c", d = 0.5..1.5 */
  private lazy val block: BlockMetaData = footer(
    (10L to 20L).map(i => (i, ('a' + (i % 3)).toChar.toString, 0.5 + (i - 10) / 10.0))
      .toDF("k", "s", "d"))._2

  private def survives(fs: Filter*): Boolean = RowGroups.blockSurvives(block, fs)

  test("EqualTo survives only when the value lies inside the group's [min, max]") {
    assert(survives(EqualTo("k", 10L)) && survives(EqualTo("k", 15L)) && survives(EqualTo("k", 20L)))
    assert(!survives(EqualTo("k", 9L)) && !survives(EqualTo("k", 21L)))
  }

  test("GreaterThan and GreaterThanOrEqual compare against the group max") {
    assert(survives(GreaterThan("k", 19L)) && !survives(GreaterThan("k", 20L)))
    assert(survives(GreaterThanOrEqual("k", 20L)) && !survives(GreaterThanOrEqual("k", 21L)))
  }

  test("LessThan and LessThanOrEqual compare against the group min") {
    assert(survives(LessThan("k", 11L)) && !survives(LessThan("k", 10L)))
    assert(survives(LessThanOrEqual("k", 10L)) && !survives(LessThanOrEqual("k", 9L)))
  }

  test("integral literals of any width and fractional literals compare exactly") {
    assert(!survives(EqualTo("k", 9)) && survives(EqualTo("k", 12)), "Integer literal")
    assert(!survives(EqualTo("k", 21.toShort)) && survives(EqualTo("k", 20.toShort)), "Short")
    assert(!survives(EqualTo("k", 9.toByte)), "Byte")
    assert(survives(EqualTo("k", 10.5)) && !survives(EqualTo("k", 20.5)), "Double on a long column")
    assert(!survives(GreaterThan("k", 20.0f)) && survives(GreaterThan("k", 19.5f)), "Float")
  }

  test("double columns prune on their finite bounds") {
    assert(survives(EqualTo("d", 0.5)) && survives(EqualTo("d", 1.5)))
    assert(!survives(EqualTo("d", 1.6)) && !survives(LessThan("d", 0.5)))
  }

  test("infinite or NaN literals and infinite footer bounds keep the group") {
    assert(survives(EqualTo("d", Double.NaN)) && survives(GreaterThan("d", Double.PositiveInfinity)))
    val (_, inf) = footer(Seq(1.0, Double.PositiveInfinity).toDF("d"))
    assert(RowGroups.blockSurvives(inf, Seq(GreaterThan("d", 1e300))),
      "an infinite max is no bound")
    assert(RowGroups.blockSurvives(inf, Seq(EqualTo("d", 5.0))))
  }

  test("IsNotNull skips an all-null chunk and keeps a partly-null one") {
    val (_, b) = footer(Seq[(Long, Option[Long], Option[Long])](
      (1L, None, Some(1L)), (2L, None, None)).toDF("k", "allNull", "someNull"))
    assert(!RowGroups.blockSurvives(b, Seq(IsNotNull("allNull"))))
    assert(RowGroups.blockSurvives(b, Seq(IsNotNull("someNull"))))
    assert(RowGroups.blockSurvives(b, Seq(IsNotNull("k"))))
  }

  test("And needs both sides; Or, In, Not and the like never prune") {
    assert(!survives(And(GreaterThan("k", 15L), EqualTo("k", 99L))))
    assert(survives(And(GreaterThan("k", 15L), LessThan("k", 12L))),
      "each bound alone can hold a row: per-column stats cannot prove the conjunction empty")
    assert(survives(Or(EqualTo("k", 98L), EqualTo("k", 99L))))
    assert(survives(In("k", Array[Any](98L, 99L))))
    assert(survives(Not(EqualTo("k", 15L))))
    assert(!survives(EqualTo("k", 15L), EqualTo("k", 99L)), "every pushed filter must hold")
  }

  test("string columns never prune (unsigned-byte stats order)") {
    assert(survives(EqualTo("s", "zzz")) && survives(LessThan("s", "a")))
  }

  test("a filter on a column the file lacks keeps the group") {
    assert(survives(EqualTo("missing", 99L)) && survives(IsNotNull("missing")))
  }

  test("projectionOf keeps the file's repetition and the requested order") {
    val (schema, _) = footer(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "x", 2.0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.DoubleType)))))
    def field(m: MessageType, n: String) = m.getFields.get(m.getFieldIndex(n))
    val p = RowGroups.projectionOf(schema, Seq("c", "a"))
    assert(p.getFields.asScala.map(_.getName) == Seq("c", "a"))
    for (n <- Seq("c", "a"))
      assert(field(p, n).getRepetition == field(schema, n).getRepetition, n)
    assert(field(p, "a").getRepetition ==
      org.apache.parquet.schema.Type.Repetition.REQUIRED)
    intercept[IllegalArgumentException](RowGroups.projectionOf(schema, Seq("a", "zz")))
  }
}
