package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.RorSchema
import graft.sources.Jsonl

class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("enrich requireResolved fails the first action when an id is missing from the rollup") {
    val records = Seq(("a", 1), ("b", 2)).toDF("id", "x")
    val rollup = Seq(("a", "root")).toDF("id", "ultimate_parent")
    // the check is part of the plan: building the frame runs nothing
    val checked = Enrich.withUltimateParent(records, rollup, requireResolved = true)
    val ex = intercept[Exception](checked.collect())
    assert(ex.getMessage.contains("unresolved") && ex.getMessage.contains("id=b"))
    // resolved rows pass through unchanged
    assert(checked.filter(col("id") === "a").select("ultimate_parent").head().getString(0) == "root")
    // without the flag, the left join simply carries a null
    val lax = Enrich.withUltimateParent(records, rollup)
      .filter(col("id") === "b").head()
    assert(lax.isNullAt(lax.fieldIndex("ultimate_parent")))
  }

  test("requireAll lists every failed gate in the error") {
    val gates = Seq(
      QualityGates.GateResult("g1", passed = true, "ok"),
      QualityGates.GateResult("g2", passed = false, "two"),
      QualityGates.GateResult("g3", passed = false, "three"))
    val ex = intercept[IllegalStateException](QualityGates.requireAll(gates))
    assert(ex.getMessage.contains("g2") && ex.getMessage.contains("g3"))
    assert(!ex.getMessage.contains("g1 ["))
    QualityGates.requireAll(gates.filter(_.passed)) // passing set: no throw
  }

  test("schema'd JSONL load: unknown fields ignored, missing fields null (BQ load parity)") {
    val dir = Files.createTempDirectory("jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/r.jsonl"),
      // unknown top-level field, missing most nullable fields
      """{"id": "x1", "status": "active", "totally_unknown_field": [1, 2, 3]}""" + "\n" +
        """{"id": "x2", "names": [{"value": "N", "extra_subfield": true}]}""" + "\n")
    val df = Jsonl.read(spark, RorSchema.schema, s"$dir/r.jsonl")
    assert(df.count() == 2)
    assert(df.columns.toSet == RorSchema.schema.fieldNames.toSet, "unknown fields dropped")
    val x1 = df.filter(col("id") === "x1").head()
    assert(x1.isNullAt(x1.fieldIndex("names")), "missing repeated field -> null")
    assert(x1.isNullAt(x1.fieldIndex("established")))
    val x2names = df.filter(col("id") === "x2")
      .selectExpr("names[0].value", "names[0].lang").head()
    assert(x2names.getString(0) == "N" && x2names.isNullAt(1))
  }

  test("catalog select: newest record's first file (S1 semantics)") {
    val catalog = Seq(
      ("2026-01-01", Seq("old.zip")),
      ("2026-08-01", Seq("newest.zip", "schema.json")),
      ("2026-05-01", Seq("mid.zip"))
    ).toDF("published", "files")
    assert(graft.sources.CatalogSelect.newestFile(catalog) == "newest.zip")
    intercept[IllegalArgumentException] {
      graft.sources.CatalogSelect.newestFile(catalog.limit(0))
    }
  }
}
