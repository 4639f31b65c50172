package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL MERGE INTO / UPDATE through the DSv2 row-level-operations surface:
  * group-based copy-on-write over snapshot tables — file-granular via
  * runtime group filtering, optimistic conflict abort, history
  * preserved. */
class SnapshotMergeSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_merge_wh").toString
    spark.conf.set("spark.sql.catalog.gms",
      classOf[GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gms.warehouse", w)
    w
  }

  private def rows(sql: String): Seq[(Long, String)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("MERGE INTO: matched update + not-matched insert, one snapshot commit") {
    val t = s"$warehouse/m1"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1), t)
    spark.sql(
      """MERGE INTO gms.m1 t
        |USING (SELECT * FROM VALUES (2L, 'B2'), (99L, 'new') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows("SELECT k, v FROM gms.m1") ==
      Seq((1L, "a"), (2L, "B2"), (10L, "x"), (11L, "y"), (99L, "new")))
    // exactly one commit; history preserved
    assert(SnapshotTable.latestVersion(t).contains(3L))
    assert(rows("SELECT k, v FROM gms.m1 VERSION AS OF 2") ==
      Seq((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
    // FILE-GRANULAR copy-on-write: the file holding keys 10/11 contains no
    // match, so runtime group filtering must carry it BY REFERENCE into
    // the new manifest instead of rewriting it
    val v2Files = SnapshotTable.snapshot(t, 2L).files.toSet
    val v3Files = SnapshotTable.snapshot(t, 3L).files.toSet
    assert((v2Files & v3Files).nonEmpty,
      s"the unmatched file must be carried, not rewritten: v2=$v2Files v3=$v3Files")
    assert(SnapshotTable.snapshot(t, 3L).op == "merge")
  }

  test("MERGE WHEN MATCHED THEN DELETE removes only matched rows") {
    val t = s"$warehouse/m2"
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    spark.sql(
      """MERGE INTO gms.m2 t
        |USING (SELECT * FROM VALUES (2L) AS s(k)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows("SELECT k, v FROM gms.m2") == Seq((1L, "a"), (3L, "c")))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates the complement") {
    val t = s"$warehouse/m3"
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    spark.sql(
      """MERGE INTO gms.m3 t
        |USING (SELECT * FROM VALUES (2L, 'B2') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'""".stripMargin)
    assert(rows("SELECT k, v FROM gms.m3") ==
      Seq((1L, "stale"), (2L, "B2"), (3L, "stale")))
  }

  test("UPDATE rewrites matched rows in place") {
    val t = s"$warehouse/u1"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((10L, "x")).toDF("k", "v").coalesce(1), t)
    spark.sql("UPDATE gms.u1 SET v = concat(v, '!') WHERE k >= 10")
    assert(rows("SELECT k, v FROM gms.u1") ==
      Seq((1L, "a"), (2L, "b"), (10L, "x!")))
    // the untouched file carries by reference
    val v2Files = SnapshotTable.snapshot(t, 2L).files.toSet
    val v3Files = SnapshotTable.snapshot(t, 3L).files.toSet
    assert((v2Files & v3Files).nonEmpty, "file without matches must carry")
  }

  test("a concurrent commit mid-MERGE aborts with a conflict, not a lost update") {
    val t = s"$warehouse/cf"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    // drive the write's publish path directly with a rival commit landing
    // between the snapshot the operation pinned and its ReplaceData
    // commit — exactly the interleaving a long-running MERGE faces
    val v = SnapshotTable.latestVersion(t).get
    val schema = spark.read.parquet(s"$t/" +
      SnapshotTable.snapshot(t, v).files.head).schema
    val op = new GraftRowLevelOperation(t, v,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE, schema)
    val write = new GraftReplaceDataWrite(t, v, op, schema)
    val batch = write.toBatch
    SnapshotTable.commitAppend(Seq((77L, "racer")).toDF("k", "v").coalesce(1), t)
    val e = intercept[Exception](batch.commit(Array.empty))
    assert(e.getMessage.contains("moved past expected version"), e.getMessage)
    // the racer's append survives; the aborted merge published nothing
    assert(spark.sql("SELECT k FROM gms.cf").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 77L))
    assert(SnapshotTable.latestVersion(t).contains(v + 1))
    // and a RETRIED statement against the moved table succeeds (the
    // caller-level retry contract: re-read, re-merge, re-publish)
    spark.sql(
      """MERGE INTO gms.cf t
        |USING (SELECT * FROM VALUES (2L, 'B2') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(rows("SELECT k, v FROM gms.cf") ==
      Seq((1L, "a"), (2L, "B2"), (77L, "racer")))
  }

  test("DELETE with an untranslatable condition rides the row-level path") {
    val t = s"$warehouse/du"
    SnapshotTable.commitAppend(
      Seq((1L, "aa"), (2L, "ab"), (3L, "zz")).toDF("k", "v").coalesce(1), t)
    // length(v) is not a source Filter => canDeleteWhere refuses and Spark
    // falls back to the group-based rewrite
    spark.sql("DELETE FROM gms.du WHERE length(v) = 2 AND substring(v, 1, 1) = 'a'")
    assert(rows("SELECT k, v FROM gms.du") == Seq((3L, "zz")))
  }

  test("pushed conditions never row-group-skip inside the rewrite (the data-loss trap)") {
    // Spark pushes the UPDATE condition into the row-level scan under the
    // group-based contract (prune whole GROUPS only); our reader's usual
    // row-group skipping operates BELOW file granularity, so forwarding
    // the condition would silently erase no-match row groups of files the
    // commit drops. With runtime group filtering OFF, every file is
    // scanned AND dropped — the rewrite must still carry every row.
    val t = s"$warehouse/nf"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((10L, "x")).toDF("k", "v").coalesce(1), t)
    val key = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    val prevConf = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      spark.sql("UPDATE gms.nf SET v = 'X' WHERE k = 10")
      assert(rows("SELECT k, v FROM gms.nf") ==
        Seq((1L, "a"), (2L, "b"), (10L, "X")),
        "rows in no-match files/row groups must survive the rewrite")
    } finally spark.conf.set(key, prevConf)
  }

  test("CDC over a SQL MERGE commit: only rewritten files' rows appear as changes") {
    val t = s"$warehouse/cdc"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((10L, "x")).toDF("k", "v").coalesce(1), t)
    spark.sql(
      """MERGE INTO gms.cdc t
        |USING (SELECT * FROM VALUES (2L, 'B2'), (99L, 'new') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val cdf = SnapshotTable.changes(spark, t, 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // the carried file (k=10) contributes NOTHING; the rewritten file's
    // unchanged row (k=1) moved files and CANCELS in the multiset
    // exceptAll; only the genuine update (delete+insert) and the insert
    // survive — the upsert-CDF contract, now through SQL MERGE
    assert(cdf == Set(
      (2L, "b", "delete"), (2L, "B2", "insert"), (99L, "new", "insert")),
      s"unexpected CDF: $cdf")
    // k=10 must never appear — its file was carried by reference
    assert(!cdf.exists(_._1 == 10L), s"carried file leaked into CDF: $cdf")
  }

  test("SELECT _file works as a plain metadata column") {
    val t = s"$warehouse/mf"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)
    val f = spark.sql("SELECT _file FROM gms.mf").collect()(0).getString(0)
    assert(f.contains("data-") && f.endsWith(".parquet"), f)
  }
}
