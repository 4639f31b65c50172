package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge-on-read deletes (`deleteWhereMor`): position deletion vectors —
  * metadata-only delete commits, DV-applied reads (incl. time travel,
  * zone-pruned catalog scans, CDC, restore), materialization back to
  * copy-on-write, the CoW-op refusal rule, vacuum/clone lifecycle. */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_dv").toString

  private def rows(t: String): Set[(Long, String)] =
    SnapshotTable.read(spark, t).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  private def seed(t: String, n: Int = 12, parts: Int = 3): Long =
    SnapshotTable.commitAppend(
      (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(parts), t)

  test("MOR delete: logical parity with CoW delete, ZERO data files rewritten") {
    val cow = tmpTable(); val mor = tmpTable()
    seed(cow); seed(mor)
    SnapshotTable.deleteWhere(spark, cow, col("k") % 3 === 0)
    val filesBefore = SnapshotTable.snapshot(mor, 1L).files
    SnapshotTable.deleteWhereMor(spark, mor, col("k") % 3 === 0)
    assert(rows(mor) == rows(cow), "merge-on-read == copy-on-write logically")
    val snap = SnapshotTable.snapshot(mor, 2L)
    assert(snap.files == filesBefore, "MOR commit must not touch data files")
    assert(snap.op == "delete-mor")
    assert(snap.meta.contains("dv"))
    // time travel still sees the pre-delete rows
    assert(SnapshotTable.readVersion(spark, mor, 1L).count() == 12L)
  }

  test("vectors accumulate across MOR deletes; already-deleted rows never re-enter") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") <= 4)
    // overlapping predicate: k <= 6 re-matches k in 1..4 — but those rows
    // are logically gone, so the vector gains exactly rows 5 and 6
    SnapshotTable.deleteWhereMor(spark, t, col("k") <= 6)
    assert(rows(t).map(_._1) == (7L to 12L).toSet)
    val dvSub = SnapshotTable.snapshot(t, 3L).meta("dv")
    val dvRows = spark.read.parquet(Paths.get(t, dvSub).toString).count()
    assert(dvRows == 6L, s"vector must hold exactly 6 positions, got $dvRows")
    // each version reads with ITS OWN vector
    assert(SnapshotTable.readVersion(spark, t, 2L).count() == 8L)
    assert(SnapshotTable.readVersion(spark, t, 1L).count() == 12L)
  }

  test("NULL predicate keeps the row; no-match commits nothing") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
        .toDF("k", "x").coalesce(1), t)
    SnapshotTable.deleteWhereMor(spark, t, col("x") > 15L)
    assert(SnapshotTable.read(spark, t).select("k").as[Long].collect().sorted
      === Array(1L, 2L), "NULL predicate result keeps the row (SQL DELETE)")
    val v = SnapshotTable.latestVersion(t).get
    assert(SnapshotTable.deleteWhereMor(spark, t, col("x") > 999L) == v,
      "no-match must not commit")
    assert(SnapshotTable.latestVersion(t).get == v)
  }

  test("materializeDeletes: rewrites ONLY dirty files, drops the vector, re-legalizes CoW") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 5L)
    val before = rows(t)
    val dirtySnap = SnapshotTable.snapshot(t, 2L)
    val dvSub = dirtySnap.meta("dv")
    val dirtyFiles = spark.read.parquet(Paths.get(t, dvSub).toString)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    SnapshotTable.materializeDeletes(spark, t)
    val mSnap = SnapshotTable.snapshot(t, 3L)
    assert(!mSnap.meta.contains("dv"), "vector must be consumed")
    assert(rows(t) == before, "materialization is a logical no-op")
    // untouched files carry BY REFERENCE
    val untouched = dirtySnap.files.filterNot(dirtyFiles)
    assert(untouched.forall(mSnap.files.contains), "clean files must carry")
    assert(dirtyFiles.forall(f => !mSnap.files.contains(f)), "dirty files must go")
    // CoW ops legal again
    SnapshotTable.upsert(spark, t, Seq((1L, "V1")).toDF("k", "v"), Seq("k"))
    assert(rows(t).contains((1L, "V1")))
    // idempotent: no vector -> no-op
    val v = SnapshotTable.latestVersion(t).get
    assert(SnapshotTable.materializeDeletes(spark, t) == v)
  }

  test("CoW operations refuse while a vector is outstanding") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 1L)
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("materializeDeletes"), e.getMessage)
    }
    refused(SnapshotTable.upsert(spark, t, Seq((2L, "X")).toDF("k", "v"), Seq("k")))
    refused(SnapshotTable.deleteWhere(spark, t, col("k") === 2L))
  }

  test("appends carry the vector; replace and compaction consume it") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") <= 10L)
    SnapshotTable.commitAppend(Seq((99L, "new")).toDF("k", "v").coalesce(1), t)
    assert(rows(t).map(_._1) == Set(11L, 12L, 99L),
      "append must keep the delete in force")
    // compaction reads through the DV and materializes implicitly
    SnapshotTable.compactZOrder(spark, t, "k", "k", numFiles = 1)
    val cSnap = SnapshotTable.snapshot(t, SnapshotTable.latestVersion(t).get)
    assert(!cSnap.meta.contains("dv"))
    assert(rows(t).map(_._1) == Set(11L, 12L, 99L))
  }

  test("CDC sees MOR deletes as delete rows; materialization is CDC-silent") {
    val morT = tmpTable(); val cowT = tmpTable()
    seed(morT, n = 6, parts = 2); seed(cowT, n = 6, parts = 2)
    def poll(src: String): Set[(Long, String, String)] =
      SnapshotTable.pollChanges(spark, src, "c").toSeq.flatMap { b =>
        val got = b.df.collect().map(r =>
          (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
        assert(b.ack())
        got
      }.toSet
    assert(poll(morT) == poll(cowT)) // bootstrap: both tables as inserts
    SnapshotTable.deleteWhereMor(spark, morT, col("k") % 2 === 0)
    SnapshotTable.deleteWhere(spark, cowT, col("k") % 2 === 0)
    val morWindow = poll(morT)
    assert(morWindow == poll(cowT), "the MOR window == the CoW window")
    assert(morWindow == Set(2L, 4L, 6L).map(k => (k, s"v$k", "delete")))
    // materialization: the logical table is unchanged, so CDC sees nothing
    SnapshotTable.materializeDeletes(spark, morT)
    val w = SnapshotTable.pollChanges(spark, morT, "c")
    assert(w.forall(_.df.isEmpty), "materialize must be CDC-silent")
    w.foreach(_.ack())
  }

  test("vacuum: superseded vectors die with their manifests, live ones survive; orphans swept") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 1L) // v2, dv A
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 2L) // v3, dv B (A ∪ new)
    val dvA = SnapshotTable.snapshot(t, 2L).meta("dv")
    val dvB = SnapshotTable.snapshot(t, 3L).meta("dv")
    // an orphan dv dir: a crashed MOR writer staged but never committed
    val orphan = Paths.get(t, "dv-orphan-test")
    Files.createDirectories(orphan)
    SnapshotTable.vacuum(t, keepVersions = 1, orphanAgeMs = Some(0L))
    assert(!Files.exists(Paths.get(t, dvA)), "superseded vector must be deleted")
    assert(Files.exists(Paths.get(t, dvB)), "live vector must survive")
    assert(!Files.exists(orphan), "unreferenced dv dir is an orphan")
    assert(rows(t).map(_._1) == (3L to 12L).toSet, "reads intact after vacuum")
  }

  test("cloneAt links the vector: clone reads identically and survives source vacuum") {
    val src = tmpTable(); val dst = tmpTable() + "/clone"
    seed(src)
    SnapshotTable.deleteWhereMor(spark, src, col("k") <= 3L)
    SnapshotTable.cloneAt(src, 2L, dst)
    assert(rows(dst) == rows(src))
    // new deletes on the source never leak into the clone
    SnapshotTable.deleteWhereMor(spark, src, col("k") === 12L)
    assert(rows(dst).map(_._1) == (4L to 12L).toSet)
    // vacuum the source to nothing the clone needs: links pin inodes
    SnapshotTable.commitReplace(Seq((0L, "z")).toDF("k", "v").coalesce(1), src)
    SnapshotTable.vacuum(src, keepVersions = 1)
    assert(rows(dst).map(_._1) == (4L to 12L).toSet, "clone unaffected by source vacuum")
  }

  test("restoreVersion keeps the restored version's MOR deletes in force") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t) // v1
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 2L)              // v2 dv
    SnapshotTable.commitReplace(Seq((4L, "d")).toDF("k", "v").coalesce(1), t) // v3
    SnapshotTable.restoreVersion(t, 2L)                                  // v4
    assert(rows(t).map(_._1) == Set(1L, 3L),
      "the restored version's deletion vector applies")
  }

  test("zone-pruned catalog scans apply the vector") {
    val wh = Files.createTempDirectory("graft_dv_wh").toString
    spark.conf.set("spark.sql.catalog.graft_dv", classOf[GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dv.warehouse", wh)
    val t = s"$wh/zm"
    SnapshotTable.commitAppend(
      (1 to 100).map(i => (i.toLong, i.toLong * 10)).toDF("k", "m").repartition(4), t)
    // lays the table out in 4 m-clustered files with zone stats on m and k
    SnapshotTable.compactZOrder(spark, t, "m", "k", numFiles = 4)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 10L)
    SnapshotTable.commitAppend(
      Seq((50L, "hit"), (100L, "hit"), (150L, "hit"), (900L, "miss")).toDF("m", "tag")
        .coalesce(1), s"$wh/zmdim")
    val before = GraftSnapshotScan.filesPrunedRuntime.get()
    val got = spark.sql(
      """SELECT b.k FROM graft_dv.zm b
        |JOIN graft_dv.zmdim d ON b.m = d.m WHERE d.tag = 'hit'""".stripMargin)
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(5L, 15L), "a pruned scan must still honor the vector")
    assert(GraftSnapshotScan.filesPrunedRuntime.get() - before >= 3,
      "m in {50, 100, 150} lives in one of four m-clustered files")
  }

  test("a MOR delete that loses the race commits nothing and leaves no vector dir") {
    val t = tmpTable(); seed(t)
    SnapshotTable.commitAppend(Seq((99L, "racer")).toDF("k", "v").coalesce(1), t) // v2
    def dvDirs(): Int = {
      val s = Files.list(Paths.get(t))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("dv-"))
      finally s.close()
    }
    intercept[SnapshotTable.ConcurrentCommitException](
      SnapshotTable.deleteWhereMor(spark, t, col("k") === 1L, asOfVersion = Some(1L)))
    assert(SnapshotTable.latestVersion(t).contains(2L))
    assert(dvDirs() == 0, "the losing writer's staged vector is deleted")
    assert(rows(t).map(_._1) == (1L to 12L).toSet + 99L)
  }

  test("MOR deletes compose with ADD COLUMNS: the vector applies under the evolved schema") {
    val t = tmpTable(); seed(t, n = 6, parts = 2)
    SnapshotTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType)))
    SnapshotTable.commitAppend(Seq((7L, "v7", 70L)).toDF("k", "v", "w").coalesce(1), t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 2L || col("w") === 70L)
    val got = SnapshotTable.read(spark, t).collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[Any]("w")))).toSet
    assert(got == Set(1L, 3L, 4L, 5L, 6L).map(k => (k, None)))
    // the pre-delete version still shows both rows, new column and all
    assert(SnapshotTable.readVersion(spark, t, 3L).count() == 7L)
  }

  test("a change window spanning a MOR delete and its materialization shows each deleted row once") {
    val t = tmpTable(); seed(t)
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 4L || col("k") === 8L) // v2
    SnapshotTable.materializeDeletes(spark, t)                                 // v3
    val c = SnapshotTable.changes(spark, t, 1L, 3L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change"))).toSeq.sorted
    assert(c == Seq((4L, "delete"), (8L, "delete")))
  }
}
