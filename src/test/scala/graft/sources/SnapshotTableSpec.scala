package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_snap").toString

  test("append commits accumulate; read sees the union") {
    val t = tmpTable()
    val v1 = SnapshotTable.commitAppend(Seq(1, 2).toDF("x"), t)
    val v2 = SnapshotTable.commitAppend(Seq(3).toDF("x"), t)
    assert((v1, v2) === (1L, 2L))
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("replace supersedes; time travel still reads every old version") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1, 2).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(3).toDF("x"), t)
    val v3 = SnapshotTable.commitReplace(Seq(9).toDF("x"), t)
    assert(v3 === 3L)
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(9))
    assert(SnapshotTable.readVersion(spark, t, 1).as[Int].collect().sorted === Array(1, 2))
    assert(SnapshotTable.readVersion(spark, t, 2).as[Int].collect().sorted === Array(1, 2, 3))
    assert(SnapshotTable.versions(t) === Seq(1L, 2L, 3L))
  }

  test("commit CAS: a concurrently-taken version is retried, not clobbered") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    // simulate a concurrent committer landing v2 between base-read and link
    val phantom = Paths.get(t, "_snapshots", "v00000002.manifest")
    Files.write(phantom, "version=2\nop=append\n".getBytes)
    val v = SnapshotTable.commitAppend(Seq(2).toDF("x"), t)
    assert(v === 3L) // lost the race at v2, landed at v3
    // the retry recomputed its base from the NEW latest (v2: zero files),
    // so v3 = v2's files + staged — here just the staged file's rows
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(2))
    // v1 untouched by the whole episode
    assert(SnapshotTable.readVersion(spark, t, 1).as[Int].collect().toSeq === Seq(1))
  }

  test("commit version derives from the snapshot its base was read from (no lost update)") {
    // The TOCTOU shape: if commit() re-read latestVersion AFTER computing
    // its base file list, a racer landing in between would be silently
    // dropped (the CAS succeeds at a higher free version). With v derived
    // from the same prev snapshot, the collision is forced onto the
    // racer's version and the retry re-reads the base — total rows and
    // the racer's files always survive. Simulate by interleaving real
    // commits: every append chain must be strictly cumulative.
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(2).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(3).toDF("x"), t)
    val vs = SnapshotTable.versions(t)
    assert(vs === Seq(1L, 2L, 3L))
    // each version's file list strictly contains its predecessor's
    vs.sliding(2).foreach { case Seq(a, b) =>
      val fa = SnapshotTable.snapshot(t, a).files.toSet
      val fb = SnapshotTable.snapshot(t, b).files.toSet
      assert(fa.subsetOf(fb) && fb.size > fa.size)
    case _ => ()
    }
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("orphan data files (died-mid-commit writer) are invisible to readers") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    // a writer that staged data but never published a manifest
    Seq(42).toDF("x").write.parquet(Paths.get(t, "data-orphan").toString)
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(1))
    assert(SnapshotTable.versions(t) === Seq(1L))
  }

  test("compaction preserves rows, reduces files, keeps old versions readable") {
    val t = tmpTable()
    (1 to 4).foreach(i => SnapshotTable.commitAppend(Seq(i).toDF("x"), t))
    val before = SnapshotTable.snapshot(t, 4).files.length
    val v = SnapshotTable.compact(spark, t, numFiles = 1)
    assert(SnapshotTable.snapshot(t, v).files.length === 1)
    assert(before > 1)
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3, 4))
    // snapshot isolation: the pre-compaction version still reads (no deletes)
    assert(SnapshotTable.readVersion(spark, t, 4).as[Int].collect().sorted === Array(1, 2, 3, 4))
  }

  test("vacuum drops old versions + their unreferenced files, keeps live data") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(2).toDF("x"), t)   // v2 references v1's files too
    SnapshotTable.commitReplace(Seq(9).toDF("x"), t)  // v3 orphans v1+v2 data
    val (droppedV, deletedF) = SnapshotTable.vacuum(t, keepVersions = 1)
    assert(droppedV === 2)
    assert(deletedF > 0)
    assert(SnapshotTable.versions(t) === Seq(3L))
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(9))
    // dead data dirs are gone entirely (incl. _SUCCESS markers)
    val dataDirs = Files.list(Paths.get(t)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (dataDirs.hasNext) names += dataDirs.next().getFileName.toString
    assert(names.count(_.startsWith("data-")) === 1)
  }

  test("vacuum keeps files still referenced by a retained append chain") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(2).toDF("x"), t)
    // keep v2 only: v1's files are still in v2's manifest -> must survive
    val (droppedV, deletedF) = SnapshotTable.vacuum(t, keepVersions = 1)
    assert((droppedV, deletedF) === (1, 0))
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2))
  }

  test("streaming sink: each micro-batch is one snapshot; replays are skipped") {
    import org.apache.spark.sql.functions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = tmpTable()
    val ckpt = Files.createTempDirectory("graft_snap_ckpt").toString
    val mem = MemoryStream[Int]
    val q = SnapshotTable.startStream(mem.toDF().toDF("x"), t, ckpt, streamId = "s1")
    try {
      mem.addData(1, 2); q.processAllAvailable()
      mem.addData(3); q.processAllAvailable()
      assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3))
      assert(SnapshotTable.lastStreamBatch(t, "s1").exists(_ >= 1L))
      val versionsBefore = SnapshotTable.versions(t)
      // checkpoint replay of an already-committed batch: skipped, no dup rows
      assert(SnapshotTable.commitStreamBatch(
        Seq(1, 2).toDF("x"), t, "s1", batchId = 0L).isEmpty)
      assert(SnapshotTable.versions(t) === versionsBefore)
      assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3))
      // a DIFFERENT stream's batch 0 is independent (per-stream watermarks)
      assert(SnapshotTable.commitStreamBatch(
        Seq(9).toDF("x"), t, "s2", batchId = 0L).isDefined)
      assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === Array(1, 2, 3, 9))
    } finally q.stop()
  }

  test("stream watermark survives other writers' commits AND vacuum (no double-append)") {
    val t = tmpTable()
    assert(SnapshotTable.commitStreamBatch(Seq(1).toDF("x"), t, "s1", 0L).isDefined)
    // other writers commit, then vacuum drops the watermark's own manifest
    SnapshotTable.commitAppend(Seq(2).toDF("x"), t)
    SnapshotTable.commitReplace(Seq(3).toDF("x"), t)
    SnapshotTable.vacuum(t, keepVersions = 1)
    assert(SnapshotTable.lastStreamBatch(t, "s1") === Some(0L))
    // checkpoint replay of batch 0 must STILL be a no-op
    assert(SnapshotTable.commitStreamBatch(Seq(1).toDF("x"), t, "s1", 0L).isEmpty)
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(3))
  }

  test("zone stats in manifests: range reads prune files from metadata alone") {
    val t = tmpTable()
    // two range-clustered appends: [0,99] in 2 files, [100,199] in 2 files
    def clustered(lo: Int): org.apache.spark.sql.DataFrame =
      (lo until lo + 100).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
        .repartitionByRange(2, $"k")
    SnapshotTable.commitAppend(clustered(0), t, zoneCol = Some("k"))
    SnapshotTable.commitAppend(clustered(100), t, zoneCol = Some("k"))
    assert(SnapshotTable.snapshot(t, 2).files.length === 4)
    // a narrow range hits 1 of 4 files — pruned via the manifest, no footers
    val cand = SnapshotTable.rangeCandidates(t, 10.0, 20.0)
    assert(cand.length === 1, s"expected 1 candidate, got $cand")
    val got = SnapshotTable.readRange(spark, t, 10.0, 20.0)
      .select("k").as[Long].collect().sorted
    assert(got === (10L to 20L).toArray)
    // zone stats from commit 1 carried into commit 2's manifest (append)
    val zoneKeys = SnapshotTable.snapshot(t, 2).meta.keys.count(_.startsWith("zone:"))
    assert(zoneKeys === 4)
    // replace drops the old files' stats and records only its own
    SnapshotTable.commitReplace(clustered(500), t, zoneCol = Some("k"))
    val after = SnapshotTable.snapshot(t, 3)
    assert(after.meta.keys.count(_.startsWith("zone:")) === 2)
    assert(SnapshotTable.readRange(spark, t, 10.0, 20.0).count() === 0)
    assert(SnapshotTable.rangeCandidates(t, 510.0, 520.0).length === 1)
  }

  test("zone edge cases: compact preserves the index; NaN files and zonecol changes stay safe") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      (0 until 100).map(i => (i.toDouble, i * 2L)).toDF("k", "v").repartitionByRange(2, $"k"),
      t, zoneCol = Some("k"))
    // compaction is routine maintenance: readRange must keep working after
    SnapshotTable.compact(spark, t, numFiles = 1)
    assert(SnapshotTable.readRange(spark, t, 5.0, 9.0).count() === 5)
    assert(SnapshotTable.snapshot(t, SnapshotTable.latestVersion(t).get)
      .meta.contains("zonecol"))
    // a NaN-poisoned file records no stats -> always a candidate, rows kept
    // (a recorded NaN max would wrongly PRUNE: NaN comparisons are false)
    SnapshotTable.commitAppend(
      Seq(Double.NaN, 510.0).map(x => (x, 1L)).toDF("k", "v"), t, zoneCol = Some("k"))
    assert(SnapshotTable.readRange(spark, t, 505.0, 515.0).count() === 1)
    // appending under a DIFFERENT zone column invalidates old stats (no
    // wrong-column pruning) but keeps every row reachable
    SnapshotTable.commitAppend(Seq((1000.0, 7L)).toDF("k", "v"), t, zoneCol = Some("v"))
    val snap = SnapshotTable.snapshot(t, SnapshotTable.latestVersion(t).get)
    assert(snap.meta("zonecol") === "v")
    // old files' zone:* entries were dropped -> they are always candidates
    val cand = SnapshotTable.rangeCandidates(t, 7.0, 7.0)
    assert(cand.toSet === snap.files.toSet)
    assert(SnapshotTable.readRange(spark, t, 7.0, 7.0).count() === 1)
  }

  test("schema evolution: column added mid-history null-fills old files; time travel keeps each version's shape") {
    // the reference's own evolution case: ror.json grew `ultimate_parent`
    // (/root/reference/schemas/ror.json:215-220) — a column added after
    // data already existed
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    SnapshotTable.commitAppend(
      Seq((3L, "c", "up3")).toDF("id", "name", "ultimate_parent"), t)
    // v2 read resolves BY NAME: v1's file null-fills the new column
    val v2 = SnapshotTable.read(spark, t)
      .select("id", "name", "ultimate_parent")
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
    assert(v2.toSeq === Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some("up3"))))
    // v1 time-travels back WITHOUT the later column
    assert(SnapshotTable.readVersion(spark, t, 1).columns.toSeq === Seq("id", "name"))
    assert(SnapshotTable.schemaOf(t, 1).get.fieldNames.toSeq === Seq("id", "name"))
    assert(SnapshotTable.schemaOf(t, 2).get.fieldNames.toSeq ===
      Seq("id", "name", "ultimate_parent"))
    // appending a NARROWER df after the evolution keeps the wide schema
    SnapshotTable.commitAppend(Seq((4L, "d")).toDF("id", "name"), t)
    assert(SnapshotTable.schemaOf(t, 3).get.fieldNames.toSeq ===
      Seq("id", "name", "ultimate_parent"))
    assert(SnapshotTable.read(spark, t).filter($"id" === 3L)
      .select("ultimate_parent").as[String].head() === "up3")
    // replace re-stamps exactly the incoming schema (column drop/rename path)
    SnapshotTable.commitReplace(Seq((9L, "z")).toDF("id", "label"), t)
    assert(SnapshotTable.schemaOf(t, 4).get.fieldNames.toSeq === Seq("id", "label"))
    // and the pre-replace version still round-trips its own schema
    assert(SnapshotTable.readVersion(spark, t, 2).columns.toSeq ===
      Seq("id", "name", "ultimate_parent"))
  }

  test("schema evolution: same-name column with a different type is rejected") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("id", "name"), t)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(Seq((2L, 42)).toDF("id", "name"), t)
    }
    assert(ex.getMessage.contains("type conflict"))
    // table unharmed: no partial commit became visible
    assert(SnapshotTable.versions(t) === Seq(1L))
  }

  test("vacuum orphan sweep: unreferenced staging dirs go once aged; young and referenced dirs stay") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    // a writer that crashed after staging: data dir, no manifest
    Seq(42).toDF("x").write.parquet(Paths.get(t, "data-orphan-old").toString)
    Seq(43).toDF("x").write.parquet(Paths.get(t, "data-orphan-new").toString)
    // age the first orphan; the second stays "in-flight"
    Files.setLastModifiedTime(Paths.get(t, "data-orphan-old"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 100000))
    // plain vacuum (no age) never touches orphans
    SnapshotTable.vacuum(t, keepVersions = 1)
    assert(Files.isDirectory(Paths.get(t, "data-orphan-old")))
    val (_, swept) = SnapshotTable.vacuum(t, keepVersions = 1, orphanAgeMs = Some(60000L))
    assert(swept === 1)
    assert(!Files.exists(Paths.get(t, "data-orphan-old")))
    assert(Files.isDirectory(Paths.get(t, "data-orphan-new"))) // age-gated
    // the committed data survived and still reads
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq === Seq(1))
  }

  test("upsert: matched keys replaced, new keys inserted, untouched files carried by reference") {
    val t = tmpTable()
    // three single-file commits so file-level copy-on-write is observable
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((4L, "d")).toDF("k", "v").coalesce(1), t)
    val before = SnapshotTable.snapshot(t, 3L).files.toSet
    val v = SnapshotTable.upsert(spark, t,
      Seq((2L, "B2"), (5L, "E")).toDF("k", "v"), Seq("k"))
    assert(v === 4L)
    val got = SnapshotTable.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d"), (5L, "E")))
    val after = SnapshotTable.snapshot(t, 4L)
    assert(after.op === "merge")
    // only the file containing k=2 was rewritten; the other two carry over
    val carried = before.intersect(after.files.toSet)
    assert(carried.size === 2, s"carried=$carried")
    // time travel still sees the pre-merge row
    val old = SnapshotTable.readVersion(spark, t, 3L).as[(Long, String)]
      .collect().toMap
    assert(old(2L) === "b")
  }

  test("upsert with no matched keys is a pure insert; empty table bootstraps") {
    val t = tmpTable()
    SnapshotTable.upsert(spark, t, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)
    val files2 = SnapshotTable.snapshot(t, 2L).files.toSet
    SnapshotTable.upsert(spark, t, Seq((9L, "z")).toDF("k", "v"), Seq("k"))
    val after = SnapshotTable.snapshot(t, 3L)
    assert(after.op === "append") // nothing rewritten
    assert(files2.subsetOf(after.files.toSet))
    assert(SnapshotTable.read(spark, t).count() === 3L)
  }

  test("deleteWhere: file-granular CoW, time travel keeps pre-delete rows") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((4L, "d")).toDF("k", "v").coalesce(1), t)
    val before = SnapshotTable.snapshot(t, 3L).files.toSet
    val v = SnapshotTable.deleteWhere(spark, t, org.apache.spark.sql.functions.col("k") === 2L || org.apache.spark.sql.functions.col("k") === 4L)
    assert(v === 4L)
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq
      === Seq((1L, "a"), (3L, "c")))
    val after = SnapshotTable.snapshot(t, 4L)
    assert(after.op === "merge")
    // the file holding only k=3 carries by reference; the two others rewrote
    assert(before.intersect(after.files.toSet).size === 1)
    // time travel still sees the deleted rows until vacuum
    assert(SnapshotTable.readVersion(spark, t, 3L).count() === 4L)
  }

  test("deleteWhere: no matches is a no-op version; null predicate keeps rows") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, null: String)).toDF("k", "v"), t)
    assert(SnapshotTable.deleteWhere(spark, t, org.apache.spark.sql.functions.col("k") === 99L) === 1L)
    assert(SnapshotTable.versions(t) === Seq(1L))
    // v = 'x' is NULL for the null row: SQL DELETE keeps it
    SnapshotTable.deleteWhere(spark, t, org.apache.spark.sql.functions.col("v") === "a")
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toSeq
      === Seq((2L, null)))
  }

  test("deleteWhere conflict: racer past the pinned version aborts the delete") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v"), t)
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.deleteWhere(spark, t, org.apache.spark.sql.functions.col("k") === 1L, asOfVersion = Some(1L))
    }
    assert(SnapshotTable.versions(t) === Seq(1L, 2L))
  }

  test("upsert conflict: a commit landing mid-merge aborts instead of losing it") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    // racer lands AFTER the merge's read point (asOfVersion pins it to v1)
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    val updates = Seq((2L, "B2")).toDF("k", "v")
    val ex = intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.upsert(spark, t, updates, Seq("k"), asOfVersion = Some(1L))
    }
    assert(ex.getMessage.contains("expected version 1"))
    // the aborted attempt leaves no manifest and no staged data dir
    assert(SnapshotTable.versions(t) === Seq(1L, 2L))
    val dirs = Files.list(Paths.get(t)).iterator()
    val dataDirs = new scala.collection.mutable.ArrayBuffer[String]
    while (dirs.hasNext) { val p = dirs.next().getFileName.toString
      if (p.startsWith("data-")) dataDirs += p }
    val referenced = SnapshotTable.snapshot(t, 2L).files.map(_.split('/').head).toSet
    assert(dataDirs.toSet === referenced)
    // re-merge from the current version succeeds and loses neither write
    SnapshotTable.upsert(spark, t, updates, Seq("k"))
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().toMap
      === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("change data feed: append, upsert, and replace produce row-level deltas") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.upsert(spark, t, Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    def cdf(from: Long, to: Long): Set[(Long, String, String)] =
      SnapshotTable.changes(spark, t, from, to).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // append: pure inserts
    assert(cdf(1, 2) == Set((3L, "c", "insert")))
    // upsert: update = delete(old) + insert(new); untouched rows in the
    // rewritten file cancel via exceptAll; carried files are never read
    assert(cdf(2, 3) == Set(
      (2L, "b", "delete"), (2L, "B2", "insert"), (4L, "d", "insert")))
    // cross-range: composed deltas
    assert(cdf(1, 3) == Set(
      (3L, "c", "insert"), (2L, "b", "delete"), (2L, "B2", "insert"),
      (4L, "d", "insert")))
    // replace: everything old deleted, everything new inserted, minus
    // multiset overlap
    SnapshotTable.commitReplace(Seq((1L, "a"), (9L, "z")).toDF("k", "v").coalesce(1), t)
    // (1L,"a") survives the replace (same row, different file) — the
    // multiset diff cancels it, so the CDF reports only real changes
    assert(cdf(3, 4) == Set(
      (2L, "B2", "delete"), (3L, "c", "delete"), (4L, "d", "delete"),
      (9L, "z", "insert")))
  }

  test("streaming commits compose with the change data feed: one CDF delta per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = tmpTable()
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt").toString
    val mem = MemoryStream[Long]
    val q = SnapshotTable.startStream(mem.toDF().withColumnRenamed("value", "x"),
      t, ckpt, "cdf_stream")
    try {
      mem.addData(1L, 2L); q.processAllAvailable()
      mem.addData(3L); q.processAllAvailable()
      val Seq(v1, v2) = SnapshotTable.versions(t)
      // each micro-batch is one snapshot; its CDF is exactly that batch's rows
      val d = SnapshotTable.changes(spark, t, v1, v2).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(d == Set((3L, "insert")))
      // downstream incremental consumption: latest = previous + CDF inserts
      val all = SnapshotTable.read(spark, t).collect().map(_.getLong(0)).toSet
      val prev = SnapshotTable.readVersion(spark, t, v1).collect().map(_.getLong(0)).toSet
      assert(all == prev ++ d.map(_._1))
    } finally q.stop()
  }

  test("clustered compaction: range reads prune to ~selectivity; values survive; time travel intact") {
    val t = tmpTable()
    // random arrival order across 4 files: every file spans ~the full range
    val rnd = new scala.util.Random(5)
    val vals = rnd.shuffle((1 to 400).toList)
    SnapshotTable.commitAppend(vals.toDF("x").repartition(4), t, zoneCol = Some("x"))
    val before = SnapshotTable.rangeCandidates(t, 10.0, 20.0).size
    assert(before == 4) // random layout: nothing prunes
    val v = SnapshotTable.compactClustered(spark, t, "x", numFiles = 4)
    val after = SnapshotTable.rangeCandidates(t, 10.0, 20.0)
    assert(after.size == 1) // clustered: disjoint spans, one file matches
    assert(SnapshotTable.readRange(spark, t, 10.0, 20.0)
      .filter("x >= 10 and x <= 20").as[Int].collect().sorted
      === (10 to 20).toArray)
    assert(SnapshotTable.read(spark, t).as[Int].collect().sorted === (1 to 400).toArray)
    // the pre-compaction version is still readable (compaction = replace)
    assert(SnapshotTable.readVersion(spark, t, v - 1).as[Int].collect().sorted
      === (1 to 400).toArray)
  }

  test("z-order compaction: box reads prune on BOTH dims; 1-D clustering only on its own") {
    val t = tmpTable()
    // 64×64 grid in random arrival order across 16 files
    val rnd = new scala.util.Random(7)
    val grid = rnd.shuffle(for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t)
    SnapshotTable.compactClustered(spark, t, "x", numFiles = 16)
    val nFiles = SnapshotTable.rangeCandidates(t, Double.MinValue, Double.MaxValue).size
    // x-clustered layout: a y-only box prunes NOTHING (every file spans all y)
    assert(SnapshotTable.rangeCandidatesMulti(t,
      Seq(("y", 0.0, 7.0))).size == nFiles)

    SnapshotTable.compactZOrder(spark, t, "x", "y", numFiles = 16)
    val zFiles = SnapshotTable.rangeCandidatesMulti(t,
      Seq(("x", -1e9, 1e9))).size
    val xCand = SnapshotTable.rangeCandidatesMulti(t, Seq(("x", 0.0, 7.0)))
    val yCand = SnapshotTable.rangeCandidatesMulti(t, Seq(("y", 0.0, 7.0)))
    val boxCand = SnapshotTable.rangeCandidatesMulti(t,
      Seq(("x", 0.0, 7.0), ("y", 0.0, 7.0)))
    // z-order tiles the plane: BOTH single-dim ranges prune, the box most
    assert(xCand.size < zFiles && yCand.size < zFiles,
      s"x=${xCand.size} y=${yCand.size} of $zFiles")
    assert(boxCand.size <= math.min(xCand.size, yCand.size))
    // the legacy single-column path still works (colA doubles as zonecol)
    assert(SnapshotTable.rangeCandidates(t, 0.0, 7.0).size < zFiles)
    // pruning is an overapproximation, never a filter: box read is exact
    val got = SnapshotTable.readRangeMulti(spark, t,
        Seq(("x", 0.0, 7.0), ("y", 0.0, 7.0)))
      .as[(Int, Int)].collect().toSet
    assert(got == (for (x <- 0 to 7; y <- 0 to 7) yield (x, y)).toSet)
    // row-preserving: full content intact after both rewrites
    assert(SnapshotTable.read(spark, t).as[(Int, Int)].collect().toSet == grid.toSet)
  }

  test("hilbert compaction: box reads prune on both dims; no wider than z-order overall") {
    val t = tmpTable(); val t2 = tmpTable()
    val rnd = new scala.util.Random(7)
    val grid = rnd.shuffle(for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t)
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t2)
    SnapshotTable.compactHilbert(spark, t, "x", "y", numFiles = 16)
    SnapshotTable.compactZOrder(spark, t2, "x", "y", numFiles = 16)
    val all = SnapshotTable.rangeCandidatesMulti(t, Seq(("x", -1e9, 1e9))).size
    val xCand = SnapshotTable.rangeCandidatesMulti(t, Seq(("x", 0.0, 7.0)))
    val yCand = SnapshotTable.rangeCandidatesMulti(t, Seq(("y", 0.0, 7.0)))
    assert(xCand.size < all && yCand.size < all,
      s"hilbert layout must prune both dims: x=${xCand.size} y=${yCand.size} of $all")
    // aggregate pruning across a grid of 8x8 boxes: the adjacency property
    // should make hilbert no worse than morton overall (per-box it can tie
    // or trade, so the assertion is on the SUM — the file-skipping bill)
    def bill(dir: String): Int =
      (for (bx <- 0 until 8; by <- 0 until 8) yield
        SnapshotTable.rangeCandidatesMulti(dir,
          Seq(("x", bx * 8.0, bx * 8.0 + 7.0), ("y", by * 8.0, by * 8.0 + 7.0))).size).sum
    assert(bill(t) <= bill(t2),
      "hilbert total box-read candidates should not exceed z-order's")
    // box read is exact; full content survives the rewrite
    val got = SnapshotTable.readRangeMulti(spark, t,
        Seq(("x", 0.0, 7.0), ("y", 0.0, 7.0)))
      .as[(Int, Int)].collect().toSet
    assert(got == (for (x <- 0 to 7; y <- 0 to 7) yield (x, y)).toSet)
    assert(SnapshotTable.read(spark, t).as[(Int, Int)].collect().toSet == grid.toSet)
  }

  private def batchRows(b: SnapshotTable.ChangeBatch): Set[(Long, String, String)] =
    b.df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("incremental consumer: bootstrap, per-commit windows, redelivery before ack") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    // bootstrap: the full snapshot as inserts
    val b0 = SnapshotTable.pollChanges(spark, t, "etl").get
    assert(b0.fromVersion.isEmpty && b0.toVersion == 1L)
    assert(batchRows(b0) == Set((1L, "a", "insert"), (2L, "b", "insert")))
    // crash before ack: the same batch redelivers
    val b0again = SnapshotTable.pollChanges(spark, t, "etl").get
    assert(b0again.fromVersion.isEmpty && batchRows(b0again) == batchRows(b0))
    assert(b0.ack())
    assert(SnapshotTable.pollChanges(spark, t, "etl").isEmpty) // caught up
    // two commits, one poll: the window composes both
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.upsert(spark, t, Seq((2L, "B2")).toDF("k", "v"), Seq("k"))
    val b1 = SnapshotTable.pollChanges(spark, t, "etl").get
    assert(b1.fromVersion.contains(1L) && b1.toVersion == 3L)
    assert(batchRows(b1) == Set(
      (3L, "c", "insert"), (2L, "b", "delete"), (2L, "B2", "insert")))
    assert(b1.ack())
    assert(SnapshotTable.consumerOffset(t, "etl").map(_._2).contains(3L))
  }

  test("incremental consumer: independent consumer ids; rival-worker ack CAS") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)
    val a = SnapshotTable.pollChanges(spark, t, "reporting").get
    val b = SnapshotTable.pollChanges(spark, t, "indexing").get
    assert(a.ack() && b.ack()) // separate ids never contend
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)
    // two workers share one consumer id and poll the same window
    val w1 = SnapshotTable.pollChanges(spark, t, "reporting").get
    val w2 = SnapshotTable.pollChanges(spark, t, "reporting").get
    assert(w1.ack())
    assert(!w2.ack()) // lost the CAS — w1 already advanced this sequence
    assert(SnapshotTable.consumerOffset(t, "reporting").map(_._2).contains(2L))
    // the loser re-polls and finds itself caught up
    assert(SnapshotTable.pollChanges(spark, t, "reporting").isEmpty)
  }

  test("incremental consumer: vacuumed offset fails loudly; reset resyncs via bootstrap") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)
    val b0 = SnapshotTable.pollChanges(spark, t, "slow").get
    assert(b0.ack()) // offset now v1
    SnapshotTable.commitReplace(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitReplace(Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.vacuum(t, keepVersions = 1) // drops v1 (the offset base) and v2
    val ex = intercept[IllegalStateException] {
      SnapshotTable.pollChanges(spark, t, "slow")
    }
    assert(ex.getMessage.contains("vacuumed") && ex.getMessage.contains("resetConsumer"))
    assert(SnapshotTable.resetConsumer(t, "slow") >= 1)
    val re = SnapshotTable.pollChanges(spark, t, "slow").get
    assert(re.fromVersion.isEmpty) // explicit full resync
    assert(batchRows(re) == Set((3L, "c", "insert")))
    // a consumer that stayed within retention is unaffected by the vacuum
    assert(SnapshotTable.resetConsumer(t, "never_existed") == 0)
  }

  test("CDC replication: pollChanges + applyChanges keep a replica identical through append/upsert/replace") {
    val src = tmpTable(); val dst = tmpTable()
    def sync(): Unit =
      SnapshotTable.pollChanges(spark, src, "replica").foreach { b =>
        SnapshotTable.applyChanges(spark, dst, b.df, Seq("k"))
        assert(b.ack())
      }
    def rowsOf(t: String): Set[(Long, String)] =
      SnapshotTable.read(spark, t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), src)
    sync() // bootstrap: full snapshot lands as inserts
    assert(rowsOf(dst) == rowsOf(src))
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), src)
    SnapshotTable.upsert(spark, src, Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    sync() // one composed window: insert + update across two commits
    assert(rowsOf(dst) == rowsOf(src))
    assert(rowsOf(dst) == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // replace shrinks the source; deletes propagate as key drops
    SnapshotTable.commitReplace(Seq((2L, "B2"), (9L, "z")).toDF("k", "v").coalesce(1), src)
    sync()
    assert(rowsOf(dst) == rowsOf(src))
    assert(rowsOf(dst) == Set((2L, "B2"), (9L, "z")))
    // caught up: nothing to poll, replica untouched
    assert(SnapshotTable.pollChanges(spark, src, "replica").isEmpty)
  }

  test("SCD2 from CDC: every polled source version reconstructs exactly; one open row per live key") {
    val src = tmpTable(); val hist = tmpTable()
    val polled = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sync(): Unit =
      SnapshotTable.pollChanges(spark, src, "scd2").foreach { b =>
        SnapshotTable.scd2Apply(spark, hist, b.df, Seq("k"), b.toVersion)
        polled += b.toVersion
        assert(b.ack())
      }
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), src)
    sync() // bootstrap
    SnapshotTable.upsert(spark, src, Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    sync() // update + insert
    SnapshotTable.deleteWhere(spark, src,
      org.apache.spark.sql.functions.col("k") === 1L)
    SnapshotTable.commitAppend(Seq((4L, "d")).toDF("k", "v").coalesce(1), src)
    sync() // composed window: delete + insert across two commits
    // the SCD2 contract: each polled boundary reconstructs the source
    for (v <- polled)
      assert(rowsOf(SnapshotTable.scd2AsOf(spark, hist, v)) ==
        rowsOf(SnapshotTable.readVersion(spark, src, v)), s"asOf v$v diverged")
    // exactly one open row per live key; closed intervals are well-formed
    val h = SnapshotTable.read(spark, hist).collect()
    val open = h.filter(_.getAs[Long]("valid_to") == -1L)
    assert(open.map(_.getAs[Long]("k")).sorted.toSeq == Seq(2L, 3L, 4L))
    assert(h.filter(_.getAs[Long]("valid_to") != -1L)
      .forall(r => r.getAs[Long]("valid_to") > r.getAs[Long]("valid_from")))
    // the full change story of key 2: one closed row (old value) + one open
    val k2 = h.filter(_.getAs[Long]("k") == 2L)
      .map(r => (r.getAs[String]("v"), r.getAs[Long]("valid_to") == -1L)).toSet
    assert(k2 == Set(("b", false), ("B2", true)))
  }

  test("SCD2 redelivery: re-applying an already-applied batch is a no-op") {
    val src = tmpTable(); val hist = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), src)
    val b1 = SnapshotTable.pollChanges(spark, src, "c1").get
    assert(SnapshotTable.scd2Apply(spark, hist, b1.df, Seq("k"), b1.toVersion).isDefined)
    // crash-before-ack: the SAME batch is redelivered (never acked)
    val redelivered = SnapshotTable.pollChanges(spark, src, "c1").get
    assert(redelivered.toVersion == b1.toVersion)
    assert(SnapshotTable.scd2Apply(
      spark, hist, redelivered.df, Seq("k"), redelivered.toVersion).isEmpty,
      "an already-applied source version must no-op, never double-write")
    val h = SnapshotTable.read(spark, hist).collect()
    assert(h.length == 1 && h.head.getAs[Long]("valid_to") == -1L)
    assert(redelivered.ack())
    // also for a later close-only window: delete then redeliver its batch
    SnapshotTable.deleteWhere(spark, src,
      org.apache.spark.sql.functions.col("k") === 1L)
    val b2 = SnapshotTable.pollChanges(spark, src, "c1").get
    assert(SnapshotTable.scd2Apply(spark, hist, b2.df, Seq("k"), b2.toVersion).isDefined)
    assert(SnapshotTable.scd2Apply(spark, hist, b2.df, Seq("k"), b2.toVersion).isEmpty)
    val h2 = SnapshotTable.read(spark, hist).collect()
    assert(h2.length == 1 && h2.head.getAs[Long]("valid_to") == b2.toVersion)
  }

  private def histRows(hist: String): Set[(Long, String, Long, Long)] =
    SnapshotTable.read(spark, hist).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))).toSet

  test("drainChanges: crash-before-ack redelivery and restart apply each window once") {
    val src = tmpTable(); val hist = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), src)
    // crash simulation: apply the window but die before ack
    val b = SnapshotTable.pollChanges(spark, src, "c").get
    SnapshotTable.scd2Apply(spark, hist, b.df, Seq("k"), b.toVersion)
    // the restarted consumer loop redelivers the same window; scd2's
    // version marker absorbs it and the drain acks past it
    assert(SnapshotTable.drainChanges(spark, src, "c") { w =>
      SnapshotTable.scd2Apply(spark, hist, w.df, Seq("k"), w.toVersion); ()
    } == 1)
    assert(histRows(hist) == Set((1L, "a", 1L, -1L)), "no double-applied history rows")
    // offsets live in the table, so a caught-up consumer drains zero
    // windows after a restart — nothing replays
    assert(SnapshotTable.drainChanges(spark, src, "c") { _ => fail("must not redeliver") } == 0)
    // and one more commit drains exactly one window after the "restart"
    SnapshotTable.upsert(spark, src, Seq((1L, "A2")).toDF("k", "v"), Seq("k"))
    assert(SnapshotTable.drainChanges(spark, src, "c") { w =>
      SnapshotTable.scd2Apply(spark, hist, w.df, Seq("k"), w.toVersion); ()
    } == 1)
    assert(histRows(hist) == Set((1L, "a", 1L, 2L), (1L, "A2", 2L, -1L)))
  }

  test("drainChanges: a vacuumed offset fails loudly; autoResync re-bootstraps") {
    val src = tmpTable(); val hist = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), src)
    assert(SnapshotTable.drainChanges(spark, src, "c") { w =>
      SnapshotTable.scd2Apply(spark, hist, w.df, Seq("k"), w.toVersion); ()
    } == 1)
    // the consumer lags while the table moves on and retention drops v1
    SnapshotTable.upsert(spark, src, Seq((1L, "A2"), (2L, "b")).toDF("k", "v"), Seq("k"))
    SnapshotTable.commitReplace(Seq((1L, "A3"), (2L, "b")).toDF("k", "v").coalesce(1), src)
    SnapshotTable.vacuum(src, keepVersions = 2)
    val e = intercept[IllegalStateException] {
      SnapshotTable.drainChanges(spark, src, "c") { _ => () }
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // explicit opt-in: reset + bootstrap redelivery; scd2 re-boundaries
    // at the resync version and the history still reconstructs the head
    assert(SnapshotTable.drainChanges(spark, src, "c", autoResync = true) { w =>
      SnapshotTable.scd2Apply(spark, hist, w.df, Seq("k"), w.toVersion); ()
    } == 1)
    val head = SnapshotTable.latestVersion(src).get
    assert(
      SnapshotTable.scd2AsOf(spark, hist, head).select("k", "v").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSet == Set((1L, "A3"), (2L, "b")))
    // caught up after resync
    assert(SnapshotTable.pollChanges(spark, src, "c").isEmpty)
  }

  test("empty-table read fails loudly; empty-df commit is a valid snapshot") {
    val t = tmpTable()
    intercept[IllegalStateException](SnapshotTable.read(spark, t))
    SnapshotTable.commitAppend(Seq.empty[Int].toDF("x"), t)
    assert(SnapshotTable.read(spark, t).count() === 0L)
  }
}
