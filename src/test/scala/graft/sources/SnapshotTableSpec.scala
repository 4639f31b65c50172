package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_snap").toString

  /** The schema the manifest of version `v` records. */
  private def schemaOf(t: String, v: Long): Option[org.apache.spark.sql.types.StructType] =
    SnapshotTable.snapshot(t, v).meta.get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Files of the latest snapshot whose recorded zone stats can hold a row
    * inside every `(column, lo, hi)` box bound — the per-file test the
    * catalog scan's runtime pruning applies. A file without stats for a
    * bounded column always stays. */
  private def zoneCandidates(t: String, bounds: (String, Double, Double)*): Seq[String] = {
    val snap = SnapshotTable.snapshot(t, SnapshotTable.latestVersion(t).get)
    snap.files.filter(f => bounds.forall { case (c, lo, hi) =>
      snap.meta.get(s"zone:$c:$f").forall { v =>
        val Array(mn, mx) = v.split(",").map(_.toDouble); mx >= lo && mn <= hi }
    })
  }

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
    (1 to 4).foreach(i => SnapshotTable.commitAppend(Seq((i, -i)).toDF("x", "y"), t))
    val before = SnapshotTable.snapshot(t, 4).files.length
    val v = SnapshotTable.compactZOrder(spark, t, "x", "y", numFiles = 1)
    assert(SnapshotTable.snapshot(t, v).files.length === 1)
    assert(before > 1)
    assert(SnapshotTable.read(spark, t).select("x").as[Int].collect().sorted === Array(1, 2, 3, 4))
    // snapshot isolation: the pre-compaction version still reads (no deletes)
    assert(SnapshotTable.readVersion(spark, t, 4).select("x").as[Int].collect().sorted ===
      Array(1, 2, 3, 4))
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

  test("zone stats in manifests: appends carry them, rewrites and replaces drop them") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      (0 until 200).map(i => (i.toLong, i.toLong * 2)).toDF("k", "m"), t)
    SnapshotTable.compactZOrder(spark, t, "k", "m", numFiles = 4)
    val laid = SnapshotTable.snapshot(t, 2)
    assert(laid.meta.get("zonecols").contains("k,m"))
    assert(laid.meta.keys.count(_.startsWith("zone:")) === 8) // 4 files x 2 columns
    // a narrow range on either column keeps 1 of the 4 files
    assert(zoneCandidates(t, ("k", 10.0, 20.0)).length === 1)
    assert(zoneCandidates(t, ("m", 20.0, 40.0)).length === 1)
    // an append carries the stats and adds a stat-less (always kept) file
    SnapshotTable.commitAppend(Seq((15L, 30L)).toDF("k", "m").coalesce(1), t)
    assert(SnapshotTable.snapshot(t, 3).meta.keys.count(_.startsWith("zone:")) === 8)
    assert(zoneCandidates(t, ("k", 10.0, 20.0)).length === 2)
    // an upsert rewrites the file holding k = 100: only its stats go
    SnapshotTable.upsert(spark, t, Seq((100L, -1L)).toDF("k", "m"), Seq("k"))
    assert(SnapshotTable.snapshot(t, 4).meta.keys.count(_.startsWith("zone:")) === 6)
    assert(SnapshotTable.read(spark, t).filter($"k" === 100L).select("m").as[Long]
      .collect().toSeq === Seq(-1L))
    // a replace drops every old file's stats
    SnapshotTable.commitReplace(Seq((1L, 2L)).toDF("k", "m"), t)
    val replaced = SnapshotTable.snapshot(t, 5)
    assert(!replaced.meta.keys.exists(k => k.startsWith("zone:") || k == "zonecols"))
  }

  test("zone edge cases: NaN, infinite and all-null values lay out and stay candidates") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      (Seq(Double.NaN, 510.0, Double.NegativeInfinity).map(x => (x, Option(1.0))) ++
        (0 until 100).map(i => (i.toDouble, Option.empty[Double]))).toDF("k", "v"), t)
    SnapshotTable.compactZOrder(spark, t, "k", "v", numFiles = 2)
    val snap = SnapshotTable.snapshot(t, 2)
    // a recorded NaN max would wrongly PRUNE (NaN comparisons are false),
    // so a file holding a NaN records no "k" stats; "v" is null in most rows
    // and all-null files record nothing for it
    assert(snap.files.forall(f => snap.meta.get(s"zone:k:$f").forall(!_.contains("NaN"))))
    // the candidate files hold the one row in range
    val got = zoneCandidates(t, ("k", 505.0, 515.0))
    assert(SnapshotTable.read(spark, t)
      .filter(org.apache.spark.sql.functions.substring_index(
        org.apache.spark.sql.functions.input_file_name(), "/", -2).isin(got: _*))
      .filter($"k".between(505.0, 515.0)).count() === 1)
    assert(SnapshotTable.read(spark, t).count() === 103)
  }

  test("curve compaction keeps a NULL value's rank NULL: the null rows lay out together") {
    // half the rows have a NULL "v", interleaved over the whole "k" range:
    // a NULL rank gives a NULL curve key, which range partitioning puts in
    // one file; a rank of 0 would spread them along "k" over both files
    val rows = (0 until 100).map(i =>
      (i.toDouble, if (i % 2 == 0) Option(i.toDouble) else Option.empty[Double]))
    for (compaction <- Seq[(String, Int) => Long](
           SnapshotTable.compactZOrder(spark, _, "k", "v", _),
           SnapshotTable.compactHilbert(spark, _, "k", "v", _))) {
      val t = tmpTable()
      SnapshotTable.commitAppend(rows.toDF("k", "v"), t)
      compaction(t, 2)
      val nullFiles = SnapshotTable.read(spark, t).filter($"v".isNull)
        .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
      assert(nullFiles === 1)
      assert(SnapshotTable.read(spark, t).count() === 100)
    }
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
    assert(schemaOf(t, 1).get.fieldNames.toSeq === Seq("id", "name"))
    assert(schemaOf(t, 2).get.fieldNames.toSeq ===
      Seq("id", "name", "ultimate_parent"))
    // appending a NARROWER df after the evolution keeps the wide schema
    SnapshotTable.commitAppend(Seq((4L, "d")).toDF("id", "name"), t)
    assert(schemaOf(t, 3).get.fieldNames.toSeq ===
      Seq("id", "name", "ultimate_parent"))
    assert(SnapshotTable.read(spark, t).filter($"id" === 3L)
      .select("ultimate_parent").as[String].head() === "up3")
    // replace re-stamps exactly the incoming schema (column drop/rename path)
    SnapshotTable.commitReplace(Seq((9L, "z")).toDF("id", "label"), t)
    assert(schemaOf(t, 4).get.fieldNames.toSeq === Seq("id", "label"))
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

  test("z-order compaction: zone stats prune on BOTH dims; rows survive") {
    val t = tmpTable()
    // 64×64 grid in random arrival order across 16 files
    val rnd = new scala.util.Random(7)
    val grid = rnd.shuffle(for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t)
    SnapshotTable.compactZOrder(spark, t, "x", "y", numFiles = 16)
    val zFiles = zoneCandidates(t).size
    val xCand = zoneCandidates(t, ("x", 0.0, 7.0))
    val yCand = zoneCandidates(t, ("y", 0.0, 7.0))
    val boxCand = zoneCandidates(t, ("x", 0.0, 7.0), ("y", 0.0, 7.0))
    // z-order tiles the plane: BOTH single-dim ranges prune, the box most
    assert(xCand.size < zFiles && yCand.size < zFiles,
      s"x=${xCand.size} y=${yCand.size} of $zFiles")
    assert(boxCand.size <= math.min(xCand.size, yCand.size))
    // pruning is an overapproximation: the kept files hold the whole box
    val kept = SnapshotTable.read(spark, t)
      .filter(org.apache.spark.sql.functions.substring_index(
        org.apache.spark.sql.functions.input_file_name(), "/", -2).isin(boxCand: _*))
      .filter($"x" <= 7 && $"y" <= 7)
      .as[(Int, Int)].collect().toSet
    assert(kept == (for (x <- 0 to 7; y <- 0 to 7) yield (x, y)).toSet)
    // row-preserving: full content intact after the rewrite
    assert(SnapshotTable.read(spark, t).as[(Int, Int)].collect().toSet == grid.toSet)
  }

  test("hilbert compaction: zone stats prune on both dims; no wider than z-order overall") {
    val t = tmpTable(); val t2 = tmpTable()
    val rnd = new scala.util.Random(7)
    val grid = rnd.shuffle(for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t)
    SnapshotTable.commitAppend(grid.toDF("x", "y").repartition(16), t2)
    SnapshotTable.compactHilbert(spark, t, "x", "y", numFiles = 16)
    SnapshotTable.compactZOrder(spark, t2, "x", "y", numFiles = 16)
    val all = zoneCandidates(t).size
    val xCand = zoneCandidates(t, ("x", 0.0, 7.0))
    val yCand = zoneCandidates(t, ("y", 0.0, 7.0))
    assert(xCand.size < all && yCand.size < all,
      s"hilbert layout must prune both dims: x=${xCand.size} y=${yCand.size} of $all")
    // aggregate pruning across a grid of 8x8 boxes: the adjacency property
    // should make hilbert no worse than morton overall (per-box it can tie
    // or trade, so the assertion is on the SUM — the file-skipping bill)
    def bill(dir: String): Int =
      (for (bx <- 0 until 8; by <- 0 until 8) yield
        zoneCandidates(dir,
          ("x", bx * 8.0, bx * 8.0 + 7.0), ("y", by * 8.0, by * 8.0 + 7.0)).size).sum
    assert(bill(t) <= bill(t2),
      "hilbert total box-read candidates should not exceed z-order's")
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

  test("restoreVersion: zero-copy rollback, history intact") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, 10L)).toDF("k", "v").coalesce(1), t) // v1
    SnapshotTable.commitAppend(Seq((2L, 20L)).toDF("k", "v").coalesce(1), t) // v2
    SnapshotTable.commitReplace(Seq((9L, -9L)).toDF("k", "v").coalesce(1), t) // v3 bad
    val v4 = SnapshotTable.restoreVersion(t, 2L)
    assert(v4 == 4L)
    assert(SnapshotTable.read(spark, t).select("k").as[Long].collect().sorted
      === Array(1L, 2L), "restored contents")
    assert(SnapshotTable.snapshot(t, 4L).op == "restore")
    assert(SnapshotTable.snapshot(t, 4L).files == SnapshotTable.snapshot(t, 2L).files,
      "zero copy: the restore references v2's files")
    // history intact: the bad v3 still time-travels
    assert(SnapshotTable.readVersion(spark, t, 3L).select("v").as[Long]
      .collect().toSeq == Seq(-9L))
    // idempotent shortcut
    assert(SnapshotTable.restoreVersion(t, 4L) == 4L)
    // restoring further back is one more new version
    assert(SnapshotTable.restoreVersion(t, 1L) == 5L)
    assert(SnapshotTable.read(spark, t).count() == 1)
  }

  test("empty-table read fails loudly; empty-df commit is a valid snapshot") {
    val t = tmpTable()
    intercept[IllegalStateException](SnapshotTable.read(spark, t))
    SnapshotTable.commitAppend(Seq.empty[Int].toDF("x"), t)
    assert(SnapshotTable.read(spark, t).count() === 0L)
  }

  test("a directory that is not a table has no versions; init makes an empty table") {
    val t = tmpTable() + "/t"
    assert(SnapshotTable.versions(t).isEmpty && SnapshotTable.latestVersion(t).isEmpty)
    SnapshotTable.init(t)
    assert(Files.isDirectory(Paths.get(t, "_snapshots")))
    assert(SnapshotTable.versions(t).isEmpty)
    SnapshotTable.init(t) // idempotent
    assert(SnapshotTable.commitAppend(Seq(1).toDF("x"), t) == 1L)
  }

  test("each writer names its manifest op: append, replace, merge, add-columns, delete-mor, restore") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.upsert(spark, t, Seq((2L, "B")).toDF("k", "v"), Seq("k"))
    SnapshotTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType)))
    SnapshotTable.deleteWhereMor(spark, t, org.apache.spark.sql.functions.col("k") === 1L)
    SnapshotTable.restoreVersion(t, 2L)
    assert(SnapshotTable.versions(t).map(SnapshotTable.snapshot(t, _).op) ==
      Seq("append", "replace", "merge", "add-columns", "delete-mor", "restore"))
    assert(SnapshotTable.versions(t).forall(v =>
      SnapshotTable.snapshot(t, v).meta.get("version").contains(v.toString)))
    assert(SnapshotTable.snapshot(t, 6L).meta.get("restored_from").contains("2"))
  }

  test("commitTsOf reads the manifest's ts stamp; one writer's stamps follow commit order") {
    val t = tmpTable()
    (1 to 3).foreach(i => SnapshotTable.commitAppend(Seq(i).toDF("x"), t))
    val ts = SnapshotTable.versions(t).map(v => SnapshotTable.commitTsOf(t, v).get)
    assert(ts == SnapshotTable.versions(t).map(v =>
      SnapshotTable.snapshot(t, v).meta("ts").toLong))
    assert(ts == ts.sorted)
    // a restore is a new commit with its own stamp, not the restored
    // version's: TIMESTAMP AS OF an instant before it must not resolve to it
    Thread.sleep(20)
    val r = SnapshotTable.restoreVersion(t, 1L)
    assert(SnapshotTable.commitTsOf(t, r).exists(_ > ts.last))
  }

  test("changes requires fromVersion < toVersion") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitAppend(Seq(2).toDF("x"), t)
    intercept[IllegalArgumentException](SnapshotTable.changes(spark, t, 2L, 2L))
    intercept[IllegalArgumentException](SnapshotTable.changes(spark, t, 2L, 1L))
  }

  test("changes across a metadata-only commit are empty but carry the new schema") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    SnapshotTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType)))
    val c = SnapshotTable.changes(spark, t, 1L, 2L)
    assert(c.columns.toSeq == Seq("k", "v", "w", "_change"))
    assert(c.count() == 0L)
  }

  test("changes resolve schema evolution by name: a new column null-fills on old files") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(Seq((2L, "b", 7L)).toDF("k", "v", "w").coalesce(1), t)
    SnapshotTable.commitReplace(Seq((2L, "b", 7L)).toDF("k", "v", "w").coalesce(1), t)
    val c = SnapshotTable.changes(spark, t, 1L, 3L)
    assert(c.columns.toSeq == Seq("k", "v", "w", "_change"))
    assert(c.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))).toSet ==
      Set((2L, "b", Some(7L), "insert"), (1L, "a", None, "delete")))
  }

  test("change feed of a copy-on-write delete: rows that shared the rewritten file cancel out") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.deleteWhere(spark, t, org.apache.spark.sql.functions.col("k") === 2L)
    assert(SnapshotTable.snapshot(t, 2L).files.toSet
      .intersect(SnapshotTable.snapshot(t, 1L).files.toSet).isEmpty,
      "the one data file was rewritten")
    assert(SnapshotTable.changes(spark, t, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((2L, "b", "delete")))
  }

  test("pollChanges on a table with no snapshots returns nothing") {
    val t = tmpTable()
    assert(SnapshotTable.pollChanges(spark, t, "etl").isEmpty)
    SnapshotTable.init(t)
    assert(SnapshotTable.pollChanges(spark, t, "etl").isEmpty)
  }

  test("CDC replica: folding pollChanges windows through upsert and deleteWhere keeps a replica identical") {
    import org.apache.spark.sql.functions.col
    val src = tmpTable(); val dst = tmpTable()
    def rowsOf(t: String): Set[(Long, String)] =
      SnapshotTable.read(spark, t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // a keyed window: the key's insert row (if any) is its new value; a key
    // with only delete rows left the table
    def sync(): Unit =
      SnapshotTable.pollChanges(spark, src, "replica").foreach { b =>
        val w = b.df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val ins = w.filter(_._3 == "insert").map(r => (r._1, r._2)).toSeq
        val gone = w.filter(_._3 == "delete").map(_._1).toSet -- ins.map(_._1)
        if (ins.nonEmpty) SnapshotTable.upsert(spark, dst, ins.toDF("k", "v"), Seq("k"))
        if (gone.nonEmpty) SnapshotTable.deleteWhere(spark, dst, col("k").isin(gone.toSeq: _*))
        assert(b.ack())
      }
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), src)
    sync() // bootstrap: the full snapshot lands as inserts
    assert(rowsOf(dst) == rowsOf(src))
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v").coalesce(1), src)
    SnapshotTable.upsert(spark, src, Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    sync() // one window composes an insert and an update across two commits
    assert(rowsOf(dst) == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    SnapshotTable.deleteWhere(spark, src, col("k") === 3L)
    SnapshotTable.commitReplace(Seq((2L, "B2"), (9L, "z")).toDF("k", "v").coalesce(1), src)
    sync() // deletes and a shrinking replace propagate as key drops
    assert(rowsOf(dst) == rowsOf(src))
    assert(rowsOf(dst) == Set((2L, "B2"), (9L, "z")))
    assert(SnapshotTable.pollChanges(spark, src, "replica").isEmpty)
  }

  test("ack refuses a consumer id that is not a path-safe token") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    val b = SnapshotTable.pollChanges(spark, t, "team/etl").get
    intercept[IllegalArgumentException](b.ack())
    assert(!Files.exists(Paths.get(t, "_consumers")), "a refused ack writes nothing")
  }

  test("consumer ids may contain '-': offsets of 'etl' and 'etl-2' never mix") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    assert(SnapshotTable.pollChanges(spark, t, "etl-2").get.ack())
    assert(SnapshotTable.consumerOffset(t, "etl").isEmpty)
    assert(SnapshotTable.consumerOffset(t, "etl-2").contains((0L, 1L)))
    assert(SnapshotTable.pollChanges(spark, t, "etl").get.fromVersion.isEmpty,
      "'etl' still bootstraps")
    assert(SnapshotTable.pollChanges(spark, t, "etl-2").isEmpty)
  }

  test("each ack sweeps its consumer's older offsets, keeping the previous one") {
    val t = tmpTable()
    for (i <- 1 to 4) {
      SnapshotTable.commitAppend(Seq((i.toLong, "x")).toDF("k", "v"), t)
      assert(SnapshotTable.pollChanges(spark, t, "c").get.ack())
    }
    SnapshotTable.commitAppend(Seq((9L, "x")).toDF("k", "v"), t)
    assert(SnapshotTable.pollChanges(spark, t, "other").get.ack())
    def offsetFiles(id: String): Seq[String] = {
      val s = Files.list(Paths.get(t, "_consumers"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(id + "-") && n.endsWith(".offset")).toSeq.sorted
      finally s.close()
    }
    assert(offsetFiles("c") == Seq("c-00000002.offset", "c-00000003.offset"))
    assert(offsetFiles("other") == Seq("other-00000000.offset"))
    assert(SnapshotTable.consumerOffset(t, "c").contains((3L, 4L)))
  }

  test("resetConsumer forgets only the named consumer") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    assert(SnapshotTable.pollChanges(spark, t, "a").get.ack())
    assert(SnapshotTable.pollChanges(spark, t, "b").get.ack())
    assert(SnapshotTable.resetConsumer(t, "a") == 1)
    assert(SnapshotTable.pollChanges(spark, t, "a").get.fromVersion.isEmpty, "a re-bootstraps")
    assert(SnapshotTable.pollChanges(spark, t, "b").isEmpty, "b stays caught up")
  }

  test("upsert matches on every key column of a composite key") {
    val t = tmpTable()
    SnapshotTable.commitAppend(
      Seq((1L, "x", 10L), (1L, "y", 11L), (2L, "x", 20L)).toDF("a", "b", "v").coalesce(1), t)
    SnapshotTable.upsert(spark, t,
      Seq((1L, "y", 99L), (2L, "y", 21L)).toDF("a", "b", "v"), Seq("a", "b"))
    assert(SnapshotTable.read(spark, t).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "x", 10L), (1L, "y", 99L), (2L, "x", 20L), (2L, "y", 21L)))
  }

  test("upsert refuses an empty key list") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    intercept[IllegalArgumentException](
      SnapshotTable.upsert(spark, t, Seq((1L, "b")).toDF("k", "v"), Seq.empty))
    assert(SnapshotTable.latestVersion(t).contains(1L))
  }

  test("upsert resolves update columns by name; a column the update lacks null-fills") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w").coalesce(1), t)
    SnapshotTable.upsert(spark, t, Seq(("B", 2L)).toDF("v", "k"), Seq("k"))
    val got = SnapshotTable.read(spark, t).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), Option(r.getAs[Any]("w")))).toSet
    assert(got == Set((1L, "a", Some(10L)), (2L, "B", None)))
    assert(schemaOf(t, 2L).map(_.fieldNames.toSeq).contains(Seq("k", "v", "w")),
      "the table schema keeps the column the update lacked")
  }

  test("deleteWhere, deleteWhereMor, materializeDeletes, restoreVersion and addColumns refuse an empty table") {
    val t = tmpTable()
    val p = org.apache.spark.sql.functions.col("k") === 1L
    intercept[IllegalArgumentException](SnapshotTable.deleteWhere(spark, t, p))
    intercept[IllegalArgumentException](SnapshotTable.deleteWhereMor(spark, t, p))
    intercept[IllegalArgumentException](SnapshotTable.materializeDeletes(spark, t))
    intercept[IllegalArgumentException](SnapshotTable.restoreVersion(t, 1L))
    intercept[IllegalArgumentException](SnapshotTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType))))
    assert(SnapshotTable.versions(t).isEmpty)
  }

  test("restoring a vacuumed version fails and commits nothing") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitReplace(Seq(2).toDF("x"), t)
    SnapshotTable.commitReplace(Seq(3).toDF("x"), t)
    SnapshotTable.vacuum(t, keepVersions = 2)
    intercept[java.nio.file.NoSuchFileException](SnapshotTable.restoreVersion(t, 1L))
    assert(SnapshotTable.versions(t) == Seq(2L, 3L))
    assert(SnapshotTable.restoreVersion(t, 2L) == 4L)
    assert(SnapshotTable.read(spark, t).as[Int].collect().toSeq == Seq(2))
  }

  test("restoreVersion carries the restored version's schema: a column added later is gone") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    SnapshotTable.commitAppend(Seq((2L, "b", 7L)).toDF("k", "v", "w"), t)
    SnapshotTable.restoreVersion(t, 1L)
    assert(SnapshotTable.read(spark, t).columns.toSeq == Seq("k", "v"))
    assert(schemaOf(t, 3L) == schemaOf(t, 1L))
    assert(SnapshotTable.readVersion(spark, t, 2L).columns.toSeq == Seq("k", "v", "w"))
  }

  test("addColumns is metadata-only: no file moves, new fields forced nullable") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    val dirsBefore = Files.list(Paths.get(t)).count()
    val v = SnapshotTable.addColumns(spark, t,
      Seq(StructField("w", LongType, nullable = false), StructField("n", StringType)))
    assert(SnapshotTable.snapshot(t, v).files == SnapshotTable.snapshot(t, 1L).files)
    assert(Files.list(Paths.get(t)).count() == dirsBefore, "no data dir staged")
    val sc = schemaOf(t, v).get
    assert(sc.fieldNames.toSeq == Seq("k", "v", "w", "n"))
    assert(sc("w").nullable && sc("n").nullable)
    assert(SnapshotTable.read(spark, t).collect().map(r =>
      (r.getLong(0), r.getString(1), r.isNullAt(2), r.isNullAt(3))).toSeq ==
      Seq((1L, "a", true, true)))
  }

  test("addColumns refuses existing names case-insensitively, duplicates and an empty list") {
    import org.apache.spark.sql.types.{LongType, StructField}
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    intercept[IllegalArgumentException](
      SnapshotTable.addColumns(spark, t, Seq(StructField("V", LongType))))
    intercept[IllegalArgumentException](SnapshotTable.addColumns(spark, t,
      Seq(StructField("w", LongType), StructField("W", LongType))))
    intercept[IllegalArgumentException](SnapshotTable.addColumns(spark, t, Seq.empty))
    assert(SnapshotTable.latestVersion(t).contains(1L), "a refusal commits nothing")
  }

  test("vacuum needs keepVersions >= 1; a window wider than history drops nothing") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), t)
    SnapshotTable.commitReplace(Seq(2).toDF("x"), t)
    intercept[IllegalArgumentException](SnapshotTable.vacuum(t, keepVersions = 0))
    assert(SnapshotTable.vacuum(t, keepVersions = 5) == ((0, 0)))
    assert(SnapshotTable.readVersion(spark, t, 1L).as[Int].collect().toSeq == Seq(1))
  }

  test("replace narrows the schema: a dropped column is not read, time travel keeps it") {
    val t = tmpTable()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), t)
    SnapshotTable.commitReplace(Seq(2L).toDF("k"), t)
    SnapshotTable.commitAppend(Seq(3L).toDF("k"), t)
    assert(SnapshotTable.read(spark, t).columns.toSeq == Seq("k"))
    assert(SnapshotTable.read(spark, t).as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(SnapshotTable.readVersion(spark, t, 1L).columns.toSeq == Seq("k", "v"))
  }

  test("curve compaction on a constant column keeps every row and records equal bounds") {
    val t = tmpTable()
    SnapshotTable.commitAppend((1 to 40).map(i => (i, 5.0)).toDF("x", "c").repartition(4), t)
    val v = SnapshotTable.compactZOrder(spark, t, "x", "c", numFiles = 2)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSet ==
      (1 to 40).map(i => (i, 5.0)).toSet)
    val snap = SnapshotTable.snapshot(t, v)
    assert(snap.files.forall(f => snap.meta.get(s"zone:c:$f").contains("5.0,5.0")))
    assert(zoneCandidates(t, ("c", 6.0, 9.0)).isEmpty)
  }
}
