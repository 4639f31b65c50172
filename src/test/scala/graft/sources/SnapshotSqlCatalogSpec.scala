package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL time travel over SnapshotTable via the DSv2 catalog
  * (`GraftSnapshotCatalog`): VERSION AS OF resolves manifests, the default
  * read serves the latest snapshot, row-group skipping rides the pushed
  * filters, merge-on-read deletion vectors apply inside the scan (and SQL
  * DELETE routes onto the MOR path while one is outstanding), and the
  * remaining loud boundaries (MERGE/UPDATE under a DV) refuse. */
class SnapshotSqlCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_snap_wh").toString
    spark.conf.set("spark.sql.catalog.graft_snap",
      classOf[GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_snap.warehouse", w)
    w
  }

  /** stream CLOSED (the round-12 fd-leak rule for directory listings). */
  private def ctasStagingEmpty(): Boolean = {
    val staged = java.nio.file.Paths.get(warehouse, ".ctas")
    if (!Files.exists(staged)) return true
    val st = Files.list(staged)
    try !st.iterator().hasNext finally st.close()
  }

  test("SELECT serves the latest snapshot; VERSION AS OF pins any retained one") {
    val t = s"$warehouse/tt"
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)  // v1
    SnapshotTable.upsert(spark, t, Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k")) // v2
    SnapshotTable.deleteWhere(spark, t, col("k") === 1L)        // v3
    def rows(sql: String): Set[(Long, String)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows("SELECT k, v FROM graft_snap.tt") == Set((2L, "B2"), (3L, "c")))
    assert(rows("SELECT k, v FROM graft_snap.tt VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b")))
    assert(rows("SELECT k, v FROM graft_snap.tt VERSION AS OF 2") ==
      Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // aggregation + projection through the catalog
    assert(spark.sql("SELECT count(*) FROM graft_snap.tt VERSION AS OF 1")
      .collect()(0).getLong(0) == 2L)
    // a version that never existed (or was vacuumed) refuses loudly
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_snap.tt VERSION AS OF 99").collect())
    assert(e.getMessage.contains("no version 99"), e.getMessage)
  }

  /** Commit `df` to `t` as ONE file whose row groups hold a few hundred
    * rows each, so footer-stat skipping has groups to skip. */
  private def commitTinyGroups(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
    spark.conf.set("parquet.block.size", "8192")
    spark.conf.set("parquet.page.size", "2048")
    try SnapshotTable.commitReplace(df.coalesce(1), t)
    finally { spark.conf.unset("parquet.block.size"); spark.conf.unset("parquet.page.size") }
    ()
  }

  test("row-group stats skip non-qualifying groups on a clustered layout, none on random") {
    val n = 20000L
    // clustered: ts monotone within the single file -> disjoint per-group
    // min/max ranges. random: ts is a multiplicative PERMUTATION of the
    // same domain, so every group spans the full domain.
    commitTinyGroups(spark.range(n).select(col("id").as("k"), col("id").as("ts"),
      (col("id") % 13).as("v")), s"$warehouse/rg_clustered")
    commitTinyGroups(spark.range(n).select(col("id").as("k"),
      pmod(col("id") * 2654435761L, lit(n)).as("ts"),
      (col("id") % 13).as("v")), s"$warehouse/rg_random")
    def counted[T](body: => T): (T, Long, Long) = {
      val (r0, s0) = (RowGroups.read.get(), RowGroups.skipped.get())
      val out = body
      (out, RowGroups.read.get() - r0, RowGroups.skipped.get() - s0)
    }

    val (all, totalGroups, skipped0) = counted(
      spark.table("graft_snap.rg_clustered").select("k").as[Long].collect())
    assert(all.length == n)
    assert(totalGroups >= 4, s"layout must produce multiple row groups, got $totalGroups")
    assert(skipped0 == 0)

    // a HALF-domain predicate: a random row group of dozens of rows spans
    // both halves with certainty, so only the clustered layout can prune
    def upperHalf(table: String): Seq[Long] =
      spark.table(table).filter(col("ts") >= lit(n / 2)).collect()
        .map(_.getAs[Long]("ts")).sorted.toSeq

    val (hi, read1, skipped1) = counted(upperHalf("graft_snap.rg_clustered"))
    assert(hi == (n / 2 until n))
    assert(skipped1 > 0, "clustered layout must skip leading row groups")
    assert(read1 < totalGroups)

    // identical results on the random layout — but nothing prunable
    val (hiR, _, skippedR) = counted(upperHalf("graft_snap.rg_random"))
    assert(hiR == (n / 2 until n))
    assert(skippedR == 0,
      "domain-spanning groups must all survive (pruning is advisory, never lossy)")

    // point predicate on the clustered layout reads a small group subset
    val (mid, readP, skippedP) = counted(spark.table("graft_snap.rg_clustered")
      .filter(col("ts") === lit(n / 2)).collect())
    assert(mid.length == 1 && mid.head.getAs[Long]("k") == n / 2)
    assert(readP <= 2 && skippedP >= totalGroups - 2)
  }

  test("±Infinity / NaN footer stats never crash a filtered scan (group survives)") {
    // a double column whose row-group min/max are -Inf / +Inf (storable
    // values): BigDecimal cannot represent them, so the stat bounds must
    // count as unknown (the group survives), never throw
    SnapshotTable.commitReplace(Seq(
      (1L, Double.NegativeInfinity), (2L, 1.5), (3L, Double.PositiveInfinity),
      (4L, Double.NaN), (5L, 2.5)).toDF("k", "x").coalesce(1), s"$warehouse/rg_inf")
    val got = spark.sql("SELECT k FROM graft_snap.rg_inf WHERE x >= 2.0")
      .as[Long].collect().sorted
    // Spark orders NaN above every double, so NaN >= 2.0 is true (rows 3,4,5);
    // the point of the test is that the ±Inf footer stats did not crash the scan
    assert(got.toSeq == Seq(3L, 4L, 5L))
  }

  test("row-group skipping: a pushed filter on a clustered table prunes groups") {
    val t = s"$warehouse/rg"
    // range-clustered layout -> disjoint per-file/group key spans
    SnapshotTable.commitReplace(
      (1 to 4000).map(i => (i.toLong, i.toLong * 2)).toDF("k", "m")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), t)
    val before = (RowGroups.read.get(), RowGroups.skipped.get())
    val got = spark.sql("SELECT m FROM graft_snap.rg WHERE k <= 500")
      .as[Long].collect().sorted
    assert(got.toSeq == (1L to 500L).map(_ * 2))
    val read = RowGroups.read.get() - before._1
    val skipped = RowGroups.skipped.get() - before._2
    assert(skipped >= 1, s"clustered layout must skip row groups (read=$read)")
  }

  test("schema evolution: files written before a column existed null-fill it in SQL") {
    val t = s"$warehouse/ev"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)
    SnapshotTable.commitAppend(
      Seq((2L, "b", 20L)).toDF("k", "v", "w").coalesce(1), t)
    val rows = spark.sql("SELECT k, v, w FROM graft_snap.ev").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(20L))),
      "old files must null-fill the new column, not crash the projection")
    // a projection touching ONLY the missing column still counts old rows
    assert(spark.sql("SELECT w FROM graft_snap.ev").collect().length == 2)
    // unsupported column types refuse at analysis time with a pointer
    val tt = s"$warehouse/ts"
    SnapshotTable.commitAppend(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("k", "t").coalesce(1), tt)
    val e = intercept[Exception](spark.sql("SELECT * FROM graft_snap.ts").collect())
    assert(e.getMessage.contains("readVersion"), e.getMessage)
  }

  test("SQL DML round-trips against the programmatic API") {
    val t = s"$warehouse/dml"
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)

    // INSERT INTO = one append commit
    spark.sql("INSERT INTO graft_snap.dml VALUES (3, 'c'), (4, 'd')")
    assert(SnapshotTable.read(spark, t).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(SnapshotTable.latestVersion(t).contains(2L), "one commit per INSERT")

    // DELETE WHERE = copy-on-write deleteWhere; table stays SQL-readable
    spark.sql("DELETE FROM graft_snap.dml WHERE k = 2 OR v = 'd'")
    assert(spark.sql("SELECT k FROM graft_snap.dml").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // history preserved: the pre-delete version still serves
    assert(spark.sql("SELECT count(*) FROM graft_snap.dml VERSION AS OF 2")
      .collect()(0).getLong(0) == 4L)

    // INSERT OVERWRITE = replace commit
    spark.sql("INSERT OVERWRITE graft_snap.dml VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM graft_snap.dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))

    // DML cannot target a pinned version: the grammar itself refuses
    // INSERT INTO ... VERSION AS OF (and the writable=false guard backs
    // any future path that would resolve a pinned relation for writes)
    val e = intercept[Exception](spark.sql(
      "INSERT INTO graft_snap.dml VERSION AS OF 1 VALUES (0, 'x')"))
    assert(e.getMessage.toLowerCase.contains("syntax error"), e.getMessage)
  }

  test("merge-on-read lifecycle through SQL: MOR reads, DELETE routes MOR, MERGE refuses") {
    val t = s"$warehouse/dv"
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1), t) // v1
    SnapshotTable.deleteWhereMor(spark, t, col("k") === 1L)                          // v2
    def ks(sql: String): Seq[Long] =
      spark.sql(sql).as[Long].collect().sorted.toSeq
    // SELECT applies the vector inside the scan — no materialization needed
    assert(ks("SELECT k FROM graft_snap.dv") == Seq(2L, 3L, 4L))
    // time travel: the pre-delete version still serves every row
    assert(ks("SELECT k FROM graft_snap.dv VERSION AS OF 1") == Seq(1L, 2L, 3L, 4L))
    // SQL DELETE on a DV-enabled table rides the MOR path (CoW would
    // refuse) — the new version is a delete-mor metadata commit
    spark.sql("DELETE FROM graft_snap.dv WHERE k = 3")
    val v3 = SnapshotTable.latestVersion(t).get
    assert(SnapshotTable.snapshot(t, v3).op == "delete-mor",
      "SQL DELETE under an outstanding vector must append positions, not rewrite")
    assert(ks("SELECT k FROM graft_snap.dv") == Seq(2L, 4L))
    assert(ks("SELECT k FROM graft_snap.dv VERSION AS OF 2") == Seq(2L, 3L, 4L))
    // projections + aggregates through the DV-aware scan
    assert(spark.sql("SELECT count(*) FROM graft_snap.dv").collect()(0).getLong(0) == 2L)
    // MERGE/UPDATE still refuse: their rewrite commit would drop the dv
    // pointer while untouched files carry live entries
    val e = intercept[Exception](spark.sql(
      "UPDATE graft_snap.dv SET v = 'x' WHERE k = 2"))
    assert(e.getMessage.contains("materializeDeletes"), e.getMessage)
    // materialization folds the vector; everything works again
    SnapshotTable.materializeDeletes(spark, t)
    assert(ks("SELECT k FROM graft_snap.dv") == Seq(2L, 4L))
    spark.sql("UPDATE graft_snap.dv SET v = 'x' WHERE k = 2")
    assert(spark.sql("SELECT v FROM graft_snap.dv WHERE k = 2")
      .as[String].collect().toSeq == Seq("x"))
    // an instant before the first stamped commit refuses with a pointer
    val ts = intercept[Exception](spark.sql(
      "SELECT * FROM graft_snap.dv TIMESTAMP AS OF '2001-01-01'").collect())
    assert(ts.getMessage.contains("VERSION AS OF"), ts.getMessage)
  }

  test("DV position tracking survives row-group skipping (multi-group file)") {
    val t = s"$warehouse/dvrg"
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    try {
      // tiny row groups => one file, MANY groups: the DV records parquet
      // row indexes, so a filter-skipped group must still advance the
      // reader's position cursor or every later row is misattributed
      hc.setInt("parquet.block.size", 1024)
      SnapshotTable.commitReplace(
        (1 to 4000).map(i => (i.toLong, i.toLong * 2)).toDF("k", "m")
          .coalesce(1).sortWithinPartitions("k"), t)
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val nGroups = {
      val f = SnapshotTable.snapshot(t, 1L).files.head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$t/$f"),
          new org.apache.hadoop.conf.Configuration()))
      try r.getRowGroups.size finally r.close()
    }
    assert(nGroups >= 3, s"test needs a multi-group file, got $nGroups groups")
    // delete rows scattered across the whole index space
    SnapshotTable.deleteWhereMor(spark, t, col("k") % 7 === 0)
    // the pushed filter prunes leading groups; the surviving rows must be
    // exactly what the authoritative reader (Spark _metadata.row_index
    // anti-join) serves for the same predicate
    val got = spark.sql("SELECT k FROM graft_snap.dvrg WHERE k > 3500")
      .as[Long].collect().sorted.toSeq
    val want = SnapshotTable.read(spark, t).filter(col("k") > 3500)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty && !got.exists(_ % 7 == 0))
  }

  test("SQL maintenance: CALL optimize/vacuum/materialize_deletes; open txn refuses") {
    val t = s"$warehouse/mnt"
    SnapshotTable.commitAppend(
      (1 to 2000).map(i => (i.toLong, ((i * 37) % 2000).toLong)).toDF("x", "y")
        .repartition(4), t)                                        // v1
    SnapshotTable.commitAppend(Seq((9999L, 9999L)).toDF("x", "y").coalesce(1), t) // v2
    // OPTIMIZE = curve compaction: one replace commit, zone stats for both
    // columns recorded, box reads prune
    spark.sql("CALL graft_snap.optimize('mnt', 'hilbert', 'x', 'y', 4)")
    val v3 = SnapshotTable.latestVersion(t).get
    assert(SnapshotTable.snapshot(t, v3).op == "replace")
    assert(SnapshotTable.snapshot(t, v3).meta.contains("zonecols"))
    assert(spark.sql("SELECT count(*) FROM graft_snap.mnt")
      .collect()(0).getLong(0) == 2001L)
    // MOR delete + CALL materialize_deletes folds the vector
    SnapshotTable.deleteWhereMor(spark, t, col("x") === 9999L)
    spark.sql("CALL graft_snap.materialize_deletes('mnt')")
    assert(!SnapshotTable.snapshot(t, SnapshotTable.latestVersion(t).get)
      .meta.contains("dv"))
    assert(spark.sql("SELECT count(*) FROM graft_snap.mnt")
      .collect()(0).getLong(0) == 2000L)
    // VACUUM drops pre-optimize history
    spark.sql("CALL graft_snap.vacuum('mnt', 2)")
    assert(SnapshotTable.versions(t).length == 2)
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_snap.mnt VERSION AS OF 1").collect())
    // unknown procedure and unknown curve refuse loudly
    val e1 = intercept[Exception](spark.sql("CALL graft_snap.compact('mnt')"))
    assert(e1.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
      e1.getMessage.contains("unknown procedure"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "CALL graft_snap.optimize('mnt', 'peano', 'x', 'y', 4)"))
    assert(e2.getMessage.contains("peano"), e2.getMessage)
    // an OPEN multi-table transaction refuses maintenance on the table
    val txd = Files.createTempDirectory("mnt_txn").toString
    val h = SnapshotTxn.begin(txd, Seq(t))
    try {
      val ev = intercept[Exception](spark.sql("CALL graft_snap.vacuum('mnt', 1)"))
      assert(ev.getMessage.contains("transaction"), ev.getMessage)
      val eo = intercept[Exception](spark.sql(
        "CALL graft_snap.optimize('mnt', 'zorder', 'x', 'y', 4)"))
      assert(eo.getMessage.contains("transaction"), eo.getMessage)
    } finally SnapshotTxn.abort(h)
    // after the txn resolves, maintenance works again
    spark.sql("CALL graft_snap.vacuum('mnt', 1)")
    assert(SnapshotTable.versions(t).length == 1)
  }

  test("CALL restore rolls back zero-copy; CALL clone branches into a new table") {
    val t = s"$warehouse/rst"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)  // v1
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)  // v2
    spark.sql("DELETE FROM graft_snap.rst WHERE k = 1")                       // v3
    spark.sql("CALL graft_snap.restore('rst', 2)")                            // v4 == v2
    assert(spark.sql("SELECT k FROM graft_snap.rst").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // history preserved: the deleted state is still addressable
    assert(spark.sql("SELECT count(*) FROM graft_snap.rst VERSION AS OF 3")
      .collect()(0).getLong(0) == 1L)
    // clone v2 into a NEW catalog table; both sides stay independent
    spark.sql("CALL graft_snap.clone('rst', 2, 'rst_branch')")
    assert(spark.sql("SELECT k FROM graft_snap.rst_branch").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("INSERT INTO graft_snap.rst_branch VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM graft_snap.rst").collect()(0).getLong(0) == 2L,
      "branch writes must not leak into the source")
    // clone refuses an existing destination
    val e = intercept[Exception](spark.sql(
      "CALL graft_snap.clone('rst', 1, 'rst_branch')"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("CALL history returns the retained commit log, newest first") {
    val t = s"$warehouse/hist"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)   // v1
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)   // v2
    SnapshotTable.deleteWhere(spark, t, col("k") === 1L)                       // v3
    val rows = spark.sql("CALL graft_snap.history('hist')").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(3L, 2L, 1L), "newest first")
    assert(rows.map(_._2).toSeq == Seq("merge", "append", "append"))
    assert(rows.forall(_._3 >= 1L))
    // ts stamps present and non-decreasing in version order (single writer)
    val ts = spark.sql("CALL graft_snap.history('hist')").collect()
      .map(_.getLong(2)).reverse
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // read-only: works even while a txn is open on the table
    val txd = Files.createTempDirectory("hist_txn").toString
    val h = SnapshotTxn.begin(txd, Seq(t))
    try assert(spark.sql("CALL graft_snap.history('hist')").count() == 3L)
    finally SnapshotTxn.abort(h)
  }

  test("TIMESTAMP AS OF resolves the last commit at or before the instant") {
    val t = s"$warehouse/tso"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t) // v1
    Thread.sleep(60)
    val mid = System.currentTimeMillis()
    Thread.sleep(60)
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t) // v2
    def at(ms: Long): Seq[Long] = {
      val s = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      spark.sql(s"SELECT k FROM graft_snap.tso TIMESTAMP AS OF '$s'")
        .as[Long].collect().sorted.toSeq
    }
    assert(at(mid) == Seq(1L), "between the commits => v1")
    assert(at(System.currentTimeMillis()) == Seq(1L, 2L), "now => latest")
    // the time-travel relation is pinned => read-only
    val e = intercept[Exception](spark.sql(
      s"DELETE FROM graft_snap.tso TIMESTAMP AS OF '2031-01-01' WHERE k = 1"))
    assert(e.getMessage.toLowerCase.contains("syntax") ||
      e.getMessage.contains("read-only"), e.getMessage)
  }

  test("TIMESTAMP AS OF before a restore serves the state the restore undid") {
    val t = s"$warehouse/tsr"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)   // v1
    Thread.sleep(60)
    SnapshotTable.commitReplace(Seq((9L, "bad")).toDF("k", "v").coalesce(1), t) // v2
    Thread.sleep(60)
    val beforeRestore = System.currentTimeMillis()
    Thread.sleep(60)
    SnapshotTable.restoreVersion(t, 1L)                                         // v3
    def at(ms: Long): Seq[Long] = {
      val s = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      spark.sql(s"SELECT k FROM graft_snap.tsr TIMESTAMP AS OF '$s'")
        .as[Long].collect().sorted.toSeq
    }
    assert(at(beforeRestore) == Seq(9L), "the restore had not happened yet => v2")
    assert(at(System.currentTimeMillis()) == Seq(1L), "now => the restored state")
  }

  test("atomic CTAS: the table appears only on success, with full snapshot semantics") {
    SnapshotTable.commitAppend(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("k", "grp", "v")
        .coalesce(1), s"$warehouse/ctsrc")
    spark.sql(
      """CREATE TABLE graft_snap.ctagg AS
        |SELECT grp, count(*) AS n, sum(v) AS tot
        |FROM graft_snap.ctsrc GROUP BY grp""".stripMargin)
    val got = spark.sql("SELECT grp, n, tot FROM graft_snap.ctagg")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 40L), ("b", 1L, 20L)))
    // a real snapshot table: version 1 exists, DML keeps working on it
    assert(SnapshotTable.versions(s"$warehouse/ctagg") == Seq(1L))
    spark.sql("INSERT INTO graft_snap.ctagg VALUES ('c', 1, 5)")
    assert(spark.sql("SELECT count(*) FROM graft_snap.ctagg").head().getLong(0) == 3L)
    // CTAS over an existing table refuses
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graft_snap.ctagg AS SELECT 1L AS x"))
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    // no staging debris survives
    assert(ctasStagingEmpty())
  }

  test("failed CTAS leaves no table behind (abort cleans the staging root)") {
    // source table (not a VALUES literal — constant folding would throw
    // before stageCreate and never exercise the abort path); the ANSI
    // cast fails in the EXECUTOR mid-write
    SnapshotTable.commitAppend(
      Seq("boom").toDF("v").coalesce(1), s"$warehouse/ctfsrc")
    intercept[Exception](spark.sql(
      """CREATE TABLE graft_snap.ctfail AS
        |SELECT CAST(v AS BIGINT) AS x FROM graft_snap.ctfsrc""".stripMargin))
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(warehouse, "ctfail", "_snapshots")))
    assert(ctasStagingEmpty())
    val e2 = intercept[Exception](spark.sql("SELECT * FROM graft_snap.ctfail"))
    assert(e2.getMessage.contains("ctfail"), e2.getMessage)
  }

  test("RTAS replaces as one new version; history and time travel survive") {
    val t = s"$warehouse/rtt"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t) // v1
    spark.sql(
      "REPLACE TABLE graft_snap.rtt AS SELECT 9L AS k, 'z' AS v")            // v2
    assert(spark.sql("SELECT k, v FROM graft_snap.rtt")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == Set((9L, "z")))
    // the pre-replace version is still reachable
    assert(spark.sql("SELECT k FROM graft_snap.rtt VERSION AS OF 1")
      .head().getLong(0) == 1L)
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates it
    val e = intercept[Exception](spark.sql(
      "REPLACE TABLE graft_snap.rtt_missing AS SELECT 1L AS x"))
    assert(e.getMessage.toLowerCase.contains("not found") ||
      e.getMessage.toLowerCase.contains("cannot be found"), e.getMessage)
    spark.sql("CREATE OR REPLACE TABLE graft_snap.rtt2 AS SELECT 1L AS x")
    assert(spark.sql("SELECT x FROM graft_snap.rtt2").head().getLong(0) == 1L)
    spark.sql("CREATE OR REPLACE TABLE graft_snap.rtt2 AS SELECT 2L AS x")
    assert(spark.sql("SELECT x FROM graft_snap.rtt2").head().getLong(0) == 2L)
    assert(SnapshotTable.versions(s"$warehouse/rtt2") == Seq(1L, 2L))
  }

  test("CTAS refuses schemas the SQL reader cannot serve, before any work") {
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graft_snap.ctbad AS SELECT array(1L, 2L) AS arr"))
    assert(e.getMessage.contains("cannot"), e.getMessage)
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(warehouse, "ctbad", "_snapshots")))
  }
  test("scan statistics from the manifest drive broadcast join planning") {
    SnapshotTable.commitAppend(
      spark.range(20000).select(col("id").as("k"), (col("id") % 100).as("g"))
        .coalesce(2), s"$warehouse/stat_big")
    SnapshotTable.commitAppend(
      Seq((1L, "x"), (2L, "y")).toDF("g", "name").coalesce(1),
      s"$warehouse/stat_dim")
    val q = spark.sql(
      """SELECT b.k, d.name FROM graft_snap.stat_big b
        |JOIN graft_snap.stat_dim d ON b.g = d.g""".stripMargin)
    // pre-AQE plan: without SupportsReportStatistics a DSv2 relation
    // defaults to an effectively infinite size and no broadcast is ever
    // planned — the BHJ here is the statistics at work
    assert(q.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      q.queryExecution.sparkPlan.toString)
    assert(q.count() === 400L)
  }
  test("metadata tables: t$history and t$files, pinnable with VERSION AS OF") {
    val t = s"$warehouse/meta"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)   // v1
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v").coalesce(1), t)   // v2
    spark.sql("DELETE FROM graft_snap.meta WHERE k = 1")                       // v3
    val hist = spark.sql("SELECT version, op, n_files FROM graft_snap.`meta$history`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.map(_._1).toSeq == Seq(3L, 2L, 1L), "newest first")
    assert(hist.head._2 == "merge", hist.head._2) // CoW delete = a merge commit
    // files of the LATEST version; every row carries real on-disk bytes
    val files = spark.sql("SELECT file, bytes FROM graft_snap.`meta$files`")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.nonEmpty && files.forall(_._2 > 0))
    // pinned: v1 had exactly one file; history AS OF 2 hides v3
    assert(spark.sql("SELECT count(*) FROM graft_snap.`meta$files` VERSION AS OF 1")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT max(version) FROM graft_snap.`meta$history` VERSION AS OF 2")
      .head().getLong(0) == 2L)
    // unknown suffix and missing base refuse loudly
    val e1 = intercept[Exception](spark.sql("SELECT * FROM graft_snap.`meta$bogus`"))
    assert(e1.getMessage.contains("$history"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql("SELECT * FROM graft_snap.`nope$files`"))
    assert(e2.getMessage.toLowerCase.contains("not"), e2.getMessage)
  }
  test("aggregate pushdown: COUNT/MIN/MAX answer from footers, zero row groups read") {
    val t = s"$warehouse/aggpd"
    SnapshotTable.commitAppend(
      (1 to 3000).map(i => (i.toLong, i.toDouble / 4, s"s$i")).toDF("k", "x", "s")
        .repartition(3), t)
    val before = RowGroups.read.get()
    val r = spark.sql(
      "SELECT count(*), count(s), min(k), max(k), min(x), max(x) FROM graft_snap.aggpd")
      .head()
    assert(r.getLong(0) == 3000L && r.getLong(1) == 3000L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 3000L)
    assert(r.getDouble(4) == 0.25 && r.getDouble(5) == 750.0)
    assert(RowGroups.read.get() == before,
      "a pushed footer aggregation must not open any row group")

    // schema evolution: files predating a column count it as all-null
    SnapshotTable.commitAppend(
      Seq((9001L, 2000.5, "z", 7L)).toDF("k", "x", "s", "w").coalesce(1), t)
    val r2 = spark.sql(
      "SELECT count(*), count(w), max(x) FROM graft_snap.aggpd").head()
    assert(r2.getLong(0) == 3001L && r2.getLong(1) == 1L)
    assert(r2.getDouble(2) == 2000.5)
    assert(RowGroups.read.get() == before, "still footer-only")

    // refusal paths stay CORRECT (full scan): WHERE, GROUP BY, string min
    assert(spark.sql("SELECT count(*) FROM graft_snap.aggpd WHERE k <= 10")
      .head().getLong(0) == 10L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_snap.aggpd GROUP BY k % 2 ORDER BY 1 LIMIT 1")
      .head().getLong(0) == 1500L)
    assert(spark.sql("SELECT min(s) FROM graft_snap.aggpd").head().getString(0) == "s1")
    assert(RowGroups.read.get() > before, "fallbacks really scanned")

    // a deletion vector makes footer counts stale -> pushdown refuses
    val tdv = s"$warehouse/aggdv"
    SnapshotTable.commitAppend(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1), tdv)
    SnapshotTable.deleteWhereMor(spark, tdv, col("k") <= 40L)
    assert(spark.sql("SELECT count(*), max(k) FROM graft_snap.aggdv").head()
      .toSeq == Seq(60L, 100L))
  }
  test("ALTER TABLE ADD COLUMNS: metadata-only evolution, null-filled history") {
    val t = s"$warehouse/alt"
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("k", "v").coalesce(1), t)   // v1
    spark.sql("ALTER TABLE graft_snap.alt ADD COLUMNS (w BIGINT, note STRING)") // v2
    assert(SnapshotTable.snapshot(t, 2L).op == "add-columns")
    // existing rows null-fill; inserts can now target the new columns
    val r = spark.sql("SELECT k, v, w, note FROM graft_snap.alt").head()
    assert(r.getLong(0) == 1L && r.isNullAt(2) && r.isNullAt(3))
    spark.sql("INSERT INTO graft_snap.alt VALUES (2, 'b', 9, 'n')")
    assert(spark.sql("SELECT sum(w) FROM graft_snap.alt").head().getLong(0) == 9L)
    // time travel: the pre-ALTER version has the old schema
    assert(spark.sql("SELECT * FROM graft_snap.alt VERSION AS OF 1").schema
      .fieldNames.toSeq == Seq("k", "v"))
    // refusals: duplicate, non-nullable, drop
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_snap.alt ADD COLUMNS (K BIGINT)"))
    assert(e1.getMessage.toLowerCase.contains("exists"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_snap.alt ADD COLUMNS (z BIGINT NOT NULL)"))
    assert(e2.getMessage.toLowerCase.contains("nullable"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_snap.alt DROP COLUMN v"))
    assert(e3.getMessage.contains("ADD COLUMNS"), e3.getMessage)
  }
  test("runtime file pruning: a selective dim join drops files before any task") {
    val t = s"$warehouse/rtp"
    SnapshotTable.commitReplace(
      (1 to 4000).map(i => (i.toLong, i.toLong * 3)).toDF("k", "m").repartition(4), t)
    // 4 k-clustered files (m = 3k keeps the curve monotone in k), with
    // zone stats on both columns
    SnapshotTable.compactZOrder(spark, t, "k", "m", numFiles = 4)
    SnapshotTable.commitAppend(
      Seq((5L, "hit"), (17L, "hit"), (23L, "miss")).toDF("k", "tag").coalesce(1),
      s"$warehouse/rtpdim")
    val before = GraftSnapshotScan.filesPrunedRuntime.get()
    val q = spark.sql(
      """SELECT b.k, b.m FROM graft_snap.rtp b
        |JOIN graft_snap.rtpdim d ON b.k = d.k WHERE d.tag = 'hit'""".stripMargin)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((5L, 15L), (17L, 51L)))
    assert(GraftSnapshotScan.filesPrunedRuntime.get() - before >= 3,
      "keys 5 and 17 live in one of four range-clustered files — the other " +
        "three must prune at runtime")
  }
}






