package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{TestJobs, TestSpark}

class RorPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rec(id: String, rels: String, name: String): String =
    s"""{"id": "$id", "status": "active",
       | "names": [{"value": "$name", "types": ["label"], "lang": "en"}],
       | "links": [{"type": "website", "value": "https://example.org/$id"}],
       | "types": ["education"], "domains": ["$id.example.org"],
       | "established": 1971,
       | "admin": {"created": {"date": "2020-01-01", "schema_version": "2.0"},
       |           "last_modified": {"date": "2024-06-01", "schema_version": "2.0"}},
       | "locations": [{"geonames_id": 42, "geonames_details":
       |     {"country_name": "Testland", "country_code": "TL",
       |      "lat": 1.5, "lng": 2.5, "name": "Testville"}}],
       | "relationships": [$rels],
       | "external_ids": [{"type": "isni", "all": ["0000"], "preferred": "0000"}]}"""
      .stripMargin.replaceAll("\n", " ")

  private def parentRel(id: String, t: String = "parent") =
    s"""{"id": "$id", "label": "l", "type": "$t"}"""

  private def writeDump(dir: String, recs: Seq[String]): String = {
    val p = Paths.get(dir, "dump.json")
    Files.createDirectories(p.getParent)
    Files.writeString(p, recs.mkString("[\n", ",\n", "\n]"))
    p.toString
  }

  private val fullRecs = Seq(
    rec("r1", "", "Root Org"),
    rec("c1", parentRel("r1") + ", " + s"""{"id": "g1", "label": "l", "type": "child"}""", "Child Org"),
    rec("g1", parentRel("c1", "Parent"), "Grandchild Org"),           // case-insensitive
    rec("m1", parentRel("c1") + ", " + parentRel("r1"), "Multi Org"), // last parent wins -> r1
    rec("cy1", parentRel("cy2"), "Cycle A"),
    rec("cy2", parentRel("cy1"), "Cycle B"))

  test("end-to-end run: enrichment, gates, promote, snapshot, report") {
    val wh = Files.createTempDirectory("ror_wh").toString
    val dump = writeDump(s"$wh/in", fullRecs)
    val cfg = RorPipeline.Config(dump, wh, runDate = LocalDate.of(2026, 8, 12))
    val report = RorPipeline.run(spark, cfg)

    assert(report.records == 6)
    assert(report.cappedIds == Seq("cy1", "cy2"))
    assert(report.cappedCount == 2)
    assert(report.gates.forall(_.passed))

    val prod = spark.read.parquet(s"$wh/prod/ror")
    val up = prod.select("id", "ultimate_parent").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(up == Map(
      "r1" -> "r1", "c1" -> "r1", "g1" -> "r1", "m1" -> "r1",
      "cy1" -> "cy1", "cy2" -> "cy2"))

    val backup = spark.read.parquet(s"$wh/backups/ror_20260812")
    assert(backup.count() == 6)
    assert(Files.exists(Paths.get(s"$wh/prod/ror/_column_descriptions.json")))

    // nested fields survive the schema'd load
    val row = prod.filter(prod("id") === "r1")
      .selectExpr("names[0].value", "admin.created.date", "locations[0].geonames_details.lat")
      .head()
    assert(row.getString(0) == "Root Org")
    assert(row.getDate(1).toString == "2020-01-01")
    assert(row.getDouble(2) == 1.5)
  }

  test("snapshotMode: versioned promote, time-travelable history, gates against latest") {
    import graft.sources.SnapshotTable
    val wh = Files.createTempDirectory("ror_wh_snap").toString
    val prodDir = s"$wh/prod/ror"
    // run 1: 6 records -> v1
    val r1 = RorPipeline.run(spark,
      RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh, snapshotMode = true))
    assert(r1.backupPath === s"$prodDir@v1")
    assert(SnapshotTable.read(spark, prodDir).count() === 6)
    // run 2: same records + one more -> v2; v1 stays readable (the backup)
    val r2 = RorPipeline.run(spark,
      RorPipeline.Config(writeDump(s"$wh/in2", fullRecs :+ rec("x1", "", "Extra Org")),
        wh, snapshotMode = true))
    assert(r2.backupPath === s"$prodDir@v2")
    assert(SnapshotTable.read(spark, prodDir).count() === 7)
    assert(SnapshotTable.readVersion(spark, prodDir, 1).count() === 6)
    // A2 gate in snapshot mode reads the LATEST version: shrinking blocks
    val err = intercept[IllegalStateException] {
      RorPipeline.run(spark,
        RorPipeline.Config(writeDump(s"$wh/in3", fullRecs.take(2)), wh, snapshotMode = true))
    }
    assert(err.getMessage.contains("monotonic"))
    assert(SnapshotTable.latestVersion(prodDir) === Some(2L)) // prod untouched
  }

  test("shrinking dataset blocks promotion (A2) and leaves prod intact") {
    val wh = Files.createTempDirectory("ror_wh2").toString
    RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh))
    val small = writeDump(s"$wh/in2", fullRecs.take(2))
    val ex = intercept[IllegalStateException] {
      RorPipeline.run(spark, RorPipeline.Config(small, wh))
    }
    assert(ex.getMessage.contains("monotonic_count"))
    assert(spark.read.parquet(s"$wh/prod/ror").count() == 6)
  }

  test("duplicate id aborts before any output (G3)") {
    val wh = Files.createTempDirectory("ror_wh3").toString
    val dump = writeDump(s"$wh/in", fullRecs :+ rec("r1", "", "Dup Root"))
    val ex = intercept[IllegalStateException] {
      RorPipeline.run(spark, RorPipeline.Config(dump, wh))
    }
    assert(ex.getMessage.contains("Duplicate ID"))
    assert(!Files.exists(Paths.get(s"$wh/prod/ror")))
  }

  test("zip dump: expansion, schema-file exclusion, ambiguity abort (S2/S3)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    def writeZip(path: String, members: (String, String)*): String = {
      Files.createDirectories(Paths.get(path).getParent)
      val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(Paths.get(path)))
      members.foreach { case (name, content) =>
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes("UTF-8")); zos.closeEntry()
      }
      zos.close(); path
    }
    val wh = Files.createTempDirectory("ror_zip").toString
    val body = fullRecs.take(3).mkString("[\n", ",\n", "\n]")
    val good = writeZip(s"$wh/in/dump.zip",
      "v1.55-data.json" -> body, "v1.55-schema.json" -> "{}", "README.txt" -> "x")
    val report = RorPipeline.run(spark, RorPipeline.Config(good, wh))
    assert(report.records == 3)

    val wh2 = Files.createTempDirectory("ror_zip2").toString
    val ambiguous = writeZip(s"$wh2/in/dump.zip",
      "a-data.json" -> body, "b-data.json" -> body)
    val ex = intercept[IllegalArgumentException] {
      RorPipeline.run(spark, RorPipeline.Config(ambiguous, wh2))
    }
    assert(ex.getMessage.contains("exactly one data file"))
  }

  test("mass-cycle graph: K6 id sample is bounded, count carries the total") {
    // one giant cycle — every org is capped; the report must NOT pull every
    // id to the driver, only a sorted bounded sample + the full count
    val n = RorPipeline.cappedIdSample + 50
    val ids = (1 to n).map(i => f"z$i%04d")
    val recs = ids.zipWithIndex.map { case (id, i) =>
      rec(id, parentRel(ids((i + 1) % n)), s"Org $id")
    }
    val wh = Files.createTempDirectory("ror_wh_cycle").toString
    val report = RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in", recs), wh))
    assert(report.cappedCount == n)
    assert(report.cappedIds == ids.sorted.take(RorPipeline.cappedIdSample))
  }

  /** `name -> bytes` of the files in `dir` named `part-*.parquet`. */
  private def partFiles(dir: String): Map[String, Seq[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(n => n -> Files.readAllBytes(Paths.get(dir, n)).toSeq).toMap

  test("K2/K3 copy staging's part files byte for byte, under their own names") {
    val wh = Files.createTempDirectory("ror_wh_copy").toString
    RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh,
      runDate = LocalDate.of(2026, 8, 12)))
    // a second run replaces an existing production table the same way
    val r = RorPipeline.run(spark, RorPipeline.Config(
      writeDump(s"$wh/in2", fullRecs :+ rec("x1", "", "Extra Org")), wh,
      runDate = LocalDate.of(2026, 8, 19)))
    val staged = partFiles(r.stagingPath)
    assert(staged.nonEmpty)
    assert(partFiles(r.productionPath) == staged)
    assert(partFiles(r.backupPath) == staged)
    assert(spark.read.parquet(r.backupPath).count() == 7)
    // only the tables themselves are left: no copy or swap directory
    assert(Files.list(Paths.get(s"$wh/prod")).iterator().asScala.map(_.getFileName.toString).toSeq
      == Seq("ror"))
    assert(Files.list(Paths.get(s"$wh/backups")).iterator().asScala.map(_.getFileName.toString).toSet
      == Set("ror_20260812", "ror_20260819"))
  }

  test("a copy that fails part-way leaves the destination as it was") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val wh = Files.createTempDirectory("ror_wh_swap").toString
    val r = RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in", fullRecs), wh))
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val before = partFiles(r.productionPath)
    val other = Files.createTempDirectory("ror_other").toString
    spark.range(3).write.mode("overwrite").parquet(other)
    val ex = intercept[java.io.IOException] {
      RorPipeline.replaceByCopy(fs, new HPath(other), new HPath(r.productionPath)) { _ =>
        throw new java.io.IOException("disk full")
      }
    }
    assert(ex.getMessage == "disk full")
    assert(partFiles(r.productionPath) == before)
    assert(Files.exists(Paths.get(r.productionPath, "_column_descriptions.json")))
    assert(Files.list(Paths.get(s"$wh/prod")).iterator().asScala.map(_.getFileName.toString).toSeq
      == Seq("ror"))
  }

  test("a record without an id fails the refresh as unresolved and leaves prod unchanged") {
    val wh = Files.createTempDirectory("ror_wh_noid").toString
    val r = RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh))
    val before = partFiles(r.productionPath)
    val noId = rec("zz", "", "Nameless Org").replace("\"id\": \"zz\", ", "")
    assert(!noId.contains("\"id\""))
    val ex = intercept[Exception] {
      RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in2", fullRecs :+ noId), wh))
    }
    assert(ex.getMessage.contains("unresolved"))
    assert(partFiles(r.productionPath) == before)
  }

  test("a refresh releases what it checkpoints, on success and on a gate failure") {
    val sc = spark.sparkContext
    val wh = Files.createTempDirectory("ror_wh_release").toString
    val cached = sc.getPersistentRDDs.keySet
    RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh))
    assert(sc.getPersistentRDDs.keySet == cached)
    intercept[IllegalStateException] {
      RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in2", fullRecs.take(2)), wh))
    }
    assert(sc.getPersistentRDDs.keySet == cached)
  }

  /** Jobs of a refresh over an existing warehouse: the array → JSONL pass
    * (1), the G3 aggregate that also materializes the edge checkpoint (3:
    * each shuffle stage is a job of its own under adaptive execution), the
    * rollup's rounds (8 here: the two-cycle's dist doubles past maxDepth),
    * the capped count and sample (2), the enrichment broadcast and staging
    * write (2), the staging gate aggregate (3) and production's count (2).
    * K2/K3 are file copies and run none. */
  private val refreshJobs = 21

  test(s"job census: a refresh over an existing warehouse runs at most $refreshJobs jobs") {
    val wh = Files.createTempDirectory("ror_wh_jobs").toString
    RorPipeline.run(spark, RorPipeline.Config(writeDump(s"$wh/in1", fullRecs), wh))
    val dump = writeDump(s"$wh/in2", fullRecs)
    val jobs = TestJobs.count(spark)(RorPipeline.run(spark, RorPipeline.Config(dump, wh)))
    assert(jobs <= refreshJobs, s"$jobs jobs")
  }
}
