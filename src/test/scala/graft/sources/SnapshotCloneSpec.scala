package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SnapshotCloneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_clone").toString

  test("clone reproduces the pinned version and evolves independently") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq(1, 2).toDF("x"), src)
    SnapshotTable.commitAppend(Seq(3).toDF("x"), src)
    SnapshotTable.commitAppend(Seq(4).toDF("x"), src) // v3, NOT in the clone

    val v = SnapshotTable.cloneAt(src, 2L, dst)
    assert(v == 1L)
    assert(SnapshotTable.read(spark, dst).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))

    // divergence: each side appends without affecting the other
    SnapshotTable.commitAppend(Seq(100).toDF("x"), dst)
    SnapshotTable.commitAppend(Seq(5).toDF("x"), src)
    assert(SnapshotTable.read(spark, dst).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 100))
    assert(SnapshotTable.read(spark, src).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 5))

    // schema carried: the clone knows its columns without opening footers
    assert(SnapshotTable.snapshot(dst, 1L).meta.get("schema").exists(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.contains("x")))
  }

  test("vacuuming the source cannot break the clone (hard links pin inodes)") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq(1, 2, 3).toDF("x"), src)
    SnapshotTable.cloneAt(src, 1L, dst)

    // source rewrites everything, then vacuums history down to the rewrite:
    // the original data dirs are DELETED from the source's directory tree
    SnapshotTable.commitReplace(Seq(9).toDF("x"), src)
    val (droppedManifests, deletedFiles) = SnapshotTable.vacuum(src, keepVersions = 1)
    assert(droppedManifests == 1 && deletedFiles > 0)

    // the clone still reads its full pinned content — its directory
    // entries kept the shared inodes alive through the source's unlink
    assert(SnapshotTable.read(spark, dst).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // and vice versa: vacuuming the clone never touches the source
    SnapshotTable.commitReplace(Seq(7).toDF("x"), dst)
    SnapshotTable.vacuum(dst, keepVersions = 1)
    assert(SnapshotTable.read(spark, src).as[Int].collect().toSeq == Seq(9))
  }

  test("zone stats carry; non-empty target rejected") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq((1, 10.0), (2, 20.0)).toDF("x", "z"), src)
    SnapshotTable.compactZOrder(spark, src, "x", "z", numFiles = 1)

    SnapshotTable.cloneAt(src, 2L, dst)
    val meta = SnapshotTable.snapshot(dst, 1L).meta
    assert(meta.get("zonecols").contains("x,z"))
    assert(meta.keys.exists(_.startsWith("zone:z:")), "zone stats should carry")
    assert(meta("op") == "clone")

    intercept[IllegalArgumentException] {
      SnapshotTable.cloneAt(src, 1L, dst) // dst already a table
    }
  }

  test("cloning a vacuumed version fails before the target becomes a table") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq(1).toDF("x"), src)
    SnapshotTable.commitReplace(Seq(2).toDF("x"), src)
    SnapshotTable.vacuum(src, keepVersions = 1)
    intercept[java.nio.file.NoSuchFileException](SnapshotTable.cloneAt(src, 1L, dst))
    assert(!Files.exists(java.nio.file.Paths.get(dst)))
    // the retained version still clones into the same target
    assert(SnapshotTable.cloneAt(src, 2L, dst) == 1L)
    assert(SnapshotTable.read(spark, dst).as[Int].collect().toSeq == Seq(2))
  }

  test("a clone starts its own history at v1 and names its source") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    (1 to 3).foreach(i => SnapshotTable.commitAppend(Seq(i).toDF("x"), src))
    SnapshotTable.cloneAt(src, 2L, dst)
    assert(SnapshotTable.versions(dst) == Seq(1L))
    val meta = SnapshotTable.snapshot(dst, 1L).meta
    assert(meta.get("cloned_from").contains(
      s"${java.nio.file.Paths.get(src).toAbsolutePath}@v2"))
    assert(SnapshotTable.snapshot(dst, 1L).files == SnapshotTable.snapshot(src, 2L).files,
      "same relative file names, now linked under the clone")
    // the source's later history is not the clone's
    assert(SnapshotTable.commitAppend(Seq(9).toDF("x"), dst) == 2L)
    assert(SnapshotTable.read(spark, dst).as[Int].collect().sorted.toSeq == Seq(1, 2, 9))
  }

  test("a clone of a schema-evolved version null-fills its older files") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq(1L).toDF("k"), src)
    SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v"), src)
    SnapshotTable.cloneAt(src, 2L, dst)
    val got = SnapshotTable.read(spark, dst).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((1L, None), (2L, Some("b"))))
  }

  test("a clone stamps its own commit time, so TIMESTAMP AS OF resolves on it") {
    val src = tmpTable(); val dst = tmpTable() + "/t"
    SnapshotTable.commitAppend(Seq(1).toDF("x"), src)
    val srcTs = SnapshotTable.commitTsOf(src, 1L).get
    Thread.sleep(20)
    val before = System.currentTimeMillis()
    SnapshotTable.cloneAt(src, 1L, dst)
    assert(SnapshotTable.commitTsOf(dst, 1L).exists(ts => ts >= before && ts > srcTs))
  }
}
