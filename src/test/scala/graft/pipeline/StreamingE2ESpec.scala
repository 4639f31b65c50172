package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** One delivered record; an at-least-once source redelivers it whole. */
final case class Delivered(id: Long, userId: Long, tsUs: Long, value: Long)

/** End-to-end streaming composition: raw events with redeliveries →
  * first-seen dedup across micro-batches → exactly-once micro-batch
  * commits into a SnapshotTable → incremental CDC consumption into a
  * downstream replica.
  *
  * Each stage's guarantee is proven in its own spec; this one proves they
  * COMPOSE: the replica a consumer builds purely from change batches is
  * exactly the record set the batch computation produces, with every
  * intermediate a committed, time-travelable version.
  */
class StreamingE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream -> dedup -> snapshot commits -> CDC replica equals the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val src = Files.createTempDirectory("graft_e2e_src").toString
    val dst = Files.createTempDirectory("graft_e2e_dst").toString
    val ckpt = Files.createTempDirectory("graft_e2e_ckpt").toString

    val rnd = new scala.util.Random(31)
    val unique = (1 to 50).map { i =>
      Delivered(i.toLong, rnd.nextInt(3).toLong, i * 1000000L + rnd.nextInt(1000000),
        rnd.nextInt(100).toLong)
    }
    // every record once, some two or three times: the shuffle puts
    // redeliveries both inside one micro-batch and in later ones
    val delivered = rnd.shuffle(
      unique ++ unique.filter(_.id % 3 == 0) ++ unique.filter(_.id % 7 == 0))

    val mem = MemoryStream[Delivered]
    // a redelivery is the same record whole, so Spark's own keyed
    // dropDuplicates (state across micro-batches) is the first-seen dedup
    val firsts = mem.toDS().dropDuplicates("id")
    val q = SnapshotTable.startStream(firsts.toDF(), src, ckpt, "e2e_firsts")
    try {
      def syncReplica(): Unit =
        SnapshotTable.pollChanges(spark, src, "replica").foreach { b =>
          SnapshotTable.applyChanges(spark, dst, b.df, Seq("id"))
          assert(b.ack())
        }
      delivered.grouped(12).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable(); syncReplica()
      }

      // the replica, built ONLY from change batches, equals the batch answer
      val replica = SnapshotTable.read(spark, dst).as[Delivered].collect().toSet
      val batch = spark.createDataset(delivered).dropDuplicates("id").collect().toSet
      assert(batch == unique.toSet)
      assert(replica == batch)
      // no redelivery reached a commit (the keyed replica would hide one)
      assert(SnapshotTable.read(spark, src).count() == unique.size)

      // every micro-batch was ONE committed version; replaying the CDF
      // from scratch (a second consumer) reconstructs the same replica
      val dst2 = Files.createTempDirectory("graft_e2e_dst2").toString
      var more = true
      while (more) SnapshotTable.pollChanges(spark, src, "replica2") match {
        case Some(b) =>
          SnapshotTable.applyChanges(spark, dst2, b.df, Seq("id")); assert(b.ack())
        case None => more = false
      }
      val replica2 = SnapshotTable.read(spark, dst2).as[Delivered].collect().toSet
      assert(replica2 == batch)
    } finally q.stop()
  }
}
