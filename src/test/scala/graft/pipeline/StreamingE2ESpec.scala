package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** One delivered record; an at-least-once source redelivers it whole. */
final case class Delivered(id: Long, userId: Long, tsUs: Long, value: Long)

/** End-to-end streaming composition: raw events with redeliveries →
  * first-seen dedup across micro-batches → one SnapshotTable commit per
  * micro-batch → incremental CDC consumption.
  *
  * Each stage's guarantee is proven in its own spec; this one proves they
  * COMPOSE: the record set a consumer rebuilds purely from change batches
  * is exactly the record set the batch computation produces, with every
  * micro-batch a committed, time-travelable version.
  */
class StreamingE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream -> dedup -> snapshot commits -> CDC consumer equals the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val src = Files.createTempDirectory("graft_e2e_src").toString
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
    val q = firsts.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) SnapshotTable.commitAppend(batch, src)
        ()
      }
      .start()
    try {
      // a consumer that rebuilds the table from its change windows only
      val replica = scala.collection.mutable.Map.empty[Delivered, Int]
      def consume(consumer: String): Int = {
        var windows = 0
        var more = true
        while (more) SnapshotTable.pollChanges(spark, src, consumer) match {
          case Some(b) =>
            b.df.as[(Long, Long, Long, Long, String)].collect().foreach {
              case (id, u, ts, v, change) =>
                val d = Delivered(id, u, ts, v)
                replica(d) = replica.getOrElse(d, 0) + (if (change == "insert") 1 else -1)
            }
            assert(b.ack()); windows += 1
          case None => more = false
        }
        windows
      }
      delivered.grouped(12).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable(); consume("replica")
      }

      val batch = spark.createDataset(delivered).dropDuplicates("id").collect().toSet
      assert(batch == unique.toSet)
      assert(replica.filter(_._2 != 0).toMap == batch.map(_ -> 1).toMap)
      // no redelivery reached a commit
      assert(SnapshotTable.read(spark, src).count() == unique.size)

      // every micro-batch was ONE committed version; a second consumer
      // starting now bootstraps the same record set in one window
      replica.clear()
      assert(consume("replica2") == 1)
      assert(replica.filter(_._2 != 0).toMap == batch.map(_ -> 1).toMap)
      assert(SnapshotTable.versions(src).size <= (delivered.size + 11) / 12,
        "at most one commit per micro-batch")
    } finally q.stop()
  }
}
