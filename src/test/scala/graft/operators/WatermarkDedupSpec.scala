package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The engine-native bounded-state streaming dedup
  * (`dropDuplicatesWithinWatermark`): state is evicted with the watermark,
  * so the dedup horizon — not the stream length — bounds memory. */
class WatermarkDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  test("duplicates within the watermark horizon are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val deduped = mem.toDF().toDF("event_id", "ts", "tag")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup_out").start()
    try {
      mem.addData((1L, ts(0), "a"), (1L, ts(5), "a-dup"), (2L, ts(6), "b"))
      q.processAllAvailable()
      mem.addData((1L, ts(10), "a-dup-2"))
      q.processAllAvailable()
      val tags = spark.table("wm_dedup_out").select("tag").as[String].collect().toSet
      assert(tags == Set("a", "b"))
    } finally q.stop()
  }
}
