package graft.operators

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("firstSeen drops duplicate keys within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val deduped = StreamingDedup.firstSeen(mem.toDS())(_._1)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((1L, "a"), (1L, "a-dup"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((1L, "a-later"), (3L, "c"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").as[(Long, String)].collect().toSet
      assert(out == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("each key's emitted row comes from the first micro-batch that holds the key") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // (key, seq): seq is unique, so an emitted row names its delivery
    val rows = rnd.shuffle((0 until 300).map(i => (rnd.nextInt(40).toLong, i.toLong)))
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingDedup.firstSeen(mem.toDS())(_._1).writeStream.outputMode("append")
      .format("memory").queryName("dedup_slices").start()
    try {
      val batches = ArrayBuffer[Seq[(Long, Long)]]()
      var rest = rows
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(50)
        batches += rest.take(n)
        mem.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val out = spark.table("dedup_slices").as[(Long, Long)].collect().toSeq
      assert(out.map(_._1).sorted == rows.map(_._1).distinct.sorted, "one row per key")
      for ((key, seq) <- out) {
        val first = batches.find(_.exists(_._1 == key)).get
        assert(first.contains((key, seq)), s"key $key emitted seq $seq outside its first batch")
      }
    } finally q.stop()
  }

  test("on a batch Dataset, firstSeen keeps exactly one of each key's rows") {
    val rows = (0 until 200).map(i => ((i % 17).toLong, s"r$i"))
    val out = StreamingDedup.firstSeen(rows.toDS().repartition(5))(_._1).collect().toSeq
    assert(out.map(_._1).sorted == (0L until 17L))
    assert(out.forall(rows.contains))
  }

  test("first-seen state survives a restart from the same checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val emitted = ArrayBuffer[(Long, String)]()
    def start() = StreamingDedup.firstSeen(mem.toDS())(_._1).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[(Long, String)], _: Long) =>
        emitted.synchronized { emitted ++= b.collect() }; ()
      }
      .start()
    val q1 = start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData((1L, "a-after-restart"), (3L, "c"))
      q2.processAllAvailable()
      mem.addData((2L, "b-after-restart"), (3L, "c-again"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(emitted.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(emitted.size == 3, s"a key was emitted twice: $emitted")
  }
}
