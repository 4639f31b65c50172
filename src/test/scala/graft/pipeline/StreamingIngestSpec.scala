package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.RorSchema

class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rec(id: String, parent: Option[String]): String = {
    val rels = parent.map(p => s"""{"id": "$p", "label": "l", "type": "parent"}""").getOrElse("")
    s"""{"id": "$id", "status": "active", "relationships": [$rels]}"""
  }

  test("newly landed dump files are enriched incrementally via foreachBatch") {
    val base = Files.createTempDirectory("stream_ingest").toString
    val watch = s"$base/in"; Files.createDirectories(Paths.get(watch))
    val q = StreamingIngest.start(spark, RorSchema.schema,
      watch, s"$base/staging", s"$base/ckpt")
    try {
      Files.writeString(Paths.get(s"$watch/dump1.jsonl"),
        Seq(rec("r1", None), rec("c1", Some("r1"))).mkString("\n"))
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$watch/dump2.jsonl"),
        Seq(rec("r2", None), rec("g2", Some("c2")), rec("c2", Some("r2"))).mkString("\n"))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$base/staging")
        .select("id", "ultimate_parent").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map(
        "r1" -> "r1", "c1" -> "r1",
        "r2" -> "r2", "c2" -> "r2", "g2" -> "r2"))
    } finally q.stop()
  }

  test("a restart from the checkpoint ingests only new files, each batch in its own partition") {
    val base = Files.createTempDirectory("stream_ingest_restart").toString
    val watch = s"$base/in"; Files.createDirectories(Paths.get(watch))
    def start() = StreamingIngest.start(spark, RorSchema.schema,
      watch, s"$base/staging", s"$base/ckpt")
    val q1 = start()
    try {
      Files.writeString(Paths.get(s"$watch/dump1.jsonl"),
        Seq(rec("r1", None), rec("c1", Some("r1"))).mkString("\n"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      Files.writeString(Paths.get(s"$watch/dump2.jsonl"),
        Seq(rec("r3", None), rec("c3", Some("r3"))).mkString("\n"))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(s"$base/staging")
      .select("id", "ultimate_parent", "batch_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(out.map(_._1).sorted == Seq("c1", "c3", "r1", "r3"), "dump1 must not be re-ingested")
    val batchOf = out.map(r => r._1 -> r._3).toMap
    assert(batchOf("r1") == batchOf("c1") && batchOf("r3") == batchOf("c3"))
    assert(batchOf("r1") != batchOf("r3"))
    assert(out.forall(r => r._2 == (if (r._1.endsWith("1")) "r1" else "r3")))
  }

  test("a dump with a duplicate id stops the stream and stages nothing for it") {
    val base = Files.createTempDirectory("stream_ingest_dup").toString
    val watch = s"$base/in"; Files.createDirectories(Paths.get(watch))
    val q = StreamingIngest.start(spark, RorSchema.schema,
      watch, s"$base/staging", s"$base/ckpt")
    try {
      Files.writeString(Paths.get(s"$watch/dump1.jsonl"),
        Seq(rec("r1", None), rec("r1", None)).mkString("\n"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.getMessage != null && c.getMessage.contains("Duplicate ID(s): r1")), e)
      assert(!q.isActive)
      assert(!Files.exists(Paths.get(s"$base/staging")) ||
        Files.list(Paths.get(s"$base/staging")).count() == 0L)
    } finally q.stop()
  }
}
