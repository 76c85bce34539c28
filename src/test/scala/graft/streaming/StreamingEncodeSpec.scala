package graft.streaming

import graft.pipeline.{EncodeJob, GraftPipeline, SparkTestBase, TokenRow, TokenTables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class StreamingEncodeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = GraftPipeline.Config(numContexts = 16, numBins = 8, maxBlockRows = 128)

  test("micro-batch streaming encode: all batches decode back losslessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    // the bootstrap corpus starts the table (tables + every bin); the stream
    // appends the rest through the DSv2 sink, one snapshot per epoch
    val corpus = TokenTables.synthetic(spark, 400L, seed = 11L).collect()
    EncodeJob.run(spark.createDataset(corpus.take(150).toSeq), outDir, cfg)

    val input = MemoryStream[TokenRow]
    val query = input.toDS().writeStream.format("graft")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(corpus.slice(150, 275).toSeq)
      query.processAllAvailable()
      input.addData(corpus.slice(275, 400).toSeq)
      query.processAllAvailable()
    } finally query.stop()

    val decoded = spark.read.format("graft").load(outDir).as[TokenRow]
    assert(GraftPipeline.verify(spark.createDataset(corpus.toSeq), decoded) == 0L)
  }

  test("streaming dedup keeps the first arrival of each content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "doc_id", "text")
    val query = StreamingEncode
      .streamingDedup(stream, lateness = "10 minutes")
      .select("doc_id", "text")
      .writeStream
      .format("memory")
      .queryName("sdedup")
      .outputMode("append")
      .start()
    try {
      val t = (s: String) => java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2026-01-01 10:00:00"), 1L, "alpha beta"),
        (t("2026-01-01 10:00:05"), 2L, "gamma"),
        (t("2026-01-01 10:00:10"), 3L, "alpha beta") // dup of doc 1
      )
      query.processAllAvailable()
      input.addData(
        (t("2026-01-01 10:01:00"), 4L, "gamma"), // dup of doc 2, within watermark
        (t("2026-01-01 10:01:05"), 5L, "delta")
      )
      query.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM sdedup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 5L), s"kept $kept")
    } finally query.stop()
  }

  test("windowed token counts with watermark aggregate per source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Int)]
    val stream = input.toDF().toDF("ts", "source", "n_tok")
    val counts = StreamingEncode.windowedTokenCounts(stream, "1 minute", "2 minutes")
    val query = counts.writeStream
      .format("memory")
      .queryName("wtc")
      .outputMode("update")
      .start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:10")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:50")
      val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:01:20")
      input.addData((t0, "web", 100), (t1, "web", 50), (t2, "code", 7))
      query.processAllAvailable()
      val rows = spark.sql("SELECT source, n_docs, n_tokens FROM wtc ORDER BY source").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("web", 2L, 150L), ("code", 1L, 7L)))
    } finally query.stop()
  }

  test("flatMapGroupsWithState running stats accumulate across batches and suggest codecs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TokenRow]
    val query = StreamingEncode
      .runningSourceStats(input.toDS())
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("srcstats")
      .start()
    try {
      // rle-shaped source: long constant runs; zipfish source: wide values
      input.addData(
        TokenRow("a1", Array.fill(64)(7), 64, "rleish"),
        TokenRow("b1", Array.tabulate(64)(i => 1 << (i % 28)), 64, "widish")
      )
      query.processAllAvailable()
      input.addData(
        TokenRow("a2", Array.fill(64)(9), 64, "rleish"),
        TokenRow("b2", Array.tabulate(64)(i => (1 << (i % 28)) + 1), 64, "widish")
      )
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM srcstats").collect()
      // update mode: one row per source per batch; the LAST row per source
      // carries the accumulated state
      val last = rows.groupBy(_.getAs[String]("source")).map { case (k, v) =>
        k -> v.maxBy(_.getAs[Long]("n_docs"))
      }
      assert(last("rleish").getAs[Long]("n_docs") == 2L) // state crossed batches
      assert(last("rleish").getAs[Long]("n_tokens") == 128L)
      assert(last("rleish").getAs[Long]("runs") == 2L)
      assert(last("rleish").getAs[String]("suggested_codec") == "rle")
      assert(last("widish").getAs[String]("suggested_codec") == "hybrid")
    } finally query.stop()
  }
}
