package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{EncodeJob, Maintenance, SparkTestBase, TokenTables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The DSv2 surface over a COMPACTED dir: the live-file resolver must keep
  * every read shape (full scan, point read, metadata aggregate, snapshot
  * travel, streaming catch-up) bit-identical to the pre-compaction dir, and
  * the re-manifested claims must keep point-read planning O(hit-bins) — on
  * the rewritten files, never the tombstoned ones.
  */
class MaintenancePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
  lazy val input = TokenTables.synthetic(spark, 700L, seed = 23L).cache()

  // three incremental commits, then a full compaction + vacuum: the dir's
  // only data files are the compacted generation
  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-src-maint").toString
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(3, 4, 5)))
    EncodeJob.run(input, d, cfg)
    val res = Maintenance.compact(spark, d, Long.MaxValue / 2, Long.MaxValue / 2)
    assert(res.isDefined)
    Maintenance.vacuum(spark, d, olderThanMs = 0L)
    d
  }

  test("batch scan over the compacted dir equals the source corpus") {
    import spark.implicits._
    val decoded = spark.read.format("graft").load(dir).as[graft.pipeline.TokenRow]
    assert(graft.pipeline.GraftPipeline.verify(input, decoded) == 0L)
  }

  test("point read plans only manifest-claimed compacted files") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val someId = input.head().doc_id
    val bin = GraftDataSource.binOf(someId, cfg.numBins, cfg.salt)

    val live = GraftMeta.listBlockFiles(dir, conf)
    assert(live.forall(_._1.contains("/_compacted/c0/")), s"live set not fully compacted: ${live.mkString(",")}")

    val planned = GraftScan.planFiles(dir, live, Some(Set(bin)), conf)
    assert(planned.nonEmpty)
    // every planned file carries EXACT claims from the post-compaction
    // manifest rows (no UnknownBins fallback, no footer reads needed)
    assert(planned.forall(_._2.isInstanceOf[GraftScan.ExactBins]), s"plan fell back: ${planned.mkString(",")}")
    assert(planned.forall(_._1.contains("/_compacted/c0/")))

    // and the read itself returns the right row
    val row = spark.read
      .format("graft")
      .load(dir)
      .where($"doc_id" === someId)
      .select($"doc_id", $"n_tok")
      .collect()
    assert(row.length == 1 && row.head.getString(0) == someId)
  }

  test("manifest numRows stays exact after re-manifesting (no double count)") {
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf))
    assert(idx.isDefined)
    assert(idx.get.numRows.contains(input.count()))
  }

  test("metadata aggregate and snapshot travel match over the compacted dir") {
    import spark.implicits._
    val expect = input
      .groupBy($"source")
      .agg(sum($"n_tok").cast("long").as("t"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    val got = spark.read
      .format("graft")
      .load(dir)
      .groupBy($"source")
      .agg(sum($"n_tok").cast("long").as("t"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    assert(got == expect)

    // snapshot 0 committed bins {0,1,2}; compaction must not change its view
    val conf = spark.sparkContext.hadoopConfiguration
    val snap0Bins = EncodeJob.loadSnapshots(dir, conf).head._2.toSet
    val (nBins, salt) = (cfg.numBins, cfg.salt) // locals: the udf closure must not drag the suite in
    val expectSnap0 = input
      .where(
        udf((id: String) => snap0Bins.contains(GraftDataSource.binOf(id, nBins, salt)))
          .apply($"doc_id")
      )
      .count()
    val gotSnap0 = spark.read.format("graft").option("snapshot", "0").load(dir).count()
    assert(gotSnap0 == expectSnap0 && gotSnap0 > 0 && gotSnap0 < input.count())
  }

  test("streaming catch-up over a compacted dir replays the full corpus") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-maint-sink").toString
    val ckpt = Files.createTempDirectory("graft-maint-ckpt").toString
    val q = spark.readStream
      .format("graft")
      .load(dir)
      .writeStream
      .format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val got = spark.read.parquet(s"$outDir/data")
    assert(got.count() == input.count())
  }
}
