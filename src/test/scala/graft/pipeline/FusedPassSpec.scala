package graft.pipeline

import graft.pipeline.GraftPipeline.Config
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{input_file_name, min, spark_partition_id}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** A fresh [[EncodeJob.run]] computes pass 1 on the routing shuffle's map
  * side ([[GraftPipeline.route]]). Its tables must be byte-identical to the
  * standalone pass's, `buildTables(analyze(input))`, and its blocks those a
  * resume over the standalone tables writes. Every encode routes bins as
  * Spark's own `repartition(n, $"bin")` does, so the block-file layout is
  * checked against that reference.
  */
class FusedPassSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64, maxBlockValues = 4000)

  private lazy val implicits = spark.implicits
  import implicits._

  private def hash(seed: Long, i: Long): Long = TokenTables.mix64(seed * 0x9e3779b97f4a7c15L ^ i)

  /** The synthetic mixed corpus plus two monotone families (delta-friendly
    * short rows and mostly-unit-gap long rows), spread over `partitions`
    * input partitions.
    */
  private def corpus(partitions: Int): Dataset[TokenRow] = {
    val small = (0 until 40).map { r =>
      var acc = 1000000 + r % 4
      val toks = Array.tabulate(300) { i => acc += (hash(r, i) & 3L).toInt % 3 + 1; acc }
      TokenRow(f"mono-d-$r%04d", toks, toks.length, "mono-d")
    }
    val large = (0 until 8).map { r =>
      var acc = (hash(100L + r, 0L) & 0xffffL).toInt
      val toks = Array.tabulate(1500) { i =>
        val h = hash(200L + r, i)
        acc += (if ((h & 7L) != 0L) 1 else ((h >>> 3) & 63L).toInt + 1)
        acc
      }
      TokenRow(f"mono-h-$r%04d", toks, toks.length, "mono-h")
    }
    val mixed = TokenTables.synthetic(spark, 400L, seed = 5L).collect()
    spark.sparkContext.parallelize(mixed ++ small ++ large, partitions).toDS()
  }

  private def bytes(dir: String, file: String): Array[Byte] = Files.readAllBytes(Paths.get(dir, "_tables", file))

  /** (bin, block_seq) -> (partition of the writing task, codec, bits, payload hash). */
  private def blocks(dir: String): Map[(Int, Int), (String, String, Long, Int)] =
    EncodeJob
      .readBlocks(spark, dir)
      .select($"bin", $"block_seq", $"codec", $"payload_bits", $"payload", input_file_name())
      .collect()
      .map { r =>
        val task = """-p\d+-""".r.findFirstIn(r.getString(5)).get
        ((r.getInt(0), r.getInt(1)), (task, r.getString(2), r.getLong(3), java.util.Arrays.hashCode(r.getAs[Array[Byte]](4))))
      }
      .toMap

  /** Encode `input` fresh, and again through the standalone pass: tables
    * saved from `buildTables(analyze(input))`, then a run that resumes over
    * them (and so folds no histograms).
    */
  private def differential(input: Dataset[TokenRow], onlyBins: Option[Set[Int]]): Unit = {
    val fused = Files.createTempDirectory("graft-fused").toString
    val standalone = Files.createTempDirectory("graft-standalone").toString
    val run = EncodeJob.run(input, fused, cfg, onlyBins)
    EncodeJob.saveTables(spark, standalone, GraftPipeline.buildTables(GraftPipeline.analyze(input, cfg), cfg), cfg.contextModel, Some(cfg))
    assert(bytes(fused, "header.bin").sameElements(bytes(standalone, "header.bin")))
    assert(new String(bytes(fused, "meta.json")) == new String(bytes(standalone, "meta.json")))
    val again = EncodeJob.run(input, standalone, cfg, onlyBins)
    assert(again.tableHash == run.tableHash)
    assert(again.binsEncoded == run.binsEncoded)
    assert(blocks(fused) == blocks(standalone))
    val inputBins = input.select(GraftPipeline.binCol(cfg.numBins, cfg.salt)).distinct().as[Int].collect().toSet
    assert(blocks(fused).keySet.map(_._1) == onlyBins.fold(inputBins)(inputBins & _))
  }

  /** The partition Spark's own `repartition(n, $"bin")` gives each bin. */
  private def sparkPartition(n: Int, bins: Set[Int]): Map[Int, Int] =
    bins.toSeq.toDF("bin").repartition(n, $"bin").select($"bin", spark_partition_id()).as[(Int, Int)].collect().toMap

  /** (file name, bin) of every live block. */
  private def fileBins(dir: String): Set[(String, Int)] =
    EncodeJob
      .readBlocks(spark, dir)
      .select(input_file_name(), $"bin")
      .as[(String, Int)]
      .collect()
      .map { case (f, b) => (f.substring(f.lastIndexOf('/') + 1), b) }
      .toSet

  /** Each file is named by its writing task's partition (`-p<k>-`), which
    * must be Spark's partition for every bin in it at `n` partitions.
    */
  private def assertRoutedLikeSpark(n: Int, files: Set[(String, Int)]): Unit = {
    assert(files.nonEmpty)
    val want = sparkPartition(n, files.map(_._2))
    for ((f, b) <- files) {
      val k = """-p(\d+)-""".r.findFirstMatchIn(f).get.group(1).toInt
      assert(k == want(b), s"bin $b written by partition $k ($f); Spark routes it to ${want(b)} of $n")
    }
  }

  private def withAqe(on: Boolean)(f: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  for (aqe <- Seq(true, false)) {
    test(s"fused pass: tables and blocks equal the standalone pass's (AQE $aqe)") {
      withAqe(aqe)(differential(corpus(4), None))
    }

    test(s"fused pass: more than 64 map tasks merge through several partial partitions (AQE $aqe)") {
      withAqe(aqe) {
        val input = corpus(80)
        assert(GraftPipeline.route(input, cfg, None).numPartials > 1)
        differential(input, None)
      }
    }

    test(s"fused pass: onlyBins filters data rows, not the histograms (AQE $aqe)") {
      withAqe(aqe)(differential(corpus(4), Some(Set(1, 2, 5))))
    }

    test(s"fused pass: a partition-less empty input writes the empty tables and no blocks (AQE $aqe)") {
      withAqe(aqe)(differential(spark.emptyDataset[TokenRow], None))
    }
  }

  test("layout: a fresh run writes each bin from Spark's repartition(numBins, bin) partition") {
    val dir = Files.createTempDirectory("graft-layout").toString
    EncodeJob.run(corpus(4), dir, cfg)
    assertRoutedLikeSpark(cfg.numBins, fileBins(dir))
  }

  test("layout: an onlyBins run and its resume route bins as Spark's repartition does") {
    val input = corpus(4)
    val dir = Files.createTempDirectory("graft-layout-resume").toString
    EncodeJob.run(input, dir, cfg, Some(Set(1, 2, 5)))
    val first = fileBins(dir)
    assert(first.map(_._2) == Set(1, 2, 5))
    EncodeJob.run(input, dir, cfg)
    val resumed = fileBins(dir) -- first
    assert(resumed.nonEmpty && (resumed.map(_._2) & Set(1, 2, 5)).isEmpty)
    assertRoutedLikeSpark(cfg.numBins, first)
    assertRoutedLikeSpark(cfg.numBins, resumed)
  }

  test("layout: a purge rewrite of a few bins routes them into 32 partitions as Spark's repartition does") {
    val wide = cfg.copy(numBins = 64)
    val input = corpus(4)
    val dir = Files.createTempDirectory("graft-layout-purge").toString
    EncodeJob.run(input, dir, wide)
    val before = fileBins(dir).map(_._1)
    // one doc of each of three bins: the rewrite touches a few files' bins,
    // far fewer than 32, so it routes into min(numBins, 32) = 32 partitions
    val ids = input
      .select($"doc_id", GraftPipeline.binCol(wide.numBins, wide.salt).as("bin"))
      .where($"bin".isin(3, 17, 40))
      .groupBy($"bin")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
      .as[String]
    assert(Deletes.deleteDocs(spark, dir, ids).isDefined)
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    val rewritten = fileBins(dir).filterNot(fb => before(fb._1))
    assert(rewritten.map(_._2).size < 32)
    // published rewrite files are renamed c<cid>-<k>, k numbering the
    // staged files (named by partition) in partition order
    val got = rewritten
      .groupMap(fb => """-(\d+)\.parquet""".r.findFirstMatchIn(fb._1).get.group(1).toInt)(_._2)
      .toSeq
      .sortBy(_._1)
      .map(_._2)
    val want = sparkPartition(32, rewritten.map(_._2)).toSeq.groupMap(_._2)(_._1).toSeq.sortBy(_._1).map(_._2.toSet)
    assert(got == want)
  }
}
