package graft.tools

import graft.pipeline.{GraftPipeline, TokenRow, TokenTables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase-isolated measurements for the optimization round (guide §1.4):
  * breaks the big Bench rows (pack_sequences, dsv2_dedup_incr,
  * roundtrip_derived, token_index_build) into their component jobs, timing
  * each with the noop sink where applicable, so OPTIMIZATION_r06.md can
  * cite where the seconds actually go. NOT part of the frozen Bench
  * protocol — numbers here are diagnostic only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BenchExtra [phases]"
  * where phases is a comma list of pack,dedup,roundtrip,tix,encode (default all).
  */
object BenchExtra {

  def time[A](label: String, spark: SparkSession)(f: => A): A = {
    spark.sparkContext.setJobDescription(label)
    val t0 = System.nanoTime()
    val a = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[extra] $label%-40s $sec%8.3f s")
    spark.sparkContext.setJobDescription(null)
    a
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val phases =
      if (args.isEmpty) Set("pack", "dedup", "roundtrip", "tix", "encode")
      else args(0).split(",").toSet
    val spark = graft.Bench.session(cpus)
    import spark.implicits._

    val synthRows = math.max((0.1 * 30000000).toLong, 2000L)
    val synthBase =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val synthPath = s"$synthBase/graft_bench_synth_$synthRows"
    val cfg = GraftPipeline.Config(numContexts = 64, numBins = 512)
    if (!new java.io.File(synthPath + "/_SUCCESS").exists()) {
      TokenTables.synthetic(spark, synthRows).write.mode("overwrite").parquet(synthPath)
    }
    val input = spark.read.parquet(synthPath).as[TokenRow]

    if (phases("pack")) {
      // pack_sequences components
      time("pack: full packSequences count", spark) {
        val (packed, rel) = graft.ops.Packing
          .packSequencesWithHandle(input.toDF, seqLen = 2048, sepToken = Some(0))
        println(s"[extra]   examples=${packed.count()}")
        rel()
      }
      time("pack: input scan only (noop)", spark) {
        input.toDF.write.format("noop").mode("overwrite").save()
      }
      time("pack: rangeShuffle+sort+persist+countsJob", spark) {
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val prepared = input.toDF
          .select(col("doc_id"), col("tokens").cast("array<int>").as("tokens"))
          .repartitionByRange(p, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val counts = prepared
          .groupBy(spark_partition_id().as("pid"))
          .agg(sum(size(col("tokens"))).as("n"))
          .collect()
        println(s"[extra]   parts=${counts.length}")
        prepared.unpersist()
      }
    }

    if (phases("encode")) {
      // e2e encode components at 32 cores
      val hist = time("encode: analyze", spark)(GraftPipeline.analyze(input, cfg))
      val tables = spark.sparkContext.broadcast(GraftPipeline.buildTables(hist, cfg))
      for (r <- 1 to 3)
        time(s"encode: full (shuffle+select+encode) r$r", spark) {
          val blocks = GraftPipeline.encode(input, tables, cfg)
          val row = blocks.agg(sum($"n_values"), sum($"payload_bits")).collect()(0)
          println(s"[extra]   tokens=${row.getLong(0)}")
        }
      for (r <- 1 to 2)
        time(s"encode: full hybrid-only (no select pass) r$r", spark) {
          val blocks = GraftPipeline.encode(input, tables, cfg.copy(autoSelect = false))
          val row = blocks.agg(sum($"n_values"), sum($"payload_bits")).collect()(0)
          println(s"[extra]   tokens=${row.getLong(0)}")
        }
    }

    if (phases("staged")) {
      // staged (bucketed-layout) encode components: the scaling-pair rows
      // staged_encode_n*/hybrid_encode_n* are encodeStaged over this dir
      val stagedPath = s"$synthBase/graft_bench_staged_${synthRows}_b${cfg.numBins}_s${cfg.salt}"
      if (!new java.io.File(stagedPath + "/_SUCCESS").exists()) {
        GraftPipeline.stageBinned(input, cfg, stagedPath)
      }
      val tables = spark.sparkContext.broadcast(
        GraftPipeline.buildTables(
          GraftPipeline.analyze(spark.read.parquet(stagedPath).drop("bin").as[TokenRow], cfg),
          cfg
        )
      )
      for (r <- 1 to 2) {
        time(s"staged: scan only (noop) r$r", spark) {
          spark.read.parquet(stagedPath).write.format("noop").mode("overwrite").save()
        }
        time(s"staged: scan+deserialize (count tokens) r$r", spark) {
          val n = spark.read.parquet(stagedPath)
            .as[(String, Array[Int], Int, String, Int)]
            .mapPartitions(it => Iterator.single(it.map(_._2.length.toLong).sum))
            .reduce(_ + _)
          println(s"[extra]   tokens=$n")
        }
        time(s"staged: full hybrid-only encode r$r", spark) {
          val blocks =
            GraftPipeline.encodeStaged(spark, stagedPath, tables, cfg.copy(autoSelect = false))
          val row = blocks.agg(sum($"n_values"), sum($"payload_bits")).collect()(0)
          println(s"[extra]   tokens=${row.getLong(0)}")
        }
        time(s"staged: full auto-select encode r$r", spark) {
          val blocks = GraftPipeline.encodeStaged(spark, stagedPath, tables, cfg)
          val row = blocks.agg(sum($"n_values"), sum($"payload_bits")).collect()(0)
          println(s"[extra]   tokens=${row.getLong(0)}")
        }
      }
    }

    if (phases("scancodec")) {
      // is the staged scan decompression-bound? same data, three parquet
      // codecs, interleaved noop scans
      val stagedPath = s"$synthBase/graft_bench_staged_${synthRows}_b${cfg.numBins}_s${cfg.salt}"
      if (!new java.io.File(stagedPath + "/_SUCCESS").exists()) {
        GraftPipeline.stageBinned(input, cfg, stagedPath)
      }
      val variants = Seq("snappy" -> stagedPath) ++ Seq("uncompressed", "zstd").map { c =>
        val p = s"$synthBase/graft_staged_codec_$c"
        if (!new java.io.File(p + "/_SUCCESS").exists()) {
          spark.read.parquet(stagedPath).write
            .option("compression", c).mode("overwrite").parquet(p)
        }
        c -> p
      }
      variants.foreach { case (c, p) =>
        val bytes = new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
        println(f"[extra] scancodec $c%-12s bytes=${bytes / 1e9}%.3f GB")
      }
      for (r <- 1 to 3; (c, p) <- variants) {
        time(s"scancodec: $c noop r$r", spark) {
          spark.read.parquet(p).write.format("noop").mode("overwrite").save()
        }
      }
    }

    if (phases("roundtrip")) {
      time("roundtrip: derive input (noop)", spark) {
        TokenTables.fromLineitem(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val rows = TokenTables
        .fromLineitem(spark, sfDir)
        .select(
          col("doc_id").cast("string").as("doc_id"),
          col("tokens").cast("array<int>").as("tokens"),
          col("n_tok"),
          col("source")
        )
        .as[TokenRow]
      val pcfg = graft.SparkEntry.pipelineCfg
      val hist = time("roundtrip: analyze", spark)(GraftPipeline.analyze(rows, pcfg))
      val tables = spark.sparkContext.broadcast(GraftPipeline.buildTables(hist, pcfg))
      val blocks = GraftPipeline.encode(rows, tables, pcfg).cache()
      time("roundtrip: encode+cache", spark) {
        println(s"[extra]   blocks=${blocks.count()}")
      }
      time("roundtrip: decode only", spark) {
        println(
          s"[extra]   toks=${GraftPipeline.decode(blocks, tables, pcfg).map(_.n_tok.toLong).reduce(_ + _)}"
        )
      }
      time("roundtrip: verify join", spark) {
        println(s"[extra]   mism=${GraftPipeline.verify(rows, GraftPipeline.decode(blocks, tables, pcfg))}")
      }
      blocks.unpersist()
    }

    val encDir = {
      // mirror Bench's persisted dir (reuse if present, else build)
      val inputForTables = input
      val h = GraftPipeline.analyze(inputForTables, cfg)
      val t = spark.sparkContext.broadcast(GraftPipeline.buildTables(h, cfg))
      val d = s"$synthBase/graft_bench_enc_${synthRows}_v${graft.pipeline.EncodeJob.FormatVersion}_h${t.value.tableHash}"
      if (!new java.io.File(d + "/blocks/_SUCCESS").exists()) {
        graft.pipeline.EncodeJob.saveTables(spark, d, t.value, cfg.contextModel, layout = Some(cfg))
        GraftPipeline.encode(inputForTables, t, cfg).write.mode("overwrite").parquet(s"$d/blocks")
      }
      if (!new java.io.File(d + "/_manifest").exists())
        graft.pipeline.EncodeJob.appendManifest(spark, d, (0 until cfg.numBins).toSet, snapshotId = 0L)
      d
    }

    if (phases("tix")) {
      graft.sources.TokenIndex.dropIndex(encDir, spark.sparkContext.hadoopConfiguration)
      time("tix: full build", spark) {
        val r = graft.sources.TokenIndex.build(spark, encDir)
        println(s"[extra]   files=${r.filesIndexed} blocks=${r.blocksIndexed} bytes=${r.indexBytes}")
      }
      time("tix: decode-only floor (dsv2 scan)", spark) {
        println(s"[extra]   toks=${spark.read.format("graft").load(encDir).agg(sum(size(col("tokens")))).collect()(0).getLong(0)}")
      }
      // decode + entryFor only (no shuffle/write/summaries): isolates the
      // per-file index computation from the publish machinery
      time("tix: decode+entryFor only", spark) {
        graft.sources.TokenIndex.dropIndex(encDir, spark.sparkContext.hadoopConfiguration)
        val n = graft.sources.TokenIndex.debugComputeOnly(spark, encDir)
        println(s"[extra]   entries=$n")
      }
    }

    if (phases("deletes")) {
      import spark.implicits._
      val tokens = spark.read.format("graft").load(encDir)
        .agg(sum(size(col("tokens")))).collect()(0).getLong(0)
      val nDel = math.min(32768L, math.max(64L, synthRows / 200)).toInt
      val delRows = input
        .select(col("doc_id"), size(col("tokens")).cast("long").as("nt"))
        .limit(nDel).collect()
      val delIds = delRows.map(_.getString(0)).toSeq
      val expect = tokens - delRows.map(_.getLong(1)).sum
      val res = graft.pipeline.Deletes.deleteDocs(spark, encDir, delIds.toDS()).get
      def morScan(): Long =
        spark.read.format("graft").load(encDir)
          .agg(sum(size(col("tokens")))).collect()(0).getLong(0)
      // three reps to see warmup vs steady state
      for (r <- 1 to 3) {
        time(s"deletes: merge-on-read scan r$r", spark) {
          val t = morScan(); require(t == expect, s"$t != $expect")
        }
      }
      // split planning from execution
      for (r <- 1 to 2) {
        val df = spark.read.format("graft").load(encDir).agg(sum(size(col("tokens"))))
        time(s"deletes: PLAN only r$r", spark) {
          df.queryExecution.executedPlan.toString.length
        }
        time(s"deletes: EXEC after plan r$r", spark) {
          val t = df.collect()(0).getLong(0); require(t == expect)
        }
      }
      val fsEnc = new org.apache.hadoop.fs.Path(encDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsEnc.delete(new org.apache.hadoop.fs.Path(s"$encDir/_snapshots/snap-${res.snapshotId}.json"), false)
      fsEnc.delete(new org.apache.hadoop.fs.Path(s"$encDir/_deletes"), true)
    }

    if (phases("foldhash")) {
      // the dsv2_dedup_hash shape: decode scan + 2x token_fold + ~30 B/doc group
      for (r <- 1 to 3)
        time(s"foldhash: dedup hash pass r$r", spark) {
          val n = spark.read.format("graft").load(encDir)
            .select(
              col("doc_id"),
              col("n_tok"),
              graft.functions.TokenFold.token_fold(col("tokens"), 0L).as("h1"),
              graft.functions.TokenFold.token_fold(col("tokens"), 1L).as("h2")
            )
            .groupBy("h1", "h2", "n_tok")
            .agg(count(lit(1)).as("n"))
            .where(col("n") > 1)
            .count()
          println(s"[extra]   groups=$n")
        }
    }

    if (phases("dedup")) {
      val conf = spark.sparkContext.hadoopConfiguration
      graft.sources.ContentIndex.dropIndex(encDir, conf)
      val live = graft.pipeline.Maintenance.liveBlockFiles(encDir, conf).map(_._1)
      time("dedup: content_index build", spark) {
        println(s"[extra]   built=${graft.sources.ContentIndex.ensure(spark, encDir, live)._2}")
      }
      time("dedup: incr ensure (covered) only", spark) {
        val (_, built) = graft.sources.ContentIndex.ensure(spark, encDir, live)
        println(s"[extra]   built=$built")
      }
      time("dedup: liveDocs scan only (noop)", spark) {
        spark.read.format("graft").load(encDir).select("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      time("dedup: full incr row (ensure+join+group)", spark) {
        val (entries, _) = graft.sources.ContentIndex.ensure(spark, encDir, live)
        val liveDocs = spark.read.format("graft").load(encDir).select("doc_id")
        val n = entries
          .join(liveDocs, Seq("doc_id"), "left_semi")
          .groupBy("h1", "h2", "n_tok")
          .agg(count(lit(1)).as("n"))
          .where(col("n") > 1)
          .count()
        println(s"[extra]   groups=$n")
      }
      time("dedup: incr row minus join (group entries only)", spark) {
        val (entries, _) = graft.sources.ContentIndex.ensure(spark, encDir, live)
        val n = entries
          .groupBy("h1", "h2", "n_tok")
          .agg(count(lit(1)).as("n"))
          .where(col("n") > 1)
          .count()
        println(s"[extra]   groups=$n")
      }
    }

    spark.stop()
  }
}
