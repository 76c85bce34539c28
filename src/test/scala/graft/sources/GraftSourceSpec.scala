package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{EncodeJob, GraftPipeline, SparkTestBase, TokenTables}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The DSv2 read surface: `spark.read.format("graft").load(outDir)` over an
  * EncodeJob output — roundtrip equality, column pruning (metadata queries
  * never run the entropy decoder), doc_id filter pushdown with bin pruning
  * and per-row bit-seek, all observed through the scan's DSv2 custom metrics.
  */
class GraftSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  lazy val input = TokenTables.synthetic(spark, 700L, seed = 11L).cache()

  // dir A: production defaults (auto-select, external tables)
  lazy val dirA: String = {
    val d = Files.createTempDirectory("graft-src-a").toString
    EncodeJob.run(input, d, Config(numContexts = 16, numBins = 8, maxBlockRows = 64))
    d
  }
  // dir B: pure hybrid + embedded headers — every block has a row-bit index,
  // so point reads must decode EXACTLY the hit rows' token values
  lazy val dirB: String = {
    val d = Files.createTempDirectory("graft-src-b").toString
    EncodeJob.run(
      input, d,
      Config(numContexts = 16, numBins = 8, maxBlockRows = 64, autoSelect = false, embedTables = true)
    )
    d
  }

  private def findScan(plan: SparkPlan): BatchScanExec = {
    def rec(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec                                  => rec(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => rec(q.plan)
      case b: BatchScanExec                                          => Seq(b)
      case other                                                     => other.children.flatMap(rec)
    }
    rec(plan).headOption.getOrElse(fail(s"no BatchScanExec in:\n$plan"))
  }

  private def metric(scan: BatchScanExec, name: String): Long =
    scan.metrics.collectFirst { case (k, m) if k == name => m.value }
      .getOrElse(fail(s"metric $name absent; have ${scan.metrics.keys.mkString(",")}"))

  test("roundtrip: format(\"graft\") returns the source corpus exactly") {
    import spark.implicits._
    val decoded = spark.read.format("graft").load(dirA).as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)
  }

  test("roundtrip through embedded-header, pure-hybrid blocks") {
    import spark.implicits._
    val decoded = spark.read.format("graft").load(dirB).as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)
  }

  test("driver-side binOf matches the write path's binCol expression") {
    import spark.implicits._
    val rows = input
      .select($"doc_id", GraftPipeline.binCol(8, 0x5eedL).as("bin"))
      .collect()
    rows.foreach { r =>
      assert(GraftDataSource.binOf(r.getString(0), 8, 0x5eedL) == r.getInt(1), r.getString(0))
    }
  }

  test("_bin metadata column: hidden from *, correct per row, groups for skew inspection") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA)
    assert(!df.columns.contains("_bin"), "metadata column must be hidden from SELECT *")
    val rows = df.select($"doc_id", $"_bin").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = GraftDataSource.binOf(r.getString(0), numBins = 8, salt = 0x5eedL)
      assert(r.getInt(1) == want, s"${r.getString(0)}: _bin ${r.getInt(1)} != $want")
    }
    // the operator's skew-inspection shape
    val byBin = df.groupBy($"_bin").count().collect()
    assert(byBin.map(_.getLong(1)).sum == input.count())
    assert(byBin.forall(_.getLong(1) > 0L) && byBin.length <= 8)
  }

  test("_row_bits metadata column: stored per-row index, payload never decoded") {
    import spark.implicits._
    // expectation straight from the raw blocks parquet: per doc, the stored
    // row_bits entry (None on block-level codecs, which carry no index)
    def expected(dir: String): Map[String, Option[Long]] =
      spark.read
        .parquet(s"$dir/blocks")
        .select("doc_ids_codec", "doc_ids_payload", "row_bits_codec", "row_bits_payload", "n_rows")
        .collect()
        .flatMap { r =>
          val n = r.getInt(4)
          val ids = graft.codec.StringCodecs.decode(r.getString(0), r.getAs[Array[Byte]](1), n)
          if (r.getString(2) == "none") ids.map(_ -> (None: Option[Long])).toSeq
          else {
            val rb = graft.codec.CodecSelector
              .decodeIntColumn(r.getString(2), r.getAs[Array[Byte]](3), n)
            ids.zip(rb.map(b => Option(b.toLong))).toSeq
          }
        }
        .toMap
    for (dir <- Seq(dirA, dirB)) {
      val df = spark.read.format("graft").load(dir).select($"doc_id", $"_row_bits")
      assert(!spark.read.format("graft").load(dir).columns.contains("_row_bits")) // hidden from *
      val got = df
        .collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(got == expected(dir), s"dir $dir")
      val scan = findScan(df.queryExecution.executedPlan)
      assert(metric(scan, GraftMetrics.TokenValuesDecoded) == 0L, "payload must stay untouched")
    }
    // dirB is pure hybrid: every row has a stored size — the exact
    // bits-per-token-as-encoded signal is a metadata-only aggregate
    val all = spark.read.format("graft").load(dirB).select($"n_tok", $"_row_bits").collect()
    assert(all.nonEmpty && all.forall(!_.isNullAt(1)))
    assert(all.map(_.getLong(1)).sum > 0L)
  }

  test("metadata-only query never runs the entropy decoder") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA).groupBy($"source").agg(sum($"n_tok").as("t"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = input
      .groupBy($"source")
      .agg(sum($"n_tok"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(got == want)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == 0L)
    // GROUP BY source is pushed to block metadata: the scan emits partial
    // rows (≤ sources × files), not one row per document
    assert(scan.toString.contains("groupedBy=[source]"), s"group-by not pushed:\n$scan")
    val nSources = want.size.toLong
    assert(metric(scan, GraftMetrics.RowsEmitted) >= nSources)
    assert(metric(scan, GraftMetrics.RowsEmitted) < input.count())
  }

  test("(_file, doc_id) liveness projection never decodes token payloads") {
    import spark.implicits._
    // the incremental-dedup liveness scan shape: provenance + identity only
    val df = spark.read.format("graft").load(dirA).select($"_file", $"doc_id")
    val rows = df.collect()
    assert(rows.length.toLong == input.count())
    assert(rows.map(_.getString(0)).forall(_.endsWith(".parquet")))
    // every doc maps to exactly one (file, doc) pair on a delete-free dir
    assert(rows.map(_.getString(1)).distinct.length == rows.length)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == 0L,
      "the _file/doc_id projection must stay metadata-only")
  }

  test("GROUP BY source pushdown: COUNT/SUM/MIN/MAX per source from metadata only") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n"), sum($"n_tok").as("toks"),
        min($"n_tok").as("mn"), max($"n_tok").as("mx")
      )
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))))
      .toMap
    val want = input.groupBy($"source")
      .agg(count(lit(1)), sum($"n_tok"), min($"n_tok"), max($"n_tok"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got == want)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(scan.toString.contains("pushedAggregates=") &&
      scan.toString.contains("groupedBy=[source]"), s"grouped aggregate not pushed:\n$scan")
    // the encode sort keeps blocks source-homogeneous, but the 64-row block
    // cap makes boundary blocks straddle sources — per-row attribution via
    // the n_toks stream must still never touch the entropy payload
    assert(metric(scan, GraftMetrics.BlocksDecoded) == 0L)
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == 0L)
  }

  test("aggregate pushdown declines on a non-source grouping") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA)
      .groupBy($"n_tok").agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = input.groupBy($"n_tok").agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(!scan.toString.contains("pushedAggregates="), s"unsafe grouped pushdown:\n$scan")
  }

  test("doc_id filter: bin pruning + per-row seek decode exactly the hit rows") {
    import spark.implicits._
    val ids = input.select($"doc_id", $"n_tok").take(3).map(r => r.getString(0) -> r.getInt(1))
    val wantTokens = ids.map(_._2.toLong).sum
    val df = spark.read
      .format("graft")
      .load(dirB)
      .where($"doc_id".isin(ids.map(_._1): _*))
      .as[graft.pipeline.TokenRow]
    val rows = df.collect()
    assert(rows.length == 3)
    val byId = input.where($"doc_id".isin(ids.map(_._1): _*)).as[graft.pipeline.TokenRow]
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    rows.foreach(r => assert(r.tokens.toSeq == byId(r.doc_id), r.doc_id))

    val scan = findScan(df.queryExecution.executedPlan)
    // pure-hybrid blocks with a row-bit index: ONLY the 3 hit rows' values decoded
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == wantTokens)
    // bin predicate reached parquet: at most the wanted bins' blocks were read
    val totalBlocks = EncodeJob.readBlocks(spark, dirB).count()
    assert(metric(scan, GraftMetrics.BlocksDecoded) < totalBlocks)
    assert(scan.toString.contains("prunedBins="))
  }

  test("source filter is honored (and residual-checked by Catalyst)") {
    import spark.implicits._
    val src = input.select($"source").head().getString(0)
    val got = spark.read.format("graft").load(dirA).where($"source" === src).count()
    assert(got == input.where($"source" === src).count())
  }

  test("SQL over a graft view: join decoded rows against a derived table") {
    import spark.implicits._
    spark.read.format("graft").load(dirA).createOrReplaceTempView("graft_corpus")
    val n = spark
      .sql("""SELECT count(*) FROM graft_corpus g
              WHERE size(g.tokens) = g.n_tok""")
      .head()
      .getLong(0)
    assert(n == input.count())
  }

  test("runtime filter() prunes bins and input files (footer stats)") {
    import spark.implicits._
    // drive the SupportsRuntimeFiltering contract directly: same call Spark's
    // dynamic pruning makes with the broadcast join's build-side keys
    val ids = input.select($"doc_id").take(2).map(_.getString(0))
    val table = new GraftTable(dirB)
    val builder = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    )
    val scan = builder.build().asInstanceOf[GraftScan]
    val before = scan.planInputPartitions().length
    scan.filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("doc_id", ids.map(x => x: Any))
      )
    )
    assert(scan.runtimeFiltered)
    val after = scan.planInputPartitions().length
    assert(after < before, s"footer pruning kept $after of $before files")
    // the pruned partition set still yields exactly the hit rows
    val factory = scan.toBatch.createReaderFactory()
    val rows = scan.toBatch.planInputPartitions().iterator.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (r.next()) r.get().rowIterator().forEachRemaining(row => buf += row.getUTF8String(0).toString)
      r.close()
      buf
    }.toSeq
    assert(rows.sorted == ids.toSeq.sorted)
  }

  test("broadcast join against a doc_id dim triggers dynamic runtime pruning") {
    import spark.implicits._
    // dim side: a parquet table with a SELECTIVE equality predicate on a
    // non-join column — the shape Spark's dynamic pruning rule looks for
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dim").toString
    val keyDoc = input.select($"doc_id").head().getString(0)
    input
      .select($"doc_id", $"n_tok".as("dim_ntok"))
      .write.mode("overwrite").parquet(dimPath)
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      // predicate on a NON-join column so Catalyst cannot propagate it to
      // the scan statically — dynamic injection is the only pruning route
      val keyNtok = input.where($"doc_id" === keyDoc).head().n_tok
      val dim = spark.read.parquet(dimPath).where($"dim_ntok" === keyNtok)
      val big = spark.read.format("graft").load(dirB)
      val joined = big.join(broadcast(dim), Seq("doc_id")).select($"doc_id", $"n_tok")
      val rows = joined.collect()
      val want = input.where($"n_tok" === keyNtok).select($"doc_id").collect().map(_.getString(0))
      assert(rows.map(_.getString(0)).sorted.toSeq == want.sorted.toSeq)
      val scan = findScan(joined.queryExecution.executedPlan)
      val g = scan.scan.asInstanceOf[GraftScan]
      assert(g.runtimeFiltered, "dynamic pruning did not reach the scan")
      val totalBlocks = EncodeJob.readBlocks(spark, dirB).count()
      assert(metric(scan, GraftMetrics.BlocksDecoded) < totalBlocks)
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
  }

  test("COUNT/SUM/MIN/MAX(n_tok) push down to block metadata: zero blocks decoded") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA)
      .agg(
        count(lit(1)).as("n"), sum($"n_tok").as("toks"), count($"doc_id").as("nd"),
        min($"n_tok").as("mn"), max($"n_tok").as("mx")
      )
    val r = df.collect()(0)
    assert(r.getLong(0) == input.count())
    assert(r.getLong(1) == input.agg(sum($"n_tok")).head().getLong(0))
    assert(r.getLong(2) == input.count())
    assert(r.getInt(3) == input.agg(min($"n_tok")).head().getInt(0))
    assert(r.getInt(4) == input.agg(max($"n_tok")).head().getInt(0))
    val scan = findScan(df.queryExecution.executedPlan)
    assert(scan.toString.contains("pushedAggregates="), s"aggregate not pushed:\n$scan")
    // the metadata aggregate never opens a block, let alone decodes one
    // (min/max read only the small n_toks streams)
    assert(metric(scan, GraftMetrics.BlocksDecoded) == 0L)
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == 0L)
  }

  test("n_tok length filters prune rows before payload decode") {
    import spark.implicits._
    // a high threshold: few long docs survive, so blocks take the sparse
    // row-seek path and decode only the matching rows' token values
    val thr = input
      .select(expr("percentile(n_tok, 0.95)"))
      .head()
      .getDouble(0)
      .toInt
    val df = spark.read.format("graft").load(dirB)
      .where($"n_tok" >= thr)
      .select($"doc_id", $"tokens", $"n_tok")
    val got = df.collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val want = input
      .filter(r => r.n_tok >= thr)
      .collect()
      .map(r => r.doc_id -> r.tokens.toSeq)
      .toMap
    assert(got == want, s"rows differ: got ${got.size}, want ${want.size}")
    val scan = findScan(df.queryExecution.executedPlan)
    val totalTokens = input.map(_.n_tok.toLong).reduce(_ + _)
    val matchedTokens = want.valuesIterator.map(_.length.toLong).sum
    val decoded = metric(scan, GraftMetrics.TokenValuesDecoded)
    // the corpus is heavy-tailed, so the long-doc 5% holds most of the
    // token MASS — the meaningful claim is that decode work tracks the
    // matched rows (sparse row-seek), not the corpus: within 10% of ideal
    assert(matchedTokens < totalTokens, "threshold matched everything; test is vacuous")
    assert(decoded >= matchedTokens, s"decoded=$decoded matched=$matchedTokens")
    assert(
      decoded <= matchedTokens + totalTokens / 10,
      s"decoded=$decoded matched=$matchedTokens total=$totalTokens — row pruning not engaging"
    )
  }

  test("aggregate pushdown declines when a filter is present (residual-safe)") {
    import spark.implicits._
    val src = input.select($"source").head().getString(0)
    val df = spark.read.format("graft").load(dirA)
      .where($"source" === src)
      .agg(sum($"n_tok").as("toks"))
    val want = input.where($"source" === src).agg(sum($"n_tok")).head().getLong(0)
    assert(df.head().getLong(0) == want)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(!scan.toString.contains("pushedAggregates="), s"unsafe aggregate pushdown:\n$scan")
  }

  test("snapshot time travel reads the as-of bin set (rows and aggregates)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2))) // snapshot 0
    EncodeJob.run(input, dir, cfg)                                // snapshot 1
    val want0 = input
      .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
      .where($"bin".isin(0, 1, 2))
      .drop("bin")
      .as[graft.pipeline.TokenRow]

    val snap0 = spark.read.format("graft").option("snapshot", "0").load(dir)
    assert(GraftPipeline.verify(want0, snap0.as[graft.pipeline.TokenRow]) == 0L)
    // metadata aggregate honors the snapshot too
    val agg0 = snap0.agg(count(lit(1)), sum($"n_tok")).head()
    assert(agg0.getLong(0) == want0.count())
    assert(agg0.getLong(1) == want0.agg(sum($"n_tok")).head().getLong(0))

    val snap1 = spark.read.format("graft").option("snapshot", "1").load(dir)
    assert(GraftPipeline.verify(input, snap1.as[graft.pipeline.TokenRow]) == 0L)
    // no option: latest state (all committed bins)
    val all = spark.read.format("graft").load(dir)
    assert(GraftPipeline.verify(input, all.as[graft.pipeline.TokenRow]) == 0L)

    val e = intercept[Exception] {
      spark.read.format("graft").option("snapshot", "99").load(dir).collect()
    }
    assert(e.getMessage.contains("snapshot 99 not found")
      || Option(e.getCause).exists(_.getMessage.contains("snapshot 99 not found")))
  }

  test("streaming read tails committed snapshots as micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2))) // snapshot 0
    val q = spark.readStream
      .format("graft")
      .load(dir)
      .writeStream
      .format("memory")
      .queryName("graft_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val want0 = input
        .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
        .where($"bin".isin(0, 1, 2))
        .count()
      assert(spark.table("graft_stream").count() == want0)

      EncodeJob.run(input, dir, cfg) // snapshot 1: the remaining bins
      q.processAllAvailable()
      assert(spark.table("graft_stream").count() == input.count())
      // the delta batch re-read no already-emitted bin (no duplicates)
      val distinct =
        spark.sql("SELECT count(DISTINCT doc_id) FROM graft_stream").head().getLong(0)
      assert(distinct == input.count())
    } finally q.stop()
  }

  test("incremental batch read: fromSnapshot plans exactly the bin deltas") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-incr").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2))) // snapshot 0
    EncodeJob.run(input, dir, cfg) // snapshot 1: the remaining bins

    val withBin = input.withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
    val want1 = withBin.where(!$"bin".isin(0, 1, 2)).drop("bin").as[graft.pipeline.TokenRow]

    // (0, latest]: exactly snapshot 1's rows, decoded bit-identically
    val delta = spark.read.format("graft").option("fromSnapshot", 0).load(dir)
    assert(GraftPipeline.verify(want1.toDF.as[graft.pipeline.TokenRow],
      delta.as[graft.pipeline.TokenRow]) == 0L)
    val scan = findScan(delta.queryExecution.executedPlan)
    assert(scan.toString.contains("fromSnapshot=0"), s"not an incremental scan:\n$scan")

    // (-1, latest] = the whole corpus; (1, latest] = empty; (0, 0] = empty
    val full = spark.read.format("graft").option("fromSnapshot", -1).load(dir)
    assert(GraftPipeline.verify(input, full.as[graft.pipeline.TokenRow]) == 0L)
    assert(spark.read.format("graft").option("fromSnapshot", 1).load(dir).count() == 0L)
    assert(spark.read.format("graft")
      .option("fromSnapshot", 0).option("snapshot", 0).load(dir).count() == 0L)

    // grouped metadata aggregates decline under an incremental range
    // (whole-file metadata would over-count) — values still exact
    val agg = spark.read.format("graft").option("fromSnapshot", 0).load(dir)
      .groupBy($"source").agg(sum($"n_tok").as("t"))
    val wantAgg = want1.toDF.groupBy($"source").agg(sum($"n_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == wantAgg)
    assert(!findScan(agg.queryExecution.executedPlan).toString.contains("pushedAggregates="))

    // an unknown lower bound fails loudly, not as an empty result
    val err = intercept[Exception] {
      spark.read.format("graft").option("fromSnapshot", 7).load(dir).count()
    }
    assert(err.getMessage.contains("fromSnapshot 7 not found"), err.getMessage)
    // a backwards range fails loudly too
    val err2 = intercept[Exception] {
      spark.read.format("graft")
        .option("fromSnapshot", 1).option("snapshot", 0).load(dir).count()
    }
    assert(err2.getMessage.contains("must go forward"), err2.getMessage)
  }

  test("scan statistics report manifest row count + on-disk size") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirA)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(input.count())), s"stats: $stats")
    assert(stats.sizeInBytes > 0)
  }

  test("custom spark.hadoop.* fs settings reach the executor-side readers") {
    import spark.implicits._
    // a scheme only the session's Hadoop conf knows, uncached, so an
    // executor-side reader resolves it from the conf it was shipped
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.graftprobe.impl" -> classOf[GraftProbeFileSystem].getName, "fs.graftprobe.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val df = spark.read.format("graft").load(s"graftprobe://$dirA")
      val got = df.agg(count(lit(1)), sum($"n_tok"), sum(aggregate($"tokens", lit(0L), (a, t) => a + t))).head()
      val want = input.agg(count(lit(1)), sum($"n_tok"), sum(aggregate($"tokens", lit(0L), (a, t) => a + t))).head()
      assert(got == want)
    } finally keys.foreach { case (k, _) => conf.unset(k) }
  }

  test("limit pushdown stops decoding after the per-partition quota") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dirB).limit(3)
    val rows = df.as[graft.pipeline.TokenRow].collect()
    assert(rows.length == 3)
    val scan = findScan(df.queryExecution.executedPlan)
    // limit(3) over blocks of <=64 rows must not decode the whole corpus
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) < input.agg(sum($"n_tok")).head().getLong(0) / 2)
  }

  test("stream restart resumes from the checkpoint offset (delta only)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-restart").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1))) // snapshot 0

    // file sink: the one that supports checkpoint recovery
    val out = Files.createTempDirectory("graft-restart-out").toString
    def start() = spark.readStream
      .format("graft")
      .load(dir)
      .select($"doc_id", $"n_tok")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    val first = spark.read.parquet(out).count()
    assert(first < input.count(), "first batch should be the partial snapshot only")

    EncodeJob.run(input, dir, cfg) // snapshot 1: the rest
    // a NEW query on the SAME checkpoint resumes from the recorded offset
    // and appends exactly the post-checkpoint delta
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(spark.read.parquet(out).count() == input.count(), s"first=$first")
    // and no duplicates: every doc_id exactly once
    assert(spark.read.parquet(out).select($"doc_id").distinct().count() == input.count())
  }

  test("q_graft_join (the driver-corpus shape) prunes the scan via runtime filtering") {
    // the oracle-checked q_graft_join joins the DSv2 corpus against a
    // broadcast dim with a SELECTIVE predicate on a non-join column — the
    // shape where Spark's dynamic pruning pushes the build side's doc_ids
    // into the scan. This audit pins that it actually FIRES on the driver
    // corpus, so the feature cannot silently regress to a full scan.
    val prevStats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val sfDir = "/root/testdata/sf0.001"
      val df = graft.SparkEntry.queries("q_graft_join")(spark, sfDir)
      val rows = df.collect()
      assert(rows.nonEmpty)
      val scan = findScan(df.queryExecution.executedPlan)
      val g = scan.scan.asInstanceOf[GraftScan]
      assert(g.runtimeFiltered, "q_graft_join regressed to a full scan: no runtime doc_id filter")
      // and the filter did real work: the dim's ~1/23 of docs hit every bin
      // (so no whole block can be skipped, and the aggregate never needs
      // `tokens`), but the runtime doc_id set must filter INSIDE the reader
      // — rows emitted proportional to the HIT rows, not the corpus
      val totalRows = graft.SparkEntry.encodedCorpus(spark, sfDir).rows.count()
      val emitted = metric(scan, GraftMetrics.RowsEmitted)
      assert(emitted > 0 && emitted < totalRows / 2, s"emitted $emitted of $totalRows rows")
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
  }

  test("maxSnapshotsPerBatch bounds catch-up into multiple micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-admission").toString
    val ckpt = Files.createTempDirectory("graft-admission-ckpt").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    // 5 committed snapshots before the stream ever starts
    for (b <- 0 until 5) EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(b)))
    val q = spark.readStream
      .format("graft")
      .option("maxSnapshotsPerBatch", "2")
      .load(dir)
      .writeStream
      .format("memory")
      .queryName("graft_admission")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val want = input
        .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
        .where($"bin" < 5)
        .count()
      assert(spark.table("graft_admission").count() == want)
      // catch-up was emitted as ceil(5/2) = 3 bounded batches, not one
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 3, s"expected 3 data batches, saw $dataBatches")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-availnow").toString
    val ckpt = Files.createTempDirectory("graft-availnow-ckpt").toString
    val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
    for (b <- 0 until 4) EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(b)))
    val q = spark.readStream
      .format("graft")
      .option("maxSnapshotsPerBatch", "2")
      .load(dir)
      .writeStream
      .format("memory")
      .queryName("graft_availnow")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      // AvailableNow terminates by itself once the backlog (as of start) drains
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      val want = input
        .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
        .where($"bin" < 4)
        .count()
      assert(spark.table("graft_availnow").count() == want)
      assert(q.recentProgress.count(_.numInputRows > 0) == 2) // 4 snapshots / limit 2
    } finally q.stop()
  }

  /** Partitions the graft scan plans for a doc_id-restricted read of `dir`. */
  private def plannedPartitions(dir: String, ids: Seq[String]): Int = {
    val builder = new GraftTable(dir).newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    )
    builder
      .asInstanceOf[GraftScanBuilder]
      .pushFilters(Array(org.apache.spark.sql.sources.In("doc_id", ids.map(x => x: Any).toArray)))
    builder.build().asInstanceOf[GraftScan].planInputPartitions().length
  }

  test("manifest claims plan O(hit-bins) partitions past the footer cap") {
    import spark.implicits._
    // dirB has 8 bins across >2 files; the manifest's bin->file claims are
    // the only file pruning, at ANY file count (the 100 TB point-read shape)
    val ids = input.select($"doc_id").take(2).map(_.getString(0)).toSeq
    val totalFiles = GraftMeta.listBlockFiles(dirB, spark.sparkContext.hadoopConfiguration).length
    assert(totalFiles > 2, s"fixture too small: $totalFiles files")
    val hitBins = ids.map(GraftDataSource.binOf(_, 8, Config().salt)).toSet
    val planned = plannedPartitions(dirB, ids)
    // exactly the files the manifest claims for the hit bins (a bin can
    // span >1 file when AQE splits its write partition) plus any file no
    // row claims (empty part files are kept conservatively), nothing more
    val ix = GraftScan.manifestIndex(dirB, spark.sparkContext.hadoopConfiguration, graft.pipeline.Maintenance.liveBlockFiles(dirB, spark.sparkContext.hadoopConfiguration)).get
    val hitClaimed = ix.fileBins.count { case (_, bins) => bins.exists(hitBins.contains) }
    val unclaimed = totalFiles - ix.fileBins.size
    assert(
      planned == hitClaimed + unclaimed,
      s"planned $planned != $hitClaimed hit-claimed + $unclaimed unclaimed (of $totalFiles)"
    )
    assert(planned < totalFiles, s"no pruning: $planned of $totalFiles")
    // and the pruned plan still returns exactly the hit rows
    val got = spark.read
      .format("graft")
      .load(dirB)
      .where($"doc_id".isin(ids: _*))
      .select($"doc_id")
      .collect()
      .map(_.getString(0))
    assert(got.sorted.toSeq == ids.sorted)
  }

  test("a manifest-less dir plans every live file and returns the hit rows") {
    import spark.implicits._
    // strip the manifest: no file is claimed, so none may be dropped
    val dir = Files.createTempDirectory("graft-nomanifest").toString
    EncodeJob.run(
      input, dir,
      Config(numContexts = 16, numBins = 8, maxBlockRows = 64, autoSelect = false, embedTables = true)
    )
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit }
    rm(new java.io.File(s"$dir/_manifest"))
    val ids = input.select($"doc_id").take(2).map(_.getString(0)).toSeq
    val totalFiles = GraftMeta.listBlockFiles(dir, spark.sparkContext.hadoopConfiguration).length
    assert(totalFiles > 1, s"fixture too small: $totalFiles files")
    assert(plannedPartitions(dir, ids) == totalFiles)
    val got = spark.read
      .format("graft")
      .load(dir)
      .where($"doc_id".isin(ids: _*))
      .select($"doc_id")
      .collect()
      .map(_.getString(0))
    assert(got.sorted.toSeq == ids.sorted)
  }

  test("load of a non-encode dir fails loudly") {
    val bogus = Files.createTempDirectory("graft-bogus").toString
    val e = intercept[Exception] {
      spark.read.format("graft").load(bogus).collect()
    }
    assert(e.getMessage != null)
  }

  test("columnar scan carries metrics and returns the source corpus exactly") {
    import spark.implicits._
    // no orderBy here: a global sort's range-partitioner SAMPLING pass
    // executes the scan a second time and doubles the rows-emitted metric
    val ds = spark.read.format("graft").load(dirA).as[graft.pipeline.TokenRow]
    val rows = ds.collect()
    val scan = findScan(ds.queryExecution.executedPlan)
    assert(scan.supportsColumnar, "graft scan should emit ColumnarBatches")
    // DSv2 custom metrics must flow through the columnar reader too
    assert(metric(scan, GraftMetrics.RowsEmitted) == input.count())
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) > 0L)
    assert(GraftPipeline.verify(input, spark.createDataset(rows.toSeq)) == 0L)
  }

  test("columnar point read decodes only the hit rows (sparse seek path)") {
    import spark.implicits._
    val ids = input.select($"doc_id", $"n_tok").take(2).map(r => r.getString(0) -> r.getInt(1))
    val df = spark.read
      .format("graft")
      .load(dirB) // pure hybrid + row-bit index: the seek path is available
      .where($"doc_id".isin(ids.map(_._1): _*))
      .select($"doc_id", $"tokens")
    val got = df.collect().map(r => r.getString(0) -> r.getSeq[Int](1).length).toMap
    assert(got == ids.map { case (id, n) => id -> n }.toMap)
    val scan = findScan(df.queryExecution.executedPlan)
    assert(scan.supportsColumnar)
    // only the hit rows' token values were entropy-decoded
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == ids.map(_._2.toLong).sum)
  }

  test("sampleDocs: exact deterministic membership, identical values, seed reshuffles") {
    import spark.implicits._
    val full = spark.read.format("graft").load(dirB).as[graft.pipeline.TokenRow].collect()
    val df = spark.read
      .format("graft")
      .option("sampleDocs", "0.2")
      .option("sampleSeed", "7")
      .load(dirB)
      .as[graft.pipeline.TokenRow]
    val got = df.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    val spec = DocSample(200000, 7L)
    val want = full.filter(r => spec.keep(r.doc_id, null)).map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(got == want, "sampled rows must be exactly the hash-selected subset, values intact")
    assert(got.nonEmpty && got.size < full.length, s"degenerate sample: ${got.size} of ${full.length}")
    val other = spark.read
      .format("graft")
      .option("sampleDocs", "0.2")
      .option("sampleSeed", "8")
      .load(dirB)
      .select($"doc_id").as[String].collect().toSet
    assert(other != got.keySet, "a different seed must select a different membership")
  }

  test("sampleDocs decodes only the sampled rows' payload (row-seek path)") {
    import spark.implicits._
    val df = spark.read
      .format("graft")
      .option("sampleDocs", "0.05")
      .option("sampleSeed", "3")
      .load(dirB) // pure hybrid + row-bit index: the seek path is available
      .select($"doc_id", $"tokens")
    val rows = df.collect()
    val sampledTokens = rows.map(_.getSeq[Int](1).length.toLong).sum
    val scan = findScan(df.queryExecution.executedPlan)
    assert(metric(scan, GraftMetrics.TokenValuesDecoded) == sampledTokens,
      "sample scan must entropy-decode exactly the kept rows' token values")
  }

  test("sampleDocs gates metadata aggregate pushdown and exact numRows") {
    import spark.implicits._
    val sampled = spark.read
      .format("graft")
      .option("sampleDocs", "0.2")
      .option("sampleSeed", "7")
      .load(dirA)
    val n = sampled.agg(count(lit(1))).head().getLong(0)
    val expected = spark.read.format("graft").load(dirA)
      .select($"doc_id").as[String].collect().count(DocSample(200000, 7L).keep(_, null))
    // if the metadata COUNT pushdown failed to gate itself off, this would
    // report the FULL corpus row count
    assert(n == expected.toLong, s"count under sample: got $n want $expected")
    val plan = sampled.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!plan.contains("pushedAggregates"), s"aggregate pushed under sample:\n$plan")
    assert(plan.contains("sampleDocs=ppm=200000,seed=7"), s"sample missing from scan description:\n$plan")
  }

  test("sampleDocs rejects out-of-range fractions loudly") {
    val e = intercept[Exception] {
      spark.read.format("graft").option("sampleDocs", "1.5").load(dirA).collect()
    }
    assert(e.getMessage.contains("sampleDocs"), e.getMessage)
  }

  test("sampleBySource: per-source rates, unlisted kept whole, * default honored") {
    import spark.implicits._
    val full = spark.read.format("graft").load(dirA).as[graft.pipeline.TokenRow].collect()
    val got = spark.read
      .format("graft")
      .option("sampleBySource", "web:0.1, chat:0, code:1.0")
      .option("sampleSeed", "5")
      .load(dirA)
      .as[graft.pipeline.TokenRow]
      .collect()
      .map(r => r.doc_id -> r.source)
      .toMap
    val spec = DocSample(1000000, 5L, Map("web" -> 100000, "chat" -> 0, "code" -> 1000000))
    val want = full.filter(r => spec.keep(r.doc_id, r.source)).map(r => r.doc_id -> r.source).toMap
    assert(got == want)
    val bySrc = got.values.groupBy(identity).map { case (k, v) => k -> v.size }
    val fullBySrc = full.groupBy(_.source).map { case (k, v) => k -> v.size }
    assert(bySrc.getOrElse("chat", 0) == 0, "rate 0 must drop the source entirely")
    assert(bySrc("code") == fullBySrc("code"), "rate 1.0 must keep the source whole")
    assert(bySrc("wiki") == fullBySrc("wiki"), "unlisted sources are kept whole without *")
    assert(bySrc("web") > 0 && bySrc("web") < fullBySrc("web"), "web must be thinned")
    // with *:0 every unlisted source drops
    val starred = spark.read
      .format("graft")
      .option("sampleBySource", "web:0.1,*:0")
      .option("sampleSeed", "5")
      .load(dirA)
      .select($"source").as[String].collect().toSet
    assert(starred == Set("web"), s"*:0 must drop unlisted sources, saw $starred")
  }

  test("samples NEST across rates: every doc kept at 5% is kept at 20%") {
    import spark.implicits._
    def ids(f: String) = spark.read
      .format("graft")
      .option("sampleDocs", f)
      .option("sampleSeed", "7")
      .load(dirA)
      .select($"doc_id").as[String].collect().toSet
    val small = ids("0.05")
    val large = ids("0.2")
    assert(small.nonEmpty && small.subsetOf(large),
      s"${(small -- large).size} docs of the 5% sample missing from the 20% sample")
  }

  test("streaming read honors sampleDocs (the sampled continuous pipeline)") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-sample-ckpt").toString
    val q = spark.readStream
      .format("graft")
      .option("sampleDocs", "0.2")
      .option("sampleSeed", "7")
      .load(dirA)
      .writeStream
      .format("memory")
      .queryName("graft_sample_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_sample_stream")
        .select($"doc_id").as[String].collect().toSet
      val want = input.collect().map(_.doc_id).filter(DocSample(200000, 7L).keep(_, null)).toSet
      assert(got == want, "streamed batch must apply the same deterministic sample")
    } finally q.stop()
  }

  test("pipeline composition: sampled graft scan feeds sequence packing") {
    import spark.implicits._
    val sampled = spark.read
      .format("graft")
      .option("sampleDocs", "0.3")
      .option("sampleSeed", "13")
      .load(dirA)
    val (packed, release) = graft.ops.Packing
      .packSequencesWithHandle(sampled, seqLen = 512, sepToken = Some(0), withSpans = true)
    val got = packed.orderBy($"example_id").collect()
    // reference: same sample + pack computed from the raw corpus
    val spec = DocSample(300000, 13L)
    val keptRows = input.collect().filter(r => spec.keep(r.doc_id, null)).sortBy(_.doc_id)
    val stream = keptRows.flatMap(r => r.tokens :+ 0)
    val wantN = stream.length / 512
    assert(got.length == wantN, s"${got.length} examples, want $wantN")
    assert(got.flatMap(_.getSeq[Int](1)).toSeq == stream.take(wantN * 512).toSeq)
    // spans only reference sampled docs
    val spanDocs = got.flatMap(_.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0))).toSet
    assert(spanDocs.subsetOf(keptRows.map(_.doc_id).toSet))
    release()
  }

  test("sampleBySource clamps sub-ppm positive rates to 1 ppm (only explicit 0 drops)") {
    import scala.jdk.CollectionConverters._
    def parse(spec: String) = DocSample
      .fromOptions(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("sampleBySource" -> spec).asJava))
      .get
    val d = parse("web:0.0000004, chat:0")
    assert(d.bySource("web") == 1, "a positive fraction must never round to dropped")
    assert(d.bySource("chat") == 0, "an explicit 0 drops the source")
  }

  test("sampleDocs and sampleBySource are mutually exclusive") {
    val e = intercept[Exception] {
      spark.read
        .format("graft")
        .option("sampleDocs", "0.1")
        .option("sampleBySource", "web:0.5")
        .load(dirA)
        .collect()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  // ---- tokenPrefix: context-window truncation at the source ----

  private def prefixExpected(k: Int) = {
    import spark.implicits._
    input
      .select($"doc_id", slice($"tokens", 1, k).as("tokens"), $"n_tok", $"source")
      .as[graft.pipeline.TokenRow]
  }

  test("tokenPrefix: truncated tokens, FULL n_tok, across mixed codecs (dirA) and pure hybrid (dirB)") {
    import spark.implicits._
    for (dir <- Seq(dirA, dirB)) {
      val got = spark.read
        .format("graft")
        .option("tokenPrefix", 7)
        .load(dir)
        .as[graft.pipeline.TokenRow]
      // verify compares n_tok AND tokens — n_tok must stay the stored full
      // length while tokens is the 7-element head
      assert(GraftPipeline.verify(prefixExpected(7), got) == 0L, s"prefix mismatch under $dir")
    }
  }

  test("tokenPrefix >= every n_tok is a no-op (dense full-block path)") {
    import spark.implicits._
    val got = spark.read
      .format("graft")
      .option("tokenPrefix", 1 << 20)
      .load(dirA)
      .as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, got) == 0L)
  }

  test("tokenPrefix decodes EXACTLY sum(min(n_tok, k)) token values on seekable blocks") {
    import spark.implicits._
    val k = 7
    val df = spark.read.format("graft").option("tokenPrefix", k).load(dirB)
    val q = df.select(sum(size($"tokens")).as("s"))
    val out = q.collect().head.getLong(0)
    val expected = input
      .select(sum(least(col("n_tok"), lit(k))))
      .collect()
      .head
      .getLong(0)
    assert(out == expected, "emitted prefix sizes wrong")
    val scan = findScan(q.queryExecution.executedPlan)
    // every dirB block carries a row-bits index, so a truncating prefix
    // routes through the seek path: decoded values == emitted values, not
    // the corpus total (the heavy-tail rows alone would dwarf this)
    assert(
      metric(scan, "graftTokenValuesDecoded") == expected,
      s"seek path decoded more than the prefix: ${metric(scan, "graftTokenValuesDecoded")} vs $expected"
    )
  }

  test("tokenPrefix + containsToken composes as truncate-then-filter") {
    import spark.implicits._
    val k = 5
    // needle drawn from a real row so both the in-prefix and beyond-prefix
    // cases exist in the corpus
    val sampleRow = input.filter(size($"tokens") > k).head()
    val needle = sampleRow.tokens(k - 1) // inside the prefix for this row
    val got = spark.read
      .format("graft")
      .option("tokenPrefix", k)
      .option("containsToken", needle.toString)
      .load(dirA)
      .select($"doc_id")
      .as[String]
      .collect()
      .toSet
    val expected = input
      .filter(array_contains(slice($"tokens", 1, k), needle))
      .select($"doc_id")
      .as[String]
      .collect()
      .toSet
    assert(got == expected, "containment must evaluate on the truncated view")
    assert(expected.contains(sampleRow.doc_id))
  }

  test("tokenPrefix composes with sequence packing (truncate-then-pack)") {
    import spark.implicits._
    val truncated = spark.read
      .format("graft")
      .option("tokenPrefix", 4)
      .load(dirA)
      .select($"doc_id", $"tokens")
    val (got, rel1) =
      graft.ops.Packing.packSequencesWithHandle(truncated, seqLen = 64, sepToken = Some(0))
    val ref = input.toDF.select($"doc_id", slice($"tokens", 1, 4).as("tokens"))
    val (want, rel2) =
      graft.ops.Packing.packSequencesWithHandle(ref, seqLen = 64, sepToken = Some(0))
    // packing is a pure function of the doc stream, so the truncated graft
    // read must yield byte-identical examples to packing the sliced source
    val g = got.collect().map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
    val w = want.collect().map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
    assert(g.nonEmpty && g == w)
    rel1(); rel2()
  }

  test("tokenPrefix must be positive") {
    val e = intercept[Exception] {
      spark.read.format("graft").option("tokenPrefix", "0").load(dirA).collect()
    }
    assert(e.getMessage.contains("tokenPrefix"), e.getMessage)
  }
}

/** The local file system under the `graftprobe` scheme. */
class GraftProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
  override def getScheme: String = "graftprobe"
}
