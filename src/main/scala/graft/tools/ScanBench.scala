package graft.tools

import graft.Bench
import graft.pipeline.{GraftPipeline, TokenRow, TokenTables}
import org.apache.spark.sql.functions._

/** Focused DSv2 scan micro-benchmark (dev tool): isolates the read-path
  * cost of `spark.read.format("graft")` so scan-side changes (row
  * materialization, pruning, decode kernels) can be measured in seconds,
  * not via a full ~15-min Bench run. Reuses Bench's persisted synthetic
  * corpus + encode dir (same keying: rows, block FormatVersion, table
  * hash), so a prior Bench run makes this start instantly.
  *
  * Usage: runMain graft.tools.ScanBench [synthRows] [reps] [cores]
  * Rows:
  *   scan_size  — agg(sum(size(tokens))): materialization-dominated (array
  *                headers touched, elements not)
  *   scan_sum   — sum over every token element via functions.aggregate:
  *                element-access-dominated
  *   scan_meta  — agg(sum(n_tok)): metadata-only (pruning floor)
  *   scan_ksum  — scan_sum through the codegen'd graft_token_sum kernel
  *   scan_lenflt— pushed p99 n_tok filter + kernel sum: row-seek pruning
  *   scan_prefix— tokenPrefix=16 truncation: per-row k-value decode floor
  *   scan_sample— deterministic 1% doc sample: doc_id-stream + row-seek cost
  */
object ScanBench {
  def main(args: Array[String]): Unit = {
    val synthRows = if (args.nonEmpty) args(0).toLong else 3000000L
    val reps = if (args.length > 1) args(1).toInt else 5
    val cores = if (args.length > 2) args(2).toInt else 32
    val cfg = GraftPipeline.Config(numContexts = 64, numBins = 512)
    val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val synthPath = s"$base/graft_bench_synth_$synthRows"

    val spark = Bench.session(cores)
    import spark.implicits._
    try {
      if (!new java.io.File(synthPath + "/_SUCCESS").exists())
        TokenTables.synthetic(spark, synthRows).write.mode("overwrite").parquet(synthPath)
      val input = spark.read.parquet(synthPath).as[TokenRow]
      val hist = GraftPipeline.analyze(input, cfg)
      val tables = spark.sparkContext.broadcast(GraftPipeline.buildTables(hist, cfg))
      val encDir =
        s"$base/graft_bench_enc_${synthRows}_v${graft.pipeline.EncodeJob.FormatVersion}_h${tables.value.tableHash}"
      if (!new java.io.File(encDir + "/blocks/_SUCCESS").exists()) {
        graft.pipeline.EncodeJob
          .saveTables(spark, encDir, tables.value, cfg.contextModel, layout = Some(cfg))
        GraftPipeline.encode(input, tables, cfg).write.mode("overwrite").parquet(s"$encDir/blocks")
      }
      if (!new java.io.File(encDir + "/_manifest").exists())
        graft.pipeline.EncodeJob
          .appendManifest(spark, encDir, (0 until cfg.numBins).toSet, snapshotId = 0L)

      def scan = spark.read.format("graft").load(encDir)
      val expected = input.select(sum(size($"tokens"))).collect()(0).getLong(0)
      // the token VALUE sum (not the count): the oracle for the two
      // element-reduction rows, computed once from the source parquet
      val expectedValSum = input
        .select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s"))
        .agg(sum($"s")).collect()(0).getLong(0)
      // warmup both shapes
      scan.agg(sum(size($"tokens"))).collect()
      scan.select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s")).agg(sum($"s")).collect()

      def rep(name: String, want: Long)(q: => Long): Unit = {
        val ts = (1 to reps).map { _ =>
          val (v, t) = Bench.time(q)
          require(v == want, s"$name returned $v, expected $want")
          t
        }
        println(f"SCANBENCH $name%-10s best=${ts.min}%7.3f s  median=${ts.sorted.apply(reps / 2)}%7.3f s  (${ts.map(t => f"$t%.3f").mkString(", ")})")
      }
      rep("scan_size", expected)(scan.agg(sum(size($"tokens"))).collect()(0).getLong(0))
      rep("scan_sum", expectedValSum)(
        scan.select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s"))
          .agg(sum($"s")).collect()(0).getLong(0))
      // same reduction through the codegen'd graft_token_sum kernel: the
      // unboxed form of scan_sum (the HOF boxes every element in its lambda)
      rep("scan_ksum", expectedValSum)(
        scan.select(graft.functions.TokenSum.token_sum($"tokens").as("s"))
          .agg(sum($"s")).collect()(0).getLong(0))
      rep("scan_meta", expected)(scan.agg(sum($"n_tok")).collect()(0).getLong(0))
      // grouped metadata pushdown: the per-source token-count report rides
      // the same block-metadata path (one partial row per source per file,
      // zero payload bytes) — should sit at the scan_meta floor, not at a
      // per-row materialize+shuffle cost
      val expectedBySrc = input.toDF.groupBy($"source").agg(sum($"n_tok"))
        .collect().map(_.getLong(1)).sum
      rep("scan_srcmeta", expectedBySrc)(
        scan.groupBy($"source").agg(sum($"n_tok").as("t"))
          .collect().map(_.getLong(1)).sum)
      // pushed n_tok filters: the scan row-seeks only matching rows.
      // Two shapes — ">= p99" (long-doc selection; sparse rows but the
      // heavy tail means they still hold much of the token MASS, so the
      // win is modest and honest) and "== p90 exactly" (sparse rows AND
      // small mass — the row-seek floor against scan_ksum's full decode)
      val pcts = input.toDF
        .select(expr("percentile(n_tok, 0.99)"), expr("percentile(n_tok, 0.90)"))
        .collect()(0)
      val (thr, exact) = (pcts.getDouble(0).toInt, pcts.getDouble(1).toInt)
      def lenSum(cond: org.apache.spark.sql.Column): Long = {
        val r = input.toDF
          .where(cond)
          .select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s"))
          .agg(sum($"s")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      def scanLenSum(cond: org.apache.spark.sql.Column): Long = {
        val r = scan.where(cond)
          .select(graft.functions.TokenSum.token_sum($"tokens").as("s"))
          .agg(sum($"s")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0) // truncated pctile may match 0 rows
      }
      rep("scan_lenflt", lenSum($"n_tok" >= thr))(scanLenSum($"n_tok" >= thr))
      rep("scan_leneq", lenSum($"n_tok" === exact))(scanLenSum($"n_tok" === exact))

      // context-window truncation (option("tokenPrefix", k)): seekable
      // blocks entropy-decode exactly k values per row and stop, so the
      // row should land well below scan_ksum's full decode (the emitted
      // mass is ~k/avg_len of the corpus; non-seekable lightweight blocks
      // still decode fully and slice — the honest mixed-codec cost)
      val prefK = 16
      val expPrefix = input.toDF
        .select(expr(s"aggregate(slice(tokens, 1, $prefK), 0L, (a, x) -> a + x)").as("s"))
        .agg(sum($"s")).collect()(0).getLong(0)
      rep("scan_prefix", expPrefix)(
        spark.read.format("graft").option("tokenPrefix", prefK.toString).load(encDir)
          .select(graft.functions.TokenSum.token_sum($"tokens").as("s"))
          .agg(sum($"s")).collect()(0).getLong(0))

      // deterministic 1% sample (option("sampleDocs")): doc_ids decode for
      // every block, payload row-seeks only the kept rows — should land
      // near the scan_meta floor plus ~1% of scan_ksum's decode, far from
      // the full-decode-then-filter cost a naive sample pays
      // the production membership rule itself (not a re-derivation), so a
      // rule change cannot silently diverge this row's expected value
      val sampleSeed = graft.ops.XHash.mix62(9L)
      val keepUdf = udf { id: String =>
        graft.functions.SampleDoc.keep(
          org.apache.spark.unsafe.types.UTF8String.fromString(id), 10000, sampleSeed)
      }
      val expSample = {
        val r = input.toDF
          .where(keepUdf($"doc_id"))
          .select(expr("aggregate(tokens, 0L, (a, x) -> a + x)").as("s"))
          .agg(sum($"s")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      rep("scan_sample", expSample) {
        val r = spark.read
          .format("graft")
          .option("sampleDocs", "0.01")
          .option("sampleSeed", "9")
          .load(encDir)
          .select(graft.functions.TokenSum.token_sum($"tokens").as("s"))
          .agg(sum($"s")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }

      // token needle search — the content query the _token_index sidecar
      // exists for: "which docs contain token X" (needle selection and the
      // index drop shared with Bench — see Bench.uniqueNeedle). First row:
      // NO index (full decode + exact containment filter — the only plan a
      // key-pruning engine has for a content query); then build the index
      // (cost printed once) and measure the bloom-skipped plan.
      val needle = Bench.uniqueNeedle(input.toDF)
      val needleDocs = input.toDF.where(array_contains($"tokens", lit(needle))).count()
      def needleScan = spark.read.format("graft").option("containsToken", needle).load(encDir)
      graft.sources.TokenIndex
        .dropIndex(encDir, spark.sparkContext.hadoopConfiguration): Unit
      rep("scan_needle", needleDocs)(needleScan.count())
      val (bres, bt) = Bench.time(graft.sources.TokenIndex.build(spark, encDir))
      println(f"SCANBENCH token_index build: $bres in $bt%.3f s")
      rep("scan_needle_ix", needleDocs)(needleScan.count())
    } finally spark.stop()
  }
}
