package graft.tools

import graft.pipeline.{EncodeJob, GraftPipeline, TokenRow, TokenTables}
import org.apache.spark.sql.SparkSession

/** The spark-submit-able encode job (north-rule launch surface):
  * reads a token table, runs the resumable checkpointed encode into
  * `outDir`, prints the snapshot summary. Re-running resumes: committed
  * bins are skipped, and the resumed blocks equal an uninterrupted run's.
  *
  * Usage:
  *   runMain graft.tools.EncodeCli synth:<rows> <outDir> [numBins|auto] [rounds] [model] [flags]
  *   runMain graft.tools.EncodeCli lineitem:<sfDir> <outDir> [numBins] [rounds] [model] [flags]
  *   runMain graft.tools.EncodeCli parquet:<path> <outDir> [numBins] [rounds] [model] [flags]
  * numBins: explicit bin count, or "auto" (default) — sized from the
  *   corpus token count so each bin holds ~32M tokens at ANY data scale
  * model: simple (default) | single | zuckerli
  * rounds: analysis rounds (default 1); more than one runs the
  *   estimator-driven no-bit-writing rounds
  * flags: comma-separated subset of {embed}
  *   embed — self-describing per-block table headers
  */
object EncodeCli {

  /** Totals over the live block files' manifest rows. */
  final case class Summary(rows: Long, tokens: Long, payloadBits: Long, payloadBytes: Long)

  /** [[Summary]] of `outDir`: one row per live (file, bin)
    * ([[EncodeJob.claimLive]]), so rows a compaction, purge or rebin left
    * behind for files that are no longer live do not count.
    */
  def summary(spark: SparkSession, outDir: String): Summary = {
    val rows = EncodeJob.claimLive(spark, outDir).distinctBy(r => (r.file, r.bin))
    Summary(
      rows.map(_.n_rows).sum,
      rows.map(_.n_values).sum,
      rows.map(_.payload_bits).sum,
      rows.map(_.payload_bytes).sum
    )
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: EncodeCli <input> <outDir> [numBins] [rounds] [model] [flags]")
    val spark = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-encode")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val binsArg = if (args.length > 2) args(2) else "auto"
    val rounds = if (args.length > 3) args(3).toInt else 1
    val model = if (args.length > 4) args(4) else "simple"
    val flags = (if (args.length > 5) args(5) else "").split(",").map(_.trim).toSet

    val input = args(0) match {
      case s if s.startsWith("synth:") =>
        TokenTables.synthetic(spark, s.stripPrefix("synth:").toLong)
      case s if s.startsWith("lineitem:") =>
        import org.apache.spark.sql.functions.col
        TokenTables
          .fromLineitem(spark, s.stripPrefix("lineitem:"))
          .select(
            col("doc_id").cast("string").as("doc_id"),
            col("tokens").cast("array<int>").as("tokens"),
            col("n_tok"),
            col("source")
          )
          .as[TokenRow]
      case s if s.startsWith("parquet:") =>
        spark.read.parquet(s.stripPrefix("parquet:")).as[TokenRow]
      case other => sys.error(s"unknown input spec $other")
    }

    // "auto" sizes the bin layout to the corpus (one cheap n_tok-column
    // scan): at 10^12-sequence scale a fixed bin count would put hundreds
    // of gigatokens in one bin — see GraftPipeline.Config.binsFor
    val numBins = binsArg match {
      case "auto" =>
        import org.apache.spark.sql.functions.sum
        val r = input.agg(sum($"n_tok").cast("long")).head()
        val totalValues = if (r.isNullAt(0)) 0L else r.getLong(0)
        val b = GraftPipeline.Config.binsFor(totalValues)
        println(s"auto numBins=$b for $totalValues tokens")
        b
      case n => n.toInt
    }
    val cfg = GraftPipeline.Config(
      numBins = numBins,
      rounds = rounds,
      contextModel = model,
      numContexts =
        if (model == "zuckerli") graft.core.ZuckerliContextModel.NumContexts else 64,
      embedTables = flags.contains("embed")
    )

    val result = EncodeJob.run(input, args(1), cfg)
    val s = summary(spark, args(1))
    println(
      s"snapshot=${result.snapshotId} encoded_bins=${result.binsEncoded.size} " +
        s"skipped_bins=${result.binsSkipped.size} table_hash=${result.tableHash} " +
        s"rows=${s.rows} tokens=${s.tokens} payload_bits=${s.payloadBits} " +
        s"bytes=${s.payloadBytes} bits_per_token=${s.payloadBits.toDouble / math.max(s.tokens, 1)}"
    )
    spark.stop()
  }
}
