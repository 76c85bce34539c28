package perfbench

import graft.codec.{CodecSelector, HybridCodec, StringCodecs}
import graft.core.BitWriter
import graft.pipeline.{Deletes, EncodeJob, EncodedBlock, GraftPipeline, Maintenance}
import graft.sources.GraftMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one DSv2 query cost, split at `queryExecution.executedPlan`, with
  * the reader's own custom metrics read back from the executed plan.
  */
final case class QueryStats(
    planMs: Double,
    execMs: Double,
    partitions: Long,
    blocksDecoded: Long,
    valuesDecoded: Long,
    rowsEmitted: Long,
    blocksIndexSkipped: Long
)

object Layers {

  /** Runs a DSv2 query as `sources` layer calls: planning and execution
    * are timed apart.
    */
  def query(tr: Tracer, name: String, df: DataFrame): (Array[Row], QueryStats) = {
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    val plan = tr.span("sources", s"$name.plan")(qe.executedPlan)
    val t1 = System.nanoTime()
    val rows = tr.span("sources", s"$name.exec")(df.collect())
    val t2 = System.nanoTime()
    val scans = batchScans(plan)
    def metric(n: String): Long =
      scans.flatMap(_.metrics.get(n)).map(_.value).sum
    val stats = QueryStats(
      (t1 - t0) / 1e6,
      (t2 - t1) / 1e6,
      scans.map(_.inputPartitions.size.toLong).sum,
      metric(GraftMetrics.BlocksDecoded),
      metric(GraftMetrics.TokenValuesDecoded),
      metric(GraftMetrics.RowsEmitted),
      metric(GraftMetrics.BlocksIndexSkipped)
    )
    (rows, stats)
  }

  private def batchScans(plan: SparkPlan): Seq[BatchScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
    case q: QueryStageExec => batchScans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(batchScans)
  }

  /** Table state a reader has to resolve: live block files, snapshots and
    * live delete files.
    */
  def state(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    (
      Maintenance.liveBlockFiles(dir, conf).length.toLong,
      EncodeJob.listSnapshotIds(dir, conf).size.toLong,
      Deletes.liveDeletes(dir, conf, asOf = None).live.size.toLong
    )
  }

  /** Bytes a read of the current snapshot depends on: live block files,
    * live delete files and the shared symbol tables. Files retired by
    * maintenance but not yet vacuumed are not counted.
    */
  def liveBytes(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = Maintenance.liveBlockFiles(dir, conf).map(_._2).sum
    val deletes = Deletes.liveDeletes(dir, conf, asOf = None).paths(dir).map(p => treeBytes(Paths.get(p))).sum
    blocks + deletes + treeBytes(Paths.get(dir, "_tables"))
  }

  /** Total bytes under a directory (every file ever committed, until a
    * vacuum removes retired ones).
    */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Exact encode fingerprint of a committed dir: payload bits, metadata
    * bytes, table hash and block count per codec.
    */
  final case class Fingerprint(payloadBits: Long, metaBytes: Long, tokens: Long, tableHash: Long, blocks: Map[String, Long]) {
    def render: String =
      s"""{"payload_bits":$payloadBits,"meta_bytes":$metaBytes,"tokens":$tokens,"table_hash":$tableHash,""" +
        blocks.toSeq.sorted.map { case (c, n) => s""""$c":$n""" }.mkString(""""blocks":{""", ",", "}}")
  }

  def fingerprint(spark: SparkSession, dir: String): Fingerprint = {
    import spark.implicits._
    val b = EncodeJob.readBlocks(spark, dir)
    val tot = b.agg(sum($"payload_bits"), sum($"meta_bytes"), sum($"n_values"), min($"table_hash"), max($"table_hash"))
      .collect()(0)
    require(tot.getLong(3) == tot.getLong(4), s"blocks of $dir carry more than one table hash")
    val perCodec = b.groupBy($"codec").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Fingerprint(tot.getLong(0), tot.getLong(1), tot.getLong(2), tot.getLong(3), perCodec)
  }

  /** Codecs the block selector can choose. */
  val codecs: Seq[String] = Seq("hybrid", "dhybrid", "dict", "rle", "for", "bitpack", "delta", "plain")

  /** Single-threaded timings of the `core` and `codec` kernels over blocks
    * of the workload's own corpus, read back with EncodeJob.readBlocks.
    * Returns the metrics and whether every re-encoded hybrid block matched
    * its stored size bit for bit.
    */
  def kernels(spark: SparkSession, dir: String, cfg: GraftPipeline.Config, maxTokens: Long): (Map[String, Double], Boolean) = {
    import spark.implicits._
    val tables = EncodeJob.loadTables(spark, dir).get
    val model = cfg.model
    val hybrid = new HybridCodec(tables, model)
    val all = EncodeJob.readBlocks(spark, dir).orderBy($"bin", $"block_seq").collect()
    var acc = 0L
    val sample = all.takeWhile { b => acc += b.n_values; acc - b.n_values < maxTokens }
    final case class Decoded(b: EncodedBlock, offsets: Array[Int], values: Array[Int], docIds: Array[String])
    def decode(b: EncodedBlock, offsets: Array[Int]): Array[Int] =
      GraftPipeline.decodeBlockPayload(
        b.payload, b.codec, b.embedded_tables, b.table_hash, tables, model, hybrid, b.n_values.toInt, offsets
      )
    val decoded = sample.map { b =>
      val lens = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
      val offsets = lens.scanLeft(0)(_ + _)
      Decoded(b, offsets, decode(b, offsets), StringCodecs.decode(b.doc_ids_codec, b.doc_ids_payload, b.n_rows))
    }
    val (hyb, light) = decoded.partition(_.b.codec == "hybrid")
    val reps = 5
    // median of `reps` timed passes, in ns
    def timeNs(f: => Unit): Double = {
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
      Stats.median(ts)
    }
    var sink = 0L
    var bitsMatch = true
    val hybTokens = hyb.map(_.values.length.toLong).sum
    val lightTokens = light.map(_.values.length.toLong).sum
    val allTokens = hybTokens + lightTokens
    val encNs = timeNs(hyb.foreach { d =>
      val w = new BitWriter(math.max(d.values.length / 2, 64))
      hybrid.encodeWithRowBits(d.values, d.offsets, w)
      if (w.bitsWritten != d.b.payload_bits) bitsMatch = false
    })
    val hybDecNs = timeNs(hyb.foreach(d => sink += decode(d.b, d.offsets).length))
    val lightDecNs = timeNs(light.foreach(d => sink += decode(d.b, d.offsets).length))
    val selectNs = timeNs(decoded.foreach(d => sink += CodecSelector.select(d.values, d.offsets, Some(hybrid))._2))
    val rows = decoded.map(_.docIds.length.toLong).sum
    val strNs = timeNs(decoded.foreach(d => sink += StringCodecs.select(d.docIds)._2.length))
    def mtokS(tokens: Long, ns: Double): Double = if (tokens == 0) 0.0 else tokens * 1e3 / ns
    val m = Map(
      "core.hybrid_encode_mtok_s" -> mtokS(hybTokens, encNs),
      "core.hybrid_decode_mtok_s" -> mtokS(hybTokens, hybDecNs),
      "codec.lightweight_decode_mtok_s" -> mtokS(lightTokens, lightDecNs),
      "codec.select_ns_per_tok" -> selectNs / math.max(1L, allTokens),
      "codec.string_select_ns_per_row" -> strNs / math.max(1L, rows),
      "core.kernel_sample_tokens" -> allTokens.toDouble
    )
    (m, bitsMatch)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
