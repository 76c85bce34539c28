package perfbench

import graft.pipeline.{Deletes, EncodeJob, GraftPipeline, Maintenance, TokenRow, TokenTables}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Input sizes and run shape. A run has to fit set-up, warm-up and
  * `--seconds` of measurement in about a minute on a 4-core host, so the
  * corpora are small; the source mix and the heavy-tail rows of
  * TokenTables.syntheticRow are kept.
  */
object Sizes {
  val ingestRows = 20000L
  val scanRows = 40000L
  val numBins = 8
  val setupReps = 3
  /** Untimed ops between set-up and the timed loop: on a 4-core host the
    * JIT still speeds ops up for many seconds after the last set-up
    * repetition.
    */
  val warmupSeconds = 5.0
  val scanMetaPerFull = 1
  val scanDeleteEvery = 200 // ~0.5% of docs deleted in the scan corpus
  val appendDocs = 1000
  val appendDupShare = 0.1
  val deleteDocs = 20
  val kernelMaxTokens = 4000000L
}

/** The benchmark corpus: row `idx` is TokenTables.syntheticRow(seed, idx),
  * except the generator's heavy-tail rows (one ~100k-token row per 997),
  * which always come from one fixed seed. Those rows hold about 3/4 of the
  * tokens in 0.1% of the rows; at these corpus sizes a seeded draw of their
  * sources and lengths would move every size and throughput figure by
  * ±15% from seed to seed. Fixing them keeps the skew path in every run and
  * leaves the seed to vary the other rows.
  */
object Corpus {
  val heavySeed = 42L

  def isHeavy(idx: Long): Boolean = idx % 997 == 499

  def row(seed: Long, idx: Long): TokenRow =
    TokenTables.syntheticRow(if (isHeavy(idx)) heavySeed else seed, idx)

  def dataset(spark: SparkSession, rows: Long, seed: Long): Dataset[TokenRow] = {
    import spark.implicits._
    spark.range(rows).map(i => row(seed, i))
  }
}

/** A benchmark workload. `setup` builds its inputs from the seed (and is
  * repeated to time set-up); `loop` runs timed ops for the given seconds;
  * `finish` runs the end-of-run correctness gates; `e2e` reports the
  * end-to-end metrics.
  */
abstract class Workload(val ctx: Ctx) {
  def setup(): Unit
  def loop(seconds: Double): Unit
  def finish(): Unit
  def e2e(): Map[String, Double]
  /** Corpus parquet the workload's table was encoded from, and its table. */
  def inputPath: String
  def tableDir: String
  /** Ops against the table that the workload's own loop does not make. */
  def probe(): Unit

  protected val spark = ctx.spark
  import spark.implicits._
  val cfg: GraftPipeline.Config = GraftPipeline.Config(numContexts = 64, numBins = Sizes.numBins)

  protected def writeCorpus(rows: Long, path: String): Dataset[TokenRow] = {
    ctx.wipe(path)
    Corpus.dataset(spark, rows, ctx.seed).write.parquet(path)
    spark.read.parquet(path).as[TokenRow]
  }

  /** Runs the full-pipeline ingest into a fresh dir, counting the bytes it
    * wrote against the raw token bytes it took in.
    */
  protected def encodeFresh(input: Dataset[TokenRow], dir: String, tokens: Long): Unit = {
    ctx.wipe(dir)
    ctx.op("encode")(ctx.tr.span("pipeline", "EncodeJob.run")(EncodeJob.run(input, dir, cfg)))(_ => true)
    ctx.rawBytesIn += 4 * tokens
    ctx.bytesWritten += Layers.treeBytes(Paths.get(dir))
  }

  protected def secondsLeft(start: Long, seconds: Double): Boolean =
    (System.nanoTime() - start) / 1e9 < seconds

  protected def ms(kind: String): Seq[Double] = ctx.samples.getOrElse(kind, Nil).toSeq
}

/** `ingest`: repeated fresh EncodeJob.run of one corpus into empty dirs —
  * pass-1 analyze, table build, codec selection, the hybrid encode kernel,
  * the bin-routing shuffle, parquet write and the commit. Pure write: no
  * decode happens inside the timed window.
  */
final class Ingest(c: Ctx) extends Workload(c) {
  import spark.implicits._
  val inputPath = s"${ctx.work}/ingest/input"
  private var outDir = ""
  def tableDir: String = outDir
  private var input: Dataset[TokenRow] = _
  private var expect = (0L, 0L, 0L)
  private var first: Option[Layers.Fingerprint] = None
  private var runs = 0

  def setup(): Unit = {
    input = writeCorpus(Sizes.ingestRows, inputPath)
    expect = ctx.contentStats(input.toDF())
    // warm-up encode; its fingerprint is the reference the timed runs match
    val warm = s"${ctx.work}/ingest/warm"
    ctx.wipe(warm)
    EncodeJob.run(input, warm, cfg)
    first = Some(Layers.fingerprint(spark, warm))
    ctx.wipe(warm)
  }

  def loop(seconds: Double): Unit = {
    val start = System.nanoTime()
    while (runs == 0 || secondsLeft(start, seconds)) {
      val dir = s"${ctx.work}/ingest/out-$runs"
      if (outDir.nonEmpty) ctx.wipe(outDir)
      encodeFresh(input, dir, expect._2)
      outDir = dir
      runs += 1
      // an ingest whose exact counts differ from the run before it failed
      ctx.gate("ingest.fingerprint")(first.contains(Layers.fingerprint(spark, dir)))
    }
  }

  def finish(): Unit = {
    ctx.gate("ingest.decode")(ctx.contentStats(ctx.table(outDir)) == expect)
    first.foreach(fingerprintRepeats)
  }

  /** Compares the fingerprint with the one the same build recorded for the
    * same seed in an earlier run, or records it.
    */
  private def fingerprintRepeats(fp: Layers.Fingerprint): Unit = {
    val f = Paths.get(ctx.state, s"fingerprint-ingest-${ctx.seed}-${ctx.build}.json")
    val now = fp.render
    println(s"perfbench fingerprint $now")
    if (Files.exists(f)) ctx.gate("ingest.fingerprint_repeats")(new String(Files.readAllBytes(f), UTF_8) == now)
    else {
      Files.createDirectories(f.getParent)
      Files.write(f, now.getBytes(UTF_8))
    }
  }

  def e2e(): Map[String, Double] = {
    val p50 = Stats.median(ms("encode"))
    Map(
      "mtok_s" -> expect._2 / p50 / 1e3,
      "p50_ms" -> p50,
      "bytes_per_token" -> Layers.liveBytes(spark, outDir).toDouble / expect._2
    )
  }

  def probe(): Unit = new LiveOps(ctx, outDir, Sizes.ingestRows, Set.empty).probe()
}

/** `scan`: training-loader reads over a fixed pre-encoded corpus with
  * ~0.5% of docs deleted by one committed equality delete — full-decode
  * DSv2 scans and metadata-only scans. The file and delete sets never
  * change, so the reader's footer, manifest and delete-set caches stay
  * warm. No encode happens in the timed window.
  */
final class Scan(c: Ctx) extends Workload(c) {
  import spark.implicits._
  val inputPath = s"${ctx.work}/scan/input"
  val tableDir = s"${ctx.work}/scan/table"
  private var deleted = Set.empty[Long]
  private var liveRows = 0L
  private var liveTokens = 0L
  private var expect = (0L, 0L, 0L)

  def setup(): Unit = {
    val input = writeCorpus(Sizes.scanRows, inputPath)
    ctx.wipe(tableDir)
    EncodeJob.run(input, tableDir, cfg)
    // ordinary docs only: one deleted heavy row would move the live token
    // count by ~2% and with it every scan figure
    deleted = (0L until Sizes.scanRows).filter { i =>
      !Corpus.isHeavy(i) &&
      java.lang.Long.remainderUnsigned(TokenTables.mix64(ctx.seed * 31 + i), Sizes.scanDeleteEvery) == 0
    }.toSet
    val ids = deleted.toSeq.sorted.map(i => Corpus.row(ctx.seed, i))
    Deletes.deleteDocs(spark, tableDir, ids.map(_.doc_id).toDS())
    // what a read of the table must return: the corpus minus those docs
    expect = ctx.contentStats(input.toDF().where(!$"doc_id".isin(ids.map(_.doc_id): _*)))
    liveRows = expect._1
    liveTokens = expect._2
    fullScan()
    metaScan()
  }

  private def fullScan(): Unit =
    ctx.op("full_scan")(
      Layers.query(ctx.tr, "full_scan", ctx.table(tableDir).agg(count(lit(1)), sum(size($"tokens")).cast("long")))
    ) { case (rows, st) =>
      ctx.queries += ((st, liveTokens))
      rows(0).getLong(0) == liveRows && rows(0).getLong(1) == liveTokens
    }

  private def metaScan(): Unit =
    ctx.op("meta_scan")(
      Layers.query(ctx.tr, "meta_scan", ctx.table(tableDir).agg(count(lit(1)), sum($"n_tok").cast("long")))
    ) { case (rows, st) =>
      ctx.queries += ((st, 0L))
      rows(0).getLong(0) == liveRows && rows(0).getLong(1) == liveTokens
    }

  def loop(seconds: Double): Unit = {
    val start = System.nanoTime()
    do {
      fullScan()
      (1 to Sizes.scanMetaPerFull).foreach(_ => metaScan())
    } while (secondsLeft(start, seconds))
  }

  /** The scans check counts only; the decoded content is checked once. */
  def finish(): Unit = ctx.gate("scan.decode")(ctx.contentStats(ctx.table(tableDir)) == expect)

  def e2e(): Map[String, Double] = Map(
    "mtok_s" -> liveTokens / Stats.median(ms("full_scan")) / 1e3,
    "p50_ms" -> Stats.median(ms("meta_scan")),
    "bytes_per_token" -> Layers.liveBytes(spark, tableDir).toDouble / liveTokens
  )

  def probe(): Unit = new LiveOps(ctx, tableDir, Sizes.scanRows, deleted).probe()
}

/** Point lookups, small DSv2 appends (a seeded share duplicates existing
  * content), small equality deletes and a maintenance cycle (incremental
  * exact dedup, purge, compact) over any table encoded from
  * TokenTables.syntheticRow(seed, 0 until rows) minus `deletedIdx`. The
  * benchmark keeps a model of which doc_id holds which generator row, so
  * every lookup result can be checked exactly. The traced run makes one
  * short cycle on each workload's table to measure the write-side layers.
  */
final class LiveOps(ctx: Ctx, dir: String, rows: Long, deletedIdx: Set[Long]) {
  private val spark = ctx.spark
  import spark.implicits._
  private val rng = new scala.util.Random(ctx.seed * 7919L + rows)
  /** doc_id -> generator index of its content */
  private val live = mutable.HashMap.empty[String, Long]
  /** live doc_ids, indexable for seeded picks; `slot` is each id's index */
  private val liveIds = mutable.ArrayBuffer.empty[String]
  private val slot = mutable.HashMap.empty[String, Int]
  private val deletedIds = mutable.ArrayBuffer.empty[String]
  private var nextIdx = rows + 1000000L

  (0L until rows).foreach { i =>
    val id = Corpus.row(ctx.seed, i).doc_id
    if (deletedIdx.contains(i)) deletedIds += id else add(id, i)
  }

  private def add(id: String, src: Long): Unit = {
    live(id) = src
    slot(id) = liveIds.size
    liveIds += id
  }

  private def isHeavy(idx: Long): Boolean = Corpus.isHeavy(idx)

  private def row(idx: Long): TokenRow = Corpus.row(ctx.seed, idx)

  private def afterOp(): Unit =
    if (ctx.tr.enabled) ctx.states += Layers.state(spark, dir)

  def lookup(): Unit = {
    val hitDeleted = deletedIds.nonEmpty && rng.nextInt(10) == 0
    val id = if (hitDeleted) deletedIds(rng.nextInt(deletedIds.size)) else liveIds(rng.nextInt(liveIds.size))
    val want = live.get(id).map(i => row(i).tokens)
    ctx.op("lookup")(
      Layers.query(ctx.tr, "lookup", ctx.table(dir).where($"doc_id" === id).select($"doc_id", $"tokens"))
    ) { case (rs, st) =>
      ctx.queries += ((st, want.map(_.length.toLong).getOrElse(0L)))
      want match {
        case Some(t) =>
          rs.length == 1 && rs(0).getString(0) == id && rs(0).getSeq[Int](1).toArray.sameElements(t)
        case None => rs.isEmpty
      }
    }
    afterOp()
  }

  def append(): Unit = {
    // fresh generator rows, skipping the heavy-tail ones: a live append is
    // a small interactive batch, and one 100k-token row would make its
    // size swing several-fold between seeds
    val fresh = Iterator.from(0).map(nextIdx + _).filterNot(isHeavy).take(Sizes.appendDocs).toVector
    nextIdx = fresh.last + 1
    val batch = fresh.map { idx =>
      if (rng.nextDouble() < Sizes.appendDupShare) {
        var src = live(liveIds(rng.nextInt(liveIds.size)))
        while (isHeavy(src)) src = live(liveIds(rng.nextInt(liveIds.size)))
        val r = row(src)
        (r.copy(doc_id = f"doc-${r.source}%s-$idx%010d"), src)
      } else (row(idx), idx)
    }
    val df = batch.map(_._1).toDS()
    val before = Layers.treeBytes(Paths.get(dir))
    ctx.op("append")(ctx.tr.span("sources", "append")(df.write.format("graft").mode("append").save(dir)))(_ => true)
    val tokens = batch.map(_._1.n_tok.toLong).sum
    ctx.rawBytesIn += 4 * tokens
    ctx.bytesWritten += Layers.treeBytes(Paths.get(dir)) - before
    batch.foreach { case (r, src) => add(r.doc_id, src) }
    afterOp()
  }

  def delete(): Unit = {
    // ordinary docs only, for the same reason appends skip heavy rows
    val ids = Iterator.continually(liveIds(rng.nextInt(liveIds.size)))
      .filterNot(id => isHeavy(live(id))).distinct.take(Sizes.deleteDocs).toVector
    val before = Layers.treeBytes(Paths.get(dir))
    ctx.op("delete")(ctx.tr.span("pipeline", "deleteDocs")(Deletes.deleteDocs(spark, dir, ids.toDS()))) {
      _.exists(_.idsRecorded == ids.size)
    }
    ctx.bytesWritten += Layers.treeBytes(Paths.get(dir)) - before
    ids.foreach(forget)
    afterOp()
  }

  private def forget(id: String): Unit = {
    live.remove(id)
    val i = slot.remove(id).get
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(i) = last; slot(last) = i }
    deletedIds += id
  }

  private def rowCount(): Long = ctx.table(dir).count()

  /** dedup (incremental) + purge + compact, with the row-conservation and
    * idempotence gates; then resyncs the model to the surviving doc_ids.
    */
  def maintain(): Unit = {
    val before = rowCount()
    val bytes0 = Layers.treeBytes(Paths.get(dir))
    val res = ctx.op("maintain") {
      val (d, dMs) = ctx.time(ctx.tr.span("pipeline", "dedupExact")(Maintenance.dedupExact(spark, dir, incremental = true)))
      val (p, pMs) = ctx.time(ctx.tr.span("pipeline", "purgeDeletes")(Maintenance.purgeDeletes(spark, dir)))
      val (c, cMs) = ctx.time(ctx.tr.span("pipeline", "compact")(Maintenance.compact(spark, dir)))
      ctx.record("pipeline.dedup_s", dMs / 1e3)
      ctx.record("pipeline.dedup_files_hashed", d.filesHashed.toDouble)
      ctx.record("pipeline.purge_s", pMs / 1e3)
      ctx.record("pipeline.purge_files_rewritten", p.map(_.filesRewritten).getOrElse(0).toDouble)
      ctx.record("pipeline.compact_s", cMs / 1e3)
      (d, p, c)
    }(_ => true)
    ctx.bytesWritten += Layers.treeBytes(Paths.get(dir)) - bytes0
    res.foreach { case (d, _, _) =>
      val after = rowCount()
      ctx.gate("maintain.rows_conserved")(after == before - d.docsDeleted)
      ctx.gate("maintain.dedup_idempotent")(Maintenance.dedupExact(spark, dir, incremental = true).dupGroups == 0)
      val present = ctx.table(dir).select($"doc_id").as[String].collect().toSet
      val removed = live.keySet.toSeq.filterNot(present)
      ctx.gate("maintain.only_duplicates_removed")(
        removed.size == d.docsDeleted && present.forall(live.contains) && present.size == after
      )
      removed.sorted.foreach(forget)
    }
    afterOp()
  }

  /** One short cycle (lookups, an append, lookups, a delete, maintenance)
    * and the end-state gate, so a traced run still measures the write-side
    * layers on the workload's own table. The op order is fixed; the seed
    * picks ids and content.
    */
  def probe(): Unit = {
    lookup(); lookup(); append()
    lookup(); lookup(); delete()
    maintain()
    finalGates()
  }

  private def finalGates(): Unit = {
    val got = ctx.table(dir).agg(count(lit(1)), sum($"n_tok").cast("long")).collect()(0)
    val wantTokens = live.values.iterator.map(i => row(i).n_tok.toLong).sum
    ctx.gate("live.final_rows")(got.getLong(0) == live.size && got.getLong(1) == wantTokens)
  }
}
