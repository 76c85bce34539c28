package graft.sources

import graft.ops.XHash
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** One per-document row of the content index
  * (`_content_index/cix-<uuid>/part-*.parquet`). Top-level for the Dataset
  * encoder. A `doc_id = null` row is the coverage sentinel for a zero-doc
  * file (excluded from hashing, counted as covered).
  */
final case class ContentIndexRow(
    file: String,
    doc_id: String,
    n_tok: Int,
    h1: Long,
    h2: Long
)

/** The CONTENT INDEX — per-document 124-bit content keys
  * ((graft_token_fold seed 0, seed 1), n_tok) persisted as an incremental
  * sidecar, so exact dedup over an append-mostly corpus decodes only the
  * files added since the last run instead of re-reading 100 TB.
  *
  * Protocol (shared with [[SignatureIndex]] via [[SidecarProtocol]]): file
  * names are immutable identities, so coverage is per FILE — a build hashes
  * exactly the live files no committed build covers (one decode task per
  * file through the scan's codec dispatch, doc_ids from the lightweight
  * string stream, entry rows repartitioned to ~64-files-per-part parquet),
  * publishes as ONE atomically-renamed build directory, and never rewrites.
  * Consumers filter entries to the CURRENT live file set (entries of
  * compacted-away files are ignored; the rewritten files index on the next
  * run) and — when equality deletes are live — to the CURRENT live
  * (file, doc) pairs via the scan's `_file` metadata column, which applies
  * exactly the scan's sequence-scoped delete rule. Staleness therefore
  * costs extra hashing, never wrong answers; the hash values themselves are
  * pinned equal to the codegen'd `graft_token_fold` expression by spec.
  *
  * At 100 TB: index bytes ≈ 50 B/doc (~50 GB for 10^12 docs — itself a
  * modest parquet table read distributed, never driver-side; only the
  * covered-file NAME set is collected, the same O(files) scale the manifest
  * index already carries).
  */
object ContentIndex {

  val DirName = "_content_index"

  /** The per-row fold — EXACTLY `graft_token_fold(tokens, seed)` over the
    * stored (non-null) token values; pinned equal to the expression by
    * ContentIndexSpec.
    */
  def foldRow(values: Array[Int], from: Int, until: Int, seed: Long): Long = {
    var h = XHash.mix62((XHash.FnvInit ^ seed) & XHash.Mask62)
    var i = from
    while (i < until) {
      h = XHash.fnvStep(h, values(i).toLong & 0xffffffffL)
      i += 1
    }
    XHash.mix62(h)
  }

  /** Both seeds in ONE pass over the values (the chains are independent, so
    * interleaving them is arithmetic-identical to two [[foldRow]] calls —
    * pinned by spec — at half the memory traffic of the index build's
    * hottest loop). Returns (h1, h2) for seeds 0 and 1.
    */
  def foldRowPair(values: Array[Int], from: Int, until: Int): (Long, Long) = {
    var hA = XHash.mix62((XHash.FnvInit ^ 0L) & XHash.Mask62)
    var hB = XHash.mix62((XHash.FnvInit ^ 1L) & XHash.Mask62)
    var i = from
    while (i < until) {
      val v = values(i).toLong & 0xffffffffL
      hA = XHash.fnvStep(hA, v)
      hB = XHash.fnvStep(hB, v)
      i += 1
    }
    (XHash.mix62(hA), XHash.mix62(hB))
  }

  private[graft] def protocol(outDir: String) =
    new SidecarProtocol(new Path(outDir, DirName), "cix-")

  private def nameOf(file: String): String = new Path(file).getName

  private val EntryCols = Seq("file", "doc_id", "n_tok", "h1", "h2")

  /** Drop the whole index (coverage resets; the next ensure re-hashes every
    * live file). Returns whether an index existed.
    */
  def dropIndex(outDir: String, conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val p = protocol(outDir)
    val fs = p.fsOf(conf)
    fs.exists(p.dir) && fs.delete(p.dir, true)
  }

  /** One listing + ONE parquet frame shared by coverage and entries (the
    * pre-refactor `all` — an object-store index read must not list the
    * build parts once per consumer). Returns the live entry frame plus the
    * full per-file coverage rows.
    */
  private def rowsImpl(
      spark: SparkSession,
      outDir: String,
      liveNames: Set[String]
  ): (Option[DataFrame], Array[(String, Long, Long)]) = {
    val p = protocol(outDir)
    val buildDirs = p.builds(spark.sparkContext.hadoopConfiguration)
    if (buildDirs.isEmpty) return (None, Array.empty)
    val all = p.entriesDf(spark, buildDirs)
    val cov = p.coverage(all)
    val live = p.liveEntries(spark, all, liveNames, cov.exists(_._2 > 1L), EntryCols)
    (Some(live), cov)
  }

  /** Committed index entries restricted to `liveNames` (with `file` kept
    * for (file, doc) liveness joins), plus the covered file-name set.
    * Returns (None, empty) when no index exists.
    */
  def rows(
      spark: SparkSession,
      outDir: String,
      liveNames: Set[String]
  ): (Option[DataFrame], Set[String]) = {
    val (live, cov) = rowsImpl(spark, outDir, liveNames)
    (live, cov.map(_._1).toSet)
  }

  /** Hash `todo` block files (full paths) and publish their cix entries as
    * one atomic build (see [[SidecarProtocol]]).
    */
  def buildFor(spark: SparkSession, outDir: String, todo: Array[String]): Long = {
    if (todo.isEmpty) return 0L
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val p = protocol(outDir)
    val entries = spark.sparkContext
      .parallelize(todo.toIndexedSeq, todo.length)
      .flatMap { file =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        val name = nameOf(file)
        val rows = BlockFileScan
          .rowIterator(file, sConf, headerBytes, maxBits, numContexts, modelName)
        // stream rows straight to the writer (never a whole-file buffer);
        // an empty file yields its coverage sentinel
        if (!rows.hasNext) Iterator(ContentIndexRow(name, null, -1, 0L, 0L))
        else
          rows.map { case (docId, nTok, values, from, until) =>
            val (h1, h2) = foldRowPair(values, from, until)
            ContentIndexRow(name, docId, nTok, h1, h2)
          }
      }
      .toDS()
      // repartition, not coalesce: the decode keeps one task per file (full
      // parallelism); only the computed ~50 B/doc entry rows shuffle down
      // to a bounded part count
      .repartition(p.partsFor(todo.length))
    p.publish(conf, entries.toDF())
    todo.length.toLong
  }

  /** [[ensure]]'s full report: the coverage aggregate the ensure already
    * ran also answers "how many live files are covered, holding how many
    * entries" — callers wanting those numbers (the SQL procedure) must not
    * pay a second aggregate. `liveDocs` divides each file's total by the
    * builds covering it: raced builds wrote identical full copies, so the
    * quotient is exact.
    */
  final case class Ensured(
      entries: DataFrame,
      filesBuilt: Long,
      filesCovered: Int,
      liveDocs: Long
  )

  /** Ensure every name in `live` is covered, hashing only the uncovered
    * files. Coverage is computed DISTRIBUTED ([[SidecarProtocol.liveCoverage]]):
    * only the uncovered todo list and the report scalars reach the driver,
    * never the covered-file name set.
    */
  /** @param withDocStats when false the coverage aggregates skip the
    *   doc_id column entirely (the bulk of the coverage read at millions of
    *   entries) and `Ensured.liveDocs` is 0 — the [[ensure]] fast path; the
    *   SQL procedure keeps the full report.
    */
  def ensureStats(
      spark: SparkSession,
      outDir: String,
      live: Array[String],
      withDocStats: Boolean = true
  ): Ensured = {
    import spark.implicits._
    val p = protocol(outDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val pathNames = live.map(f => (f, nameOf(f))).toIndexedSeq
    val liveNames = live.map(nameOf).toSet
    def emptyEntries =
      spark.emptyDataset[ContentIndexRow].select(EntryCols.map(col): _*)

    val buildDirs0 = p.builds(conf)
    val cov0 =
      if (buildDirs0.isEmpty) SidecarProtocol.LiveCoverage(live, 0L, 0L, raced = false)
      else p.liveCoverage(spark, p.entriesDf(spark, buildDirs0), pathNames, withDocStats)
    if (cov0.todoPaths.isEmpty) {
      // fully covered — the common re-run: no build, one coverage job
      val entries =
        if (buildDirs0.isEmpty) emptyEntries
        else p.liveEntries(spark, p.entriesDf(spark, buildDirs0), liveNames, cov0.raced, EntryCols)
      return Ensured(entries, 0L, cov0.filesCovered.toInt, cov0.liveDocs)
    }
    val built = buildFor(spark, outDir, cov0.todoPaths)
    val all1 = p.entriesDf(spark, p.builds(conf))
    val cov1 = p.liveCoverage(spark, all1, pathNames, withDocStats)
    require(
      cov1.todoPaths.isEmpty,
      s"content index build left ${cov1.todoPaths.length} live files uncovered"
    )
    Ensured(
      p.liveEntries(spark, all1, liveNames, cov1.raced, EntryCols),
      built,
      cov1.filesCovered.toInt,
      cov1.liveDocs
    )
  }

  /** Ensure every name in `live` is covered, hashing only the uncovered
    * files; returns (live entry rows, filesHashed). Coverage here skips the
    * per-file doc counts (`ensureStats(withDocStats = false)`) — callers
    * wanting the doc report use [[ensureStats]].
    */
  def ensure(
      spark: SparkSession,
      outDir: String,
      live: Array[String]
  ): (DataFrame, Long) = {
    val e = ensureStats(spark, outDir, live, withDocStats = false)
    (e.entries, e.filesBuilt)
  }
}
