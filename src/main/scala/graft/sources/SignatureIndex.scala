package graft.sources

import graft.ops.{Decontaminate, Dedup, XHash}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** One per-document row of the signature index
  * (`_sig_index_n{N}_k{K}/six-<uuid>/part-*.parquet`). `doc_id = null` is
  * the coverage sentinel for a zero-doc file.
  */
final case class SigIndexRow(
    file: String,
    doc_id: String,
    minhash: Array[Long]
)

/** One per-document row of the band-SKETCH index
  * (`_sig_sketch_n{N}_k{K}_b{B}/skx-<uuid>/part-*.parquet`): the bands·4 B
  * truncated band hashes instead of the k·8 B signature — the footprint
  * dial for corpora where the full sidecar rivals the payload.
  */
final case class SketchIndexRow(
    file: String,
    doc_id: String,
    bands: Array[Int]
)

/** The SIGNATURE INDEX — per-document MinHash signatures over token
  * n-gram shingles, persisted per block file like [[ContentIndex]] (same
  * [[SidecarProtocol]]), so the NEAR-dup verb's one corpus-scale decode
  * (the signature pass) becomes incremental on an append-mostly corpus.
  * The index stores ONLY the k·8 B signature (never the shingle sets —
  * those are n_tok-sized and would rival the payload); the verb's
  * exact-Jaccard verification re-derives shingles for CANDIDATE docs only,
  * via a doc-pruned scan — candidates are the tiny LSH-bucket fraction, so
  * the full-corpus decode is what the sidecar eliminates.
  *
  * The signature math is pinned EQUAL to the query-side chain
  * ([[Dedup.tokenShingles]] + [[Dedup.minhashFromShingles]]) by spec:
  * gram = XHash fold over each n-window ([[Decontaminate.gramHash]]),
  * permutation i = s -> mix62(s ^ mix62(0x5eed + i)), empty/short docs get
  * the all-Mask62 sentinel signature. Shingle params are part of the
  * sidecar's IDENTITY (the dir name embeds n and k), so runs with
  * different params use different sidecars and can never mix.
  */
object SignatureIndex {

  def dirName(shingleN: Int, k: Int): String = s"_sig_index_n${shingleN}_k$k"

  /** The sketch level's identity carries BOTH k and bands: band hashes
    * derive from the k-signature, so sketches at different k never mix.
    */
  def sketchDirName(shingleN: Int, k: Int, bands: Int): String =
    s"_sig_sketch_n${shingleN}_k${k}_b$bands"

  /** Every index dir under `outDir` (any params) — the vacuum sweep's
    * listing hook.
    */
  val DirPrefix = "_sig_index_"
  val SketchDirPrefix = "_sig_sketch_"

  private[sources] def protocol(outDir: String, shingleN: Int, k: Int) =
    new SidecarProtocol(new Path(outDir, dirName(shingleN, k)), "six-")

  private[sources] def sketchProtocol(outDir: String, shingleN: Int, k: Int, bands: Int) =
    new SidecarProtocol(new Path(outDir, sketchDirName(shingleN, k, bands)), "skx-")

  private def nameOf(file: String): String = new Path(file).getName

  private val EntryCols = Seq("file", "doc_id", "minhash")
  private val SketchCols = Seq("file", "doc_id", "bands")

  def dropIndex(
      outDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      shingleN: Int,
      k: Int
  ): Boolean = {
    val p = protocol(outDir, shingleN, k)
    val fs = p.fsOf(conf)
    fs.exists(p.dir) && fs.delete(p.dir, true)
  }

  /** The per-row signature — EXACTLY
    * `minhashFromShingles(tokenShingles(corpus, n), k)` over the stored
    * token values; pinned equal by SignatureIndexSpec.
    */
  def sigRow(
      values: Array[Int],
      from: Int,
      until: Int,
      shingleN: Int,
      salts: Array[Long]
  ): Array[Long] = {
    val k = salts.length
    val sig = Array.fill(k)(XHash.Mask62)
    val len = until - from
    if (len < shingleN) return sig // the empty-shingle sentinel
    val arr = new Array[Long](len)
    var i = 0
    while (i < len) { arr(i) = values(from + i).toLong; i += 1 }
    var p = 0
    while (p + shingleN <= len) {
      val s = Decontaminate.gramHash(arr, p, shingleN)
      var j = 0
      while (j < k) {
        val h = XHash.mix62(s ^ salts(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      p += 1
    }
    sig
  }

  /** Committed entries restricted to `liveNames` (with `file` kept for
    * (file, doc) liveness joins), plus the covered file-name set.
    */
  def rows(
      spark: SparkSession,
      outDir: String,
      liveNames: Set[String],
      shingleN: Int,
      k: Int
  ): (Option[DataFrame], Set[String]) = {
    val p = protocol(outDir, shingleN, k)
    val buildDirs = p.builds(spark.sparkContext.hadoopConfiguration)
    if (buildDirs.isEmpty) return (None, Set.empty)
    // ONE shared frame: list + schema-read the build parts once
    val all = p.entriesDf(spark, buildDirs)
    val cov = p.coverage(all)
    val live = p.liveEntries(spark, all, liveNames, cov.exists(_._2 > 1L), EntryCols)
    (Some(live), cov.map(_._1).toSet)
  }

  /** Sign `todo` files (full paths) and publish their six- entries as one
    * atomic build.
    */
  def buildFor(
      spark: SparkSession,
      outDir: String,
      todo: Array[String],
      shingleN: Int,
      k: Int
  ): Long = {
    if (todo.isEmpty) return 0L
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val salts = Array.tabulate(k)(Dedup.minhashSalt)
    val p = protocol(outDir, shingleN, k)
    val entries = spark.sparkContext
      .parallelize(todo.toIndexedSeq, todo.length)
      .flatMap { file =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        val name = nameOf(file)
        val rows = BlockFileScan
          .rowIterator(file, sConf, headerBytes, maxBits, numContexts, modelName)
        // stream rows straight to the writer — a dense file of millions of
        // tiny docs must not materialize its k·8 B/doc signatures at once
        if (!rows.hasNext) Iterator(SigIndexRow(name, null, Array.emptyLongArray))
        else
          rows.map { case (docId, _, values, from, until) =>
            SigIndexRow(name, docId, sigRow(values, from, until, shingleN, salts))
          }
      }
      .toDS()
      // decode keeps one task per file; only entry rows shuffle down
      .repartition(p.partsFor(todo.length))
    p.publish(conf, entries.toDF())
    todo.length.toLong
  }

  /** Ensure every name in `live` is covered, signing only uncovered files;
    * returns (live entry rows, filesSigned). Coverage is computed
    * DISTRIBUTED ([[SidecarProtocol.liveCoverage]]): only the uncovered
    * todo list reaches the driver, never the covered-file name set.
    */
  def ensure(
      spark: SparkSession,
      outDir: String,
      live: Array[String],
      shingleN: Int,
      k: Int
  ): (DataFrame, Long) = {
    import spark.implicits._
    ensureImpl(
      spark, live,
      protocol(outDir, shingleN, k),
      EntryCols,
      () => spark.emptyDataset[SigIndexRow].select(EntryCols.map(col): _*),
      todo => buildFor(spark, outDir, todo, shingleN, k),
      "signature index"
    )
  }

  /** Sign `todo` files into the band-SKETCH sidecar: same decode pass as
    * [[buildFor]], but only the [[graft.ops.Dedup.bandSketch]] truncated
    * band hashes are stored (bands·4 B/doc).
    */
  def buildForSketch(
      spark: SparkSession,
      outDir: String,
      todo: Array[String],
      shingleN: Int,
      k: Int,
      bands: Int
  ): Long = {
    if (todo.isEmpty) return 0L
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val salts = Array.tabulate(k)(Dedup.minhashSalt)
    val p = sketchProtocol(outDir, shingleN, k, bands)
    val entries = spark.sparkContext
      .parallelize(todo.toIndexedSeq, todo.length)
      .flatMap { file =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        val name = nameOf(file)
        val rows = BlockFileScan
          .rowIterator(file, sConf, headerBytes, maxBits, numContexts, modelName)
        if (!rows.hasNext) Iterator(SketchIndexRow(name, null, Array.emptyIntArray))
        else
          rows.map { case (docId, _, values, from, until) =>
            SketchIndexRow(
              name,
              docId,
              Dedup.bandSketch(sigRow(values, from, until, shingleN, salts), bands)
            )
          }
      }
      .toDS()
      .repartition(p.partsFor(todo.length))
    p.publish(conf, entries.toDF())
    todo.length.toLong
  }

  /** [[ensure]]'s band-sketch twin: coverage over the `_sig_sketch_…`
    * sidecar, building only uncovered files; returns
    * ((file, doc_id, bands) rows, filesSigned).
    */
  def ensureSketch(
      spark: SparkSession,
      outDir: String,
      live: Array[String],
      shingleN: Int,
      k: Int,
      bands: Int
  ): (DataFrame, Long) = {
    import spark.implicits._
    ensureImpl(
      spark, live,
      sketchProtocol(outDir, shingleN, k, bands),
      SketchCols,
      () => spark.emptyDataset[SketchIndexRow].select(SketchCols.map(col): _*),
      todo => buildForSketch(spark, outDir, todo, shingleN, k, bands),
      "signature sketch index"
    )
  }

  /** Shared ensure protocol for both sidecar levels (full signatures and
    * band sketches): distributed coverage, build-the-uncovered, loud
    * completeness check.
    */
  private def ensureImpl(
      spark: SparkSession,
      live: Array[String],
      p: SidecarProtocol,
      cols: Seq[String],
      empty: () => DataFrame,
      build: Array[String] => Long,
      what: String
  ): (DataFrame, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pathNames = live.map(f => (f, nameOf(f))).toIndexedSeq
    val liveNames = live.map(nameOf).toSet
    val buildDirs0 = p.builds(conf)
    val cov0 =
      if (buildDirs0.isEmpty) SidecarProtocol.LiveCoverage(live, 0L, 0L, raced = false)
      else p.liveCoverage(spark, p.entriesDf(spark, buildDirs0), pathNames)
    if (cov0.todoPaths.isEmpty) {
      val entries =
        if (buildDirs0.isEmpty) empty()
        else p.liveEntries(spark, p.entriesDf(spark, buildDirs0), liveNames, cov0.raced, cols)
      return (entries, 0L)
    }
    val built = build(cov0.todoPaths)
    val all1 = p.entriesDf(spark, p.builds(conf))
    val cov1 = p.liveCoverage(spark, all1, pathNames)
    require(
      cov1.todoPaths.isEmpty,
      s"$what build left ${cov1.todoPaths.length} live files uncovered"
    )
    (p.liveEntries(spark, all1, liveNames, cov1.raced, cols), built)
  }
}
