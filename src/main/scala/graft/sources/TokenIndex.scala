package graft.sources

import graft.ops.XHash
import graft.pipeline.{BlockDecoder, Maintenance}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** One per-block row of the token index as written to tix-*.parquet.
  * Top-level (and public in bytecode) because Spark's Dataset encoder
  * codegen cannot touch classes nested under a private scope.
  */
final case class TokenIndexRow(
    file: String,
    bin: Int,
    block_seq: Int,
    n_blocks_in_file: Int,
    tok_min: Int,
    tok_max: Int,
    n_distinct: Int,
    bloom: Array[Byte]
)

/** Secondary data-skipping index over an encode dir's TOKEN VALUES — the
  * Iceberg-puffin-shaped sidecar that answers "which documents contain
  * token X?" without decoding the corpus.
  *
  * Why it exists: the scan's existing pruning is all KEY-shaped (doc_id →
  * salted bin → manifest claims / parquet row groups). A content query —
  * `array_contains(tokens, X)` over 100 TB — has no key to prune on and
  * degenerates to a full entropy-decode of every block. This index records,
  * per encoded block, the token value range and a Bloom filter of the
  * block's distinct tokens, so a needle query decodes only the blocks that
  * MIGHT contain the needle. The reference has no analog (its random access
  * is positional, /root/reference/src/graphs/offsets.rs); the design
  * follows the public zone-map + Bloom data-skipping pattern (Iceberg
  * puffin blobs, ClickHouse skip indexes).
  *
  * Layout (sidecar under the table dir — block files are NEVER rewritten):
  * {{{
  *   _token_index/tix-<uuid>-<k>.parquet   per-block entries
  *       (file, bin, block_seq, n_blocks_in_file, tok_min, tok_max,
  *        n_distinct, bloom)
  *   _token_index/tfs-<uuid>-<k>.parquet   per-FILE summaries
  *       (file, tok_min, tok_max, n_blocks, n_distinct_sum)
  *   _token_index/.tmp-<uuid>/             staging (invisible; vacuumed)
  * }}}
  *
  * Correctness contract — the index is advisory DOWNWARD only (it may fail
  * to prune, it must never prune a block that holds the token):
  *   - Bloom filters have no false negatives by construction
  *     ([[bloomInsert]]/[[bloomMayContain]] share the probe sequence —
  *     property-tested in TokenIndexSpec).
  *   - Entries are keyed by immutable FILE NAME (the same identity the
  *     manifest claims use): maintenance rewrites produce NEW names, so an
  *     entry can never describe stale content — a rewritten file simply has
  *     no entries (no pruning) until the next [[build]].
  *   - Within one file, (bin, block_seq) is NOT unique — compaction can
  *     co-locate two appends' blocks with equal keys in one file — so
  *     lookup is multi-valued: a block may be skipped only when EVERY entry
  *     under its key rejects the token, and only when the file's entry
  *     count matches the recorded n_blocks_in_file (a partially visible
  *     publish or any inconsistency disables the index for that file
  *     rather than risk matching a row to the wrong entry).
  *   - Readers that find no (or incomplete) index fall back to decoding —
  *     the exact row filter above the index is always evaluated.
  *
  * Scale shape: the build is one distributed pass (one task per block
  * file, whole-file sequential decode — the same work a full scan does);
  * per-block entries are consulted EXECUTOR-side (each reader reads its own
  * file's slice via parquet row-group pruning on the sorted `file` column),
  * and only the per-file summaries — O(files) tiny rows, plus optional
  * per-file Blooms under a byte budget — are loaded driver-side for file
  * pruning, so nothing on the driver grows with block count.
  */
object TokenIndex {

  val DirName = "_token_index"

  /** Bloom sizing: ~10 bits per distinct token (FPR ≈ 1% at 7 probes),
    * clamped to [2^10, 2^18] bits (128 B – 32 KB per block). Past the cap
    * the filter degrades toward "always maybe" — still correct, just less
    * pruning on very-high-cardinality blocks.
    */
  val BitsPerKey = 10
  val MinBloomBits = 1 << 10
  val MaxBloomBits = 1 << 18
  val NumProbes = 7

  private def bloomBitsFor(nDistinct: Int, cap: Int): Int = {
    val want = nDistinct.toLong * BitsPerKey
    var bits = MinBloomBits
    while (bits < want && bits < cap) bits <<= 1
    bits
  }

  /** Two independent 62-bit hashes drive a Kirsch–Mitzenmacher probe
    * sequence; the second is forced odd so all [[NumProbes]] probes are
    * distinct mod the power-of-two bloom size.
    */
  @inline private def h1(token: Int): Long = XHash.mix62(token.toLong ^ 0x5ca1ab1eL)
  @inline private def h2(token: Int): Long = XHash.mix62(token.toLong ^ 0x7f4a7c15L) | 1L

  def bloomInsert(bloom: Array[Byte], token: Int): Unit = {
    val mask = bloom.length * 8 - 1
    val a = h1(token); val b = h2(token)
    var i = 0
    while (i < NumProbes) {
      val bit = ((a + i * b) & mask).toInt
      bloom(bit >>> 3) = (bloom(bit >>> 3) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  def bloomMayContain(bloom: Array[Byte], token: Int): Boolean = {
    val mask = bloom.length * 8 - 1
    val a = h1(token); val b = h2(token)
    var i = 0
    while (i < NumProbes) {
      val bit = ((a + i * b) & mask).toInt
      if ((bloom(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** One per-block index entry as consulted by readers. */
  final case class Entry(tokMin: Int, tokMax: Int, bloom: Array[Byte]) {
    def mayContain(token: Int): Boolean =
      token >= tokMin && token <= tokMax && bloomMayContain(bloom, token)
  }

  /** Distinct-sorted view of a block's tokens → (min, max, nDistinct,
    * bloom). Sorts a copy — O(n log n) on ≤ maxBlockValues ints, a fraction
    * of the entropy decode that produced them.
    */
  def entryFor(values: Array[Int]): (Int, Int, Int, Array[Byte]) = {
    require(values.nonEmpty, "cannot index an empty block")
    val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    var nDistinct = 1
    var i = 1
    while (i < sorted.length) {
      if (sorted(i) != sorted(i - 1)) nDistinct += 1
      i += 1
    }
    val bloom = new Array[Byte](bloomBitsFor(nDistinct, MaxBloomBits) / 8)
    bloomInsert(bloom, sorted(0))
    i = 1
    while (i < sorted.length) {
      if (sorted(i) != sorted(i - 1)) bloomInsert(bloom, sorted(i))
      i += 1
    }
    (sorted(0), sorted(sorted.length - 1), nDistinct, bloom)
  }

  final case class BuildResult(
      filesIndexed: Int,
      filesSkipped: Int,
      blocksIndexed: Long,
      indexBytes: Long
  )

  /** Build (or extend) the index: decode every live block file not yet
    * covered, one distributed task per file, and publish per-block entries
    * plus per-file summaries. `full = true` re-indexes everything and
    * retires the previous index files (the repair path after heavy
    * maintenance left many rewritten files uncovered).
    *
    * Incremental by default: file names are immutable identities, so a
    * covered file never needs re-indexing; appends/compactions add NEW
    * names, which the next build picks up.
    */
  def build(spark: SparkSession, outDir: String, full: Boolean = false): BuildResult = {
    // -Dgraft.debugTiming: stderr per-phase timings (BenchExtra diagnostics)
    val debugT = System.getProperty("graft.debugTiming") != null
    var tMark = System.nanoTime()
    def mark(label: String): Unit = if (debugT) {
      val now = System.nanoTime()
      System.err.println(f"[tix] $label%-24s ${(now - tMark) / 1e9}%7.3f s")
      tMark = now
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(conf)
    val ixDir = new Path(outDir, DirName)
    val live = Maintenance.liveBlockFiles(outDir, conf)

    val priorFiles: Array[Path] =
      if (!fs.exists(ixDir)) Array.empty
      else
        fs.listStatus(ixDir)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)

    // todo = live ∖ covered, computed DISTRIBUTED: the live (path, name)
    // list anti-joins the summary files' covered names, and only the
    // (small) todo list returns to the driver — never the covered-file
    // name set (~50–100 MB of strings at the 800k-file design point).
    val todo: Array[String] = {
      val entryFiles =
        if (full || priorFiles.isEmpty) Array.empty[String]
        else priorFiles.filter(_.getName.startsWith("tfs-")).map(_.toString)
      if (entryFiles.isEmpty) live.map(_._1)
      else {
        import spark.implicits._
        val liveDf = live.map(p => (p._1, nameOf(p._1))).toIndexedSeq.toDF("path", "file")
        liveDf
          .join(spark.read.parquet(entryFiles.toIndexedSeq: _*).select("file"), Seq("file"), "left_anti")
          .select("path")
          .as[String]
          .collect()
      }
    }
    val skipped = live.length - todo.length
    if (todo.isEmpty) return BuildResult(0, skipped, 0L, 0L)
    mark("listing+todo")

    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))

    import spark.implicits._
    // ONE distributed job: the decode pass feeds the bucketed entry write
    // directly, and each task reports its files' summaries through an
    // accumulator (a file's entries are all produced by its own task, so
    // the summary needs no shuffle; retried/speculative duplicates are
    // deduped by file name — decode is deterministic, so copies are
    // identical). This replaces the previous persist + groupByKey summary
    // job + count job (≈3 s of the build at bench scale).
    val sums = spark.sparkContext
      .collectionAccumulator[(String, Int, Int, Int, Long)]("tixFileSummaries")
    val entries = spark.sparkContext
      .parallelize(todo.toIndexedSeq, todo.length)
      .flatMap { file =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        val rows = indexOneFile(file, sConf, headerBytes, maxBits, numContexts, modelName)
        var mn = Int.MaxValue
        var mx = Int.MinValue
        var nd = 0L
        rows.foreach { r =>
          mn = math.min(mn, r.tok_min); mx = math.max(mx, r.tok_max); nd += r.n_distinct
        }
        // a file with no token values still gets its summary (the empty
        // [MaxValue, MinValue] range prunes it for every needle): it marks
        // the file covered, so incremental builds skip it
        sums.add((nameOf(file), mn, mx, rows.length, nd))
        rows
      }
      .toDS()

    val uuid = UUID.randomUUID().toString
    val stage = new Path(ixDir, s".tmp-$uuid")
    // HASH-BUCKETED layout: entries land in the bucket file their block
    // file's name hashes to, so a reader opens exactly ITS bucket's files
    // (named tix-<uuid>-b<k>of<N>-*.parquet — the bucket count rides in the
    // name since builds may differ), never the whole index. Within a
    // bucket, rows are sorted by file and row groups kept small (1 MB) so
    // the reader's filtered read decompresses one file's slice, not the
    // bucket. This is what keeps per-reader lookup cost flat as the index
    // grows: the first layout (range-partitioned, default row groups) made
    // every reader decompress the FULL index and the indexed needle scan
    // measured SLOWER than the unindexed one.
    val nBuckets = math.max(1, math.min(256, todo.length / 32))
    entries
      .withColumn("bucket", udf((f: String) => bucketOf(f, nBuckets)).apply(col("file")))
      .repartition(nBuckets, col("bucket"))
      .sortWithinPartitions("file", "bin", "block_seq")
      .write
      .option("parquet.block.size", (1 << 20).toString)
      .partitionBy("bucket")
      .parquet(new Path(stage, "blk").toString)
    mark("decode+bucketWrite")

    // per-file summaries: the driver's file-pruning view (value range +
    // recorded block count — the completeness anchor for incremental
    // builds), collected by the accumulator above — O(files) tiny rows,
    // the same driver scale fileSummaries() already loads back. A file
    // with no token values keeps the [MaxValue, MinValue] empty range.
    // Deliberately NO per-file bloom: at 800k files the driver could not
    // hold them, and the executor-side per-block blooms do the skipping.
    val sumRows = {
      import scala.jdk.CollectionConverters._
      sums.value.asScala.groupBy(_._1).map(_._2.head).toSeq
    }
    require(
      sumRows.size == todo.length,
      s"token index build produced ${sumRows.size} summaries for ${todo.length} files"
    )
    val nBlocks = sumRows.iterator.map(_._4.toLong).sum
    sumRows
      .toDF("file", "tok_min", "tok_max", "n_blocks", "n_distinct_sum")
      .coalesce(1)
      .write
      .parquet(new Path(stage, "fs").toString)
    mark("summaries")

    // publish: rename staged part files into the index dir under unique
    // bucket-tagged names. Partial visibility is safe by the completeness
    // check (a file's entries count against its recorded n_blocks_in_file).
    var indexBytes = 0L
    locally {
      val blkRoot = new Path(stage, "blk")
      fs.listStatus(blkRoot)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .foreach { bdir =>
          val b = bdir.getPath.getName.stripPrefix("bucket=").toInt
          var i = 0
          fs.listStatus(bdir.getPath)
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName)
            .foreach { st =>
              indexBytes += st.getLen
              require(
                fs.rename(st.getPath, new Path(ixDir, s"tix-$uuid-b${b}of$nBuckets-$i.parquet")),
                s"failed to publish index file ${st.getPath}"
              )
              i += 1
            }
        }
      val fsDir = new Path(stage, "fs")
      var j = 0
      fs.listStatus(fsDir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          indexBytes += st.getLen
          require(
            fs.rename(st.getPath, new Path(ixDir, s"tfs-$uuid-$j.parquet")),
            s"failed to publish index file ${st.getPath}"
          )
          j += 1
        }
    }
    fs.delete(stage, true)
    if (full && priorFiles.nonEmpty) priorFiles.foreach(p => fs.delete(p, false))
    invalidateCaches(outDir)
    mark("publishRenames")
    BuildResult(todo.length, skipped, nBlocks, indexBytes)
  }

  /** Diagnostic (BenchExtra): the decode+entryFor pass alone — no persist,
    * no publish — to isolate index compute from the publish machinery.
    */
  def debugComputeOnly(spark: SparkSession, outDir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = Maintenance.liveBlockFiles(outDir, conf).map(_._1)
    if (live.isEmpty) return 0L
    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    spark.sparkContext
      .parallelize(live.toIndexedSeq, live.length)
      .map { file =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        indexOneFile(file, sConf, headerBytes, maxBits, numContexts, modelName).length.toLong
      }
      .fold(0L)(_ + _)
  }

  /** Decode one block file sequentially and emit its index rows, through
    * the scan's own [[BlockDecoder]]; doc_id/source metadata is never
    * touched.
    */
  private def indexOneFile(
      file: String,
      sConf: Broadcast[SerializableConfiguration],
      headerBytes: Array[Byte],
      maxBits: Int,
      numContexts: Int,
      modelName: String
  ): Seq[TokenIndexRow] = {
    val decoder = BlockDecoder.fromHeader(headerBytes, maxBits, numContexts, modelName)
    val wanted = Set(
      "bin", "block_seq", "codec", "n_rows", "n_toks_codec", "n_toks_payload",
      "payload", "embedded_tables", "table_hash"
    )
    val reader = GraftFiles.openProjected(file, sConf, wanted, None)
    val out = Array.newBuilder[TokenIndexRow]
    val name = nameOf(file)
    try {
      var g = reader.read()
      while (g != null) {
        val b = new ParquetBlock(g, file)
        val rowOffsets = BlockDecoder.rowOffsets(BlockDecoder.nToks(b))
        if (rowOffsets(b.n_rows) > 0) {
          val values = decoder.decodeAll(b, rowOffsets)
          val (mn, mx, nd, bloom) = entryFor(values)
          out += TokenIndexRow(
            name,
            b.bin,
            b.block_seq,
            0, // patched below once the file's block count is known
            mn, mx, nd, bloom
          )
        }
        g = reader.read()
      }
    } finally reader.close()
    val rows = out.result()
    rows.map(_.copy(n_blocks_in_file = rows.length)).toSeq
  }

  // ---------------------------------------------------------------------
  // read side

  /** Per-file driver summary: value range plus recorded block count. */
  final case class FileSummary(tokMin: Int, tokMax: Int, nBlocks: Int)

  private val summaryCache = new ConcurrentHashMap[String, (Long, Map[String, FileSummary])]()

  /** tix listing per dir, refreshed on a short TTL: EXECUTOR JVMs never see
    * the driver-side invalidate (build() runs there), so without expiry a
    * long-lived executor would keep a pre-build listing — and through it a
    * memoized "no index" — forever, silently disabling pruning exactly on
    * the multi-executor deployments the index exists for. The TTL bounds
    * that staleness to seconds; stale reads stay CORRECT either way (old
    * entries describe immutable files; missing entries mean no pruning).
    */
  private val listingCache = new ConcurrentHashMap[String, (Long, Array[String], Long)]()
  private val ListingTtlMs = 60_000L

  // JVM-wide memo of per-block-file entry maps, keyed by (dir, listing
  // fingerprint, block file): block files are immutable, so a cached Some
  // is valid forever; a cached None (no/incomplete index) is keyed to the
  // LISTING it was computed from — a new build changes the fingerprint and
  // the memo misses, so "no index yet" can never stick past the TTL.
  // Bounded crudely — cleared when full.
  private val entriesCache =
    new ConcurrentHashMap[String, Option[Map[(Int, Int), List[Entry]]]]()
  private val EntriesCacheCap = 8192

  def invalidateCaches(outDir: String): Unit = {
    summaryCache.remove(outDir)
    listingCache.remove(outDir)
    entriesCache.clear()
  }

  /** Delete the dir's index entirely (benchmark honesty / start-over
    * repair). Scans fall back to exact unindexed evaluation.
    */
  def dropIndex(outDir: String, conf: Configuration): Boolean = {
    val ixDir = new Path(outDir, DirName)
    val fs = ixDir.getFileSystem(conf)
    val existed = fs.exists(ixDir) && fs.delete(ixDir, true)
    invalidateCaches(outDir)
    existed
  }

  private def nameOf(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** Stable bucket assignment by block file NAME — the read side recomputes
    * it from the `b<k>of<N>` tag in each index file's name, so different
    * builds may use different bucket counts.
    */
  def bucketOf(fileName: String, nBuckets: Int): Int =
    (XHash.hashChars(fileName) % nBuckets).toInt

  private val TixBucketName = """tix-.+-b(\d+)of(\d+)-\d+\.parquet""".r

  /** Driver-side per-file summaries (None when the dir has no index).
    * Cached keyed on the summary listing fingerprint; O(files) tiny rows.
    */
  def fileSummaries(outDir: String, conf: Configuration): Option[Map[String, FileSummary]] = {
    val ixDir = new Path(outDir, DirName)
    val fs = ixDir.getFileSystem(conf)
    if (!fs.exists(ixDir)) return None
    val tfs = fs
      .listStatus(ixDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("tfs-") && st.getPath.getName.endsWith(".parquet"))
    if (tfs.isEmpty) return None
    val fingerprint = tfs.map(st => st.getPath.getName.hashCode.toLong + st.getLen).sum
    val cached = summaryCache.get(outDir)
    if (cached != null && cached._1 == fingerprint) return Some(cached._2)
    val m = Map.newBuilder[String, FileSummary]
    tfs.foreach { st =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf)
        .build()
      try {
        var g = r.read()
        while (g != null) {
          m += g.getString("file", 0) -> FileSummary(
            g.getInteger("tok_min", 0),
            g.getInteger("tok_max", 0),
            g.getInteger("n_blocks", 0)
          )
          g = r.read()
        }
      } finally r.close()
    }
    val built = m.result()
    summaryCache.put(outDir, (fingerprint, built))
    Some(built)
  }

  /** Executor-side per-block entries for ONE block file, multi-valued by
    * (bin, block_seq) — see the class doc for why. Returns None when the
    * file has no complete index (absent, partially published, or
    * inconsistent): callers must then decode normally.
    *
    * The tix listing is cached per dir; a stale listing can only HIDE newer
    * entries (less pruning — safe). A listed file deleted by a full rebuild
    * surfaces as an IO error → treated as no-index.
    */
  /** The dir's current tix listing plus a fingerprint of it, TTL-cached. */
  private def tixListing(outDir: String, conf: Configuration): (Array[String], Long) = {
    val now = System.currentTimeMillis()
    val cached = listingCache.get(outDir)
    if (cached != null && cached._1 > now) return (cached._2, cached._3)
    val ixDir = new Path(outDir, DirName)
    val fs = ixDir.getFileSystem(conf)
    val listing =
      if (!fs.exists(ixDir)) Array.empty[String]
      else
        fs.listStatus(ixDir)
          .filter(st => st.isFile && st.getPath.getName.startsWith("tix-") && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString)
          .sorted
    val fingerprint = listing.foldLeft(17L)((h, p) => h * 1000003L + p.hashCode)
    listingCache.put(outDir, (now + ListingTtlMs, listing, fingerprint))
    (listing, fingerprint)
  }

  def entriesForFile(
      outDir: String,
      blockFileName: String,
      conf: Configuration
  ): Option[Map[(Int, Int), List[Entry]]] = {
    val (fullListing, fingerprint) = tixListing(outDir, conf)
    val cacheKey = s"$outDir|$fingerprint|$blockFileName"
    val memo = entriesCache.get(cacheKey)
    if (memo != null) return memo
    val out = loadEntriesForFile(fullListing, blockFileName, conf)
    if (entriesCache.size() >= EntriesCacheCap) entriesCache.clear()
    entriesCache.put(cacheKey, out)
    out
  }

  private def loadEntriesForFile(
      fullListing: Array[String],
      blockFileName: String,
      conf: Configuration
  ): Option[Map[(Int, Int), List[Entry]]] =
    try {
      // bucket pruning: open only the files whose name-tagged bucket this
      // block file hashes to (per build group — bucket counts may differ);
      // unrecognized names are read conservatively
      val listing = fullListing.filter { p =>
        nameOf(p) match {
          case TixBucketName(k, n) => bucketOf(blockFileName, n.toInt) == k.toInt
          case _                   => true
        }
      }
      if (listing.isEmpty) return None
      val pred = FilterCompat.get(
        FilterApi.eq(
          FilterApi.binaryColumn("file"),
          org.apache.parquet.io.api.Binary.fromString(blockFileName)
        )
      )
      var expected = -1
      val m = scala.collection.mutable.HashMap[(Int, Int), List[Entry]]()
      var n = 0
      listing.foreach { ix =>
        val r = ParquetReader
          .builder(new GroupReadSupport(), new Path(ix))
          .withConf(conf)
          .withFilter(pred)
          .build()
        try {
          var g = r.read()
          while (g != null) {
            val exp = g.getInteger("n_blocks_in_file", 0)
            if (expected == -1) expected = exp
            else if (expected != exp) return None // two builds disagree — unusable
            val key = (g.getInteger("bin", 0), g.getInteger("block_seq", 0))
            val e = Entry(
              g.getInteger("tok_min", 0),
              g.getInteger("tok_max", 0),
              g.getBinary("bloom", 0).getBytes
            )
            m.update(key, e :: m.getOrElse(key, Nil))
            n += 1
            g = r.read()
          }
        } finally r.close()
      }
      // completeness gate: every block of the file must be represented, or
      // a duplicate (bin, block_seq) key could be matched to the wrong
      // entry. Over-complete (duplicate builds) keeps every entry —
      // multi-valued lookup stays conservative.
      if (n == 0 || expected < 0 || n % expected != 0) None
      else Some(m.toMap)
    } catch {
      // any unreadable/corrupt/torn index file (racing a rebuild, torn
      // object-store copy) degrades to "no pruning", never to a failed
      // query — ParquetDecodingException and friends are RuntimeExceptions,
      // so IOException alone would violate the downward-advisory contract
      case scala.util.control.NonFatal(_) => None
    }
}
