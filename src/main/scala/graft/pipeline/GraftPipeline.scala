package graft.pipeline

import graft.codec._
import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the input table (BASELINE input_hint shape). */
final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** One encoded block: the unit of compression, checkpointing and decode
  * parallelism. Self-contained given the job's symbol tables (identified by
  * `table_hash`): block content is a deterministic function of the rows in
  * its bin, independent of cluster size (the Spark reshaping of the
  * reference's ordered chunk sink, /root/reference/src/graphs/convert.rs:617-888
  * — order is preserved by (bin, block_seq) keys instead of physical
  * concatenation).
  */
final case class EncodedBlock(
    bin: Int,
    block_seq: Int,
    doc_ids_codec: String,
    doc_ids_payload: Array[Byte],
    sources_codec: String,
    sources_payload: Array[Byte],
    n_toks_codec: String,
    n_toks_payload: Array[Byte],
    // per-row payload bit lengths (hybrid blocks; "none" otherwise): the
    // random-access index — prefix-sum to seek straight to one row's bits
    // (the Spark shape of the reference's offsets stream, offsets.rs:19-58)
    row_bits_codec: String,
    row_bits_payload: Array[Byte],
    // true when the payload begins with the self-describing table header
    // (O7, reference encoder.rs:310-335): the block decodes with no
    // external _tables/header.bin
    embedded_tables: Boolean,
    codec: String,
    n_rows: Int,
    n_values: Long,
    payload: Array[Byte],
    payload_bits: Long,
    meta_bytes: Long,
    table_hash: Long
)

/** Per-block encode metrics (the O27 stats surface). */
final case class BlockMetric(
    bin: Int,
    block_seq: Int,
    codec: String,
    doc_ids_codec: String,
    sources_codec: String,
    n_rows: Int,
    n_values: Long,
    payload_bits: Long,
    meta_bytes: Long,
    raw_bits: Long
)

object GraftPipeline {

  /** @param numContexts  entropy-coder contexts (context = token of previous
    *                     value in the row, clamped; reference main.rs:394-399)
    * @param maxBits      canonical-code length limit, 1..24; 8 covers all
    *                     int32 tokens
    * @param numBins      logical partitions (salted-hash bins of doc_id);
    *                     sized independently of executor count so output is
    *                     byte-identical at any parallelism
    * @param maxBlockRows / maxBlockValues  caps on the block work unit — the
    *                     skew control: a giant row becomes its own block, so
    *                     no single task element exceeds ~maxBlockValues tokens
    * @param salt         salt mixed into the doc_id hash (defeats adversarial
    *                     key clustering)
    * @param autoSelect   per-block codec auto-selection; when false, always
    *                     uses the hybrid entropy codec
    * @param contextModel "simple" (prev-token), "single" (one context) or
    *                     "zuckerli" (stateful: first value keyed by row
    *                     length, rest by prev value — see core.ContextModel)
    * @param embedTables  write the self-describing table header at the head
    *                     of every hybrid block payload (blocks become
    *                     externally readable without the job's header file;
    *                     selection charges the header bits to the hybrid side)
    * @param estimatedRounds rounds > 1 uses the estimator-driven analysis
    *                     (Log2 bootstrap + Huffman re-estimation, no
    *                     bit-writing — the reference's actual multi-round
    *                     design, convert.rs:95-152) — the DEFAULT: an extra
    *                     round costs ~one analyze scan, not a full dry-run
    *                     encode. Set false for the exact variant with the
    *                     monotone-size guarantee.
    */
  final case class Config(
      numContexts: Int = 64,
      maxBits: Int = Hybrid.DefaultMaxBits,
      numBins: Int = 128,
      maxBlockRows: Int = 4096,
      maxBlockValues: Int = 262144,
      salt: Long = 0x5eedL,
      autoSelect: Boolean = true,
      rounds: Int = 1,
      contextModel: String = "simple",
      embedTables: Boolean = false,
      estimatedRounds: Boolean = true
  ) {
    require(numContexts >= 1 && numContexts <= Hybrid.MaxNumContexts)
    require(
      maxBits >= 1 && maxBits <= Huffman.MaxLutBits,
      s"Config.maxBits=$maxBits out of range 1..${Huffman.MaxLutBits} (the encoder LUT packs codes in ${Huffman.MaxLutBits} bits)"
    )
    /** Resolved context model; construction validates name + context count. */
    def model: ContextModel = ContextModel(contextModel, numContexts)
  }

  object Config {
    /** Size numBins for a corpus: ~`targetValuesPerBin` tokens per bin.
      * The bin is the unit of shuffle partitioning, within-partition sort,
      * resume, and task granularity — a fixed default that fits sf0.1
      * (653M tokens / 512 bins ≈ 1.3M tokens) would put ~200G tokens in
      * one bin at the 10^12-sequence scale and blow a task's memory. At
      * the 32M default a bin sorts+encodes ~128 MB of raw token data —
      * comfortably inside one executor task — and 100 TB of int32 tokens
      * lands at ~800k bins (well under the cap, plenty of task waves for
      * skew amortization at any executor count).
      */
    def binsFor(totalValues: Long, targetValuesPerBin: Long = 32L * 1024 * 1024): Int = {
      require(targetValuesPerBin > 0)
      val bins = (totalValues + targetValuesPerBin - 1) / targetValuesPerBin
      math.max(1L, math.min(1L << 20, bins)).toInt
    }
  }

  /** Merge flat Long-array partials with a depth picked by partial count:
    * the executor-side combine layer of depth 2 pays off only when partials
    * are many (at ~1e5 tasks a flat reduce funnels ~12 GB of 128 KiB
    * partials into the driver; the tree cuts driver ingress to O(√tasks)),
    * while at bench/local scale (tens of partials, a few MB total) the
    * extra stage is pure scheduling overhead — r2's analyze-phase
    * regression window. Depth 1 == a flat reduce.
    */
  private def reduceFlat(rdd: org.apache.spark.rdd.RDD[Array[Long]]): Array[Long] = {
    val depth = if (rdd.getNumPartitions > 64) 2 else 1
    rdd.treeReduce(Histograms.mergeFlat _, depth)
  }

  /** Deterministic logical partition of a row: salted hash of doc_id.
    * All downstream structure (blocks, manifests, resume) is keyed by bin,
    * never by physical partition id, so results are identical at any
    * executor count.
    */
  def binCol(numBins: Int, salt: Long) =
    pmod(xxhash64(col("doc_id"), lit(salt)), lit(numBins)).cast("int")

  /** Pass 1: per-context token histograms. Reads only the `tokens` column
    * (column-pruned scan), builds per-partition partial histograms in a tight
    * primitive loop, merges them with an element-wise-sum reduce — Spark's
    * partial+final aggregation, the same algebra as the reference's per-thread
    * `add_all` merge (/root/reference/src/graphs/convert.rs:156-262).
    *
    * Partials merge via [[reduceFlat]]: one partial is
    * numContexts×numSymbols longs (128 KiB at 64×256); at 100 TB (~1e5
    * tasks) the depth-2 tree inserts an executor-side combine layer
    * (O(sqrt(tasks)) driver ingress) where a flat reduce would funnel
    * ~12 GB into the driver; at small partial counts it stays flat.
    */
  def analyze(ds: Dataset[TokenRow], cfg: Config): Histograms = {
    val nCtx = cfg.numContexts
    val nSym = 1 << cfg.maxBits
    val model = cfg.model
    // prev-token fast path (mirrors HybridCodec's simpleNCtx loops): one
    // Hybrid.token per value feeds BOTH the histogram cell and the next
    // context, with no virtual first/next dispatch in the per-token loop
    val simpleN = model match {
      case s: SimpleContextModel => s.numContexts
      case _ => 0
    }
    // the column is read as InternalRow arrays (bulk toIntArray), not
    // through the typed Array[Int] deserializer
    val tokens = ds.select(col("tokens"))
    val elemNullable = tokens.schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
      case _ => true
    }
    val flat = tokens.queryExecution.toRdd
      .mapPartitions { rows =>
        val hist = new Histograms(nCtx, nSym)
        def next(): Array[Int] = tokenArray(rows.next(), elemNullable)
        if (simpleN > 0) {
          val ctxMax = simpleN - 1
          while (rows.hasNext) {
            val tokens = next()
            var ctx = 0
            var i = 0
            while (i < tokens.length) {
              val v = tokens(i).toLong
              if (v < 0) throw new IllegalArgumentException(s"negative token $v unsupported")
              val tok = Hybrid.token(v)
              hist.addToken(ctx, tok)
              ctx = if (tok < ctxMax) tok else ctxMax
              i += 1
            }
          }
        } else {
          while (rows.hasNext) {
            val tokens = next()
            var ctx = model.first(tokens.length)
            var i = 0
            while (i < tokens.length) {
              val v = tokens(i).toLong
              if (v < 0) throw new IllegalArgumentException(s"negative token $v unsupported")
              hist.add(ctx, v)
              ctx = model.next(v)
              i += 1
            }
          }
        }
        Iterator.single(hist.flat)
      }
    // every partition yields one partial, so only a partition-less input
    // (an EMPTY corpus) leaves the reduce nothing: tables then degenerate
    // to all-absent and encode writes nothing
    if (flat.partitions.isEmpty) new Histograms(nCtx, nSym)
    else Histograms.fromFlat(reduceFlat(flat), nCtx, nSym)
  }

  /** The `tokens` array of a one-column row, rejecting nulls by name (the
    * bulk copy would read a null element as 0).
    */
  private def tokenArray(row: org.apache.spark.sql.catalyst.InternalRow, elemNullable: Boolean): Array[Int] = {
    if (row.isNullAt(0)) throw new IllegalArgumentException("null tokens array unsupported")
    val arr = row.getArray(0)
    if (elemNullable) {
      var i = 0
      while (i < arr.numElements()) {
        if (arr.isNullAt(i)) throw new IllegalArgumentException(s"null token at index $i unsupported")
        i += 1
      }
    }
    arr.toIntArray()
  }

  def buildTables(hist: Histograms, cfg: Config): SymbolTables =
    Huffman.buildTables(hist, cfg.maxBits)

  /** Iterative re-estimation (the reference's multi-round conversion,
    * /root/reference/src/graphs/convert.rs:398-561, re-targeted): round-1
    * tables are built from ALL tokens, but auto-selection then routes
    * RLE/FOR/dict-friendly blocks away from the entropy coder — their tokens
    * polluted the histograms. Each extra round re-collects histograms only
    * from the streams that the previous round's tables would actually send
    * to the hybrid codec, sharpening the tables for the data they encode.
    */
  def analyzeRounds(ds: Dataset[TokenRow], cfg: Config, rounds: Int): SymbolTables = {
    val spark = ds.sparkSession
    import spark.implicits._
    var tables = buildTables(analyze(ds, cfg), cfg)
    var r = 1
    while (r < rounds) {
      val bTables = spark.sparkContext.broadcast(tables)
      val nCtx = cfg.numContexts
      val nSym = 1 << cfg.maxBits
      // dry-run round: encode with the current tables, then collect
      // histograms from exactly the streams block-level selection routed to
      // the entropy coder (decode them back — the blocks ARE those streams).
      // Huffman optimality over that union guarantees the next tables'
      // total over those blocks is <= this round's, and selection only
      // reroutes a block when it strictly shrinks, so total size is
      // monotonically non-increasing across rounds.
      val model = cfg.model
      val flat = encode(ds, bTables, cfg)
        .filter(_.codec == "hybrid")
        .mapPartitions { it =>
          val hybrid = new HybridCodec(bTables.value, model)
          val hist = new Histograms(nCtx, nSym)
          it.foreach { b =>
            val nToks = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
            val rowOffsets = new Array[Int](b.n_rows + 1)
            var off = 0
            var i = 0
            while (i < b.n_rows) { rowOffsets(i) = off; off += nToks(i); i += 1 }
            rowOffsets(b.n_rows) = off
            val reader = new BitReader(b.payload)
            if (b.embedded_tables)
              Huffman.readHeader(reader, bTables.value.maxBits, bTables.value.numContexts)
            val values = hybrid.decode(reader, off, rowOffsets)
            var row = 0
            while (row < b.n_rows) {
              var ctx = model.first(rowOffsets(row + 1) - rowOffsets(row))
              var k = rowOffsets(row)
              while (k < rowOffsets(row + 1)) {
                val v = values(k).toLong
                hist.add(ctx, v)
                ctx = model.next(v)
                k += 1
              }
              row += 1
            }
          }
          Iterator.single(hist.flat)
        }
        // union a zero histogram so reduce is total even when no block
        // chose the hybrid codec
        .union(spark.createDataset(Seq(new Histograms(nCtx, nSym).flat)))
        .rdd
      val refined = Histograms.fromFlat(reduceFlat(flat), nCtx, nSym)
      // if nothing routed to hybrid, keep the previous round's tables
      if (refined.total > 0) tables = buildTables(refined, cfg)
      r += 1
    }
    tables
  }

  /** Estimator-driven analysis rounds — the reference's cheap bootstrap
    * (round 1 scores streams with the Log2 prior, /root/reference/src/
    * graphs/convert.rs:95-152 + log2_estimator.rs; later rounds with the
    * Huffman estimator over the previous round's measured cost model) and
    * its dry-run sink that NEVER writes bytes (huffman_graph_encoder.rs:
    * 149-293). Each round packs pseudo-blocks with the production caps,
    * routes each block hybrid-vs-lightweight by ESTIMATED cost, and
    * collects histograms only from hybrid-routed streams. No bin shuffle,
    * no table build per partition, no bit-writing — one column-pruned scan
    * per round.
    *
    * Coverage: histograms are shaped by the hybrid-routed streams, but
    * every (ctx, token) seen ANYWHERE in the corpus keeps a count-1
    * presence floor. Without it, one uncovered token poisons a whole
    * encode block (exact selection penalizes absent symbols), cascading
    * blocks away from the entropy coder whenever analysis-time pseudo-block
    * boundaries differ from encode-time blocks. The floor costs a few
    * long-coded rare symbols per context and guarantees the tables can
    * express any stream selection routes to them. [[analyzeRounds]] remains
    * the exact variant with a monotone-size guarantee.
    */
  def analyzeRoundsEstimated(
      ds: Dataset[TokenRow],
      cfg: Config,
      rounds: Int,
      bootstrap: CostEstimator = Log2Estimator
  ): SymbolTables = {
    val spark = ds.sparkSession
    import spark.implicits._
    val nCtx = cfg.numContexts
    val nSym = 1 << cfg.maxBits
    val model = cfg.model
    val maxRows = cfg.maxBlockRows
    val maxValues = cfg.maxBlockValues

    var estimator: CostEstimator = bootstrap
    var hist: Histograms = null
    var r = 0
    while (r < math.max(rounds, 1)) {
      val est = estimator
      val flat = ds
        .select($"tokens")
        .as[Array[Int]]
        .mapPartitions { rows =>
          val h = new Histograms(nCtx, nSym) // hybrid-routed streams
          val hAll = new Histograms(nCtx, nSym) // presence floor source
          val block = new scala.collection.mutable.ArrayBuffer[Array[Int]]()
          var blockValues = 0L

          def flush(): Unit = {
            if (block.isEmpty) return
            val values = new Array[Int](blockValues.toInt)
            val rowOffsets = new Array[Int](block.length + 1)
            var off = 0
            var bi = 0
            while (bi < block.length) {
              rowOffsets(bi) = off
              System.arraycopy(block(bi), 0, values, off, block(bi).length)
              off += block(bi).length
              bi += 1
            }
            rowOffsets(block.length) = off
            // lightweight side: exact closed-form sizes from stats
            val stats = BlockStats.compute(values, 0, values.length)
            var best = PlainCodec.estimateBits(stats)
            CodecSelector.lightweight.foreach { c =>
              val b = c.estimateBits(stats); if (b < best) best = b
            }
            // hybrid side: estimator walk with the context model
            var hybridBits = 0L
            var row = 0
            while (row < block.length) {
              var ctx = model.first(rowOffsets(row + 1) - rowOffsets(row))
              var i = rowOffsets(row)
              while (i < rowOffsets(row + 1)) {
                val v = values(i).toLong
                hybridBits += est.bits(ctx, v)
                ctx = model.next(v)
                i += 1
              }
              row += 1
            }
            val routed = hybridBits < best
            var row2 = 0
            while (row2 < block.length) {
              var ctx = model.first(rowOffsets(row2 + 1) - rowOffsets(row2))
              var i = rowOffsets(row2)
              while (i < rowOffsets(row2 + 1)) {
                val v = values(i).toLong
                if (routed) h.add(ctx, v)
                hAll.add(ctx, v)
                ctx = model.next(v)
                i += 1
              }
              row2 += 1
            }
            block.clear()
            blockValues = 0L
          }

          rows.foreach { tokens =>
            if (block.nonEmpty &&
              (block.length >= maxRows || blockValues + tokens.length > maxValues)) flush()
            block += tokens
            blockValues += tokens.length
          }
          flush()
          Iterator.single(h.flat ++ hAll.flat)
        }
        .union(spark.createDataset(Seq(new Array[Long](2 * nCtx * nSym))))
        .rdd
      val flatMerged = reduceFlat(flat)
      val routedHist = Histograms.fromFlat(flatMerged.take(nCtx * nSym), nCtx, nSym)
      // presence floor: any symbol seen in the corpus gets >= 1 count
      var c = 0
      while (c < nCtx) {
        var sym = 0
        while (sym < nSym) {
          if (routedHist.counts(c)(sym) == 0 && flatMerged(nCtx * nSym + c * nSym + sym) > 0)
            routedHist.counts(c)(sym) = 1
          sym += 1
        }
        c += 1
      }
      hist = routedHist
      estimator = new HuffmanCostEstimator(hist.costModel)
      r += 1
    }
    buildTables(hist, cfg)
  }

  /** Pass 2: deterministic block encode. Rows are routed to their bin
    * (salted hash of doc_id), sorted within partitions by (bin, doc_id), and
    * packed greedily into blocks capped by rows AND values — the value cap is
    * the skew guard: long token arrays fill a block alone instead of bloating
    * one task's unit of work.
    *
    * Token arrays travel through the exchange VARINT-PACKED ([[graft.codec.VarInt]]):
    * shuffle bytes are the parallelism-independent cost (network at cluster
    * scale, page-faulted shuffle files locally), and the zipf-heavy token
    * domain packs ~3x smaller than fixed int32; pack/unpack CPU rides the
    * scaling compute path. The kernel sees the identical Array[Int], so
    * block bytes are unchanged (bin-keyed determinism intact).
    */
  /** @param shufflePartitions override for the routing exchange's partition
    *   count (default: one partition per bin). The kernel only needs bins
    *   CONTIGUOUS within a partition (repartition on bin + within-partition
    *   sort gives that at any count), so small inputs over a table-scale bin
    *   layout — e.g. [[Maintenance.purgeDeletes]] rewriting a few bins of an
    *   800k-bin corpus — can shuffle into proportionally few partitions
    *   instead of launching one near-empty task per bin.
    */
  def encode(
      ds: Dataset[TokenRow],
      tables: Broadcast[SymbolTables],
      cfg: Config,
      shufflePartitions: Option[Int] = None
  ): Dataset[EncodedBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._

    // Sorting by (bin, source, doc_id) keeps blocks source-homogeneous, so
    // per-block codec selection sees the source's token distribution rather
    // than an average over sources. pack_varint is a native expression, so
    // scan → pack → bin stays one whole-stage-codegen span into the exchange.
    val binned = ds
      .withColumn("packed", graft.functions.PackVarInt.pack_varint($"tokens"))
      .withColumn("bin", binCol(cfg.numBins, cfg.salt))
      .repartition(shufflePartitions.getOrElse(cfg.numBins), $"bin")
      .sortWithinPartitions($"bin", $"source", $"doc_id")
      .select($"doc_id", $"packed", $"n_tok", $"source", $"bin")
      .as[(String, Array[Byte], Int, String, Int)]

    binned.mapPartitions { rows =>
      blockIterator(
        rows.map { case (d, p, n, s, b) =>
          // n_tok is untrusted input (EncodeCli accepts arbitrary parquet)
          // and unpack sizes the row by it; a mismatch cannot pass silently —
          // VarInt.unpack checks exact byte consumption — but wrap it so the
          // error names the row instead of the varint stream
          val toks =
            try VarInt.unpack(p, n)
            catch {
              case e: Exception =>
                throw new IllegalArgumentException(
                  s"row $d: n_tok=$n inconsistent with its token array (${e.getMessage})"
                )
            }
          (d, toks, n, s, b)
        },
        tables.value,
        cfg
      )
    }
  }

  /** Persist the bin-routed, sorted layout (the Spark stand-in for an
    * Iceberg table bucketed by doc_id hash): pay the routing shuffle once at
    * ingest; every subsequent encode of the table is then shuffle-free via
    * [[encodeStaged]].
    */
  def stageBinned(ds: Dataset[TokenRow], cfg: Config, path: String): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.withColumn("bin", binCol(cfg.numBins, cfg.salt))
      .repartition(cfg.numBins, $"bin")
      .sortWithinPartitions($"bin", $"source", $"doc_id")
      .select($"doc_id", $"tokens", $"n_tok", $"source", $"bin")
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Shuffle-free encode over a [[stageBinned]] layout. Requires whole-file
    * task splits (one staged file = one bin), e.g.
    * spark.sql.files.maxPartitionBytes sized above the largest staged file —
    * the bucketed-table fast path: scan + kernel, no exchange.
    */
  def encodeStaged(
      spark: SparkSession,
      path: String,
      tables: Broadcast[SymbolTables],
      cfg: Config
  ): Dataset[EncodedBlock] = {
    import spark.implicits._
    val binned = spark.read
      .parquet(path)
      .as[(String, Array[Int], Int, String, Int)]
    encodeBinned(binned, tables, cfg)
  }

  private def encodeBinned(
      binned: Dataset[(String, Array[Int], Int, String, Int)],
      tables: Broadcast[SymbolTables],
      cfg: Config
  ): Dataset[EncodedBlock] = {
    val spark = binned.sparkSession
    import spark.implicits._
    binned.mapPartitions(rows => blockIterator(rows, tables.value, cfg))
  }

  /** Greedy block builder over bin-contiguous sorted rows — the shared
    * kernel of the packed-shuffle path ([[encode]]), the staged no-shuffle
    * path ([[encodeStaged]]), and the DSv2 append writer (which feeds it one
    * fully-buffered bin at a time, so the bin-contiguity precondition holds
    * trivially).
    */
  private[graft] def blockIterator(
      rows: Iterator[(String, Array[Int], Int, String, Int)],
      symbolTables: SymbolTables,
      cfg: Config
  ): Iterator[EncodedBlock] = {
    val model = cfg.model
    val maxRows = cfg.maxBlockRows
    val maxValues = cfg.maxBlockValues
    val auto = cfg.autoSelect
    val embed = cfg.embedTables

    new Iterator[EncodedBlock] {
          private val hybrid = new HybridCodec(symbolTables, model)
          private var pending: (String, Array[Int], Int, String, Int) = null
          private var done = false
          private var seqBin = -1
          private var seqCounter = 0

          private def nextRow(): (String, Array[Int], Int, String, Int) = {
            if (pending != null) { val r = pending; pending = null; r }
            else if (rows.hasNext) rows.next()
            else null
          }

          def hasNext: Boolean = !done && (pending != null || rows.hasNext)

          def next(): EncodedBlock = {
            // gather one block: same bin, capped by rows and values
            val docIds = Array.newBuilder[String]
            val sources = Array.newBuilder[String]
            val nToks = Array.newBuilder[Int]
            var blockBin = -1
            var blockRows = 0
            var blockValues = 0L
            val tokenArrays = Array.newBuilder[Array[Int]]
            var continue = true
            while (continue) {
              val r = nextRow()
              if (r == null) { continue = false; done = !hasNext }
              else {
                val (docId, tokens, nTok, source, bin) = r
                // the n_tok column is untrusted input (EncodeCli accepts
                // arbitrary parquet); a mismatch vs the actual array length
                // would silently shift every row boundary at decode
                if (nTok != tokens.length)
                  throw new IllegalArgumentException(
                    s"row $docId: n_tok=$nTok != tokens.length=${tokens.length}"
                  )
                if (blockRows == 0) blockBin = bin
                val fits = blockRows == 0 ||
                  (bin == blockBin && blockRows < maxRows &&
                    blockValues + tokens.length <= maxValues)
                if (!fits) { pending = r; continue = false }
                else {
                  docIds += docId; sources += source; nToks += nTok
                  tokenArrays += tokens
                  blockRows += 1
                  blockValues += tokens.length
                }
              }
            }
            val arrays = tokenArrays.result()
            val rowOffsets = new Array[Int](arrays.length + 1)
            val values = new Array[Int](blockValues.toInt)
            var off = 0
            var ri = 0
            while (ri < arrays.length) {
              rowOffsets(ri) = off
              val a = arrays(ri)
              var i = 0
              while (i < a.length) {
                if (a(i) < 0)
                  throw new IllegalArgumentException(s"negative token ${a(i)} unsupported")
                values(off) = a(i); off += 1; i += 1
              }
              ri += 1
            }
            rowOffsets(arrays.length) = off

            val (codec, _) =
              if (auto)
                CodecSelector.select(
                  values,
                  rowOffsets,
                  Some(hybrid),
                  if (embed) hybrid.headerBits else 0L
                )
              else (hybrid, 0L)
            val w = new BitWriter(math.max(blockValues.toInt / 2, 64))
            // hybrid rows are independently decodable, so record each row's
            // bit length — the random-access index for lookupDocs
            val rowBits: Array[Int] = codec match {
              case h: HybridCodec =>
                if (embed) Huffman.writeHeader(symbolTables, w)
                h.encodeWithRowBits(values, rowOffsets, w)
              case dh: graft.codec.DeltaHybrid.Encoder =>
                // always self-describing (its own residual tables lead the
                // payload); rows stay independently seekable
                dh.encodeWithRowBits(values, rowOffsets, w)
              case c => c.encode(values, rowOffsets, w); null
            }
            // metadata columns go through codec selection too: strings via
            // plain/dict/FSST, the n_tok ints via the lightweight family
            val (dCodec, dPayload) = StringCodecs.select(docIds.result())
            val (sCodec, sPayload) = StringCodecs.select(sources.result())
            val (nCodec, nPayload) = CodecSelector.encodeIntColumn(
              nToks.result()
            )
            val (rbCodec, rbPayload) =
              if (rowBits == null) ("none", Array.emptyByteArray)
              else CodecSelector.encodeIntColumn(rowBits)
            // deterministic per-bin sequence: bins are contiguous after the
            // within-partition sort, so a simple counter suffices
            if (blockBin != seqBin) { seqBin = blockBin; seqCounter = 0 }
            val thisSeq = seqCounter
            seqCounter += 1
            EncodedBlock(
              bin = blockBin,
              block_seq = thisSeq,
              doc_ids_codec = dCodec,
              doc_ids_payload = dPayload,
              sources_codec = sCodec,
              sources_payload = sPayload,
              n_toks_codec = nCodec,
              n_toks_payload = nPayload,
              row_bits_codec = rbCodec,
              row_bits_payload = rbPayload,
              embedded_tables = embed && codec.name == "hybrid",
              codec = codec.name,
              n_rows = blockRows,
              n_values = blockValues,
              payload = w.toBytes,
              payload_bits = w.bitsWritten,
              meta_bytes = dPayload.length.toLong + sPayload.length + nPayload.length +
                rbPayload.length,
              table_hash = symbolTables.tableHash
            )
          }
        }
  }

  /** Decode blocks back to rows. Embarrassingly parallel: each block is
    * self-contained given the broadcast tables.
    */
  def decode(
      blocks: Dataset[EncodedBlock],
      tables: Broadcast[SymbolTables],
      cfg: Config
  ): Dataset[TokenRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val model = cfg.model
    blocks.mapPartitions { it =>
      // one decoder LUT per partition, shared across its blocks
      val hybrid = new HybridCodec(tables.value, model)
      it.flatMap { b =>
        require(
          b.codec != "hybrid" || b.table_hash == tables.value.tableHash,
          s"table hash mismatch: block ${b.bin}/${b.block_seq} written with ${b.table_hash}"
        )
        val reader = new BitReader(b.payload)
        val codec =
          if (b.embedded_tables && b.codec == "hybrid") {
            // self-describing block: decode through the EMBEDDED header
            // (proves O7 end-to-end); hash-checked against the job tables
            val parsed = Huffman.readHeader(reader, tables.value.maxBits, tables.value.numContexts)
            require(
              parsed.tableHash == tables.value.tableHash,
              s"embedded header hash ${parsed.tableHash} != job tables ${tables.value.tableHash}"
            )
            new HybridCodec(parsed, model)
          } else CodecSelector.decoderFor(codecId(b.codec), Some(hybrid))
        val nToks = CodecSelector
          .decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
          .map(_.toInt)
        val docIds = StringCodecs.decode(b.doc_ids_codec, b.doc_ids_payload, b.n_rows)
        val sources = StringCodecs.decode(b.sources_codec, b.sources_payload, b.n_rows)
        val rowOffsets = new Array[Int](b.n_rows + 1)
        var off = 0
        var i = 0
        while (i < b.n_rows) { rowOffsets(i) = off; off += nToks(i); i += 1 }
        rowOffsets(b.n_rows) = off
        val values = codec.decode(reader, off, rowOffsets)
        (0 until b.n_rows).iterator.map { r =>
          val tokens = new Array[Int](nToks(r))
          var k = 0
          while (k < tokens.length) { tokens(k) = values(rowOffsets(r) + k).toInt; k += 1 }
          TokenRow(docIds(r), tokens, nToks(r), sources(r))
        }
      }
    }
  }

  /** Decode WITHOUT job tables — every hybrid block must carry its embedded
    * self-describing header ([[Config.embedTables]]); lightweight blocks
    * never needed tables. The externally-readable path: any reader with the
    * blocks parquet and the config can reconstruct the rows.
    */
  def decodeSelfDescribing(blocks: Dataset[EncodedBlock], cfg: Config): Dataset[TokenRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val model = cfg.model
    val maxBits = cfg.maxBits
    val nCtx = cfg.numContexts
    blocks.mapPartitions { it =>
      it.flatMap { b =>
        val reader = new BitReader(b.payload)
        val codec =
          if (b.codec == "hybrid") {
            require(b.embedded_tables, s"block ${b.bin}/${b.block_seq} lacks an embedded header")
            new HybridCodec(Huffman.readHeader(reader, maxBits, nCtx), model)
          } else CodecSelector.decoderFor(codecId(b.codec), None)
        val nToks = CodecSelector
          .decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
          .map(_.toInt)
        val docIds = StringCodecs.decode(b.doc_ids_codec, b.doc_ids_payload, b.n_rows)
        val sources = StringCodecs.decode(b.sources_codec, b.sources_payload, b.n_rows)
        val rowOffsets = new Array[Int](b.n_rows + 1)
        var off = 0
        var i = 0
        while (i < b.n_rows) { rowOffsets(i) = off; off += nToks(i); i += 1 }
        rowOffsets(b.n_rows) = off
        val values = codec.decode(reader, off, rowOffsets)
        (0 until b.n_rows).iterator.map { r =>
          val tokens = new Array[Int](nToks(r))
          var k = 0
          while (k < tokens.length) { tokens(k) = values(rowOffsets(r) + k).toInt; k += 1 }
          TokenRow(docIds(r), tokens, nToks(r), sources(r))
        }
      }
    }
  }

  /** Random-access decode (the reference's random-access factory, O18,
    * /root/reference/src/graphs/huffman_graph_decoder.rs:151-205, re-keyed):
    * each doc's bin is recomputed from the same salted hash used at encode
    * time, so the scan touches only those bins' blocks (an equality filter
    * that parquet pushes down), decodes the small doc_ids metadata column to
    * find the owning blocks, and decodes ONLY the hit rows: hybrid blocks
    * carry per-row bit lengths, so the reader seeks straight to each row's
    * start bit (the reference's per-node offsets, offsets.rs:19-58) instead
    * of entropy-decoding the whole block for one hit. Non-hybrid codecs
    * (fixed-width or run-packed) fall back to a full-block decode.
    */
  def lookupDocs(
      blocks: Dataset[EncodedBlock],
      docIds: Set[String],
      tables: Broadcast[SymbolTables],
      cfg: Config
  ): Dataset[TokenRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    // compute bins with the exact write-path expression (1-row-per-id job)
    val bins = docIds.toSeq
      .toDF("doc_id")
      .select(binCol(cfg.numBins, cfg.salt))
      .collect()
      .map(_.getInt(0))
      .toSet
    val wanted = docIds
    val model = cfg.model
    val candidate = blocks.filter($"bin".isInCollection(bins))
    candidate.mapPartitions { it =>
      val hybrid = new HybridCodec(tables.value, model)
      it.flatMap { b =>
        val docIdsInBlock = StringCodecs.decode(b.doc_ids_codec, b.doc_ids_payload, b.n_rows)
        val hits = (0 until b.n_rows).filter(r => wanted.contains(docIdsInBlock(r)))
        if (hits.isEmpty) Iterator.empty
        else {
          val nToks = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
          val sources = StringCodecs.decode(b.sources_codec, b.sources_payload, b.n_rows)
          if (b.codec == "hybrid" && b.row_bits_codec != "none") {
            // O(row) point decode: prefix-sum the row bit lengths, seek, decode
            val (blockCodec, dataStart) =
              if (b.embedded_tables) {
                val headReader = new BitReader(b.payload)
                val parsed =
                  Huffman.readHeader(headReader, tables.value.maxBits, tables.value.numContexts)
                (new HybridCodec(parsed, model), headReader.bitPos)
              } else (hybrid, 0L)
            val rowBits =
              CodecSelector.decodeIntColumn(b.row_bits_codec, b.row_bits_payload, b.n_rows)
            val startBit = new Array[Long](b.n_rows)
            var acc = dataStart
            var i = 0
            while (i < b.n_rows) { startBit(i) = acc; acc += rowBits(i); i += 1 }
            hits.iterator.map { r =>
              val tokens = blockCodec.decodeRow(new BitReader(b.payload, startBit(r)), nToks(r))
              TokenRow(docIdsInBlock(r), tokens, nToks(r), sources(r))
            }
          } else if (b.codec == "dhybrid" && b.row_bits_codec != "none") {
            // dhybrid rows are independently seekable too — parse the
            // block's own residual tables, then per-row bit seek
            val rows = new graft.codec.DeltaHybrid.RowReader(new BitReader(b.payload))
            val rowBits =
              CodecSelector.decodeIntColumn(b.row_bits_codec, b.row_bits_payload, b.n_rows)
            val startBit = new Array[Long](b.n_rows)
            var acc = rows.dataStart
            var i = 0
            while (i < b.n_rows) { startBit(i) = acc; acc += rowBits(i); i += 1 }
            hits.iterator.map { r =>
              val tokens = rows.decodeRow(new BitReader(b.payload, startBit(r)), nToks(r))
              TokenRow(docIdsInBlock(r), tokens, nToks(r), sources(r))
            }
          } else {
            val codec = CodecSelector.decoderFor(codecId(b.codec), Some(hybrid))
            val rowOffsets = new Array[Int](b.n_rows + 1)
            var off = 0
            var i = 0
            while (i < b.n_rows) { rowOffsets(i) = off; off += nToks(i); i += 1 }
            rowOffsets(b.n_rows) = off
            val values = codec.decode(new BitReader(b.payload), off, rowOffsets)
            hits.iterator.map { r =>
              val tokens = java.util.Arrays.copyOfRange(values, rowOffsets(r), rowOffsets(r + 1))
              TokenRow(docIdsInBlock(r), tokens, nToks(r), sources(r))
            }
          }
        }
      }
    }
  }

  /** Per-context bit accounting (the O27 stats surface, reference
    * StatsDecoder / measure_stats, /root/reference/src/graphs/stats.rs:12-204
    * and utils.rs:101-123), covering the WHOLE corpus from one auto-select
    * encode: hybrid blocks are decoded measuring code vs raw mantissa bits
    * per context via actual bit-position deltas; lightweight-routed blocks
    * are decoded and walked with the same context model, charging each value
    * its hybrid-codec cost (raw width is a pure function of the value; code
    * bits from the shared tables' cost model) — so n_values/raw_bits are
    * exact per-context corpus stats independent of block routing, and
    * code_bits is the entropy-coder accounting the reference's StatsDecoder
    * reports. Partials merge with a tree reduce; one row per context.
    */
  def measureStats(
      blocks: Dataset[EncodedBlock],
      tables: Broadcast[SymbolTables],
      cfg: Config
  ): Dataset[(Int, Long, Long, Long)] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val model = cfg.model
    val nCtx = cfg.numContexts
    val flat = blocks
      .mapPartitions { it =>
        val hybrid = new HybridCodec(tables.value, model)
        val counts = new Array[Long](nCtx)
        val codeBits = new Array[Long](nCtx)
        val rawBits = new Array[Long](nCtx)
        it.foreach { b =>
          val nToks = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
          val rowOffsets = new Array[Int](b.n_rows + 1)
          var off = 0
          var i = 0
          while (i < b.n_rows) { rowOffsets(i) = off; off += nToks(i); i += 1 }
          rowOffsets(b.n_rows) = off
          val reader = new BitReader(b.payload)
          if (b.codec == "hybrid") {
            val codec =
              if (b.embedded_tables) {
                val parsed =
                  Huffman.readHeader(reader, tables.value.maxBits, tables.value.numContexts)
                new HybridCodec(parsed, model)
              } else hybrid
            codec.decodeWithStats(reader, off, rowOffsets, counts, codeBits, rawBits)
          } else {
            val codec = CodecSelector.decoderFor(codecId(b.codec), Some(hybrid))
            val values = codec.decode(reader, off, rowOffsets)
            var row = 0
            while (row < b.n_rows) {
              var ctx = model.first(rowOffsets(row + 1) - rowOffsets(row))
              var k = rowOffsets(row)
              while (k < rowOffsets(row + 1)) {
                val v = values(k).toLong
                val nb = Hybrid.splitNBits(Hybrid.split(v))
                counts(ctx) += 1
                codeBits(ctx) += tables.value.bitCost(ctx, v) - nb
                rawBits(ctx) += nb
                ctx = model.next(v)
                k += 1
              }
              row += 1
            }
          }
        }
        Iterator.single(counts ++ codeBits ++ rawBits)
      }
      .union(spark.createDataset(Seq(new Array[Long](3 * nCtx))))
      .rdd
    val merged = reduceFlat(flat)
    val rows = (0 until nCtx).collect {
      case c if merged(c) > 0 =>
        (c, merged(c), merged(nCtx + c), merged(2 * nCtx + c))
    }
    spark.createDataset(rows)
  }

  /** Full-block payload decode given the corpus-level tables: the ONE
    * codec dispatch (embedded self-describing headers, table-hash guard,
    * lightweight decoder fallback) shared by the DSv2 dense scan path and
    * the token-index build — two hand-maintained copies of this dispatch
    * could drift on a new codec or header change, and a mis-decoded index
    * build would break its no-false-negative contract silently.
    */
  def decodeBlockPayload(
      payload: Array[Byte],
      codecName: String,
      embeddedTables: Boolean,
      blockTableHash: Long,
      tables: SymbolTables,
      model: graft.core.ContextModel,
      hybrid: HybridCodec,
      nValues: Int,
      rowOffsets: Array[Int]
  ): Array[Int] = {
    val r = new BitReader(payload)
    val codec =
      if (codecName == "hybrid") {
        require(
          blockTableHash == tables.tableHash,
          s"block written with tables $blockTableHash, reader has ${tables.tableHash}"
        )
        if (embeddedTables)
          new HybridCodec(Huffman.readHeader(r, tables.maxBits, tables.numContexts), model)
        else hybrid
      } else CodecSelector.decoderFor(codecId(codecName), Some(hybrid))
    codec.decode(r, nValues, rowOffsets)
  }

  def codecId(name: String): Byte = name match {
    case "plain" => IntCodecs.PlainId
    case "bitpack" => IntCodecs.BitPackId
    case "for" => IntCodecs.ForId
    case "rle" => IntCodecs.RleId
    case "dict" => IntCodecs.DictId
    case "delta" => IntCodecs.DeltaId
    case "dhybrid" => IntCodecs.DeltaHybridId
    case "hybrid" => IntCodecs.HybridId
    case other => throw new IllegalArgumentException(s"unknown codec $other")
  }

  /** Roundtrip verification: per-row array<int32> equality via an equi-join
    * on doc_id (the reference's graph-compare zip join,
    * /root/reference/src/graphs/utils.rs:127-166). Returns mismatch count —
    * must be 0.
    */
  def verify(source: Dataset[TokenRow], decoded: Dataset[TokenRow]): Long = {
    val spark = source.sparkSession
    import spark.implicits._
    val s = source.select($"doc_id", $"tokens".as("src_tokens"), $"n_tok".as("src_n_tok"))
    val d = decoded.select($"doc_id", $"tokens".as("dec_tokens"), $"n_tok".as("dec_n_tok"))
    s.join(d, Seq("doc_id"), "full_outer")
      .where(
        $"src_tokens".isNull || $"dec_tokens".isNull ||
          $"src_n_tok" =!= $"dec_n_tok" || !($"src_tokens" <=> $"dec_tokens")
      )
      .count()
  }

  /** Per-block metrics DataFrame (raw_bits = 32 bits/token baseline). */
  def metrics(blocks: Dataset[EncodedBlock]): Dataset[BlockMetric] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.map { b =>
      BlockMetric(
        b.bin, b.block_seq, b.codec, b.doc_ids_codec, b.sources_codec,
        b.n_rows, b.n_values, b.payload_bits, b.meta_bytes, b.n_values * 32L
      )
    }
  }
}
