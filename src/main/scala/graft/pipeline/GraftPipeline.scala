package graft.pipeline

import graft.codec._
import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, StringType, StructField, StructType}

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
) extends StoredBlock

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
    * @param numBins      logical partitions (salted-hash bins of doc_id),
    *                     1..2^20 (the [[Config.binsFor]] cap); sized
    *                     independently of executor count so output is
    *                     byte-identical at any parallelism
    * @param maxBlockRows / maxBlockValues  caps on the block work unit, each
    *                     >= 1 — the skew control: a giant row becomes its
    *                     own block, so no single task element exceeds
    *                     ~maxBlockValues tokens
    * @param salt         salt mixed into the doc_id hash (defeats adversarial
    *                     key clustering)
    * @param autoSelect   per-block codec auto-selection; when false, always
    *                     uses the hybrid entropy codec
    * @param rounds       analysis rounds, >= 1; more than one runs
    *                     [[analyzeRoundsEstimated]] (Log2 bootstrap +
    *                     Huffman re-estimation, no bit-writing — the
    *                     reference's multi-round design, convert.rs:95-152)
    * @param contextModel "simple" (prev-token), "single" (one context) or
    *                     "zuckerli" (stateful: first value keyed by row
    *                     length, rest by prev value — see core.ContextModel)
    * @param embedTables  write the self-describing table header at the head
    *                     of every hybrid block payload (blocks become
    *                     externally readable without the job's header file;
    *                     selection charges the header bits to the hybrid side)
    *
    * Every range is checked at construction; a failure names the field.
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
      embedTables: Boolean = false
  ) {
    require(
      numContexts >= 1 && numContexts <= Hybrid.MaxNumContexts,
      s"Config.numContexts=$numContexts out of range 1..${Hybrid.MaxNumContexts}"
    )
    require(
      maxBits >= 1 && maxBits <= Huffman.MaxLutBits,
      s"Config.maxBits=$maxBits out of range 1..${Huffman.MaxLutBits} (the encoder LUT packs codes in ${Huffman.MaxLutBits} bits)"
    )
    require(
      numBins >= 1 && numBins <= Config.MaxBins,
      s"Config.numBins=$numBins out of range 1..${Config.MaxBins}"
    )
    require(maxBlockRows >= 1, s"Config.maxBlockRows=$maxBlockRows must be >= 1")
    require(maxBlockValues >= 1, s"Config.maxBlockValues=$maxBlockValues must be >= 1")
    require(rounds >= 1, s"Config.rounds=$rounds must be >= 1")
    /** Resolved context model; construction validates name + context count. */
    def model: ContextModel = ContextModel(contextModel, numContexts)
  }

  object Config {
    /** Largest bin count: [[binsFor]]'s cap and the range [[Config]] accepts. */
    val MaxBins: Int = 1 << 20

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
      math.max(1L, math.min(MaxBins.toLong, bins)).toInt
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

  /** Pass 1 as a standalone job: per-context token histograms. Reads only
    * the `tokens` column (column-pruned scan), builds per-partition partial
    * histograms with [[histogramKernel]], merges them with an
    * element-wise-sum reduce — Spark's partial+final aggregation, the same
    * algebra as the reference's per-thread `add_all` merge
    * (src/graphs/convert.rs:156-262). A fresh
    * [[EncodeJob.run]] does not call it: its pass 1 rides the routing
    * shuffle of pass 2 ([[route]]); this is the pass for callers that want
    * histograms or tables on their own.
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
    val kernel = histogramKernel(cfg)
    // the column is read as InternalRow arrays (bulk toIntArray), not
    // through the typed Array[Int] deserializer
    val tokens = ds.select(col("tokens"))
    val elemNullable = containsNull(tokens.schema.head.dataType)
    val flat = tokens.queryExecution.toRdd
      .mapPartitions { rows =>
        val hist = new Histograms(nCtx, nSym)
        while (rows.hasNext) kernel(hist, tokenArray(rows.next(), 0, elemNullable))
        Iterator.single(hist.flat)
      }
    // every partition yields one partial, so only a partition-less input
    // (an EMPTY corpus) leaves the reduce nothing: tables then degenerate
    // to all-absent and encode writes nothing
    if (flat.partitions.isEmpty) new Histograms(nCtx, nSym)
    else Histograms.fromFlat(reduceFlat(flat), nCtx, nSym)
  }

  /** Pass 1's per-row kernel, shared by [[analyze]] and the map side of
    * [[route]]: folds one row's tokens into `hist` under the context model.
    * The prev-token model takes a fast path (mirrors HybridCodec's
    * simpleNCtx loops): one Hybrid.token per value feeds BOTH the histogram
    * cell and the next context, with no virtual first/next dispatch in the
    * per-token loop.
    */
  private def histogramKernel(cfg: Config): (Histograms, Array[Int]) => Unit =
    cfg.model match {
      case s: SimpleContextModel =>
        val ctxMax = s.numContexts - 1
        (hist, tokens) => {
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
      case model =>
        (hist, tokens) => {
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

  private def containsNull(t: DataType): Boolean = t match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** The `tokens` array at `ordinal` of a row, rejecting nulls by name (the
    * bulk copy would read a null element as 0).
    */
  private def tokenArray(row: InternalRow, ordinal: Int, elemNullable: Boolean): Array[Int] = {
    if (row.isNullAt(ordinal)) throw new IllegalArgumentException("null tokens array unsupported")
    val arr = row.getArray(ordinal)
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
    * express any stream selection routes to them.
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

  /** Pass 2: deterministic block encode of `ds` under `tables` through
    * [[route]]'s bin-routing shuffle, every bin routed. Rows reach their
    * bin's partition sorted by (bin, source, doc_id) and are packed greedily
    * into blocks capped by rows AND values — the value cap is the skew
    * guard: long token arrays fill a block alone instead of bloating one
    * task's unit of work. The caller holds its tables, so no histograms are
    * folded; unlike [[Routed.blocks]], the Dataset is lazy like any other.
    */
  def encode(ds: Dataset[TokenRow], tables: Broadcast[SymbolTables], cfg: Config): Dataset[EncodedBlock] = {
    import ds.sparkSession.implicits._
    route(ds, cfg, None).shuffle(0).mapPartitions(rows => blockIterator(unpacked(rows), tables.value, cfg))
  }

  /** Routed rows with their token arrays unpacked, for [[blockIterator]]. */
  private def unpacked(
      rows: Iterator[(String, Array[Byte], Int, String, Int)]
  ): Iterator[(String, Array[Int], Int, String, Int)] =
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
    }

  /** Pass 2's bin-routing shuffle: the one exchange under every encode —
    * [[encode]], [[EncodeJob.run]], and the [[Maintenance]] and
    * [[Deletes.replaceDocs]] re-encodes. Each map task reads a row once as
    * an `InternalRow` and varint-packs its `tokens` for the exchange
    * ([[graft.codec.VarInt]]: shuffle bytes are the parallelism-independent
    * cost, and the zipf-heavy token domain packs ~3x smaller than int32; the
    * kernel sees the identical Array[Int], so block bytes are unchanged).
    * A data row of bin b goes to partition `pmod(hash(b), n)` — what
    * `repartition(n, $"bin")` computes — sorted by (bin, source, doc_id), so
    * a bin is contiguous in one partition and its blocks source-homogeneous.
    * n is numBins when every bin is routed; a subset is routed into
    * min(numBins, max(32, |keep|)) partitions, so rewriting a few bins of an
    * 800k-bin table does not launch one near-empty task per bin.
    *
    * Nothing runs until [[Routed.histograms]] or [[Routed.blocks]] is
    * called (or an action on [[encode]]'s Dataset), and the first call
    * decides the map side: a caller with no tables yet asks for
    * [[Routed.histograms]] first, and pass 1 then rides this shuffle — the
    * reference's two passes (parallel histograms, driver-built tables,
    * parallel encode) over ONE input scan.
    *
    * @param keep the bins to encode (None: all). Only data rows are
    *             filtered; folded histograms see every input row.
    */
  def route(ds: Dataset[TokenRow], cfg: Config, keep: Option[Set[Int]]): Routed = {
    val input = ds.select(
      col("doc_id").cast(StringType),
      col("tokens"),
      col("n_tok").cast(IntegerType),
      col("source").cast(StringType),
      binCol(cfg.numBins, cfg.salt)
    )
    new Routed(input, cfg, keep)
  }

  /** [[route]]'s shuffle. Partitions `0 until numData` hold the data rows;
    * a shuffle built by [[histograms]] has [[numPartials]] more after them,
    * one histogram partial row (a negative `bin`) per map task, and
    * [[blocks]] then reads that same shuffle output — the map stage runs
    * once. Driver ingress stays bounded without a tree reduce: the partials
    * meet in those partitions, so the driver receives numPartials merged
    * histograms. A re-run map task's output replaces its earlier attempt's,
    * so each partial counts once under retries.
    */
  final class Routed private[GraftPipeline] (input: DataFrame, cfg: Config, keep: Option[Set[Int]]) {
    private val spark = input.sparkSession
    private val numData: Int = keep.fold(cfg.numBins)(k => math.min(cfg.numBins, math.max(32, k.size)))

    // the input's rows; a partition-less (empty) input still runs one map
    // task: its empty partial keeps a folding shuffle non-empty, so the
    // routed partition count holds under AQE too
    private lazy val scan: RDD[InternalRow] = {
      val rows = input.queryExecution.toRdd
      if (rows.getNumPartitions > 0) rows else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    }

    /** Partial partitions of a folding shuffle: 1 up to 64 map tasks,
      * about √tasks above (the [[reduceFlat]] sizing).
      */
    lazy val numPartials: Int =
      if (scan.getNumPartitions <= 64) 1 else math.ceil(math.sqrt(scan.getNumPartitions)).toInt

    private var folded: Option[RDD[(String, Array[Byte], Int, String, Int)]] = None

    /** Pass 1's result: the map side folds each task's `tokens` with
      * [[histogramKernel]], and one small job merges the partial partitions.
      */
    def histograms(): Histograms = {
      require(folded.isEmpty, "histograms() already ran on this route")
      val rows = shuffle(numPartials).rdd
      require(rows.getNumPartitions == numData + numPartials, s"${rows.getNumPartitions} routed partitions")
      folded = Some(rows)
      val (nCtx, nSym) = (cfg.numContexts, 1 << cfg.maxBits)
      val merged = spark.sparkContext.runJob(
        rows,
        (it: Iterator[(String, Array[Byte], Int, String, Int)]) =>
          it.foldLeft(new Array[Long](nCtx * nSym))((sum, r) => addPartial(sum, r._2)),
        numData until numData + numPartials
      )
      Histograms.fromFlat(merged.reduce(Histograms.mergeFlat), nCtx, nSym)
    }

    /** Pass 2: the encoded blocks of the data partitions; the partitions
      * of histogram partial rows are skipped. Unless [[histograms]] ran it
      * already, the routing map stage runs here under AQE.
      */
    def blocks(tables: Broadcast[SymbolTables]): RDD[EncodedBlock] = {
      val (c, n) = (cfg, numData)
      val rows = folded.fold(shuffle(0).rdd)(PartitionPruningRDD.create(_, _ < n))
      rows.mapPartitions(it => blockIterator(unpacked(it), tables.value, c))
    }

    /** The routed, sorted rows, with `partials` histogram partitions after
      * the data partitions (0: no histograms are folded).
      */
    private[GraftPipeline] def shuffle(partials: Int): Dataset[(String, Array[Byte], Int, String, Int)] = {
      import spark.implicits._
      val (n, bins, nullable) = (numData, keep, containsNull(input.schema(1).dataType))
      val (nCtx, nSym, kernel) = (cfg.numContexts, 1 << cfg.maxBits, histogramKernel(cfg))
      val tagged = scan.mapPartitionsWithIndex { (task, rows) =>
        val hist = if (partials > 0) Some(new Histograms(nCtx, nSym)) else None
        val data = rows.flatMap { r =>
          val bin = r.getInt(4)
          val kept = bins.forall(_.contains(bin))
          if (!kept && hist.isEmpty) None
          else {
            val tokens = tokenArray(r, 1, nullable)
            hist.foreach(kernel(_, tokens))
            if (!kept) None
            else {
              val docId = r.getUTF8String(0)
              if (r.isNullAt(2)) throw new IllegalArgumentException(s"row $docId: null n_tok unsupported")
              val source = r.getUTF8String(3)
              Some(InternalRow(
                if (docId == null) null else docId.clone(),
                VarInt.pack(tokens),
                r.getInt(2),
                if (source == null) null else source.clone(),
                bin
              ))
            }
          }
        }
        data ++ hist.map(h => InternalRow(null, partialBytes(h), 0, null, -1 - task % partials))
      }
      GraftSqlBridge
        .internalCreateDataFrame(spark, tagged, RoutedSchema)
        .repartitionById(
          n + partials,
          when($"bin" >= 0, pmod(hash($"bin"), lit(n))).otherwise(lit(n - 1) - $"bin")
        )
        .sortWithinPartitions($"bin", $"source", $"doc_id")
        .as[(String, Array[Byte], Int, String, Int)]
    }
  }

  private val RoutedSchema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("packed", BinaryType),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType),
    StructField("bin", IntegerType, nullable = false)
  ))

  /** A histogram partial as (flat cell index, count) pairs of its non-zero
    * cells: its size is bounded by the task's tokens, not by the
    * numContexts × 2^maxBits table.
    */
  private def partialBytes(hist: Histograms): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(12 * hist.counts.map(_.count(_ != 0L)).sum)
    for (c <- 0 until hist.numContexts; s <- 0 until hist.numSymbols if hist.counts(c)(s) != 0L)
      buf.putInt(c * hist.numSymbols + s).putLong(hist.counts(c)(s))
    buf.array()
  }

  private def addPartial(sum: Array[Long], bytes: Array[Byte]): Array[Long] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    while (buf.hasRemaining) {
      val cell = buf.getInt()
      sum(cell) += buf.getLong()
    }
    sum
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
    spark.read
      .parquet(path)
      .as[(String, Array[Int], Int, String, Int)]
      .mapPartitions(rows => blockIterator(rows, tables.value, cfg))
  }

  /** Greedy block builder over bin-contiguous sorted rows — the shared
    * kernel of the routed path ([[route]]: every [[encode]] and
    * [[EncodeJob.run]]), the staged no-shuffle path ([[encodeStaged]]), and
    * the DSv2 append writer (which feeds it one fully-buffered bin at a
    * time, so the bin-contiguity precondition holds trivially).
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
          // an FNV pass over every table cell: once per partition, not per block
          private lazy val tableHash = symbolTables.tableHash
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
              table_hash = tableHash
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
    val model = cfg.model
    decodeRows(blocks, () => BlockDecoder(tables.value, model))
  }

  /** Decode WITHOUT job tables — every hybrid block must carry its embedded
    * self-describing header ([[Config.embedTables]]); lightweight blocks
    * never needed tables. The externally-readable path: any reader with the
    * blocks parquet and the config can reconstruct the rows.
    */
  def decodeSelfDescribing(blocks: Dataset[EncodedBlock], cfg: Config): Dataset[TokenRow] = {
    val (model, maxBits, nCtx) = (cfg.model, cfg.maxBits, cfg.numContexts)
    decodeRows(blocks, () => BlockDecoder.selfDescribing(model, maxBits, nCtx))
  }

  /** Every row of every block, through one decoder per partition. */
  private def decodeRows(blocks: Dataset[EncodedBlock], newDecoder: () => BlockDecoder): Dataset[TokenRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.mapPartitions { it =>
      val decoder = newDecoder()
      it.flatMap { b =>
        val nToks = BlockDecoder.nToks(b)
        val docIds = BlockDecoder.docIds(b)
        val sources = BlockDecoder.sources(b)
        val rowOffsets = BlockDecoder.rowOffsets(nToks)
        val values = decoder.decodeAll(b, rowOffsets)
        (0 until b.n_rows).iterator.map { r =>
          val tokens = java.util.Arrays.copyOfRange(values, rowOffsets(r), rowOffsets(r + 1))
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
    * find the owning blocks, and decodes ONLY the hit rows: hybrid and
    * delta-hybrid blocks carry per-row bit lengths, so the reader seeks
    * straight to each sparse hit's start bit (the reference's per-node
    * offsets, offsets.rs:19-58) instead of entropy-decoding the whole block
    * for one hit. Other codecs decode the full block.
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
      val decoder = BlockDecoder(tables.value, model)
      it.flatMap { b =>
        val docIdsInBlock = BlockDecoder.docIds(b)
        val hits = (0 until b.n_rows).filter(r => wanted.contains(docIdsInBlock(r))).toArray
        if (hits.isEmpty) Iterator.empty
        else {
          val nToks = BlockDecoder.nToks(b)
          val sources = BlockDecoder.sources(b)
          val d = decoder.decodeHits(b, nToks, hits)
          hits.indices.iterator.map { j =>
            val tokens = java.util.Arrays.copyOfRange(d.values, d.starts(j), d.starts(j) + d.lens(j))
            TokenRow(docIdsInBlock(hits(j)), tokens, nToks(hits(j)), sources(hits(j)))
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
        val decoder = BlockDecoder(tables.value, model)
        val counts = new Array[Long](nCtx)
        val codeBits = new Array[Long](nCtx)
        val rawBits = new Array[Long](nCtx)
        it.foreach { b =>
          val rowOffsets = BlockDecoder.rowOffsets(BlockDecoder.nToks(b))
          val off = rowOffsets(b.n_rows)
          decoder.open(b) match {
            case (hybrid: HybridCodec, reader) =>
              hybrid.decodeWithStats(reader, off, rowOffsets, counts, codeBits, rawBits)
            case (codec, reader) =>
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

  /** Full-block payload decode given the corpus-level tables, through
    * [[BlockDecoder]] (table-hash guard, embedded-header check, codec
    * dispatch) for callers holding the block's columns one by one.
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
    val b = EncodedBlock(
      bin = -1, block_seq = -1, doc_ids_codec = null, doc_ids_payload = null,
      sources_codec = null, sources_payload = null, n_toks_codec = null, n_toks_payload = null,
      row_bits_codec = "none", row_bits_payload = null, embedded_tables = embeddedTables,
      codec = codecName, n_rows = rowOffsets.length - 1, n_values = nValues.toLong,
      payload = payload, payload_bits = 0L, meta_bytes = 0L, table_hash = blockTableHash
    )
    BlockDecoder(tables, model, hybrid).decodeAll(b, rowOffsets)
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
