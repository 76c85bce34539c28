package graft.pipeline

import graft.codec.{CodecSelector, DeltaHybrid, HybridCodec, IntBlockCodec, StringCodecs}
import graft.core.{BitReader, ContextModel, Huffman, SymbolTables}

/** The columns of one stored block that [[BlockDecoder]] reads, named as in
  * the block schema: an [[EncodedBlock]] row, or a block-parquet record
  * projected to the columns its reader decodes.
  */
trait StoredBlock {
  def bin: Int
  def block_seq: Int
  def codec: String
  def n_rows: Int
  def doc_ids_codec: String
  def doc_ids_payload: Array[Byte]
  def sources_codec: String
  def sources_payload: Array[Byte]
  def n_toks_codec: String
  def n_toks_payload: Array[Byte]
  def row_bits_codec: String
  def row_bits_payload: Array[Byte]
  def embedded_tables: Boolean
  def payload: Array[Byte]
  def table_hash: Long

  /** The block file the record was read from, when known (named in errors). */
  def file: Option[String] = None
}

/** Decoded token slices of a block's hit rows: hit `j`'s values are
  * `values(starts(j) until starts(j) + lens(j))`. `values` is the whole
  * block buffer after a full decode, or just the concatenated hit rows after
  * a row seek.
  */
final class DecodedHits(val values: Array[Int], val starts: Array[Int], val lens: Array[Int])

/** The one executor-side decoder of the block format, built once per
  * partition from the reader's symbol tables (or none, for self-describing
  * blocks) and context model. Every read path goes through it: batch
  * decode, point lookups, DSv2 scans, audit, sidecar builds and maintenance
  * rewrites. It owns
  *  - the metadata streams (companion: doc_id/source strings, `n_toks`,
  *    `row_bits`), with `n_toks` validated so a corrupt stream fails by
  *    name instead of deep in a codec;
  *  - the row-offset and start-bit prefix sums;
  *  - table resolution: the block's `table_hash` must match the reader's
  *    tables, and an embedded header must parse back to that hash;
  *  - the token decode: a full block, or the hit rows with per-hit emit
  *    lengths — seeking per row on `hybrid`/`dhybrid` (the reference's
  *    random-access factory, /root/reference/src/graphs/
  *    huffman_graph_decoder.rs:151-205) when hits are sparse or a prefix
  *    truncates them.
  */
final class BlockDecoder private (
    tables: Option[SymbolTables],
    model: ContextModel,
    maxBits: Int,
    numContexts: Int,
    hybrid: Option[HybridCodec]
) {
  import BlockDecoder.fail

  private lazy val tablesHash: Option[Long] = tables.map(_.tableHash)

  /** Table resolution: the codec for `b`'s payload and a reader at its
    * first value bit (past an embedded header).
    */
  def open(b: StoredBlock): (IntBlockCodec, BitReader) = {
    val r = new BitReader(b.payload)
    val codec = b.codec match {
      case "hybrid" =>
        tablesHash.foreach { h =>
          if (b.table_hash != h)
            fail(b, s"table hash mismatch: block written with tables ${b.table_hash}, reader has $h")
        }
        if (b.embedded_tables) {
          val parsed = Huffman.readHeader(r, maxBits, numContexts)
          if (parsed.tableHash != b.table_hash)
            fail(b, s"embedded header hash ${parsed.tableHash} != block table_hash ${b.table_hash}")
          new HybridCodec(parsed, model)
        } else hybrid.getOrElse(fail(b, "hybrid block lacks an embedded header and no tables were given"))
      case name => CodecSelector.decoderFor(GraftPipeline.codecId(name), None)
    }
    (codec, r)
  }

  /** Decode every value of `b`; `rowOffsets` from [[BlockDecoder.rowOffsets]]. */
  def decodeAll(b: StoredBlock, rowOffsets: Array[Int]): Array[Int] = {
    val (codec, r) = open(b)
    codec.decode(r, rowOffsets(rowOffsets.length - 1), rowOffsets)
  }

  /** Decode the rows `hits` (ascending) of `b`, each cut to its first
    * `prefix` values. Seekable blocks decode only those values when hits
    * are sparse or truncated; otherwise the whole block decodes once and
    * hits are slices of it. A caller that already holds `b`'s
    * [[BlockDecoder.rowBits]] passes them, so a seek does not decode the
    * stream again.
    */
  def decodeHits(
      b: StoredBlock,
      nToks: Array[Int],
      hits: Array[Int],
      prefix: Int = Int.MaxValue,
      rowBits: Array[Int] = null
  ): DecodedHits = {
    val lens = new Array[Int](hits.length)
    val starts = new Array[Int](hits.length)
    var truncates = false
    var total = 0
    var j = 0
    while (j < hits.length) {
      val full = nToks(hits(j))
      lens(j) = if (full < prefix) full else prefix
      if (lens(j) < full) truncates = true
      total += lens(j)
      j += 1
    }
    val seekable = (b.codec == "hybrid" || b.codec == "dhybrid") && b.row_bits_codec != "none"
    // entropy-decoding exactly the emitted values per row beats a full-block
    // decode on sparse hits, and on truncated ones: a row's context chain
    // starts at its seeked bit, so its head decodes without its tail
    val values =
      if (seekable && (hits.length * 4 < b.n_rows || truncates)) {
        val payload = b.payload
        val (dataStart, decodeRow) = b.codec match {
          case "hybrid" =>
            val (codec, r) = open(b)
            val h = codec.asInstanceOf[HybridCodec]
            (r.bitPos, (in: BitReader, out: Array[Int], from: Int, until: Int) => h.decodeRow(in, until - from, out, from))
          case _ =>
            val rows = new DeltaHybrid.RowReader(new BitReader(payload))
            (rows.dataStart, (in: BitReader, out: Array[Int], from: Int, until: Int) => rows.decodeRow(in, out, from, until))
        }
        val startBit = BlockDecoder.startBits(b, dataStart, if (rowBits != null) rowBits else BlockDecoder.rowBits(b))
        val out = new Array[Int](total)
        var off = 0
        j = 0
        while (j < hits.length) {
          starts(j) = off
          decodeRow(new BitReader(payload, startBit(hits(j))), out, off, off + lens(j))
          off += lens(j)
          j += 1
        }
        out
      } else {
        val offsets = BlockDecoder.rowOffsets(nToks)
        j = 0
        while (j < hits.length) { starts(j) = offsets(hits(j)); j += 1 }
        decodeAll(b, offsets)
      }
    new DecodedHits(values, starts, lens)
  }
}

object BlockDecoder {

  def apply(tables: SymbolTables, model: ContextModel): BlockDecoder =
    apply(tables, model, new HybridCodec(tables, model))

  /** With a caller-held hybrid codec over `tables` (its LUTs are reused). */
  def apply(tables: SymbolTables, model: ContextModel, hybrid: HybridCodec): BlockDecoder =
    new BlockDecoder(Some(tables), model, tables.maxBits, tables.numContexts, Some(hybrid))

  /** Without job tables: every hybrid block must embed its header. */
  def selfDescribing(model: ContextModel, maxBits: Int, numContexts: Int): BlockDecoder =
    new BlockDecoder(None, model, maxBits, numContexts, None)

  /** Over a table dir's `_tables/header.bin` bytes. */
  def fromHeader(headerBytes: Array[Byte], maxBits: Int, numContexts: Int, modelName: String): BlockDecoder =
    apply(Huffman.readHeader(new BitReader(headerBytes), maxBits, numContexts), ContextModel(modelName, numContexts))

  private def fail(b: StoredBlock, msg: String): Nothing =
    throw new IllegalStateException(
      s"$msg (${b.file.map(f => s"file $f, ").getOrElse("")}bin ${b.bin}, block_seq ${b.block_seq})"
    )

  def docIds(b: StoredBlock): Array[String] = StringCodecs.decode(b.doc_ids_codec, b.doc_ids_payload, b.n_rows)

  def sources(b: StoredBlock): Array[String] = StringCodecs.decode(b.sources_codec, b.sources_payload, b.n_rows)

  /** Per-row token counts, rejecting a negative count or a total past
    * Int.MaxValue (the row offsets are ints).
    */
  def nToks(b: StoredBlock): Array[Int] = {
    val n = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
    var total = 0L
    var i = 0
    while (i < n.length) {
      total += n(i)
      if (n(i) < 0 || total > Int.MaxValue)
        fail(b, s"corrupt n_toks stream: row $i has length ${n(i)}, running total $total")
      i += 1
    }
    n
  }

  /** Per-row payload bit lengths; null when the block's codec has no index. */
  def rowBits(b: StoredBlock): Array[Int] =
    if (b.row_bits_codec == "none") null
    else CodecSelector.decodeIntColumn(b.row_bits_codec, b.row_bits_payload, b.n_rows)

  /** Row start offsets (n_rows + 1 entries) over [[nToks]] counts. */
  def rowOffsets(nToks: Array[Int]): Array[Int] = {
    val out = new Array[Int](nToks.length + 1)
    var i = 0
    while (i < nToks.length) { out(i + 1) = out(i) + nToks(i); i += 1 }
    out
  }

  /** Each row's first payload bit: `dataStart` plus the preceding row bits. */
  private def startBits(b: StoredBlock, dataStart: Long, rb: Array[Int]): Array[Long] = {
    val out = new Array[Long](b.n_rows)
    var acc = dataStart
    var i = 0
    while (i < out.length) {
      if (rb(i) < 0) fail(b, s"corrupt row_bits stream: row $i has ${rb(i)} bits")
      out(i) = acc
      acc += rb(i)
      i += 1
    }
    out
  }
}
