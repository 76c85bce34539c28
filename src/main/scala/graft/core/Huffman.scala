package graft.core

import scala.collection.mutable.ArrayBuffer

/** Per-context canonical-Huffman symbol tables.
  *
  * `codes` hold bit-reversed (LSB-first) canonical codes so they can be
  * written directly to the LE bit stream. Built once on the driver from the
  * merged histograms and broadcast to executors.
  *
  * Bit-format semantics match the reference coder so compressed sizes agree
  * by construction: length-limited package-merge code lengths
  * (/root/reference/src/huffman/encoder.rs:205-265), canonical assignment
  * with u16 bit reversal (/root/reference/src/huffman/common.rs:58-79), and
  * the self-describing header layout
  * (/root/reference/src/huffman/encoder.rs:310-335).
  */
final case class SymbolTables(
    maxBits: Int,
    numContexts: Int,
    present: Array[Array[Boolean]],
    nBits: Array[Array[Byte]],
    codes: Array[Array[Int]]
) extends Serializable {
  def numSymbols: Int = 1 << maxBits

  /** Stable content hash (FNV-1a over lengths+presence) for lineage records. */
  def tableHash: Long = {
    var h = 0xcbf29ce484222325L
    @inline def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    mix(maxBits.toLong); mix(numContexts.toLong)
    var c = 0
    while (c < numContexts) {
      var s = 0
      while (s < numSymbols) {
        mix(if (present(c)(s)) nBits(c)(s).toLong + 1 else 0L)
        s += 1
      }
      c += 1
    }
    h
  }

  /** Exact bit cost of encoding `value` in `ctx` with these tables; a
    * symbol absent from the table (code length 0) costs a prohibitive
    * penalty so cost-based selection never routes an un-encodable stream
    * to the entropy coder.
    */
  @inline def bitCost(ctx: Int, value: Long): Int = {
    val packed = Hybrid.split(value)
    val nb = nBits(ctx)(Hybrid.splitToken(packed)).toInt
    if (nb == 0) 1 << 24 else nb + Hybrid.splitNBits(packed)
  }
}

object Huffman {

  /** Bits used in the header for each symbol's code length (len-1).
    *
    * Deliberate deviation from the reference: its `compute_symbol_len_bits`
    * (/root/reference/src/huffman/common.rs:24-26) uses `usize::BITS` (64) as
    * the minuend, yielding 35 bits per length field at maxBits=8 — almost
    * certainly an upstream bug for `u32::BITS`. We use the minimal width
    * (ceil(log2(maxBits)) = 3 at maxBits=8). Both sides of OUR header
    * read/write agree; graft headers are NOT byte-interchangeable with
    * reference artifacts (payload bit format and sizes still match — the
    * header is metadata, excluded from the payload-size comparisons).
    */
  def symbolLenBits(maxBits: Int): Int =
    64 - java.lang.Long.numberOfLeadingZeros((maxBits - 1).toLong).toInt

  /** A package-merge bag entry: `freq` plus the merged symbol list as a
    * (start, len) slice of a per-call int arena — flat primitive storage,
    * so the comparator reads symbols with direct array indexing and the
    * GC never traces a node graph (a persistent-tree variant was faster
    * single-threaded but collapsed under 32-way allocation: linked entry
    * graphs made the auto-select encode DEGRADE run over run).
    */
  private final class PmEntry(val freq: Long, val start: Int, val len: Int, val firstSym: Int)

  /** (freq, symbol-list lexicographic, shorter-prefix-first) over arena
    * slices — the ordering of Rust's (usize, Vec<u16>) tuples, with a
    * first-symbol fast path for the common tie.
    */
  private final class PmOrdering(arena: Array[Int]) extends java.util.Comparator[PmEntry] {
    def compare(a: PmEntry, b: PmEntry): Int = {
      if (a.freq != b.freq) return java.lang.Long.compare(a.freq, b.freq)
      if (a.firstSym != b.firstSym) return Integer.compare(a.firstSym, b.firstSym)
      val n = math.min(a.len, b.len)
      var i = 1
      while (i < n) {
        val x = arena(a.start + i)
        val y = arena(b.start + i)
        if (x != y) return Integer.compare(x, y)
        i += 1
      }
      Integer.compare(a.len, b.len)
    }
  }

  /** Optimal length-limited code lengths via the quadratic package-merge /
    * coin-collector algorithm, with the reference's exact tie-breaking
    * (sort by (frequency, symbol-list) lexicographically) so that code
    * lengths — and therefore compressed sizes — are identical on identical
    * histograms. Symbol lists live in one flat per-call int arena (see
    * [[PmEntry]]): byte-identical output to the ArrayBuffer formulation
    * (randomized equivalence spec + the golden table hashes) without the
    * boxed-Int copying — this runs per BLOCK in the delta-hybrid selection
    * trial, not just once per job.
    */
  def computeSymbolNumBits(
      histogram: Array[Long],
      maxBits: Int,
      present: Array[Boolean],
      nBits: Array[Byte]
  ): Unit = {
    require(present.length == (1 << maxBits))
    var nonZero = 0
    var i = 0
    while (i < histogram.length) {
      if (histogram(i) != 0) { present(i) = true; nonZero += 1 }
      i += 1
    }
    if (nonZero <= 1) {
      var s = 0
      while (s < present.length) { if (present(s)) nBits(s) = 1; s += 1 }
      return
    }

    var arena = new Array[Int](math.max(nonZero * 4, 64))
    var arenaLen = 0
    @inline def ensureArena(extra: Int): Unit =
      if (arenaLen + extra > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, arenaLen + extra))

    val leaves = new Array[PmEntry](nonZero)
    var li = 0
    var s0 = 0
    while (s0 < present.length) {
      if (present(s0)) {
        ensureArena(1)
        arena(arenaLen) = s0
        leaves(li) = new PmEntry(histogram(s0), arenaLen, 1, s0)
        arenaLen += 1
        li += 1
      }
      s0 += 1
    }

    // bag(level) = the leaves plus the pairs packaged up from the level
    // below; entries sort by (freq, symbol list) each round
    var carry = new Array[PmEntry](0)
    var lvl = 0
    var lastBag: Array[PmEntry] = leaves
    while (lvl < maxBits) {
      val bag = new Array[PmEntry](nonZero + carry.length)
      System.arraycopy(leaves, 0, bag, 0, nonZero)
      System.arraycopy(carry, 0, bag, nonZero, carry.length)
      java.util.Arrays.sort(bag, new PmOrdering(arena))
      lastBag = bag
      if (lvl < maxBits - 1) {
        val nPairs = bag.length / 2
        carry = new Array[PmEntry](nPairs)
        var j = 0
        while (j < nPairs) {
          val a = bag(2 * j)
          val b = bag(2 * j + 1)
          ensureArena(a.len + b.len)
          System.arraycopy(arena, a.start, arena, arenaLen, a.len)
          System.arraycopy(arena, b.start, arena, arenaLen + a.len, b.len)
          carry(j) = new PmEntry(a.freq + b.freq, arenaLen, a.len + b.len, a.firstSym)
          arenaLen += a.len + b.len
          j += 1
        }
      }
      lvl += 1
    }
    val take = 2 * nonZero - 2
    var k = 0
    while (k < take && k < lastBag.length) {
      val e = lastBag(k)
      var i2 = 0
      while (i2 < e.len) {
        val sym = arena(e.start + i2)
        nBits(sym) = (nBits(sym) + 1).toByte
        i2 += 1
      }
      k += 1
    }
  }

  /** Canonical code assignment, bit-reversed for the LSB-first stream. */
  def computeSymbolBits(
      maxBits: Int,
      present: Array[Boolean],
      nBits: Array[Byte],
      codes: Array[Int]
  ): Unit = {
    val symbols = ArrayBuffer.empty[(Int, Int)] // (n_bits, symbol)
    var i = 0
    while (i < present.length) {
      if (present(i)) symbols += ((nBits(i).toInt, i))
      i += 1
    }
    val sorted = symbols.sortInPlace()(Ordering.Tuple2(Ordering.Int, Ordering.Int))
    var x = 0
    var s = 0
    while (s < sorted.length) {
      val (nb, sym) = sorted(s)
      codes(sym) = (Integer.reverse(x) >>> 16) >>> (16 - maxBits) >>> (maxBits - nb)
      x += 1
      if (s + 1 != sorted.length) x <<= sorted(s + 1)._1 - nb
      s += 1
    }
  }

  /** Build per-context tables from merged histograms. */
  def buildTables(hist: Histograms, maxBits: Int): SymbolTables = {
    val numSymbols = 1 << maxBits
    require(hist.numSymbols == numSymbols, s"histogram symbols ${hist.numSymbols} != $numSymbols")
    val present = Array.ofDim[Boolean](hist.numContexts, numSymbols)
    val nBits = Array.ofDim[Byte](hist.numContexts, numSymbols)
    val codes = Array.ofDim[Int](hist.numContexts, numSymbols)
    var c = 0
    while (c < hist.numContexts) {
      computeSymbolNumBits(hist.counts(c), maxBits, present(c), nBits(c))
      computeSymbolBits(maxBits, present(c), nBits(c), codes(c))
      c += 1
    }
    SymbolTables(maxBits, hist.numContexts, present, nBits, codes)
  }

  /** Self-describing header: per context, the last-present symbol index in
    * maxBits bits, then for each symbol up to it one presence bit and, if
    * present, (symbolLenBits) bits holding code length - 1.
    */
  def writeHeader(t: SymbolTables, w: BitWriter): Long = {
    val slb = symbolLenBits(t.maxBits)
    val before = w.bitsWritten
    var c = 0
    while (c < t.numContexts) {
      var ms = 0
      var i = 0
      while (i < t.numSymbols) { if (t.present(c)(i)) ms = i; i += 1 }
      w.writeBits(ms.toLong, t.maxBits)
      i = 0
      while (i <= ms) {
        if (t.present(c)(i)) {
          w.writeBits(1, 1)
          w.writeBits(t.nBits(c)(i).toLong - 1, slb)
        } else w.writeBits(0, 1)
        i += 1
      }
      c += 1
    }
    w.bitsWritten - before
  }

  /** Parse a header back into tables (code bits recomputed canonically). */
  def readHeader(r: BitReader, maxBits: Int, numContexts: Int): SymbolTables = {
    val numSymbols = 1 << maxBits
    val slb = symbolLenBits(maxBits)
    val present = Array.ofDim[Boolean](numContexts, numSymbols)
    val nBits = Array.ofDim[Byte](numContexts, numSymbols)
    val codes = Array.ofDim[Int](numContexts, numSymbols)
    var c = 0
    while (c < numContexts) {
      val ms = r.readBits(maxBits).toInt
      var i = 0
      while (i <= ms) {
        if (r.readBits(1) != 0) {
          present(c)(i) = true
          nBits(c)(i) = (r.readBits(slb) + 1).toByte
        }
        i += 1
      }
      computeSymbolBits(maxBits, present(c), nBits(c), codes(c))
      c += 1
    }
    SymbolTables(maxBits, numContexts, present, nBits, codes)
  }

  /** Decoder lookup tables: per context, 2^maxBits entries packing
    * (codeLen << 24 | rawBits << 16 | symbol); decode = peek maxBits,
    * index, consume codeLen + rawBits. Pre-packing the token's raw
    * mantissa width saves recomputing it per decoded value.
    */
  def decoderLut(t: SymbolTables): Array[Array[Int]] = {
    val size = t.numSymbols
    val lut = Array.ofDim[Int](t.numContexts, size)
    @inline def pack(codeLen: Int, sym: Int): Int =
      (codeLen << 24) | (Hybrid.tokenNBits(sym) << 16) | sym
    var c = 0
    while (c < t.numContexts) {
      var cnt = 0
      var lastPresent = 0
      var s = 0
      while (s < size) {
        if (t.present(c)(s)) { cnt += 1; lastPresent = s }
        s += 1
      }
      if (cnt <= 1) {
        val nb = if (cnt == 1) t.nBits(c)(lastPresent).toInt else 0
        java.util.Arrays.fill(lut(c), pack(nb, lastPresent))
      } else {
        s = 0
        while (s < size) {
          if (t.present(c)(s)) {
            val nb = t.nBits(c)(s).toInt
            val code = t.codes(c)(s)
            val entry = pack(nb, s)
            val stride = 1 << nb
            var i = code
            while (i < size) { lut(c)(i) = entry; i += stride }
          }
          s += 1
        }
      }
      c += 1
    }
    lut
  }

  /** Largest maxBits the fused encoder LUT supports (code in 24 bits). */
  final val MaxLutBits = 24

  /** Encoder lookup tables: per context, one int per symbol packing
    * (codeLen << 24 | code) — the write loop's two 2D lookups (nBits,
    * codes) become one. codeLen 0 marks an absent symbol. Codes fit 24
    * bits for any maxBits <= 24 (enforced).
    */
  def encoderLut(t: SymbolTables): Array[Array[Int]] = {
    require(t.maxBits <= MaxLutBits, s"encoderLut supports maxBits <= $MaxLutBits, got ${t.maxBits}")
    val lut = Array.ofDim[Int](t.numContexts, t.numSymbols)
    var c = 0
    while (c < t.numContexts) {
      var s = 0
      while (s < t.numSymbols) {
        if (t.present(c)(s)) lut(c)(s) = (t.nBits(c)(s).toInt << 24) | t.codes(c)(s)
        s += 1
      }
      c += 1
    }
    lut
  }

  /** Write one value: canonical code bits then raw mantissa bits. Fails
    * loudly on a symbol the tables cannot express (reference asserts the
    * same, /root/reference/src/huffman/encoder.rs:294-297) — writing a
    * zero-length code would silently corrupt the stream.
    */
  @inline def writeValue(t: SymbolTables, ctx: Int, value: Long, w: BitWriter): Unit = {
    writeValueTok(t, ctx, value, w)
    ()
  }

  /** [[writeValue]] returning the value's TOKEN: a prev-token context chain
    * (SimpleContextModel) derives the next context as min(token, n-1)
    * without re-running the split on the value it just wrote.
    */
  @inline def writeValueTok(t: SymbolTables, ctx: Int, value: Long, w: BitWriter): Int = {
    val packed = Hybrid.split(value)
    val tok = Hybrid.splitToken(packed)
    val nb = Hybrid.splitNBits(packed)
    val codeLen = t.nBits(ctx)(tok).toInt
    if (codeLen == 0)
      throw new IllegalStateException(s"value $value (token $tok) absent from tables in ctx $ctx")
    // one fused append: code in the low bits, raw mantissa above it — the
    // LSB-first stream layout is identical to two separate writes, at half
    // the bit-IO call cost (codeLen + nb <= 8 + 57 stays in one write for
    // all int32 tokens; the guard falls back for pathological widths)
    val total = codeLen + nb
    if (total < 64)
      w.writeBits(t.codes(ctx)(tok).toLong | (Hybrid.rawBits(value, nb) << codeLen), total)
    else {
      w.writeBits(t.codes(ctx)(tok).toLong, codeLen)
      w.writeBits(Hybrid.rawBits(value, nb), nb)
    }
    tok
  }

  /** Read one value via the LUT (fused code+raw consume, see writeValue). */
  @inline def readValue(lut: Array[Array[Int]], maxBits: Int, ctx: Int, r: BitReader): Long = {
    val entry = lut(ctx)(r.peekBits(maxBits))
    val codeLen = entry >>> 24
    val nb = (entry >>> 16) & 0xff
    val tok = entry & 0xffff
    if (codeLen + nb <= 57) {
      val bits = r.readBits(codeLen + nb) >>> codeLen
      Hybrid.assemble(tok, bits)
    } else {
      r.skipBits(codeLen)
      val bits = if (nb > 0) r.readBits(nb) else 0L
      Hybrid.assemble(tok, bits)
    }
  }
}
