package graft.codec

/** FSST — Fast Static Symbol Table string compression (Boncz, Neumann, Leis,
  * VLDB 2020; public algorithm, re-implemented from the paper). A table of at
  * most 255 symbols of 1..8 bytes each; encoding greedily replaces the
  * longest matching symbol with its 1-byte code; bytes with no match are
  * escaped as (255, literal). Trained per block by a few rounds of
  * counting single-symbol and adjacent-pair gains on a sample.
  */
final class FsstTable(val symbols: Array[Array[Byte]]) extends Serializable {
  require(symbols.length <= 255, s"at most 255 symbols, got ${symbols.length}")
  require(symbols.forall(s => s.length >= 1 && s.length <= 8))

  final val Escape: Int = 255

  // symbols grouped by first byte, longest first, for greedy longest-match
  @transient private lazy val byFirst: Array[Array[Int]] = {
    val groups = Array.fill(256)(List.empty[Int])
    for (i <- symbols.indices) {
      val b = symbols(i)(0) & 0xff
      groups(b) = i :: groups(b)
    }
    groups.map(_.sortBy(i => -symbols(i).length).toArray)
  }

  // symbols packed big-endian into the TOP bytes of a long (zeros below):
  // a candidate check is one masked compare instead of a byte loop — the
  // matcher runs per input byte of every encoded string
  @transient private lazy val packedSyms: Array[Long] = symbols.map { s =>
    var p = 0L
    var k = 0
    while (k < s.length) { p |= (s(k) & 0xffL) << (56 - 8 * k); k += 1 }
    p
  }

  /** Longest symbol matching input at `pos`, or -1 (equal-length symbols
    * are distinct, so at most one can match — order within a length never
    * affects the result).
    */
  @inline private def matchAt(input: Array[Byte], pos: Int): Int = {
    val cands = byFirst(input(pos) & 0xff)
    if (cands.length == 0) return -1
    val rem = input.length - pos
    var inp8 = 0L
    val n = if (rem >= 8) 8 else rem
    var k = 0
    while (k < n) { inp8 |= (input(pos + k) & 0xffL) << (56 - 8 * k); k += 1 }
    var ci = 0
    while (ci < cands.length) {
      val si = cands(ci)
      val len = symbols(si).length
      if (len <= rem && ((inp8 ^ packedSyms(si)) >>> (64 - 8 * len)) == 0L) return si
      ci += 1
    }
    -1
  }

  /** [[matchAt]] for [[Fsst.train]]'s segmentation loop. */
  private[codec] def matchSymbol(input: Array[Byte], pos: Int): Int =
    if (symbols.isEmpty) -1 else matchAt(input, pos)

  def encode(input: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(input.length / 2 + 8)
    var i = 0
    while (i < input.length) {
      val si = matchAt(input, i)
      if (si >= 0) {
        out.write(si)
        i += symbols(si).length
      } else {
        out.write(Escape)
        out.write(input(i))
        i += 1
      }
    }
    out.toByteArray
  }

  def decode(encoded: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(encoded.length * 2 + 8)
    var i = 0
    while (i < encoded.length) {
      val c = encoded(i) & 0xff
      if (c == Escape) {
        out.write(encoded(i + 1))
        i += 2
      } else {
        out.write(symbols(c), 0, symbols(c).length)
        i += 1
      }
    }
    out.toByteArray
  }

  /** Encoded byte count without materializing. */
  def encodedLength(input: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < input.length) {
      val si = matchAt(input, i)
      if (si >= 0) { n += 1; i += symbols(si).length }
      else { n += 2; i += 1 }
    }
    n
  }

  /** Table serialization: [nSymbols:1][per symbol: len:1, bytes]. */
  def serialize: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(symbols.length)
    symbols.foreach { s => out.write(s.length); out.write(s, 0, s.length) }
    out.toByteArray
  }

  def serializedLength: Int = 1 + symbols.map(_.length + 1).sum
}

object FsstTable {
  def deserialize(bytes: Array[Byte], off: Int = 0): (FsstTable, Int) = {
    var i = off
    val n = bytes(i) & 0xff
    i += 1
    val symbols = new Array[Array[Byte]](n)
    var s = 0
    while (s < n) {
      val len = bytes(i) & 0xff
      i += 1
      symbols(s) = java.util.Arrays.copyOfRange(bytes, i, i + len)
      i += len
      s += 1
    }
    (new FsstTable(symbols), i - off)
  }
}

/** Open-addressing long->long gain accumulator for [[Fsst.train]]'s
  * counting loop (a java.util.HashMap boxes every key and value on a path
  * run three times per sampled byte). A slot is empty iff its gain is 0 —
  * real gains are always >= 1 — so key 0 (a segment of NUL bytes) needs no
  * sentinel.
  */
private[codec] final class LongGainMap(initialCapacity: Int = 1024) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1) * 2
  private var keys = new Array[Long](cap)
  private var gains = new Array[Long](cap)
  private var n = 0

  @inline private def mix(k: Long): Int = {
    val h = k * -7046029254386353131L // 0x9e3779b97f4a7c15 as signed
    ((h ^ (h >>> 32)).toInt) & (cap - 1)
  }

  private def grow(): Unit = {
    val oldKeys = keys
    val oldGains = gains
    cap *= 2
    keys = new Array[Long](cap)
    gains = new Array[Long](cap)
    var i = 0
    while (i < oldKeys.length) {
      if (oldGains(i) != 0L) {
        var slot = mix(oldKeys(i))
        while (gains(slot) != 0L) slot = (slot + 1) & (cap - 1)
        keys(slot) = oldKeys(i)
        gains(slot) = oldGains(i)
      }
      i += 1
    }
  }

  def add(key: Long, gain: Long): Unit = {
    var slot = mix(key)
    while (gains(slot) != 0L && keys(slot) != key) slot = (slot + 1) & (cap - 1)
    if (gains(slot) == 0L) {
      if ((n + 1) * 4 > cap * 3) { grow(); add(key, gain); return }
      keys(slot) = key
      n += 1
    }
    gains(slot) += gain
  }

  def entries: Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](n)
    var i = 0
    var j = 0
    while (i < cap) {
      if (gains(i) != 0L) { out(j) = (keys(i), gains(i)); j += 1 }
      i += 1
    }
    out
  }
}

object Fsst {

  /** Train a symbol table on a sample of strings: a few rounds of greedy
    * re-encoding, counting gains of current symbols and of adjacent-symbol
    * concatenations, keeping the top candidates by saved bytes.
    *
    * Hot path of every block's doc_id column encode (the micro-profile put
    * the original at 2.3x the entropy kernel itself), so the counting loop
    * avoids allocation: candidate segments are <= 8 bytes and key a
    * primitive-long HashMap (length-tagged big-endian packing); the
    * candidate matcher indexes symbols by first byte, longest first with
    * the original's lowest-index tie-break, so the selected segments — and
    * therefore the trained table and every encoded payload — are
    * byte-identical to the original implementation (pinned by FsstSpec's
    * verbatim copy of the original trainer, and the BlockProfile sink
    * checksum).
    */
  def train(sample: IndexedSeq[Array[Byte]], iterations: Int = 4, maxSymbols: Int = 255): FsstTable = {
    var table = new FsstTable(Array.empty[Array[Byte]])
    var it = 0
    while (it < iterations) {
      // per-length primitive maps keyed by the segment's bytes packed
      // big-endian into one long (a segment is 1..8 bytes, so
      // (length, packed) is injective and the bytes reconstruct from the
      // key) — no allocation per counted occurrence
      val sums = Array.fill(8)(new LongGainMap())
      @inline def addGain(bytes: Array[Byte], from: Int, until: Int): Unit = {
        val len = until - from
        if (len >= 1 && len <= 8) {
          var packed = 0L
          var k = from
          while (k < until) { packed = (packed << 8) | (bytes(k) & 0xffL); k += 1 }
          // gain per occurrence ≈ bytes covered minus the 1 code byte
          sums(len - 1).add(packed, len * 2 - 1L) // count escapes avoided generously
        }
      }
      sample.foreach { s =>
        var i = 0
        var prevStart = -1
        while (i < s.length) {
          // longest match via the table's packed matcher (equal-length
          // symbols are distinct, so candidate order cannot change the
          // matched segment)
          val si = table.matchSymbol(s, i)
          val segLen = if (si >= 0) table.symbols(si).length else 1
          // count this segment and its extension candidates
          addGain(s, i, i + segLen)
          addGain(s, i, math.min(i + segLen + 1, s.length)) // extend by one byte
          if (prevStart >= 0) addGain(s, prevStart, math.min(i + segLen, prevStart + 8))
          prevStart = i
          i += segLen
        }
      }
      val top = (0 until 8).iterator
        .flatMap { li =>
          val len = li + 1
          sums(li).entries.iterator.map { case (packed, g) =>
            val bytes = new Array[Byte](len)
            var k = len - 1
            var p = packed
            while (k >= 0) { bytes(k) = (p & 0xff).toByte; p >>>= 8; k -= 1 }
            (g, bytes)
          }
        }
        .toArray
        .sortBy { case (g, bytes) => (-g, java.nio.ByteBuffer.wrap(bytes)) }
        .take(maxSymbols)
        .map(_._2)
      table = new FsstTable(top)
      it += 1
    }
    table
  }

  implicit private val byteBufferOrdering: Ordering[java.nio.ByteBuffer] =
    (a, b) => a.compareTo(b)
}
