package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class FsstSpec extends AnyFunSuite {

  def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  val docIds: IndexedSeq[Array[Byte]] =
    (0 until 2000).map(i => bytes(f"doc-web-$i%010d"))

  val words: IndexedSeq[Array[Byte]] = {
    val vocab = Array("the", "fast", "key", "order", "sort", "table", "scan", "merge")
    (0 until 500).map { i =>
      bytes((0 until 12).map(j => vocab((i * 7 + j * 13) % vocab.length)).mkString(" "))
    }
  }

  test("roundtrip on shared-prefix ids") {
    val table = Fsst.train(docIds)
    for (d <- docIds) {
      assert(new String(table.decode(table.encode(d)), UTF_8) == new String(d, UTF_8))
    }
  }

  test("roundtrip on word-like text") {
    val table = Fsst.train(words)
    for (w <- words) {
      assert(table.decode(table.encode(w)).sameElements(w))
    }
  }

  test("compresses shared-prefix ids well") {
    val table = Fsst.train(docIds)
    val raw = docIds.map(_.length).sum
    val enc = docIds.map(d => table.encodedLength(d)).sum + table.serializedLength
    assert(enc < raw / 2, s"fsst $enc vs raw $raw")
  }

  test("encodedLength matches actual encoding") {
    val table = Fsst.train(words)
    for (w <- words.take(50)) assert(table.encodedLength(w) == table.encode(w).length)
  }

  test("table serialization roundtrips") {
    val table = Fsst.train(docIds)
    val (loaded, consumed) = FsstTable.deserialize(table.serialize)
    assert(consumed == table.serializedLength)
    assert(loaded.symbols.length == table.symbols.length)
    for (d <- docIds.take(100))
      assert(loaded.decode(table.encode(d)).sameElements(d))
  }

  test("empty and binary-ish inputs survive") {
    val table = Fsst.train(IndexedSeq(bytes("abc")))
    assert(table.decode(table.encode(Array.emptyByteArray)).isEmpty)
    val bin = Array[Byte](-1, 0, 127, -128, 42)
    assert(table.decode(table.encode(bin)).sameElements(bin))
  }

  test("training is deterministic") {
    val t1 = Fsst.train(docIds)
    val t2 = Fsst.train(docIds)
    assert(t1.serialize.sameElements(t2.serialize))
  }

  /** The pre-rewrite `Fsst.train` (ByteBuffer-keyed HashMap, linear
    * longest-match scan), kept verbatim as the equivalence reference for
    * the allocation-free trainer: same segment choices and the same
    * (-gain, signed ByteBuffer order) tie-break, so the trained symbol
    * tables must match byte for byte.
    */
  private def trainRef(sample: IndexedSeq[Array[Byte]], iterations: Int = 4, maxSymbols: Int = 255): FsstTable = {
    var table = new FsstTable(Array.empty[Array[Byte]])
    var it = 0
    while (it < iterations) {
      val gains = new java.util.HashMap[java.nio.ByteBuffer, Long]()
      @inline def addGain(bytes: Array[Byte], from: Int, until: Int): Unit = {
        if (until - from >= 1 && until - from <= 8) {
          val key = java.nio.ByteBuffer.wrap(java.util.Arrays.copyOfRange(bytes, from, until))
          // gain per occurrence ≈ bytes covered minus the 1 code byte
          val g = (until - from) * 2 - 1L // count escapes avoided generously
          gains.merge(key, g, (a, b) => a + b)
        }
      }
      sample.foreach { s =>
        var i = 0
        var prevStart = -1
        var prevEnd = -1
        while (i < s.length) {
          val si = if (table.symbols.nonEmpty) {
            val groups = table.symbols
            // reuse table's matcher via encodedLength logic: inline match
            var best = -1
            var bestLen = 0
            var c = 0
            while (c < groups.length) {
              val sym = groups(c)
              if (sym.length > bestLen && i + sym.length <= s.length) {
                var k = 0
                var ok = true
                while (ok && k < sym.length) {
                  if (s(i + k) != sym(k)) ok = false
                  k += 1
                }
                if (ok) { best = c; bestLen = sym.length }
              }
              c += 1
            }
            best
          } else -1
          val segLen = if (si >= 0) table.symbols(si).length else 1
          // count this segment and its extension candidates
          addGain(s, i, i + segLen)
          addGain(s, i, math.min(i + segLen + 1, s.length)) // extend by one byte
          if (prevStart >= 0) addGain(s, prevStart, math.min(i + segLen, prevStart + 8))
          prevStart = i
          prevEnd = i + segLen
          i += segLen
        }
      }
      val top = gains
        .entrySet()
        .toArray(Array.empty[java.util.Map.Entry[java.nio.ByteBuffer, Long]])
        .sortBy(e => (-e.getValue, e.getKey)) // deterministic tie-break
        .take(maxSymbols)
        .map(_.getKey.array())
      table = new FsstTable(top)
      it += 1
    }
    table
  }

  implicit private val byteBufferOrdering: Ordering[java.nio.ByteBuffer] =
    (a, b) => a.compareTo(b)

  test("train() equals the pre-rewrite reference trainer on seeded random string sets") {
    val rnd = new scala.util.Random(20261017L)
    for (trial <- 0 until 48) {
      // shapes: full byte range, small alphabets (dense gain ties),
      // shared-prefix ids, and bytes on both sides of the signed order
      val alphabet: Array[Byte] = trial % 4 match {
        case 0 => Array.tabulate(256)(_.toByte)
        case 1 => "ab".getBytes(UTF_8)
        case 2 => "abcdefgh-0123".getBytes(UTF_8)
        case _ => Array[Byte](-128, -1, 0, 1, 127)
      }
      val n = 1 + rnd.nextInt(300)
      val prefix = if (trial % 3 == 0) bytes(s"doc-${trial % 5}-") else Array.emptyByteArray
      val sample = IndexedSeq.fill(n) {
        prefix ++ Array.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length)))
      }
      val iterations = 1 + trial % 5
      val maxSymbols = Seq(255, 64, 7)(trial % 3)
      val got = Fsst.train(sample, iterations, maxSymbols).symbols
      val want = trainRef(sample, iterations, maxSymbols).symbols
      assert(got.length == want.length, s"symbol count drift trial=$trial")
      got.zip(want).zipWithIndex.foreach { case ((g, w), k) =>
        assert(g.sameElements(w), s"symbol $k drift trial=$trial")
      }
    }
  }
}
