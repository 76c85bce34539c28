package graft.tools

import graft.codec._
import graft.core.BitWriter
import graft.pipeline.{GraftPipeline, TokenTables}
import graft.sources.GraftDataSource

/** Single-threaded micro-profile of the block-encode path (dev tool, guide
  * §1.2 "per-task work"): generates the exact bench corpus rows locally
  * (TokenTables.syntheticRow — no Spark), packs them into blocks with the
  * production caps, and times each sub-stage of what blockIterator does per
  * block, so the gap between the pure entropy kernel and the end-to-end
  * staged encode can be attributed (values flatten, selection pass, hybrid
  * encode, string/int metadata codecs, payload copy). Diagnostic only.
  *
  * Usage: sbt "runMain graft.tools.BlockProfile [nRows] [reps]"
  */
object BlockProfile {

  final case class Block(
      docIds: Array[String],
      sources: Array[String],
      nToks: Array[Int],
      values: Array[Int],
      rowOffsets: Array[Int]
  )

  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toInt else 200000
    val reps = if (args.length > 1) args(1).toInt else 5
    val cfg = GraftPipeline.Config(numContexts = 64, numBins = 512)

    // bench-corpus rows in staged order: binned by the production
    // pmod(xxhash64(doc_id, salt), numBins) routing, rows sorted by
    // (bin, source, doc_id) — so the block cuts match the engine's
    val rows = (0L until nRows.toLong).map(i => TokenTables.syntheticRow(42L, i))
    val binned = rows
      .map(r => (GraftDataSource.binOf(r.doc_id, cfg.numBins, cfg.salt), r))
      .sortBy { case (b, r) => (b, r.source, r.doc_id) }

    // pack into blocks with the production caps (same rule as blockIterator)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
    locally {
      val docIds = scala.collection.mutable.ArrayBuffer.empty[String]
      val sources = scala.collection.mutable.ArrayBuffer.empty[String]
      val arrays = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      var blockBin = -1
      var blockValues = 0L
      def flush(): Unit = if (docIds.nonEmpty) {
        val offs = new Array[Int](arrays.length + 1)
        var off = 0
        var i = 0
        while (i < arrays.length) { offs(i) = off; off += arrays(i).length; i += 1 }
        offs(arrays.length) = off
        val values = new Array[Int](off)
        i = 0
        while (i < arrays.length) {
          System.arraycopy(arrays(i), 0, values, offs(i), arrays(i).length); i += 1
        }
        blocks += Block(docIds.toArray, sources.toArray, arrays.map(_.length).toArray, values, offs)
        docIds.clear(); sources.clear(); arrays.clear(); blockValues = 0L
      }
      binned.foreach { case (bin, r) =>
        val fits = docIds.isEmpty ||
          (bin == blockBin && docIds.length < cfg.maxBlockRows &&
            blockValues + r.tokens.length <= cfg.maxBlockValues)
        if (!fits) flush()
        if (docIds.isEmpty) blockBin = bin
        docIds += r.doc_id; sources += r.source; arrays += r.tokens
        blockValues += r.tokens.length
      }
      flush()
    }
    val nTok = blocks.iterator.map(_.values.length.toLong).sum
    println(s"[bp] rows=$nRows blocks=${blocks.length} tokens=$nTok")

    val tables = {
      val hist = new graft.core.Histograms(cfg.numContexts, 1 << cfg.maxBits)
      blocks.foreach { b =>
        var row = 0
        while (row < b.nToks.length) {
          var ctx = 0
          var i = b.rowOffsets(row)
          while (i < b.rowOffsets(row + 1)) {
            val tok = graft.core.Hybrid.token(b.values(i).toLong)
            hist.addToken(ctx, tok)
            ctx = math.min(tok, cfg.numContexts - 1)
            i += 1
          }
          row += 1
        }
      }
      graft.core.Huffman.buildTables(hist, cfg.maxBits)
    }

    var sink = 0L
    def bench(name: String, perTok: Boolean = true)(f: => Long): Unit = {
      var best = Double.MaxValue
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        sink += f
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        r += 1
      }
      val rate =
        if (perTok) f"${nTok / best / 1e6}%9.1f Mtok/s"
        else f"${nRows / best / 1e6}%9.3f Mrow/s"
      println(f"[bp] $name%-34s best $best%8.4f s  $rate  (${best * 1e9 / nTok}%6.2f ns/tok)")
    }

    val hybrid = new HybridCodec(tables, cfg.model)

    bench("select: exactBitsAndStats") {
      var acc = 0L
      blocks.foreach { b => acc += hybrid.exactBitsAndStats(b.values, b.rowOffsets)._2 }
      acc
    }
    bench("select: full CodecSelector.select") {
      var acc = 0L
      blocks.foreach { b =>
        acc += CodecSelector.select(b.values, b.rowOffsets, Some(hybrid), 0L)._2
      }
      acc
    }
    bench("encode: hybrid encodeWithRowBits") {
      var acc = 0L
      blocks.foreach { b =>
        val w = new BitWriter(b.values.length / 2)
        acc += hybrid.encodeWithRowBits(b.values, b.rowOffsets, w).length
        acc += w.toBytes.length
      }
      acc
    }
    bench("meta: StringCodecs.select(doc_ids)") {
      var acc = 0L
      blocks.foreach { b => acc += StringCodecs.select(b.docIds)._2.length }
      acc
    }
    bench("meta: StringCodecs.select(sources)") {
      var acc = 0L
      blocks.foreach { b => acc += StringCodecs.select(b.sources)._2.length }
      acc
    }
    bench("meta: encodeIntColumn(n_toks)") {
      var acc = 0L
      blocks.foreach { b => acc += CodecSelector.encodeIntColumn(b.nToks)._2.length }
      acc
    }
    bench("flatten: values copy") {
      var acc = 0L
      blocks.foreach { b =>
        val out = new Array[Int](b.values.length)
        System.arraycopy(b.values, 0, out, 0, b.values.length)
        acc += out(out.length - 1)
      }
      acc
    }

    // dhybrid trial decomposition: residual histogram pass vs the per-block
    // package-merge table build vs the full gated trial
    locally {
      val hists = blocks.map { b =>
        val hist = new graft.core.Histograms(DeltaHybrid.NumContexts, 1 << DeltaHybrid.MaxBits)
        var row = 0
        while (row < b.nToks.length) {
          var prevV = 0L
          var ctx = 0
          var i = b.rowOffsets(row)
          while (i < b.rowOffsets(row + 1)) {
            val zz = DeltaHybrid.zigzag(b.values(i).toLong - prevV)
            prevV = b.values(i).toLong
            val tok = graft.core.Hybrid.token(zz)
            hist.addToken(ctx, tok)
            ctx = if (tok < DeltaHybrid.NumContexts - 1) tok else DeltaHybrid.NumContexts - 1
            i += 1
          }
          row += 1
        }
        hist
      }
      bench("trial: residual hist pass (all blocks)") {
        var acc = 0L
        blocks.foreach { b =>
          val hist = new graft.core.Histograms(DeltaHybrid.NumContexts, 1 << DeltaHybrid.MaxBits)
          var row = 0
          while (row < b.nToks.length) {
            var prevV = 0L
            var ctx = 0
            var i = b.rowOffsets(row)
            while (i < b.rowOffsets(row + 1)) {
              val zz = DeltaHybrid.zigzag(b.values(i).toLong - prevV)
              prevV = b.values(i).toLong
              val tok = graft.core.Hybrid.token(zz)
              hist.addToken(ctx, tok)
              ctx = if (tok < DeltaHybrid.NumContexts - 1) tok else DeltaHybrid.NumContexts - 1
              i += 1
            }
            row += 1
          }
          acc += hist.total
        }
        acc
      }
      bench("trial: buildTables x blocks", perTok = false) {
        var acc = 0L
        hists.foreach { h => acc += graft.core.Huffman.buildTables(h, DeltaHybrid.MaxBits).tableHash }
        acc
      }
      bench("trial: gated tryBuild (real gate)") {
        var acc = 0L
        blocks.foreach { b =>
          val stats = BlockStats.compute(b.values, 0, b.values.length)
          var best = PlainCodec.estimateBits(stats)
          CodecSelector.lightweight.foreach { c =>
            val bits = c.estimateBits(stats); if (bits < best) best = bits
          }
          DeltaHybrid.tryBuild(b.values, b.rowOffsets, stats.deltaBits, best).foreach {
            case (_, bits) => acc += bits
          }
        }
        acc
      }
    }

    // the full per-block pipeline exactly as blockIterator runs it (auto
    // selection + rowBits + metadata columns), minus Spark row plumbing
    bench("FULL: select+encode+meta (auto)") {
      var acc = 0L
      blocks.foreach { b =>
        val (codec, _) = CodecSelector.select(b.values, b.rowOffsets, Some(hybrid), 0L)
        val w = new BitWriter(math.max(b.values.length / 2, 64))
        val rowBits: Array[Int] = codec match {
          case h: HybridCodec => h.encodeWithRowBits(b.values, b.rowOffsets, w)
          case dh: DeltaHybrid.Encoder => dh.encodeWithRowBits(b.values, b.rowOffsets, w)
          case c => c.encode(b.values, b.rowOffsets, w); null
        }
        acc += StringCodecs.select(b.docIds)._2.length
        acc += StringCodecs.select(b.sources)._2.length
        acc += CodecSelector.encodeIntColumn(b.nToks)._2.length
        if (rowBits != null) acc += CodecSelector.encodeIntColumn(rowBits)._2.length
        acc += w.toBytes.length
      }
      acc
    }
    bench("FULL: blockIterator (auto)") {
      GraftPipeline
        .blockIterator(
          binned.iterator.map { case (b, r) => (r.doc_id, r.tokens, r.n_tok, r.source, b) },
          tables,
          cfg
        )
        .map(_.payload.length.toLong)
        .sum
    }
    bench("FULL: blockIterator (hybrid-only)") {
      GraftPipeline
        .blockIterator(
          binned.iterator.map { case (b, r) => (r.doc_id, r.tokens, r.n_tok, r.source, b) },
          tables,
          cfg.copy(autoSelect = false)
        )
        .map(_.payload.length.toLong)
        .sum
    }
    System.err.println(s"sink=$sink")
  }
}
