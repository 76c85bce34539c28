package graft.sources

import graft.codec.{CodecSelector, PlainCodec}
import graft.core.{BitWriter, Huffman}
import graft.pipeline.GraftPipeline.Config
import graft.pipeline._
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[BlockDecoder]] under every read surface: batch decode, self-describing
  * decode, point lookups, DSv2 scans, point reads and token prefixes return
  * the source rows on every codec; a foreign table, a corrupt embedded
  * header and a corrupt `n_toks` stream fail by name on each of them.
  */
class BlockDecoderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // maxBlockValues below the delta-hybrid trial's 1024-value floor: only a
  // giant row (its own block) can choose dhybrid, so fixed-width delta wins
  // the short monotone blocks
  private val cfg = Config(numContexts = 16, numBins = 4, maxBlockRows = 64, maxBlockValues = 1000)

  private def hash(seed: Long, i: Long): Long = TokenTables.mix64(seed * 0x9e3779b97f4a7c15L ^ i)

  /** The synthetic mixed corpus plus two monotone families: 300-token rows
    * with gaps of 1..3 (delta) and 1500-token rows whose gaps are mostly 1
    * with rare jumps (entropy-coded residuals, dhybrid).
    */
  lazy val input: Dataset[TokenRow] = {
    val s = spark
    import s.implicits._
    val small = (0 until 40).map { r =>
      var acc = 1000000 + r % 4
      val toks = Array.tabulate(300) { i => acc += (hash(r, i) & 3L).toInt % 3 + 1; acc }
      TokenRow(f"mono-d-$r%04d", toks, toks.length, "mono-d")
    }
    val large = (0 until 8).map { r =>
      var acc = (hash(100L + r, 0L) & 0xffffL).toInt
      val toks = Array.tabulate(1500) { i =>
        val h = hash(200L + r, i)
        acc += (if ((h & 7L) != 0L) 1 else ((h >>> 3) & 63L).toInt + 1)
        acc
      }
      TokenRow(f"mono-h-$r%04d", toks, toks.length, "mono-h")
    }
    TokenTables.synthetic(spark, 400L, seed = 5L).union(spark.createDataset(small ++ large)).cache()
  }

  private def encodedDir(rows: Dataset[TokenRow], c: Config): String = {
    val d = Files.createTempDirectory("graft-decoder").toString
    EncodeJob.run(rows, d, c)
    d
  }

  private def failure(f: => Any): String = {
    val e = intercept[Throwable](f)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def liveFiles(dir: String): Seq[String] =
    Maintenance.liveBlockFiles(dir, conf).map(_._1).sorted.toSeq

  private def blocksOf(file: String): Seq[EncodedBlock] = {
    val s = spark
    import s.implicits._
    s.read.parquet(file).as[EncodedBlock].collect().toSeq
  }

  /** Replace a block file in place with `blocks` (same writer as encode). */
  private def rewrite(file: String, blocks: Seq[EncodedBlock]): Unit = {
    val p = new Path(file)
    p.getFileSystem(conf).delete(p, false)
    val w = BlockParquet.open(p, conf)
    val groups = new SimpleGroupFactory(BlockParquet.Schema)
    try blocks.foreach(b => w.write(BlockParquet.toGroup(b, groups)))
    finally w.close()
  }

  test("read-surface differential: every read path returns the source rows on every codec") {
    val s = spark
    import s.implicits._
    val ids = input.map(_.doc_id).collect()
    // eight disjoint lookups cover every doc, each a sparse subset of its
    // blocks, so seekable blocks take the row-seek path
    val groups = ids.groupBy(id => id.hashCode & 7).values.map(_.toSet).toSeq
    for (embed <- Seq(false, true)) {
      val c = cfg.copy(embedTables = embed)
      val dir = encodedDir(input, c)
      val blocks = EncodeJob.readBlocks(spark, dir).cache()
      val tables = spark.sparkContext.broadcast(EncodeJob.loadTables(spark, dir).get)
      val codecs = blocks.map(_.codec).distinct().collect().toSet
      assert(Set("hybrid", "dhybrid", "delta").subsetOf(codecs), s"embedTables=$embed: $codecs")
      assert((codecs -- Set("hybrid", "dhybrid", "delta")).nonEmpty, s"embedTables=$embed: $codecs")
      def check(what: String, expected: Dataset[TokenRow], got: Dataset[TokenRow]): Unit =
        assert(GraftPipeline.verify(expected, got) == 0L, s"$what, embedTables=$embed")
      check("decode", input, GraftPipeline.decode(blocks, tables, c))
      if (embed) check("decodeSelfDescribing", input, GraftPipeline.decodeSelfDescribing(blocks, c))
      check("lookupDocs", input, groups.map(g => GraftPipeline.lookupDocs(blocks, g, tables, c)).reduce(_ union _))
      check("DSv2 full scan", input, spark.read.format("graft").load(dir).as[TokenRow])
      val point = groups.head
      check(
        "DSv2 point read",
        input.filter(r => point.contains(r.doc_id)),
        spark.read.format("graft").load(dir).where($"doc_id".isin(point.toSeq: _*)).as[TokenRow]
      )
      // `_row_bits` beside tokens on the sparse point read: the row seek
      // reuses the stream decoded for the column; both match the full scan
      val withBits = spark.read.format("graft").load(dir).select($"doc_id", $"tokens", $"_row_bits")
      val fullBits = withBits.select($"doc_id", $"_row_bits").collect().map(r => r.getString(0) -> r.get(1)).toMap
      val wantTokens = input.filter(r => point.contains(r.doc_id)).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
      val pointRows = withBits.where($"doc_id".isin(point.toSeq: _*)).collect() // one scan reads both
      assert(pointRows.length == point.size && pointRows.exists(!_.isNullAt(2)), s"embedTables=$embed")
      pointRows.foreach { r =>
        val id = r.getString(0)
        assert(r.getSeq[Int](1) == wantTokens(id) && r.get(2) == fullBits(id), s"$id, embedTables=$embed")
      }
      check(
        "tokenPrefix = 7",
        input.select($"doc_id", slice($"tokens", 1, 7).as("tokens"), $"n_tok", $"source").as[TokenRow],
        spark.read.format("graft").option("tokenPrefix", 7).load(dir).as[TokenRow]
      )
      blocks.unpersist()
    }
  }

  test("tables from another corpus fail lookupDocs, decode and a DSv2 read by name") {
    val s = spark
    import s.implicits._
    val c = cfg.copy(autoSelect = false) // every block hybrid
    val rows = TokenTables.synthetic(spark, 200L, seed = 21L)
    val dir = encodedDir(rows, c)
    val other = TokenTables.synthetic(spark, 200L, seed = 22L)
    val foreign = GraftPipeline.buildTables(GraftPipeline.analyze(other, c), c)
    assert(foreign.tableHash != EncodeJob.loadTables(spark, dir).get.tableHash)
    val bForeign = spark.sparkContext.broadcast(foreign)
    val blocks = EncodeJob.readBlocks(spark, dir)
    val ids = rows.map(_.doc_id).collect().toSet
    assert(failure(GraftPipeline.lookupDocs(blocks, ids, bForeign, c).collect()).contains("table hash mismatch"))
    assert(failure(GraftPipeline.decode(blocks, bForeign, c).collect()).contains("table hash mismatch"))
    // the DSv2 reader takes its tables from _tables/header.bin
    val w = new BitWriter()
    Huffman.writeHeader(foreign, w)
    val header = new Path(s"$dir/_tables/header.bin")
    val out = header.getFileSystem(conf).create(header, true)
    try out.write(w.toBytes)
    finally out.close()
    assert(failure(spark.read.format("graft").load(dir).collect()).contains("table hash mismatch"))
  }

  test("a bit flipped in an embedded header fails the DSv2 scan and the audit, never a wrong row") {
    val c = cfg.copy(autoSelect = false, embedTables = true)
    val dir = encodedDir(TokenTables.synthetic(spark, 300L, seed = 31L), c)
    val tables = EncodeJob.loadTables(spark, dir).get
    // first bit of context 0's first code-length field: the header still
    // parses, into tables with a different hash
    val bit = tables.maxBits + tables.present(0).indexWhere(identity) + 1
    val victim = liveFiles(dir).find(f => blocksOf(f).nonEmpty).get
    val blocks = blocksOf(victim)
    assert(blocks.head.codec == "hybrid" && blocks.head.embedded_tables)
    val flipped = blocks.head.payload.clone()
    flipped(bit / 8) = (flipped(bit / 8) ^ (1 << (bit % 8))).toByte
    rewrite(victim, blocks.head.copy(payload = flipped) +: blocks.tail)

    assert(failure(spark.read.format("graft").load(dir).collect()).contains("embedded header hash"))
    val bad = Audit.audit(spark, dir).filter(!_.ok)
    assert(bad.map(_.file) == Seq(new Path(victim).getName), bad)
    assert(bad.head.error.exists(_.contains("embedded header hash")), bad)
  }

  test("a negative n_toks entry fails by name, with bin and block_seq (and file on a scan)") {
    val s = spark
    import s.implicits._
    val dir = encodedDir(TokenTables.synthetic(spark, 300L, seed = 41L), cfg)
    val tables = spark.sparkContext.broadcast(EncodeJob.loadTables(spark, dir).get)
    val victim = liveFiles(dir).find(f => blocksOf(f).exists(_.n_rows >= 2)).get
    val blocks = blocksOf(victim)
    val b = blocks.find(_.n_rows >= 2).get
    val nToks = CodecSelector.decodeIntColumn(b.n_toks_codec, b.n_toks_payload, b.n_rows)
    nToks(1) = -nToks(1) - 1
    val w = new BitWriter()
    PlainCodec.encode(nToks, Array(0, nToks.length), w)
    val bad = b.copy(n_toks_codec = "plain", n_toks_payload = w.toBytes)
    val where = s"bin ${b.bin}, block_seq ${b.block_seq}"

    val msg = failure(GraftPipeline.decode(Seq(bad).toDS(), tables, cfg).collect())
    assert(msg.contains("corrupt n_toks stream") && msg.contains(where), msg)
    rewrite(victim, blocks.map(x => if (x eq b) bad else x))
    val scanMsg = failure(spark.read.format("graft").load(dir).collect())
    assert(scanMsg.contains("corrupt n_toks stream") && scanMsg.contains(where), scanMsg)
    assert(scanMsg.contains(s"${new Path(victim).getName}, $where"), scanMsg)
  }
}
