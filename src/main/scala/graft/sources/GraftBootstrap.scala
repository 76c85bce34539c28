package graft.sources

import graft.codec.VarInt
import graft.pipeline.{EncodeJob, GraftPipeline, TokenRow}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The DSv2 BOOTSTRAP write — `df.write.format("graft").save(newDir)` or
  * `CREATE TABLE graft.`dir`` AS SELECT …` on a FRESH directory, closing the
  * "first write a SQL-only user attempts" gap: the initial encode is a
  * two-pass job with a global barrier (corpus histograms → shared symbol
  * tables → encode), which cannot run inside the per-task single-pass
  * `BatchWrite` contract, so the bootstrap is DRIVER-COORDINATED:
  *
  *   1. write tasks stage their rows RAW (varint-packed token arrays,
  *      snappy parquet) under `_bootstrap_staging/<queryId>/` — one
  *      sequential file per task, no shuffle, no global knowledge needed;
  *   2. `commit()` (driver, after every task committed) runs the normal
  *      [[EncodeJob.run]] two-pass over exactly the staged files named in
  *      the commit messages (never a directory listing — a failed
  *      speculative attempt's orphan must not be encoded), with `numBins`
  *      auto-sized from the staged token count, then removes the staging.
  *
  * The cost over a direct `EncodeJob.run` is one extra materialization of
  * the input (varint-packed ≈ the shuffle representation, typically ~1/3 of
  * an int32 layout) — the price of reaching the two-pass encode from a
  * single-pass write API, mirroring the reference's own two-phase convert
  * entry (/root/reference/src/convert.rs two-pass shape). For very large
  * first loads, `EncodeJob.run` remains the zero-staging spelling.
  *
  * Crash safety: a failure before/inside the encode leaves `_tables/meta
  * .json` absent, so the dir stays "fresh" — a retry re-bootstraps (the
  * resumable EncodeJob reuses any bins it already committed), and the CTAS
  * path's `dropTable` cleanup removes the marked dir wholesale. Streaming
  * bootstrap is refused: a watermarkless first epoch cannot build corpus
  * tables worth keeping.
  */
private[sources] object GraftBootstrap {

  /** Created empty by [[GraftCatalog.createTable]] so a CTAS-created-but-
    * never-encoded dir is recognizable (and droppable) as pending.
    */
  val Marker = "_BOOTSTRAP_PENDING"

  val StagingRoot = "_bootstrap_staging"

  /** Bootstrap knobs, read from write options (all optional). */
  final case class Options(
      numBins: Option[Int],
      numContexts: Int,
      maxBits: Int,
      contextModel: String,
      autoSelect: Boolean,
      embedTables: Boolean,
      maxBlockRows: Int,
      maxBlockValues: Int,
      salt: Long,
      rounds: Int
  ) {
    /** The encode Config over `bins` bins; construction checks every range. */
    def config(bins: Int): GraftPipeline.Config =
      GraftPipeline.Config(
        numContexts = numContexts,
        maxBits = maxBits,
        numBins = bins,
        maxBlockRows = maxBlockRows,
        maxBlockValues = maxBlockValues,
        salt = salt,
        autoSelect = autoSelect,
        rounds = rounds,
        contextModel = contextModel,
        embedTables = embedTables
      )
  }

  object Options {
    /** Parsed and range-checked before any row is staged. */
    def from(o: CaseInsensitiveStringMap): Options = {
      val d = GraftPipeline.Config()
      def i(k: String, dflt: Int) = Option(o.get(k)).map(_.toInt).getOrElse(dflt)
      val opts = Options(
        numBins = Option(o.get("numBins")).map(_.toInt),
        numContexts = i("numContexts", d.numContexts),
        maxBits = i("maxBits", d.maxBits),
        contextModel = Option(o.get("contextModel")).getOrElse(d.contextModel),
        autoSelect = Option(o.get("autoSelect")).map(_.toBoolean).getOrElse(d.autoSelect),
        embedTables = Option(o.get("embedTables")).map(_.toBoolean).getOrElse(d.embedTables),
        maxBlockRows = i("maxBlockRows", d.maxBlockRows),
        maxBlockValues = i("maxBlockValues", d.maxBlockValues),
        salt = Option(o.get("salt")).map(_.toLong).getOrElse(d.salt),
        rounds = i("rounds", d.rounds)
      )
      opts.config(opts.numBins.getOrElse(1)): Unit
      opts
    }
  }

  /** Raw staging schema: tokens ride varint-packed (1–2 B/token on
    * zipf-shaped ids vs a fixed 4 — the same trade the encode shuffle
    * makes), so the staging materialization stays well under an int32
    * parquet of the input.
    */
  val StagingSchema: MessageType = MessageTypeParser.parseMessageType(
    """message graft_bootstrap {
      |  required binary doc_id (UTF8);
      |  required binary tokens_packed;
      |  required int32 n_tok;
      |  required binary source (UTF8);
      |}""".stripMargin
  )
}

private[sources] final class GraftBootstrapWrite(
    path: String,
    queryId: String,
    colOrds: Array[Int],
    opts: GraftBootstrap.Options,
    conf: Broadcast[SerializableConfiguration]
) extends Write {

  private def stagingDir = s"$path/${GraftBootstrap.StagingRoot}/$queryId"

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory =
      BootstrapWriterFactory(stagingDir, queryId, colOrds, conf)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftBootstrapCommit.commit(path, stagingDir, messages, opts)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftBootstrapCommit.cleanStaging(path, stagingDir)
  }

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    throw new UnsupportedOperationException(
      s"$path is not an encoded graft dir — the streaming sink appends to existing tables; " +
        "bootstrap it first with a batch write (df.write.format(\"graft\").save) or EncodeJob.run"
    )
}

private[sources] final case class BootstrapCommitMessage(
    fileName: String,
    nRows: Long,
    nValues: Long
) extends WriterCommitMessage

private[sources] final case class BootstrapWriterFactory(
    stagingDir: String,
    queryId: String,
    colOrds: Array[Int],
    conf: Broadcast[SerializableConfiguration]
) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BootstrapDataWriter(
      stagingDir,
      f"w-$queryId%s-p$partitionId%05d-t$taskId.parquet",
      colOrds,
      conf
    )
}

/** One staging task: stream rows to a raw snappy parquet — sequential, no
  * buffering beyond the parquet row group.
  */
private[sources] final class BootstrapDataWriter(
    stagingDir: String,
    fileName: String,
    colOrds: Array[Int],
    sConf: Broadcast[SerializableConfiguration]
) extends DataWriter[InternalRow] {

  private val Array(docOrd, tokOrd, ntokOrd, srcOrd) = colOrds
  private var writer: ParquetWriter[Group] = _
  private val groups = new SimpleGroupFactory(GraftBootstrap.StagingSchema)
  private var nRows = 0L
  private var nValues = 0L

  override def write(row: InternalRow): Unit = {
    def nonNull(ord: Int, name: String): Unit =
      if (row.isNullAt(ord))
        throw new IllegalArgumentException(s"graft bootstrap: null `$name` (the layout is non-null)")
    nonNull(docOrd, "doc_id"); nonNull(tokOrd, "tokens")
    nonNull(ntokOrd, "n_tok"); nonNull(srcOrd, "source")
    val docId = row.getUTF8String(docOrd).toString
    val arr = row.getArray(tokOrd)
    val n = arr.numElements()
    val toks = new Array[Int](n)
    var k = 0
    while (k < n) {
      if (arr.isNullAt(k))
        throw new IllegalArgumentException(s"graft bootstrap: doc $docId has a null token at $k")
      toks(k) = arr.getInt(k)
      k += 1
    }
    val nTok = row.getInt(ntokOrd)
    require(nTok == n, s"graft bootstrap: doc $docId has n_tok=$nTok but $n tokens")
    val source = row.getString(srcOrd)

    if (writer == null)
      writer = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new Path(stagingDir, fileName), sConf.value.value))
        .withType(GraftBootstrap.StagingSchema)
        .withConf(sConf.value.value)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    val g = groups.newGroup()
    g.add("doc_id", docId)
    g.add("tokens_packed", Binary.fromConstantByteArray(VarInt.pack(toks)))
    g.add("n_tok", nTok)
    g.add("source", source)
    writer.write(g)
    nRows += 1L
    nValues += n
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    BootstrapCommitMessage(if (writer == null) null else fileName, nRows, nValues)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val fs = new Path(stagingDir).getFileSystem(sConf.value.value)
      fs.delete(new Path(stagingDir, fileName), false): Unit
    }
  }

  override def close(): Unit = ()
}

private[sources] object GraftBootstrapCommit {

  def cleanStaging(path: String, stagingDir: String): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val dir = new Path(stagingDir)
    if (fs.exists(dir)) fs.delete(dir, true): Unit
    // the per-query staging root stays empty-dir cheap; remove it when this
    // was the last staging so a successful bootstrap leaves a clean dir
    val root = new Path(path, GraftBootstrap.StagingRoot)
    if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true): Unit
  }

  def commit(
      path: String,
      stagingDir: String,
      messages: Array[WriterCommitMessage],
      opts: GraftBootstrap.Options
  ): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)

    // encode ONLY the files the committed tasks named: a failed speculative
    // attempt may have left an orphan in staging that must not double rows
    val staged = messages
      .collect { case BootstrapCommitMessage(f, _, _) if f != null => s"$stagingDir/$f" }
      .toIndexedSeq
    val totalValues = messages.collect { case m: BootstrapCommitMessage => m.nValues }.sum
    require(
      staged.nonEmpty && totalValues > 0L,
      s"graft bootstrap of $path got zero rows — corpus symbol tables cannot be built from " +
        "an empty input; write at least one document"
    )

    try {
      val rows = spark.read
        .parquet(staged: _*)
        .select("doc_id", "tokens_packed", "n_tok", "source")
        .as[(String, Array[Byte], Int, String)]
        .map { case (d, packed, n, s) => TokenRow(d, VarInt.unpack(packed, n), n, s) }
      val cfg = opts.config(opts.numBins.getOrElse(GraftPipeline.Config.binsFor(totalValues)))
      EncodeJob.run(rows, path, cfg): Unit
    } catch {
      case e: Throwable =>
        // leave the staged rows AND any partially-committed bins: the dir
        // has no meta.json-complete identity until EncodeJob finishes, a
        // retried write re-bootstraps (resuming committed bins), and the
        // CTAS path's dropTable removes the marked dir wholesale
        throw new RuntimeException(
          s"graft bootstrap of $path failed mid-encode (staging kept at $stagingDir for a " +
            s"resume/cleanup): ${e.getMessage}",
          e
        )
    }
    cleanStaging(path, stagingDir)
    val marker = new Path(path, GraftBootstrap.Marker)
    if (fs.exists(marker)) fs.delete(marker, false): Unit
  }
}
