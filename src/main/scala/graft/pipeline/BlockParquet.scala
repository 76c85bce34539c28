package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration

/** Hand-rolled parquet IO for block and manifest files — the ONE writer of
  * files under `blocks/`, `_compacted/` and `_manifest/`. [[stage]] is the
  * task half of every Spark-side block write: the batch encode
  * ([[EncodeJob.run]]), the [[Maintenance]] rewrites (compact, recompress,
  * rebin, purge) and [[Deletes.replaceDocs]]; the DSv2 append's data
  * writers call [[open]]/[[toGroup]] directly. Every writer reports its
  * files' manifest rows through [[FileRows]], and every manifest file goes
  * through [[writeManifest]]. Writer tasks run without a SparkSession, so
  * files are written through parquet-hadoop directly, in EXACTLY the
  * schemas Spark's own parquet writer produces for [[EncodedBlock]] and
  * [[EncodeJob.BinManifest]] — files from either writer are
  * indistinguishable to every reader (Spark scans, the DSv2 readers'
  * projected GroupReadSupport, footer bin-stat pruning, compaction, the
  * manifest index).
  */
private[graft] object BlockParquet {
  val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 bin;
      |  required int32 block_seq;
      |  optional binary doc_ids_codec (UTF8);
      |  optional binary doc_ids_payload;
      |  optional binary sources_codec (UTF8);
      |  optional binary sources_payload;
      |  optional binary n_toks_codec (UTF8);
      |  optional binary n_toks_payload;
      |  optional binary row_bits_codec (UTF8);
      |  optional binary row_bits_payload;
      |  required boolean embedded_tables;
      |  optional binary codec (UTF8);
      |  required int32 n_rows;
      |  required int64 n_values;
      |  optional binary payload;
      |  required int64 payload_bits;
      |  required int64 meta_bytes;
      |  required int64 table_hash;
      |}""".stripMargin
  )

  /** The manifest row schema: one row per (block file, bin), the
    * [[EncodeJob.BinManifest]] fields (nullability as Spark's own writer
    * produces for that case class).
    */
  val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 bin;
      |  required int64 n_blocks;
      |  required int64 n_rows;
      |  required int64 n_values;
      |  required int64 payload_bytes;
      |  required int64 payload_bits;
      |  required int64 table_hash;
      |  optional binary file (UTF8);
      |}""".stripMargin
  )

  /** The opaque byte columns of [[Schema]]. No reader filters on them, so
    * their footer statistics (min/max payload prefixes, size histograms)
    * are dead bytes; `bin` keeps its statistics for the parquet bin filter
    * and the scan's bin-range pruning.
    */
  private val PayloadColumns =
    Seq("doc_ids_payload", "sources_payload", "n_toks_payload", "row_bits_payload", "payload")

  def open(file: Path, conf: Configuration, schema: MessageType = Schema): ParquetWriter[Group] = {
    val builder = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    val noStats = if (schema == Schema) PayloadColumns else Nil
    noStats.foldLeft(builder)((b, c) => b.withStatisticsEnabled(c, false).withSizeStatisticsEnabled(c, false)).build()
  }

  /** Open a parquet file's footer reader with `conf`'s read options (the
    * options-less overload builds a fresh default Configuration per open).
    */
  def openFile(file: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), HadoopReadOptions.builder(conf).build())

  def toGroup(b: EncodedBlock, f: SimpleGroupFactory): Group = {
    val g = f.newGroup()
    g.add("bin", b.bin)
    g.add("block_seq", b.block_seq)
    g.add("doc_ids_codec", b.doc_ids_codec)
    g.add("doc_ids_payload", Binary.fromConstantByteArray(b.doc_ids_payload))
    g.add("sources_codec", b.sources_codec)
    g.add("sources_payload", Binary.fromConstantByteArray(b.sources_payload))
    g.add("n_toks_codec", b.n_toks_codec)
    g.add("n_toks_payload", Binary.fromConstantByteArray(b.n_toks_payload))
    g.add("row_bits_codec", b.row_bits_codec)
    g.add("row_bits_payload", Binary.fromConstantByteArray(b.row_bits_payload))
    g.add("embedded_tables", b.embedded_tables)
    g.add("codec", b.codec)
    g.add("n_rows", b.n_rows)
    g.add("n_values", b.n_values)
    g.add("payload", Binary.fromConstantByteArray(b.payload))
    g.add("payload_bits", b.payload_bits)
    g.add("meta_bytes", b.meta_bytes)
    g.add("table_hash", b.table_hash)
    g
  }

  /** Stage `blocks` as block files under `stagingDir` with no re-read of
    * what was written: each task writes its partition as at most ONE file,
    * `<prefix>-p<partition>-t<attempt>.parquet` (a retried or speculative
    * attempt never collides; an empty partition writes nothing), and
    * reports that file's manifest rows, one per bin it holds ([[FileRows]]).
    * Callers publish exactly the files the returned rows name — a failed
    * attempt's file is named by none.
    */
  def stage(blocks: RDD[EncodedBlock], stagingDir: String, prefix: String): Array[EncodeJob.BinManifest] = {
    val sc = blocks.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.runJob(blocks, (it: Iterator[EncodedBlock]) => writeFile(it, stagingDir, prefix, conf.value.value)).flatten
  }

  /** One task's side of [[stage]]. */
  private def writeFile(
      blocks: Iterator[EncodedBlock],
      stagingDir: String,
      prefix: String,
      conf: Configuration
  ): Array[EncodeJob.BinManifest] = {
    if (!blocks.hasNext) return Array.empty
    val task = org.apache.spark.TaskContext.get()
    val name = f"$prefix-p${task.partitionId()}%05d-t${task.taskAttemptId()}.parquet"
    val groups = new SimpleGroupFactory(Schema)
    val rows = new FileRows(name)
    val w = open(new Path(stagingDir, name), conf)
    try
      blocks.foreach { b =>
        w.write(toGroup(b, groups))
        rows.add(b)
      }
    finally w.close()
    rows.result
  }

  /** The manifest rows of one block file, accumulated block by block as
    * its writer writes them: per bin, the block count and the sums of
    * rows, values, stored bytes and payload bits.
    */
  final class FileRows(file: String) {
    private val perBin = scala.collection.mutable.TreeMap[Int, EncodeJob.BinManifest]()

    def add(b: EncodedBlock): Unit = {
      val bytes = b.payload.length.toLong + b.meta_bytes
      perBin(b.bin) = perBin.get(b.bin) match {
        case None =>
          EncodeJob.BinManifest(b.bin, 1L, b.n_rows.toLong, b.n_values, bytes, b.payload_bits, b.table_hash, file)
        case Some(r) =>
          r.copy(
            n_blocks = r.n_blocks + 1,
            n_rows = r.n_rows + b.n_rows,
            n_values = r.n_values + b.n_values,
            payload_bytes = r.payload_bytes + bytes,
            payload_bits = r.payload_bits + b.payload_bits
          )
      }
    }

    def result: Array[EncodeJob.BinManifest] = perBin.valuesIterator.toArray
  }

  /** Write `rows` as one manifest parquet file at `file`. */
  def writeManifest(file: Path, conf: Configuration, rows: Seq[EncodeJob.BinManifest]): Unit = {
    val f = new SimpleGroupFactory(ManifestSchema)
    val w = open(file, conf, ManifestSchema)
    try
      rows.foreach { m =>
        val g = f.newGroup()
        g.add("bin", m.bin)
        g.add("n_blocks", m.n_blocks)
        g.add("n_rows", m.n_rows)
        g.add("n_values", m.n_values)
        g.add("payload_bytes", m.payload_bytes)
        g.add("payload_bits", m.payload_bits)
        g.add("table_hash", m.table_hash)
        g.add("file", m.file)
        w.write(g)
      }
    finally w.close()
  }

  /** The manifest files under `outDir/_manifest`, sorted by path. */
  def manifestFiles(outDir: String, conf: Configuration): Array[FileStatus] = {
    val dir = new Path(s"$outDir/_manifest")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Array.empty
    else
      fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
  }

  /** What a set of manifest files says: the rows of the current format,
    * and the claims of pre-v5 rows. A pre-v5 row aggregates one bin over
    * the comma-separated `files` that held it when it was derived, so it
    * tells which files hold the bin but not how many rows each holds.
    */
  final case class Manifest(rows: Array[EncodeJob.BinManifest], legacyClaims: Map[String, Set[Int]])

  /** Read `files` with parquet page-CRC checks on (a flipped `bin` would
    * otherwise become a false claim, and a point read would skip the file
    * that holds the doc). Any unreadable file fails by name.
    */
  def readManifest(files: Seq[FileStatus], conf: Configuration): Manifest = {
    val verified = new Configuration(conf)
    verified.setBoolean(ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED, true)
    val rows = Array.newBuilder[EncodeJob.BinManifest]
    val legacy = scala.collection.mutable.HashMap[String, Set[Int]]()
    // one String per file name: an 800k-bin manifest repeats each name per bin
    val names = scala.collection.mutable.HashMap[String, String]()
    files.foreach { st =>
      try {
        val r = ParquetReader.builder(new GroupReadSupport(), st.getPath).withConf(verified).build()
        try {
          var g = r.read()
          while (g != null) {
            def long(c: String) = g.getLong(c, 0)
            val bin = g.getInteger("bin", 0)
            if (g.getType.containsField("file")) {
              val file = g.getString("file", 0)
              rows += EncodeJob.BinManifest(
                bin, long("n_blocks"), long("n_rows"), long("n_values"), long("payload_bytes"),
                long("payload_bits"), long("table_hash"), names.getOrElseUpdate(file, file)
              )
            } else if (g.getFieldRepetitionCount("files") > 0)
              g.getString("files", 0).split(',').filter(_.nonEmpty).foreach { f =>
                legacy(f) = legacy.getOrElse(f, Set.empty[Int]) + bin
              }
            g = r.read()
          }
        } finally r.close()
      } catch {
        case e: Exception if !e.isInstanceOf[java.io.FileNotFoundException] =>
          throw new IllegalStateException(
            s"corrupt manifest file ${st.getPath} (${e.getMessage}) — delete it and run rewrite_manifests " +
              "to re-derive the claims of the files it named",
            e
          )
      }
    }
    Manifest(rows.result(), legacy.toMap)
  }
}
