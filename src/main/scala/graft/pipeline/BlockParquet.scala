package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration

/** Hand-rolled parquet IO for block and manifest files — the ONE writer of
  * files under `blocks/`, `_compacted/` and `_manifest/` in the batch and
  * maintenance paths (the streaming encode still writes
  * `blocks/batch=<id>/` through Spark's parquet writer). [[stage]] is the
  * task half of every Spark-side block write: the batch encode
  * ([[EncodeJob.run]]), the [[Maintenance]] rewrites (compact, recompress,
  * rebin, purge) and [[Deletes.replaceDocs]]; the DSv2 append's data
  * writers call [[open]]/[[toGroup]] directly, and every manifest file goes
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

  /** The schema Spark writes for the manifest aggregation of
    * [[EncodeJob.appendManifest]] (nullability included).
    */
  val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 snapshot_id;
      |  optional int32 bin;
      |  required int64 n_blocks;
      |  optional int64 n_rows;
      |  optional int64 n_values;
      |  optional int64 payload_bytes;
      |  optional int64 payload_bits;
      |  optional int64 table_hash;
      |  required binary files (UTF8);
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
    * reports one manifest row per bin it wrote, claiming that file (its
    * `snapshot_id` is 0: the committing caller assigns the id). Callers
    * publish exactly the files the returned rows name — a failed attempt's
    * file is named by none.
    */
  def stage(blocks: RDD[EncodedBlock], stagingDir: String, prefix: String): Array[EncodeJob.BinManifest] = {
    val sc = blocks.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.runJob(blocks, (it: Iterator[EncodedBlock]) => writeFile(it, stagingDir, prefix, conf.value.value).toArray).flatten
  }

  /** One task's side of [[stage]]. */
  private def writeFile(
      blocks: Iterator[EncodedBlock],
      stagingDir: String,
      prefix: String,
      conf: Configuration
  ): Iterator[EncodeJob.BinManifest] = {
    if (!blocks.hasNext) return Iterator.empty
    val task = org.apache.spark.TaskContext.get()
    val name = f"$prefix-p${task.partitionId()}%05d-t${task.taskAttemptId()}.parquet"
    val groups = new SimpleGroupFactory(Schema)
    val perBin = scala.collection.mutable.TreeMap[Int, EncodeJob.BinManifest]()
    val w = open(new Path(stagingDir, name), conf)
    try
      blocks.foreach { b =>
        w.write(toGroup(b, groups))
        val row = EncodeJob.BinManifest(
          0L, b.bin, 1L, b.n_rows.toLong, b.n_values,
          b.payload.length.toLong + b.meta_bytes, b.payload_bits, b.table_hash, name
        )
        perBin(b.bin) = perBin.get(b.bin).fold(row)(mergeManifest(_, row))
      }
    finally w.close()
    perBin.valuesIterator
  }

  /** Sum two manifest rows of one bin (the aggregation of
    * [[EncodeJob.appendManifest]]).
    */
  def mergeManifest(a: EncodeJob.BinManifest, b: EncodeJob.BinManifest): EncodeJob.BinManifest =
    a.copy(
      n_blocks = a.n_blocks + b.n_blocks,
      n_rows = a.n_rows + b.n_rows,
      n_values = a.n_values + b.n_values,
      payload_bytes = a.payload_bytes + b.payload_bytes,
      payload_bits = a.payload_bits + b.payload_bits,
      files =
        if (a.files == b.files) a.files
        else (a.files.split(',') ++ b.files.split(',')).distinct.sorted.mkString(",")
    )

  /** Write `rows` as one manifest parquet file at `file`. */
  def writeManifest(file: Path, conf: Configuration, rows: Seq[EncodeJob.BinManifest]): Unit = {
    val f = new SimpleGroupFactory(ManifestSchema)
    val w = open(file, conf, ManifestSchema)
    try
      rows.foreach { m =>
        val g = f.newGroup()
        g.add("snapshot_id", m.snapshot_id)
        g.add("bin", m.bin)
        g.add("n_blocks", m.n_blocks)
        g.add("n_rows", m.n_rows)
        g.add("n_values", m.n_values)
        g.add("payload_bytes", m.payload_bytes)
        g.add("payload_bits", m.payload_bits)
        g.add("table_hash", m.table_hash)
        g.add("files", m.files)
        w.write(g)
      }
    finally w.close()
  }
}
