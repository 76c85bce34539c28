package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Hand-rolled parquet IO for block and manifest files — the ONE block-file
  * writer shared by the batch encode ([[EncodeJob.run]]) and the DSv2
  * append. Writer tasks run without a SparkSession, so files are written
  * through parquet-hadoop directly, in EXACTLY the schemas Spark's own
  * parquet writer produces for [[EncodedBlock]] and
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

  /** The schema Spark writes for the manifest aggregation in
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

  def open(file: Path, conf: Configuration, schema: MessageType = Schema): ParquetWriter[Group] =
    ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

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
