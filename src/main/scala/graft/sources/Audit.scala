package graft.sources

import graft.pipeline.{BlockDecoder, BlockParquet, Maintenance}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** Corpus integrity audit (`CALL graft.system.audit(path)`) — the fsck an
  * operator runs before trusting a 100 TB table that has lived through
  * months of appends, deletes, compactions and adopts: decode EVERY live
  * block through the scan's own [[BlockDecoder]] (table-hash guard and
  * embedded-header check included) and cross-check the decoded value count against
  * the block's recorded `n_values`, reporting one row per file. Under the
  * blocks, the parquet layer is checked too: every page against the CRC
  * its writer stored, and the column and offset indexes that bin-filtered
  * reads skip pages by (a corrupt index could make such a read drop live
  * rows silently). Shaped like
  * [[TokenIndex.build]]: one task per live file (a corrupt byte is
  * attributed to its file, and the job parallelizes to the file count), a
  * per-file sequential read, and O(files) driver rows — the
  * `files` procedure's scale.
  *
  * A clean audit proves the entropy payloads decode and the per-block
  * accounting agrees; it does NOT prove the content matches the original
  * source (that is the encode-time verify / q_roundtrip_verify contract —
  * after ingest the dir IS the source of truth). Failures never throw out
  * of the job: a corrupt file yields its row with `ok = false` and the
  * error message, and every other file still reports.
  */
object Audit {

  private val AllColumns = BlockParquet.Schema.getFields.asScala.map(_.getName).toSet

  final case class FileAudit(
      file: String,
      bytes: Long,
      nBlocks: Long,
      nRows: Long,
      nValues: Long,
      ok: Boolean,
      error: Option[String]
  )

  def audit(spark: SparkSession, outDir: String): Seq[FileAudit] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = Maintenance.liveBlockFiles(outDir, conf)
    if (live.isEmpty) return Seq.empty
    val meta = GraftMeta.load(outDir, conf)
    val bMeta = spark.sparkContext.broadcast(
      (meta.headerBytes, meta.maxBits, meta.numContexts, meta.contextModel)
    )
    // the decode pass reads every column with page CRC checks on: each page
    // is read and verified once
    val verified = new Configuration(conf)
    verified.setBoolean(ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED, true)
    val sConf = spark.sparkContext.broadcast(new SerializableConfiguration(verified))
    spark.sparkContext
      .parallelize(live.toIndexedSeq, live.length)
      .map { case (file, bytes) =>
        val (headerBytes, maxBits, numContexts, modelName) = bMeta.value
        auditOneFile(file, bytes, sConf, headerBytes, maxBits, numContexts, modelName)
      }
      .collect()
      .sortBy(_.file)
      .toSeq
  }

  /** Parse every column and offset index of `file` (no page is read). */
  private def verifyPageIndexes(file: String, conf: Configuration): Unit = {
    val r = BlockParquet.openFile(new Path(file), conf)
    try
      r.getFooter.getBlocks.forEach(_.getColumns.forEach { c =>
        r.readColumnIndex(c)
        r.readOffsetIndex(c): Unit
      })
    finally r.close()
  }

  private def auditOneFile(
      file: String,
      bytes: Long,
      sConf: Broadcast[SerializableConfiguration],
      headerBytes: Array[Byte],
      maxBits: Int,
      numContexts: Int,
      modelName: String
  ): FileAudit = {
    val name = new Path(file).getName
    var blocks = 0L
    var rows = 0L
    var values = 0L
    try {
      verifyPageIndexes(file, sConf.value.value)
      val decoder = BlockDecoder.fromHeader(headerBytes, maxBits, numContexts, modelName)
      val reader = GraftFiles.openProjected(file, sConf, AllColumns, None)
      try {
        var g = reader.read()
        while (g != null) {
          val b = new ParquetBlock(g, file)
          val nRows = b.n_rows
          val recorded = g.getLong("n_values", 0)
          def where = s"block (bin=${b.bin}, seq=${b.block_seq})"
          val rowOffsets = BlockDecoder.rowOffsets(BlockDecoder.nToks(b))
          val off = rowOffsets(nRows)
          if (off.toLong != recorded)
            throw new IllegalStateException(s"$where: n_toks sum $off != recorded n_values $recorded")
          // All four per-block payloads are covered: decode the doc_id and
          // source string streams too (cheap next to the entropy payload) so
          // a corrupt metadata stream reports ok=false here instead of
          // crashing the first scan that projects doc_id.
          val docIds = BlockDecoder.docIds(b)
          if (docIds.length != nRows)
            throw new IllegalStateException(
              s"$where: doc_ids stream decoded ${docIds.length} entries, expected $nRows"
            )
          val srcs = BlockDecoder.sources(b)
          if (srcs.length != nRows)
            throw new IllegalStateException(
              s"$where: sources stream decoded ${srcs.length} entries, expected $nRows"
            )
          val decoded = decoder.decodeAll(b, rowOffsets)
          if (decoded.length != off)
            throw new IllegalStateException(s"$where: decoded ${decoded.length} values, expected $off")
          blocks += 1L
          rows += nRows
          values += off
          g = reader.read()
        }
      } finally reader.close()
      FileAudit(name, bytes, blocks, rows, values, ok = true, None)
    } catch {
      case e: Throwable =>
        // the root cause names the fault (a record reader wraps a page's
        // CRC failure in a generic "can not read value" error)
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        FileAudit(
          name, bytes, blocks, rows, values, ok = false,
          Some(s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}".take(500))
        )
    }
  }
}
