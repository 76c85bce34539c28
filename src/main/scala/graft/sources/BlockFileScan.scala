package graft.sources

import graft.pipeline.BlockDecoder
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** Shared executor-side kernel for the per-file sidecar builders
  * ([[ContentIndex]], [[SignatureIndex]]): decode ONE block parquet file
  * fully — doc_id string stream, n_tok column, token payload through the
  * scan's own [[BlockDecoder]] (embedded tables included) — and stream every
  * row to the caller. One task per file is the callers' contract (a sidecar
  * entry is attributed to its file).
  */
private[sources] object BlockFileScan {

  /** One decoded row: (docId, nTok, values, from, until) — the row's token
    * values are `values(from until until)` (the shared per-block buffer).
    */
  type DecodedRow = (String, Int, Array[Int], Int, Int)

  /** Stream `file`'s rows lazily, one BLOCK resident at a time — a builder
    * mapping rows to k·8 B entries never materializes a whole file's entry
    * set (a pathological bin of millions of tiny docs stays O(block) on the
    * executor, the rows flowing straight into the parquet writer). The
    * reader closes when the iterator drains; callers must consume it fully
    * (flatMap does).
    */
  def rowIterator(
      file: String,
      sConf: Broadcast[SerializableConfiguration],
      headerBytes: Array[Byte],
      maxBits: Int,
      numContexts: Int,
      modelName: String
  ): Iterator[DecodedRow] = new Iterator[DecodedRow] {
    private val decoder = BlockDecoder.fromHeader(headerBytes, maxBits, numContexts, modelName)
    private val wanted = Set(
      "bin", "block_seq", "codec", "n_rows", "doc_ids_codec", "doc_ids_payload", "n_toks_codec",
      "n_toks_payload", "payload", "embedded_tables", "table_hash"
    )
    private var reader = GraftFiles.openProjected(file, sConf, wanted, None)

    // close on every exit path: normal drain (advance hits EOF), a decode
    // exception (closeQuietly + rethrow), AND abandonment — a killed or
    // failed task never drains the iterator, so the task-completion
    // listener is what stops retry storms from leaking input streams
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeQuietly()))

    private def closeQuietly(): Unit =
      if (reader != null) {
        try reader.close()
        catch { case _: Exception => () }
        reader = null
      }

    // current block's decoded columns
    private var docIds: Array[String] = _
    private var nToks: Array[Int] = _
    private var values: Array[Int] = _
    private var rowOffsets: Array[Int] = _
    private var nRows = 0
    private var i = 0

    private def advance(): Unit = try {
      while (i >= nRows && reader != null) {
        val g = reader.read()
        if (g == null) {
          reader.close()
          reader = null
        } else {
          val b = new ParquetBlock(g, file)
          val n = b.n_rows
          if (n > 0) {
            docIds = BlockDecoder.docIds(b)
            nToks = BlockDecoder.nToks(b)
            rowOffsets = BlockDecoder.rowOffsets(nToks)
            values = decoder.decodeAll(b, rowOffsets)
            nRows = n
            i = 0
          }
        }
      }
    } catch {
      case e: Throwable =>
        closeQuietly()
        throw e
    }

    override def hasNext: Boolean = {
      advance()
      i < nRows
    }

    override def next(): DecodedRow = {
      if (!hasNext) throw new NoSuchElementException(file)
      val r = (docIds(i), nToks(i), values, rowOffsets(i), rowOffsets(i + 1))
      i += 1
      r
    }
  }
}
