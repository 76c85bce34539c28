package graft.streaming

import graft.pipeline.TokenRow
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming helpers over token and document streams: bounded-
  * state dedup, running per-source codec statistics and windowed ingest
  * counts. Encoding a stream into a table is the DSv2 sink
  * (`writeStream.format("graft")` into a dir [[graft.pipeline.EncodeJob]]
  * started), which commits each epoch exactly once with its snapshot.
  */
object StreamingEncode {

  /** Streaming exact dedup over an event-timestamped document stream
    * (ts, doc_id, text, ...): keep the first arrival of each content hash,
    * with state bounded by the watermark (duplicates separated by more
    * than `lateness` pass through — the standard bounded-state trade of
    * streaming dedup at ingest; the batch Dedup.exact pass sweeps the
    * long-range tail).
    */
  def streamingDedup(stream: DataFrame, lateness: String = "10 minutes"): DataFrame = {
    stream
      .withColumn("content_hash", xxhash64(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Running per-source stream statistics, keyed state via
    * flatMapGroupsWithState — the custom-state operator of the streaming
    * surface. State per source accumulates exactly the closed-form stats
    * the batch codec selector scores (value range, run structure, token
    * count), and each trigger emits the source's refreshed stats plus the
    * lightweight codec the running numbers suggest — the streaming PRIOR
    * that seeds batch auto-selection (the reference's estimator bootstrap,
    * /root/reference/src/graphs/convert.rs:95-152, lifted to an unbounded
    * stream). Deterministic: stats are order-insensitive sums/maxes, so
    * replayed micro-batches converge to the same state.
    */
  final case class SourceState(
      nDocs: Long,
      nTokens: Long,
      runs: Long,
      maxToken: Int,
      sumToken: Long
  )

  final case class SourceCodecStats(
      source: String,
      n_docs: Long,
      n_tokens: Long,
      runs: Long,
      max_token: Int,
      mean_token_x1000: Long,
      run_ratio_x1000: Long,
      suggested_codec: String
  )

  def runningSourceStats(stream: Dataset[TokenRow]): Dataset[SourceCodecStats] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[TokenRow], state: GroupState[SourceState]) =>
          var st = state.getOption.getOrElse(SourceState(0L, 0L, 0L, 0, 0L))
          rows.foreach { r =>
            var runs = 0L
            var mx = st.maxToken
            var sum = 0L
            var i = 0
            var prev = -1
            while (i < r.tokens.length) {
              val v = r.tokens(i)
              if (i == 0 || v != prev) runs += 1
              if (v > mx) mx = v
              sum += v
              prev = v
              i += 1
            }
            st = SourceState(st.nDocs + 1, st.nTokens + r.tokens.length, st.runs + runs, mx, st.sumToken + sum)
          }
          state.update(st)
          if (st.nTokens == 0) Iterator.empty
          else {
            // the batch selector's closed-form shapes on running stats:
            // few runs -> RLE; narrow range -> bitpack; else the entropy coder
            val runRatio = st.runs * 1000L / st.nTokens
            val width = graft.codec.IntCodecs.bitsFor(st.maxToken.toLong)
            val suggested =
              if (runRatio <= 125) "rle" // >= 8-token mean run length
              else if (width <= 12) "bitpack"
              else "hybrid"
            Iterator.single(
              SourceCodecStats(
                source, st.nDocs, st.nTokens, st.runs, st.maxToken,
                st.sumToken * 1000L / st.nTokens, runRatio, suggested
              )
            )
          }
      }
  }

  /** Watermarked per-source ingest metrics over an event-timestamped token
    * stream (ts, source, n_tok): tumbling-window token counts that tolerate
    * `lateness` of out-of-order data.
    */
  def windowedTokenCounts(
      stream: DataFrame,
      windowLength: String = "1 minute",
      lateness: String = "2 minutes"
  ): DataFrame = {
    stream
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens")
      )
  }
}
