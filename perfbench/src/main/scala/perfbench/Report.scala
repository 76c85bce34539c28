package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Per-layer metric names and units, in output order. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "host.nproc" -> "count",
    "host.local_k" -> "count",
    "host.heap_mb" -> "MiB",
    "host.loadavg_start" -> "load",
    "host.kernel_mtok_s_start" -> "Mtok/s",
    "host.kernel_mtok_s_end" -> "Mtok/s",
    "host.steal_pct" -> "%",
    "core.hybrid_encode_mtok_s" -> "Mtok/s",
    "core.hybrid_decode_mtok_s" -> "Mtok/s",
    "core.build_tables_ms" -> "ms",
    "core.kernel_sample_tokens" -> "count",
    "codec.select_ns_per_tok" -> "ns/token",
    "codec.string_select_ns_per_row" -> "ns/row",
    "codec.lightweight_decode_mtok_s" -> "Mtok/s",
    "codec.payload_bytes_per_token" -> "B/token",
    "codec.meta_bytes_per_token" -> "B/token"
  ) ++ Layers.codecs.map(c => s"codec.blocks.$c" -> "count") ++ Seq(
    "pipeline.analyze_s" -> "s",
    "pipeline.encode_s" -> "s",
    "pipeline.commit_s" -> "s",
    "pipeline.delete_commit_ms" -> "ms",
    "pipeline.dedup_s" -> "s",
    "pipeline.dedup_files_hashed" -> "count",
    "pipeline.purge_s" -> "s",
    "pipeline.purge_files_rewritten" -> "count",
    "pipeline.compact_s" -> "s",
    "pipeline.write_amp" -> "ratio",
    "pipeline.self_s" -> "s",
    "sources.plan_ms" -> "ms",
    "sources.exec_ms" -> "ms",
    "sources.partitions_planned" -> "count",
    "sources.blocks_decoded" -> "count",
    "sources.values_decoded" -> "count",
    "sources.rows_emitted" -> "count",
    "sources.blocks_index_skipped" -> "count",
    "sources.values_returned_per_value_decoded" -> "ratio",
    "sources.live_files" -> "count",
    "sources.snapshots" -> "count",
    "sources.delete_files" -> "count",
    "sources.self_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.tasks" -> "count",
    "spark.scheduler_delay_s" -> "s",
    "spark.driver_only_s" -> "s",
    "spark.self_s" -> "s",
    "bench.residual_s" -> "s",
    "lookup_ms_p50" -> "ms",
    "lookup_ms_p90" -> "ms",
    "append_ms_p50" -> "ms",
    "delete_ms_p50" -> "ms",
    "maintain_s" -> "s",
    "trace.spans" -> "count",
    "trace.overhead_ratio" -> "ratio"
  )
}

/** Turns the traced run's spans, Spark totals and samples into per-layer
  * metrics, and writes the spans plus a per-op-kind rollup to
  * `<traceDir>/<workload>-<seed>.jsonl`.
  */
object Report {

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def layers(ctx: Ctx, workload: String, traceDir: String): Map[String, Double] = {
    val spans = ctx.tr.all()
    val totals = ctx.tr.sparkTotals()
    val byParent = spans.groupBy(_.parent)
    def clipped(s: Span, kids: Seq[Span]) =
      kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).filter(iv => iv._1 < iv._2)
    // self time: own duration minus what child spans cover; Spark jobs are
    // leaves, counted once per parent as the union of their intervals
    val self = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    spans.filter(_.layer != "spark").foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      self(s.layer) += s.end - s.start - covered(clipped(s, kids))
      self("spark") += covered(clipped(s, kids.filter(_.layer == "spark")))
    }
    val roots = spans.filter(_.parent == 0)
    val jobsByOp = spans.filter(_.layer == "spark").groupBy(_.op)
    val driverOnly = roots.map(r => r.end - r.start - covered(clipped(r, jobsByOp.getOrElse(r.id, Nil)))).sum
    val sumAll = totals.values.foldLeft(SparkTotals())(_ + _)

    writeTrace(ctx, workload, traceDir, spans, totals)

    val q = ctx.queries.map(_._1)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def samples(k: String): Seq[Double] = ctx.samples.getOrElse(k, Nil).toSeq
    def layerMed(n: String): Double = med(ctx.layer.getOrElse(n, Nil).toSeq)
    val decoded = q.map(_.valuesDecoded).sum
    val useful = ctx.queries.map(_._2).sum
    val deleteSpans = spans.filter(s => s.layer == "pipeline" && s.name == "deleteDocs").map(s => (s.end - s.start) / 1e6)
    Map(
      "pipeline.delete_commit_ms" -> med(deleteSpans),
      "pipeline.dedup_s" -> layerMed("pipeline.dedup_s"),
      "pipeline.dedup_files_hashed" -> layerMed("pipeline.dedup_files_hashed"),
      "pipeline.purge_s" -> layerMed("pipeline.purge_s"),
      "pipeline.purge_files_rewritten" -> layerMed("pipeline.purge_files_rewritten"),
      "pipeline.compact_s" -> layerMed("pipeline.compact_s"),
      "pipeline.write_amp" -> ctx.bytesWritten.toDouble / ctx.rawBytesIn,
      "pipeline.self_s" -> (self("pipeline") + self("core")) / 1e9,
      "sources.plan_ms" -> med(q.map(_.planMs).toSeq),
      "sources.exec_ms" -> med(q.map(_.execMs).toSeq),
      "sources.partitions_planned" -> mean(q.map(_.partitions.toDouble)),
      "sources.blocks_decoded" -> mean(q.map(_.blocksDecoded.toDouble)),
      "sources.values_decoded" -> mean(q.map(_.valuesDecoded.toDouble)),
      "sources.rows_emitted" -> mean(q.map(_.rowsEmitted.toDouble)),
      "sources.blocks_index_skipped" -> mean(q.map(_.blocksIndexSkipped.toDouble)),
      "sources.values_returned_per_value_decoded" -> (if (decoded == 0) Double.NaN else useful.toDouble / decoded),
      "sources.live_files" -> mean(ctx.states.map(_._1.toDouble)),
      "sources.snapshots" -> mean(ctx.states.map(_._2.toDouble)),
      "sources.delete_files" -> mean(ctx.states.map(_._3.toDouble)),
      "sources.self_s" -> self("sources") / 1e9,
      "spark.executor_run_s" -> sumAll.runNs / 1e9,
      "spark.executor_cpu_s" -> sumAll.cpuNs / 1e9,
      "spark.gc_s" -> sumAll.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> sumAll.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> sumAll.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> sumAll.spillBytes.toDouble,
      "spark.tasks" -> sumAll.tasks.toDouble,
      "spark.scheduler_delay_s" -> sumAll.schedulerDelayMs / 1e3,
      "spark.driver_only_s" -> driverOnly / 1e9,
      "spark.self_s" -> self("spark") / 1e9,
      "bench.residual_s" -> self("bench") / 1e9,
      "lookup_ms_p50" -> med(samples("lookup")),
      "lookup_ms_p90" -> (if (samples("lookup").isEmpty) Double.NaN else Stats.quantile(samples("lookup"), 0.9)),
      "append_ms_p50" -> med(samples("append")),
      "delete_ms_p50" -> med(samples("delete")),
      "maintain_s" -> med(samples("maintain")) / 1e3,
      "trace.spans" -> spans.size.toDouble
    )
  }

  private def writeTrace(
      ctx: Ctx,
      workload: String,
      traceDir: String,
      spans: Seq[Span],
      totals: Map[Long, SparkTotals]
  ): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    // Spark totals rolled up per op kind (the root span's name)
    val opKind = spans.filter(_.parent == 0).map(s => s.id -> s.name).toMap
    val spanOp = spans.map(s => s.id -> s.op).toMap
    totals.toSeq
      .flatMap { case (span, t) => spanOp.get(span).flatMap(opKind.get).map(_ -> t) }
      .groupBy(_._1)
      .toSeq
      .sortBy(_._1)
      .foreach { case (kind, ts) =>
        val t = ts.map(_._2).foldLeft(SparkTotals())(_ + _)
        sb ++= s"""{"rollup":"$workload","op_kind":"$kind","tasks":${t.tasks},"executor_run_s":${t.runNs / 1e9},""" +
          s""""executor_cpu_s":${t.cpuNs / 1e9},"gc_s":${t.gcMs / 1e3},"shuffle_write_bytes":${t.shuffleWriteBytes},""" +
          s""""shuffle_read_bytes":${t.shuffleReadBytes},"spill_bytes":${t.spillBytes},""" +
          s""""scheduler_delay_s":${t.schedulerDelayMs / 1e3}}""" + "\n"
      }
    val f = Paths.get(traceDir, s"$workload-${ctx.seed}.jsonl")
    Files.createDirectories(f.getParent)
    Files.write(f, sb.toString.getBytes(UTF_8))
    System.err.println(s"perfbench: wrote ${spans.size} spans to $f")
  }
}
