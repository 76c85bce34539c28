package perfbench

import graft.pipeline.{EncodeJob, GraftPipeline}
import graft.tools.KernelBench
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; run through perfbench/run.py, which builds the
  * classpath and passes the run directories.
  *
  * args: --workload ingest|scan --seed N --seconds S --trace 0|1
  *       --work DIR (scratch data, wiped) --state DIR (kept across runs)
  *       --build ID (identifies the compiled program)
  *
  * Prints host facts, then one JSON result line last: the end-to-end
  * metrics untraced, or the per-layer metrics with --trace 1.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val state = opts("state")
    require(Set("ingest", "scan").contains(workload), s"unknown workload $workload")

    val k = Runtime.getRuntime.availableProcessors()
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val (kernelStart, _) = KernelBench.measure(reps = 3)
    // the closing canary, taken at run end
    lazy val kernelEnd = KernelBench.measure(reps = 3)._1
    val cpu0 = Host.cpuTicks()

    val t0 = System.nanoTime()
    val spark = session(k, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, work, state, opts("build"), new Tracer(spark.sparkContext, enabled = false))
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case _ => new Scan(ctx)
    }
    // set-up is repeated and its median reported; the last repetition's
    // state is the one measured
    val setupReps = (1 to Sizes.setupReps).map(_ => ctx.time(w.setup())._2 / 1e3)
    val setupS = Stats.median(setupReps)
    System.err.println(s"perfbench: session ${sessionS}s, set-up repetitions ${setupReps.mkString(", ")}s")

    w.loop(Sizes.warmupSeconds)
    ctx.resetSamples()
    w.loop(seconds)
    val e2e = w.e2e() + ("setup_s" -> (sessionS + setupS))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        w.finish()
        Seq(
        ("setup_s", e2e("setup_s"), "s"),
        ("mtok_s", e2e("mtok_s"), "Mtok/s"),
        ("p50_ms", e2e("p50_ms"), "ms"),
        ("bytes_per_token", e2e("bytes_per_token"), "B/token")
        )
      } else {
        // the same loop again with tracing on; the difference in p50_ms
        // is the tracing overhead
        ctx.resetSamples()
        ctx.tr = new Tracer(spark.sparkContext, enabled = true)
        w.loop(seconds)
        val traced = w.e2e()
        w.finish()
        val pipelineProbe = probePipeline(ctx, w)
        val (kernels, bitsMatch) = Layers.kernels(spark, w.tableDir, w.cfg, Sizes.kernelMaxTokens)
        ctx.gate("kernels.reencode_bits")(bitsMatch)
        val codecs = codecCounts(ctx, w.tableDir)
        w.probe()
        val host = Map(
          "host.nproc" -> k.toDouble,
          "host.local_k" -> k.toDouble,
          "host.heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
          "host.loadavg_start" -> load,
          "host.kernel_mtok_s_start" -> kernelStart,
          "host.kernel_mtok_s_end" -> kernelEnd,
          "host.steal_pct" -> Host.stealPct(cpu0, Host.cpuTicks()),
          "trace.overhead_ratio" -> (traced("p50_ms") / e2e("p50_ms") - 1.0)
        )
        val all = host ++ pipelineProbe ++ kernels ++ codecs ++ Report.layers(ctx, workload, s"$state/traces")
        PerLayer.names.map(n => (n._1, all.getOrElse(n._1, Double.NaN), n._2))
      }
    ctx.tr.close()
    ctx.samples.toSeq.sortBy(_._1).foreach { case (kind, v) =>
      System.err.println(s"perfbench samples $kind ms ${v.map(x => f"$x%.1f").mkString(" ")}")
    }
    val steal = Host.stealPct(cpu0, Host.cpuTicks())
    println(
      s"""perfbench host {"workload":"$workload","seed":$seed,"nproc":$k,"local_k":$k,""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"loadavg_start":$load,""" +
        s""""kernel_mtok_s_start":$kernelStart,"kernel_mtok_s_end":$kernelEnd,"steal_pct":$steal,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        ctx.samples.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":{"n":${v.size},"p50_ms":${Stats.median(v.toSeq)}}""" }
          .mkString(""""ops":{""", ",", "}}")
    )
    spark.stop()
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(
      s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$body}}"""
    )
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def session(k: Int, work: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.io.compression.codec", "zstd")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Times each public step of the two-pass encode on the workload's own
    * corpus: analyze, table build, block encode (written out), then the
    * full EncodeJob.run; commit is the run minus the three steps.
    */
  private def probePipeline(ctx: Ctx, w: Workload): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val input = spark.read.parquet(w.inputPath).as[graft.pipeline.TokenRow]
    val tr = ctx.tr
    val (hist, aMs) = ctx.time(tr.span("pipeline", "analyze")(GraftPipeline.analyze(input, w.cfg)))
    val (tables, bMs) = ctx.time(tr.span("core", "buildTables")(GraftPipeline.buildTables(hist, w.cfg)))
    val staged = s"${ctx.work}/probe/blocks"
    ctx.wipe(staged)
    val bt = spark.sparkContext.broadcast(tables)
    val (_, eMs) = ctx.time(tr.span("pipeline", "encode")(GraftPipeline.encode(input, bt, w.cfg).write.parquet(staged)))
    val dir = s"${ctx.work}/probe/table"
    ctx.wipe(dir)
    val (_, rMs) = ctx.time(tr.span("pipeline", "EncodeJob.run")(EncodeJob.run(input, dir, w.cfg)))
    ctx.wipe(staged)
    ctx.wipe(dir)
    Map(
      "pipeline.analyze_s" -> aMs / 1e3,
      "core.build_tables_ms" -> bMs,
      "pipeline.encode_s" -> eMs / 1e3,
      "pipeline.commit_s" -> (rMs - aMs - bMs - eMs) / 1e3
    )
  }

  private def codecCounts(ctx: Ctx, dir: String): Map[String, Double] = {
    val fp = Layers.fingerprint(ctx.spark, dir)
    Map(
      "codec.payload_bytes_per_token" -> fp.payloadBits / 8.0 / fp.tokens,
      "codec.meta_bytes_per_token" -> fp.metaBytes.toDouble / fp.tokens
    ) ++ Layers.codecs.map(c => s"codec.blocks.$c" -> fp.blocks.getOrElse(c, 0L).toDouble)
  }
}

/** Host facts read from /proc/stat: CPU time the hypervisor gave to other
  * guests ("steal") is the main source of run-to-run noise on a shared
  * host, so every run reports its share.
  */
object Host {
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.emptyLongArray }

  /** Steal ticks as a percentage of all ticks between two readings. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else 100.0 * d(7) / total
    }
}
