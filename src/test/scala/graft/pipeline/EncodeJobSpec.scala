package graft.pipeline

import graft.pipeline.GraftPipeline.Config
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class EncodeJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 128, maxBlockValues = 32768)
  lazy val input = TokenTables.synthetic(spark, 600L, seed = 7L).cache()

  def blockFingerprints(dir: String): Map[(Int, Int), (String, Long, Int)] = {
    import spark.implicits._
    EncodeJob
      .readBlocks(spark, dir)
      .map(b => ((b.bin, b.block_seq), (b.codec, b.payload_bits, java.util.Arrays.hashCode(b.payload))))
      .collect()
      .toMap
  }

  test("kill/resume: partial run + resume == uninterrupted run, byte-identical") {
    val fullDir = Files.createTempDirectory("graft-full").toString
    val resumeDir = Files.createTempDirectory("graft-resume").toString

    // uninterrupted run
    val full = EncodeJob.run(input, fullDir, cfg)
    assert(full.binsEncoded == (0 until cfg.numBins))
    assert(full.binsSkipped.isEmpty)

    // simulated kill: first run covers only bins 0..3
    val partial = EncodeJob.run(input, resumeDir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    assert(partial.binsEncoded == Seq(0, 1, 2, 3))

    // resume: completes the rest, skips the committed bins
    val resumed = EncodeJob.run(input, resumeDir, cfg)
    assert(resumed.binsEncoded == Seq(4, 5, 6, 7))
    assert(resumed.binsSkipped == Seq(0, 1, 2, 3))
    assert(resumed.tableHash == partial.tableHash)
    assert(resumed.snapshotId == partial.snapshotId + 1)

    assert(blockFingerprints(resumeDir) == blockFingerprints(fullDir))
  }

  test("resumed output decodes to the source corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dec").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 4)))
    EncodeJob.run(input, dir, cfg)
    val tables = EncodeJob.loadTables(spark, dir).get
    val bTables = spark.sparkContext.broadcast(tables)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), bTables, cfg)
    assert(GraftPipeline.verify(input, decoded) == 0L)
  }

  test("idempotent re-run: nothing to do, new snapshot records lineage") {
    val dir = Files.createTempDirectory("graft-idem").toString
    EncodeJob.run(input, dir, cfg)
    val again = EncodeJob.run(input, dir, cfg)
    assert(again.binsEncoded.isEmpty)
    assert(again.binsSkipped == (0 until cfg.numBins))
  }

  test("resume repairs a manifest lost between block commit and append") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-repair").toString
    EncodeJob.run(input, dir, cfg)
    // simulate the crash window: blocks committed, manifest gone
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$dir/_manifest"))
    val again = EncodeJob.run(input, dir, cfg) // nothing to encode...
    assert(again.binsEncoded.isEmpty)
    // ...but the manifest is re-derived from the committed blocks
    val manifest = spark.read.parquet(s"$dir/_manifest")
    assert(manifest.select($"bin").distinct().count() == cfg.numBins)
    assert(manifest.agg(sum($"n_rows")).head().getLong(0) == input.count())
  }

  test("resume repairs snapshot lineage lost between block commit and snapshot write") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snaprepair").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1)))
    // simulate the crash window: blocks + manifest committed, snapshot gone
    new java.io.File(s"$dir/_snapshots/snap-0.json").delete()
    new java.io.File(s"$dir/_snapshots/.snap-0.json.crc").delete()
    val resumed = EncodeJob.run(input, dir, cfg)
    assert(resumed.binsEncoded == (2 until cfg.numBins))
    // the resume's snapshot ADOPTS the orphaned bins: every committed bin is
    // reachable through the lineage again
    val conf = spark.sparkContext.hadoopConfiguration
    val snaps = EncodeJob.loadSnapshots(dir, conf)
    assert(snaps.map(_._1) == Seq(resumed.snapshotId))
    assert(snaps.flatMap(_._2).sorted == (0 until cfg.numBins))
    // the snapshot-scoped and unfiltered read surfaces agree again
    val asOf = spark.read.format("graft").option("snapshot", resumed.snapshotId.toString).load(dir)
    assert(asOf.count() == input.count())
    val streamed = {
      val ckpt = Files.createTempDirectory("graft-snaprepair-ckpt").toString
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("memory").queryName("snaprepair_stream")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try { q.processAllAvailable(); spark.table("snaprepair_stream").count() }
      finally q.stop()
    }
    assert(streamed == input.count())
  }

  test("malformed meta.json fails loudly with the offending file/field") {
    val dir = Files.createTempDirectory("graft-badmeta").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0)))
    val metaPath = java.nio.file.Paths.get(s"$dir/_tables/meta.json")
    // a string value containing '"' and a missing field — the regex reader's
    // silent-miss cases; the parser must name the problem instead
    java.nio.file.Files.writeString(metaPath, """{"max_bits":8,"num_contexts":"not a number"}""")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_tables/.meta.json.crc"))
    val notNum = intercept[Exception](EncodeJob.loadTables(spark, dir))
    assert(notNum.getMessage.contains("num_contexts"), notNum.getMessage)
    java.nio.file.Files.writeString(metaPath, """{"max_bits":8,"num_contexts":16""")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_tables/.meta.json.crc"))
    val truncated = intercept[Exception](EncodeJob.loadTables(spark, dir))
    assert(truncated.getMessage.contains("meta.json"), truncated.getMessage)
  }

  test("manifest records the block files holding each bin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-manfiles").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg) // second append: distinct files
    val manifest = spark.read.parquet(s"$dir/_manifest").as[EncodeJob.BinManifest].collect()
    assert(manifest.map(_.bin).toSet == (0 until cfg.numBins).toSet)
    assert(manifest.map(m => (m.file, m.bin)).distinct.length == manifest.length, "one row per (file, bin)")
    // every claimed file exists under blocks/, and the claims agree with the
    // blocks' actual file placement (input_file_name ground truth)
    val actual = spark.read.parquet(s"$dir/blocks")
      .select($"bin", element_at(split(input_file_name(), "/"), -1).as("f"))
      .distinct()
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getString(1)).sorted.toSeq).toMap
    manifest.groupBy(_.bin).foreach { case (bin, rows) =>
      assert(rows.map(_.file).sorted.toSeq == actual(bin), s"bin $bin")
    }
  }

  test("persisted tables roundtrip through the reference header format") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val tables = GraftPipeline.buildTables(GraftPipeline.analyze(input, cfg), cfg)
    EncodeJob.saveTables(spark, dir, tables)
    val loaded = EncodeJob.loadTables(spark, dir).get
    assert(loaded.tableHash == tables.tableHash)
    assert(loaded.maxBits == tables.maxBits && loaded.numContexts == tables.numContexts)
  }

  test("resume with mismatched parameters fails loudly (check_compression_parameters parity)") {
    // the reference validates persisted vs requested compression params
    // (/root/reference/src/graphs/mod.rs:62-95, tests/test_compression.rs:200-238)
    val dir = Files.createTempDirectory("graft-params").toString
    EncodeJob.run(input, dir, cfg)
    val wrongCtx = intercept[IllegalArgumentException] {
      EncodeJob.run(input, dir, cfg.copy(numContexts = cfg.numContexts * 2))
    }
    assert(wrongCtx.getMessage.contains("do not match config"))
    val wrongModel = intercept[IllegalArgumentException] {
      EncodeJob.run(input, dir, cfg.copy(contextModel = "single"))
    }
    assert(wrongModel.getMessage.contains("context model"))
  }

  test("resume under a different bin layout fails loudly (auto-bin drift guard)") {
    val dir = Files.createTempDirectory("graft-bins").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0)))
    val wrongBins = intercept[IllegalArgumentException] {
      EncodeJob.run(input, dir, cfg.copy(numBins = cfg.numBins * 2))
    }
    assert(wrongBins.getMessage.contains("num_bins"))
    val wrongSalt = intercept[IllegalArgumentException] {
      EncodeJob.run(input, dir, cfg.copy(salt = cfg.salt + 1))
    }
    assert(wrongSalt.getMessage.contains("salt"))
    // the original layout still resumes cleanly
    val resumed = EncodeJob.run(input, dir, cfg)
    assert(resumed.binsSkipped == Seq(0))
  }

  test("resume into a different blocks-format version fails loudly") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0)))
    // simulate an outDir written by the previous engine revision
    val metaPath = java.nio.file.Paths.get(s"$dir/_tables/meta.json")
    val meta = java.nio.file.Files.readString(metaPath)
    java.nio.file.Files.writeString(
      metaPath,
      meta.replace(s""""format_version":${EncodeJob.FormatVersion}""", """"format_version":1""")
    )
    // drop the local-FS checksum sidecar invalidated by the direct rewrite
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_tables/.meta.json.crc")
    )
    val err = intercept[IllegalArgumentException](EncodeJob.run(input, dir, cfg))
    assert(err.getMessage.contains("format"))
  }

  test("rounds=2 defaults to the estimated (no-bit-writing) path and stays lossless") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-est").toString
    val cfg2 = cfg.copy(rounds = 2)
    EncodeJob.run(input, dir, cfg2)
    val tables = EncodeJob.loadTables(spark, dir).get
    val bTables = spark.sparkContext.broadcast(tables)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), bTables, cfg2)
    assert(GraftPipeline.verify(input, decoded) == 0L)
  }

  test("manifest totals match block totals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manifest").toString
    EncodeJob.run(input, dir, cfg)
    val manifest = spark.read.parquet(s"$dir/_manifest").as[EncodeJob.BinManifest]
    val blocks = EncodeJob.readBlocks(spark, dir)
    assert(manifest.map(_.n_values).reduce(_ + _) == blocks.map(_.n_values).reduce(_ + _))
    assert(manifest.map(_.n_rows).reduce(_ + _) == input.count())
    assert(manifest.map(_.table_hash).distinct().count() == 1L)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  private def manifestRows(dir: String): Set[EncodeJob.BinManifest] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/_manifest").as[EncodeJob.BinManifest].collect().toSet
  }

  test("task-reported manifest rows equal appendManifest's derivation over the committed blocks") {
    val dir = Files.createTempDirectory("graft-taskmanifest").toString
    val res = EncodeJob.run(input, dir, cfg)
    val reported = manifestRows(dir)
    assert(reported.map(_.bin) == (0 until cfg.numBins).toSet)
    rmTree(new java.io.File(s"$dir/_manifest"))
    EncodeJob.appendManifest(spark, dir, (0 until cfg.numBins).toSet, res.snapshotId)
    assert(manifestRows(dir) == reported)
  }

  test("a killed run's staged files stay invisible and are swept; a half-renamed run is repaired") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fullDir = Files.createTempDirectory("graft-crash-full").toString
    EncodeJob.run(input, fullDir, cfg)
    val full = manifestRows(fullDir)
    def binsOf(file: String): Set[Int] = full.filter(_.file == file).map(_.bin)
    val committed = Set(0, 1)
    // a block file of the uninterrupted run holding none of the committed bins
    val (orphan, orphanBins) = full.toSeq.sortBy(_.bin).iterator
      .map(_.file)
      .map(f => (f, binsOf(f)))
      .find(_._2.intersect(committed).isEmpty)
      .get

    val dir = Files.createTempDirectory("graft-crash").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(committed))
    val before = EncodeJob.readBlocks(spark, dir).count()
    val staged = java.nio.file.Paths.get(dir, "_write_staging", "encode-killed", orphan)
    Files.createDirectories(staged.getParent)
    Files.copy(java.nio.file.Paths.get(fullDir, "blocks", orphan), staged)
    // staged files are invisible to every reader
    assert(EncodeJob.doneBins(spark, dir) == committed)
    assert(EncodeJob.readBlocks(spark, dir).count() == before)
    val rows = spark.read.format("graft").load(dir)
    assert(rows.count() == input.where(GraftPipeline.binCol(cfg.numBins, cfg.salt).isin(committed.toSeq: _*)).count())
    // ...and the existing vacuum grace sweep removes them
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(!Files.exists(staged.getParent))

    // a half-renamed run whose manifest file was lost: the orphan's bins
    // are committed blocks with no manifest row and no snapshot
    Files.createDirectories(staged.getParent)
    Files.copy(java.nio.file.Paths.get(fullDir, "blocks", orphan), staged)
    Files.copy(java.nio.file.Paths.get(fullDir, "blocks", orphan), java.nio.file.Paths.get(dir, "blocks", orphan))
    assert(EncodeJob.doneBins(spark, dir) == committed ++ orphanBins)
    val resumed = EncodeJob.run(input, dir, cfg)
    // the next run swept the staged leftover
    assert(!Files.exists(staged.getParent))
    assert(resumed.binsSkipped.toSet == committed ++ orphanBins)
    assert(blockFingerprints(dir) == blockFingerprints(fullDir))
    // the repair derived the orphan's manifest rows; every bin is claimed
    val manifest = manifestRows(dir)
    assert(manifest.map(_.bin) == (0 until cfg.numBins).toSet)
    assert(manifest.filter(m => orphanBins(m.bin)).forall(_.file == orphan))
    assert(manifest.toSeq.map(_.n_rows).sum == input.count())
    assert(EncodeJob.loadSnapshots(dir, conf).flatMap(_._2).toSet == (0 until cfg.numBins).toSet)
    assert(spark.read.format("graft").load(dir).count() == input.count())
  }

  test("a fresh EncodeJob.run submits at most 3 Spark jobs") {
    val sc = spark.sparkContext
    val group = "encode-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)          => jobs.incrementAndGet(): Unit
          case Some("encode-marker") => marker.countDown()
          case _                      => ()
        }
    }
    input.count() // materialize the cached corpus outside the counted window
    val dir = Files.createTempDirectory("graft-jobs").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fresh encode")
      EncodeJob.run(input, dir, cfg)
      // listener events arrive in order: once the marker job's start is
      // seen, every job of the run has been counted
      sc.setJobGroup("encode-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    info(s"${jobs.get()} jobs")
    assert(jobs.get() >= 1 && jobs.get() <= 3, s"${jobs.get()} jobs")
  }

  /** Records the tasks of `body`'s Spark jobs read (their input metrics). */
  private def recordsRead(body: => Unit): Long = {
    val sc = spark.sparkContext
    val group = "encode-records-read"
    val read = new java.util.concurrent.atomic.AtomicLong()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          e.stageIds.foreach(groupOf.put(_, g))
          if (g == "records-marker") marker.countDown()
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (groupOf.get(e.stageId) == group && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup("records-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      // the body's task-end events precede the marker job's start
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    read.get()
  }

  test("a fresh EncodeJob.run reads each input row once") {
    val path = Files.createTempDirectory("graft-records").toString + "/input"
    input.write.parquet(path)
    val parquetInput = spark.read.parquet(path).as[TokenRow](org.apache.spark.sql.Encoders.product[TokenRow])
    val n = input.count()
    val dir = Files.createTempDirectory("graft-records-out").toString
    val fresh = recordsRead(EncodeJob.run(parquetInput, dir, cfg))
    assert(fresh == n, s"$fresh records read for $n input rows")

    // a resume over the persisted tables reads its input once too, and no
    // block: its done bins are the manifest claims, read on the driver
    val resumeDir = Files.createTempDirectory("graft-records-resume").toString
    EncodeJob.run(parquetInput, resumeDir, cfg, onlyBins = Some(Set(0, 1, 2)))
    assert(recordsRead(EncodeJob.doneBins(spark, resumeDir): Unit) == 0L)
    val resume = recordsRead(EncodeJob.run(parquetInput, resumeDir, cfg))
    assert(resume == n, s"$resume records read for $n input rows")
  }
}
