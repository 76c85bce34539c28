package graft.sources

import graft.pipeline.EncodeJob.BinManifest
import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{BlockParquet, Deletes, EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenRow, TokenTables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The one block-file writer ([[graft.pipeline.BlockParquet.stage]]) under
  * every engine writer: no writer publishes an empty or unclaimed block
  * file, the manifest's row count stays exact, every live (file, bin) has
  * one manifest row equal to what its blocks derive, and no commit reads
  * payload to publish its rows. Rows are facts about files: a late or
  * repeated manifest file changes nothing, and rows of a commit that
  * failed name no live file.
  */
class BlockWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)

  private def name(file: String): String = new Path(file).getName

  private def footerCount(file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getRecordCount
    finally r.close()
  }

  /** Every live file holds rows and is claimed by the manifest, whose row
    * count equals the decoded physical rows.
    */
  private def checkFiles(dir: String, step: String): Unit = {
    val live = Maintenance.liveBlockFiles(dir, conf).map(_._1)
    assert(live.nonEmpty, step)
    live.foreach(f => assert(footerCount(f) > 0L, s"$step: ${name(f)} holds no rows"))
    val ix = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get
    val unclaimed = live.map(name).filterNot(ix.fileBins.contains)
    assert(unclaimed.isEmpty, s"$step: unclaimed ${unclaimed.mkString(", ")}")
    val tables = spark.sparkContext.broadcast(EncodeJob.loadTables(spark, dir).get)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), tables, cfg).count()
    assert(ix.numRows.contains(decoded), s"$step: manifest numRows ${ix.numRows} != decoded $decoded")
  }

  test("no writer leaves an empty or unclaimed block file; manifest numRows stays exact") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 300L, seed = 43L).cache()
    val dir = Files.createTempDirectory("graft-writers").toString
    // hybrid-only blocks, so recompress has a smaller selection to commit
    val cfg0 = cfg.copy(autoSelect = false)
    EncodeJob.run(input, dir, cfg0, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg0)
    checkFiles(dir, "encode")

    // recompress before compact: its per-bin files must undercut the
    // encode's file count, not one merged file's footer overhead
    assert(Maintenance.recompress(spark, dir).isDefined)
    checkFiles(dir, "recompress")
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)
    checkFiles(dir, "compact")
    // 300 rows over 64 hash partitions: some stage partitions are empty
    assert(Maintenance.rebin(spark, dir, newNumBins = 64).isDefined)
    checkFiles(dir, "rebin")

    val doomed = input.limit(20).select($"doc_id").as[String]
    assert(Deletes.deleteDocs(spark, dir, doomed).isDefined)
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    checkFiles(dir, "purge")

    val ups = input
      .orderBy($"doc_id".desc)
      .limit(5)
      .map(r => TokenRow(r.doc_id, r.tokens.map(t => (t * 3) & 0x7fff), r.n_tok, r.source))
    assert(Deletes.replaceDocs(spark, dir, ups).isDefined)
    checkFiles(dir, "replaceDocs")

    stream(dir, input.limit(30).collect().map(r => r.copy(doc_id = s"s-${r.doc_id}")).toSeq)
    checkFiles(dir, "stream")
  }

  /** Append `rows` as one epoch of a `writeStream.format("graft")` query. */
  private def stream(dir: String, rows: Seq[TokenRow]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TokenRow]
    val q = in.toDS().writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", Files.createTempDirectory("graft-writers-ckpt").toString)
      .outputMode("append")
      .start()
    try {
      in.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
  }

  test("encode 300 rows, stream 100: the scan's row count estimate is 400") {
    import spark.implicits._
    val corpus = TokenTables.synthetic(spark, 400L, seed = 53L).collect()
    val dir = Files.createTempDirectory("graft-writers-stream").toString
    EncodeJob.run(spark.createDataset(corpus.take(300).toSeq), dir, cfg)
    stream(dir, corpus.drop(300).toSeq)
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == 400L)
    assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(400)))
  }

  /** The manifest rows of the live files. */
  private def liveRows(dir: String): Seq[BinManifest] = {
    val live = Maintenance.liveBlockFiles(dir, conf).map(f => name(f._1)).toSet
    BlockParquet.readManifest(BlockParquet.manifestFiles(dir, conf).toSeq, conf).rows.filter(r => live(r.file)).toSeq
  }

  /** Per live (file, bin), the row its blocks derive. */
  private def derivedRows(dir: String): Map[(String, Int), BinManifest] = {
    import spark.implicits._
    EncodeJob
      .readBlocks(spark, dir)
      .toDF()
      .select(
        element_at(split(input_file_name(), "/"), -1), $"bin", $"n_rows".cast("long"), $"n_values",
        (length($"payload") + $"meta_bytes").as("bytes"), $"payload_bits", $"table_hash"
      )
      .as[(String, Int, Long, Long, Long, Long, Long)]
      .collect()
      .groupBy(b => (b._1, b._2))
      .map { case ((f, bin), in) =>
        (f, bin) -> BinManifest(
          bin, in.length.toLong, in.map(_._3).sum, in.map(_._4).sum, in.map(_._5).sum, in.map(_._6).sum, in.head._7, f
        )
      }
  }

  /** Every live (file, bin) has exactly one row, and that row equals the
    * derivation from the file's blocks.
    */
  private def checkManifest(dir: String, step: String): Unit = {
    val rows = liveRows(dir)
    val keys = rows.map(r => (r.file, r.bin))
    assert(keys.distinct.length == keys.length, s"$step: a (file, bin) has more than one row")
    assert(rows.map(r => (r.file, r.bin) -> r).toMap == derivedRows(dir), step)
  }

  test("after compact, purge and rebin every live (file, bin) has one row equal to its blocks' derivation") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 400L, seed = 47L).cache()
    val dir = Files.createTempDirectory("graft-writers-manifest").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input, dir, cfg)
    checkManifest(dir, "encode")

    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)
    checkManifest(dir, "compact")

    // every doc of bin 3 plus a few others: the purge empties bin 3
    val binOf = GraftPipeline.binCol(cfg.numBins, cfg.salt)
    val doomed = input
      .where(binOf === 3 || substring($"doc_id", -1, 1) === "7")
      .select($"doc_id")
      .as[String]
    assert(Deletes.deleteDocs(spark, dir, doomed).isDefined)
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    checkManifest(dir, "purge")
    assert(!liveRows(dir).exists(_.bin == 3))

    // shrinking rebin: only new-layout bins are claimed
    assert(Maintenance.rebin(spark, dir, newNumBins = 3).isDefined)
    checkManifest(dir, "rebin")
    assert(liveRows(dir).forall(_.bin < 3))
  }

  test("a manifest row repeated in a second manifest file counts once") {
    val input = TokenTables.synthetic(spark, 200L, seed = 59L)
    val dir = Files.createTempDirectory("graft-writers-repeat").toString
    EncodeJob.run(input, dir, cfg)
    val fs = new Path(dir).getFileSystem(conf)
    val manifest = BlockParquet.manifestFiles(dir, conf).head.getPath
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, manifest, fs, new Path(manifest.getParent, "repeat.parquet"), false, conf))
    val ix = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get
    assert(ix.numRows.contains(200L), s"manifest numRows ${ix.numRows}")
  }

  test("a pre-v5 per-bin manifest still claims and prunes; rewriteManifests makes its counts exact") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 300L, seed = 73L).cache()
    val dir = Files.createTempDirectory("graft-writers-v4").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg)
    val claims = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get.fileBins
    // the v4 row shape: one row per bin over the comma-separated files holding it
    val v4 = liveRows(dir).groupBy(_.bin).toSeq.map { case (bin, rows) =>
      (0L, bin, rows.map(_.n_blocks).sum, rows.map(_.n_rows).sum, rows.map(_.n_values).sum,
        rows.map(_.payload_bytes).sum, rows.map(_.payload_bits).sum, rows.head.table_hash,
        rows.map(_.file).sorted.mkString(","))
    }
    val fs = new Path(dir).getFileSystem(conf)
    fs.delete(new Path(s"$dir/_manifest"), true)
    v4.toDF("snapshot_id", "bin", "n_blocks", "n_rows", "n_values", "payload_bytes", "payload_bits", "table_hash", "files")
      .coalesce(1).write.parquet(s"$dir/_manifest")

    val ix = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get
    assert(ix.fileBins.view.mapValues(_.toSeq).toMap == claims.view.mapValues(_.toSeq).toMap)
    assert(ix.numRows.isEmpty, "a pre-v5 row counts no rows per file")
    val ids = input.select($"doc_id").as[String].take(3).toSeq
    assert(spark.read.format("graft").load(dir).where($"doc_id".isin(ids: _*)).count() == 3L)

    assert(Maintenance.rewriteManifests(spark, dir).filesAfter == 1)
    checkManifest(dir, "rewriteManifests over a pre-v5 manifest")
    checkFiles(dir, "rewriteManifests over a pre-v5 manifest")
  }

  test("rows published by a commit that then fails name no live file; the table reads as before") {
    val input = TokenTables.synthetic(spark, 300L, seed = 61L).cache()
    val dir = Files.createTempDirectory("graft-writers-failed").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg)
    val fs = new Path(dir).getFileSystem(conf)
    def live = Maintenance.liveBlockFiles(dir, conf).map(_._1).toSeq
    def published = BlockParquet.readManifest(BlockParquet.manifestFiles(dir, conf).toSeq, conf).rows.map(_.file).toSet
    def numRows = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get.numRows
    val before = live

    // a DSv2 batch append: its rows are published and its first file is
    // renamed, then the second rename fails and the commit rolls back
    val src = before.head
    val staging = s"$dir/_write_staging/qc"
    val (ok, missing) = ("w-qc-p00000-t0.parquet", "w-qc-p00001-t1.parquet")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src), fs, new Path(staging, ok), false, conf))
    val okRows = derivedRows(dir).valuesIterator.filter(_.file == name(src)).map(_.copy(file = ok)).toArray
    val msgs = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      GraftCommitMessage(ok, okRows),
      GraftCommitMessage(missing, Array(BinManifest(0, 1L, 1L, 1L, 0L, 0L, 0L, missing)))
    )
    intercept[java.io.FileNotFoundException](GraftAppendCommit.commit(dir, staging, msgs, "qc", None))
    assert(published(ok) && published(missing))
    assert(live == before)
    assert(spark.read.format("graft").load(dir).count() == 300L)
    assert(numRows.contains(300L))

    // a compaction whose marker write fails after its rows are published
    val markerTmp = new Path(s"$dir/_compacted/.tmp-c0.json")
    assert(fs.mkdirs(markerTmp))
    intercept[Exception](Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2))
    assert(published("c0-0.parquet"))
    assert(live == before)
    assert(spark.read.format("graft").load(dir).count() == 300L)
    assert(numRows.contains(300L))

    // vacuum sweeps the markerless c0/; the rows' manifest file keeps id 0
    // taken, so they can never name a later rewrite's files
    fs.delete(markerTmp, true)
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(!fs.exists(new Path(s"$dir/_compacted/c0")))
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).get.cid == 1L)
    checkManifest(dir, "compact after a failed compact")
    checkFiles(dir, "compact after a failed compact")
  }

  test("a corrupt manifest page fails the scan by the manifest file's name") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 300L, seed = 67L)
    val dir = Files.createTempDirectory("graft-writers-crc").toString
    EncodeJob.run(input, dir, cfg)
    val manifest = BlockParquet.manifestFiles(dir, conf).head.getPath
    // the last byte of the `bin` column chunk lies inside its last data page
    val chunk = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(manifest, conf))
      try r.getFooter.getBlocks.get(0).getColumns.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
        .find(_.getPath.toDotString == "bin").get
      finally r.close()
    }
    val p = java.nio.file.Paths.get(manifest.toUri.getPath)
    val bytes = Files.readAllBytes(p)
    val at = (chunk.getStartingPos + chunk.getTotalSize - 1).toInt
    bytes(at) = (bytes(at) ^ 1).toByte
    Files.write(p, bytes, java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    // no checksummed-FS sidecar: the flipped byte reaches parquet
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))

    val id = input.select($"doc_id").as[String].head()
    val e = intercept[Exception](spark.read.format("graft").load(dir).where($"doc_id" === id).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains(s"corrupt manifest file $manifest")), messages.mkString(" | "))
  }

  /** The actions of the SQL executions `body` runs whose scans read the
    * `payload` column, in order ("rdd" for a Dataset consumed as an RDD).
    */
  private def payloadScans(body: => Unit): Seq[String] = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (qe.sparkPlan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
            .exists(_.requiredSchema.fieldNames.contains("payload")))
          actions.add(f): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // the listeners share one event queue: once a marker job's start
    // arrives, every execution `body` ran has been reported
    val marker = new java.util.concurrent.CountDownLatch(1)
    val drain = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "payload-marker")) marker.countDown()
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(reads)
    sc.addSparkListener(drain)
    try {
      body
      sc.setJobGroup("payload-marker", "drain")
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.listenerManager.unregister(reads)
      sc.removeSparkListener(drain)
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(actions).asScala.toSeq
  }

  test("an append, a replace and a compact read no payload after staging") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 400L, seed = 71L).cache()
    val idx = expr("cast(substring(doc_id, -10, 10) as long)")
    val dir = Files.createTempDirectory("graft-writers-payload").toString
    EncodeJob.run(input.where(idx < 300), dir, cfg)
    input.count()
    assert(payloadScans(input.where(idx >= 300).toDF().write.format("graft").mode("append").save(dir)).isEmpty)
    val ups = input
      .where(idx < 10)
      .map(r => TokenRow(r.doc_id, r.tokens.map(t => (t * 3) & 0x7fff), r.n_tok, r.source))
    assert(payloadScans(Deletes.replaceDocs(spark, dir, ups): Unit).isEmpty)
    assert(!Deletes.liveDeletes(dir, conf, None).isEmpty)
    Maintenance.purgeDeletes(spark, dir)
    // the one payload read is the stage job's own input
    assert(payloadScans(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2): Unit) == Seq("rdd"))
    checkFiles(dir, "payload-free commits")
    checkManifest(dir, "payload-free commits")
  }

  test("a manifest commit that lands late never shadows a later commit's claims") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 400L, seed = 53L).cache()
    val idx = expr("cast(substring(doc_id, -10, 10) as long)")
    val dir = Files.createTempDirectory("graft-writers-late").toString
    EncodeJob.run(input.where(idx < 300), dir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input.where(idx < 300), dir, cfg)
    // maintenance rows in the manifest: the appends below follow a compaction
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)

    // append A holds bin 1; append B holds bins 1 and 2 in ONE file, which
    // stays claimed (by bin 2) even where bin 1's winning row omits it
    val binOf = GraftPipeline.binCol(cfg.numBins, cfg.salt)
    val extra = input.where(idx >= 300)
    val bin1 = extra.where(binOf === 1).orderBy($"doc_id").collect().toSeq
    assert(bin1.length > 2)
    val (a, b) = (bin1.take(2), bin1.drop(2) ++ extra.where(binOf === 2).collect())
    val fs = new Path(dir).getFileSystem(conf)
    val manifestDir = new Path(s"$dir/_manifest")
    def manifestFiles = fs.listStatus(manifestDir).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet

    // two appends racing: A commits its snapshot and derives its rows before
    // B's file lands, but A's manifest publish lands only after B's whole
    // commit — under the name that sorts first, whatever the tie rule
    val beforeA = manifestFiles
    a.toDS().coalesce(1).write.format("graft").mode("append").save(dir)
    val heldName = (manifestFiles -- beforeA).toSeq match { case Seq(n) => n }
    val held = new Path(dir, heldName)
    assert(fs.rename(new Path(manifestDir, heldName), held))
    b.toDS().coalesce(1).write.format("graft").mode("append").save(dir)
    assert(fs.rename(held, new Path(manifestDir, "manifest-00000000-0000-0000-0000-000000000000.parquet")))

    // a bin-1 point read returns both appends' rows
    val ids = bin1.map(_.doc_id)
    assert(spark.read.format("graft").load(dir).where($"doc_id".isin(ids: _*)).count() == ids.length)
    checkFiles(dir, "appends")
  }
}
