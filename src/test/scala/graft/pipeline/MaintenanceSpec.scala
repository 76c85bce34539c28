package graft.pipeline

import graft.pipeline.GraftPipeline.Config
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Table maintenance over EncodeJob dirs: compaction must be invisible to
  * every reader (decoded content bit-identical, resume bookkeeping
  * unchanged), vacuum must delete exactly the dead artifacts, and snapshot
  * expiry must preserve reads as of every retained snapshot.
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 128, maxBlockValues = 32768)
  lazy val input = TokenTables.synthetic(spark, 600L, seed = 11L).cache()

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def decodeMismatches(dir: String): Long = {
    val tables = EncodeJob.loadTables(spark, dir).get
    val bTables = spark.sparkContext.broadcast(tables)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), bTables, cfg)
    GraftPipeline.verify(input, decoded)
  }

  private def incrementalEncode(dir: String): Unit = {
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(3, 4, 5)))
    EncodeJob.run(input, dir, cfg)
  }

  test("compact rewrites all small files into one; decoded content is bit-identical") {
    val dir = freshDir("graft-maint-compact")
    incrementalEncode(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Maintenance.liveBlockFiles(dir, conf)
    assert(before.length >= 3, s"expected >=3 files from 3 incremental runs, got ${before.length}")
    assert(decodeMismatches(dir) == 0L)

    val res = Maintenance
      .compact(spark, dir, smallFileBytes = Long.MaxValue / 2, targetFileBytes = Long.MaxValue / 2)
      .get
    assert(res.filesRemoved == before.length)
    assert(res.filesAdded == 1)
    assert(res.binsRemapped == cfg.numBins)

    val after = Maintenance.liveBlockFiles(dir, conf)
    assert(after.length == 1)
    assert(after.head._1.endsWith("c0-0.parquet"))
    // tombstoned originals are still on disk (vacuum's job) but invisible
    assert(Maintenance.removedFileNames(dir, conf) == before.map(f => f._1.split('/').last).toSet)

    assert(decodeMismatches(dir) == 0L)
    assert(EncodeJob.doneBins(spark, dir) == (0 until cfg.numBins).toSet)
  }

  test("recompress upgrades an old dir to the current selector and only commits wins") {
    // simulate a dir written before codec auto-selection existed: force
    // every block hybrid, then let recompress re-route through the full
    // current family (dict/rle/delta/dhybrid where they win)
    val dir = freshDir("graft-maint-recompress")
    val cfg0 = cfg.copy(autoSelect = false)
    EncodeJob.run(input, dir, cfg0)
    val conf = spark.sparkContext.hadoopConfiguration
    val beforeBytes = Maintenance.liveBlockFiles(dir, conf).map(_._2).sum

    val res = Maintenance.recompress(spark, dir).get
    assert(res.bytesAdded < res.bytesRemoved, s"no shrink: $res")
    assert(res.bytesRemoved == beforeBytes)
    assert(res.binsRemapped == cfg.numBins)
    // selection actually engaged: the rewritten files carry a codec mix
    import spark.implicits._
    val codecs = EncodeJob.readBlocks(spark, dir).map(_.codec).distinct().collect().toSet
    assert(codecs.size >= 2, s"recompress kept a single codec: $codecs")

    // content is unchanged through every read surface
    val tables = spark.sparkContext.broadcast(EncodeJob.loadTables(spark, dir).get)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), tables, cfg0)
    assert(GraftPipeline.verify(input, decoded) == 0L)
    val someIds = input.map(_.doc_id).collect().sorted.take(7).toSet
    val looked = GraftPipeline.lookupDocs(EncodeJob.readBlocks(spark, dir), someIds, tables, cfg0)
    assert(looked.collect().map(_.doc_id).toSet == someIds)

    // a second pass finds nothing to improve and leaves the dir untouched
    val live = Maintenance.liveBlockFiles(dir, conf).map(_._1).toSet
    assert(Maintenance.recompress(spark, dir).isEmpty)
    assert(Maintenance.liveBlockFiles(dir, conf).map(_._1).toSet == live)
  }

  test("a compacted dir resumes correctly: re-run is a no-op, new bins append") {
    val dir = freshDir("graft-maint-resume")
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(4, 5)))
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)

    // resume after compaction: the done-bin bookkeeping reads the live set
    val resumed = EncodeJob.run(input, dir, cfg)
    assert(resumed.binsSkipped == Seq(0, 1, 2, 3, 4, 5))
    assert(resumed.binsEncoded == Seq(6, 7))
    assert(decodeMismatches(dir) == 0L)

    // idempotent once complete
    val again = EncodeJob.run(input, dir, cfg)
    assert(again.binsEncoded.isEmpty)
  }

  test("vacuum deletes tombstoned files and crash leftovers; reads unaffected") {
    val dir = freshDir("graft-maint-vacuum")
    incrementalEncode(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val nVictims = Maintenance.liveBlockFiles(dir, conf).length
    Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2)

    // simulated crash leftovers: a staging dir and a markerless compaction dir
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_compacted/c7-tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_compacted/c8"))

    val res = Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(res.dataFilesDeleted == nVictims)
    assert(res.dirsDeleted == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_compacted/c7-tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_compacted/c8")))
    // blocks/ top level holds no parquet anymore; the compacted file serves reads
    assert(decodeMismatches(dir) == 0L)

    // a second vacuum finds nothing
    val res2 = Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(res2 == Maintenance.VacuumResult(0, 0))
  }

  test("a too-fresh grace window defers vacuum; nothing qualifies to compact twice") {
    val dir = freshDir("graft-maint-grace")
    incrementalEncode(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2)

    // marker is seconds old: a 1h grace window must not touch anything
    val deferred = Maintenance.vacuum(spark, dir, olderThanMs = 3600L * 1000)
    assert(deferred == Maintenance.VacuumResult(0, 0))

    // one live file left: below minInputFiles, compaction declines
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isEmpty)
  }

  test("rewriteManifests consolidates to one file; winners and reads unchanged") {
    val dir = freshDir("graft-maint-manifests")
    incrementalEncode(dir) // 3 commits -> 3 manifest files
    Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2) // +1 more
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def manifestFiles() = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/_manifest"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(manifestFiles().length >= 4)

    val res = Maintenance.rewriteManifests(spark, dir)
    assert(res.filesBefore >= 4 && res.filesAfter == 1)
    assert(res.bins == cfg.numBins.toLong)
    assert(manifestFiles().length == 1)
    // only the live files' rows survived: every claimed file is a compacted one
    import spark.implicits._
    val claims = spark.read
      .parquet(s"$dir/_manifest")
      .select("file")
      .as[String]
      .collect()
    assert(claims.nonEmpty && claims.forall(_.startsWith("c0-")))
    assert(decodeMismatches(dir) == 0L)

    // idempotent: a single file is already consolidated
    assert(Maintenance.rewriteManifests(spark, dir).filesAfter == 1)
  }

  test("expireSnapshots rebases the oldest retained snapshot; retained reads unchanged") {
    val dir = freshDir("graft-maint-expire")
    incrementalEncode(dir) // snapshots 0, 1, 2
    val conf = spark.sparkContext.hadoopConfiguration
    assert(EncodeJob.loadSnapshots(dir, conf).map(_._1) == Seq(0L, 1L, 2L))

    val res = Maintenance.expireSnapshots(spark, dir, keepLast = 1)
    assert(res.snapshotsExpired == Seq(0L, 1L))
    assert(res.rebasedInto.contains(2L))

    val snaps = EncodeJob.loadSnapshots(dir, conf)
    assert(snaps.map(_._1) == Seq(2L))
    // the rebase folded the expired prefix's bins into the retained snapshot
    assert(snaps.head._2.sorted == (0 until cfg.numBins))
    assert(decodeMismatches(dir) == 0L)

    // keepLast >= current count is a no-op
    assert(Maintenance.expireSnapshots(spark, dir, keepLast = 5) == Maintenance.ExpireResult(Seq.empty, None))
  }
}
