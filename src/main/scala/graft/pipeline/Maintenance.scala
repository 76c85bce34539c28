package graft.pipeline

import graft.core.MiniJson
import graft.core.MiniJson.ObjOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Table maintenance for EncodeJob output dirs — the operations a 100 TB
  * corpus needs after months of incremental commits, mirroring Iceberg's
  * `rewrite_data_files` / `expire_snapshots` / `remove_orphan_files`
  * procedures (the reference's single-file output never meets this problem;
  * its analog is the offsets rebuild on conversion,
  * /root/reference/src/graphs/convert.rs:784-856, which also rewrites the
  * physical layout without changing decoded content).
  *
  * Why it exists: every incremental [[EncodeJob.run]] and every streaming
  * commit appends its own parquet files under `blocks/`. At 800k bins a
  * year of daily deltas is hundreds of thousands of small files — driver
  * listings, manifest indexes and scan task counts all degrade linearly in
  * file count, not data size. Compaction rewrites many small block files
  * into few large ones WITHOUT touching the encoded payload (block rows are
  * moved verbatim), so decoded output is bit-identical by construction.
  *
  * Layout additions under `outDir`:
  * {{{
  *   _compacted/c<cid>/c<cid>-<k>.parquet  committed compacted block files
  *   _compacted/c<cid>.json                commit marker {cid, removed, added}
  *   _compacted/c<cid>-tmp/                staging (invisible until committed)
  * }}}
  *
  * Commit protocol (single-writer, like Iceberg maintenance): compacted
  * files are staged OUTSIDE the readable set, then ONE atomic rename of the
  * marker file flips visibility — the marker simultaneously publishes the
  * compacted dir and tombstones the input files, so no reader ever sees a
  * state where rows are duplicated or missing:
  *
  *   1. stage the rewritten blocks into `_compacted/c<cid>-tmp/` through
  *      [[BlockParquet.stage]] (invisible: readers only union
  *      `_compacted/c<n>/` dirs that have a marker); the stage tasks report
  *      the files they wrote and the bins each holds
  *   2. rename exactly the reported files into `_compacted/c<cid>/` under
  *      globally unique names `c<cid>-<k>.parquet` (manifest claims are
  *      keyed by file NAME — uniqueness across blocks/ and all compactions
  *      keeps the claims unambiguous); still invisible, no marker yet
  *   3. delete `c<cid>-tmp` with whatever a failed or zombie task attempt
  *      staged there (one that stages later recreates the dir, and
  *      [[vacuum]] sweeps it) — never published, because `c<cid>/` only
  *      ever receives the reported files
  *   4. publish the stage tasks' manifest rows under the renamed names as
  *      `_manifest/c<cid>.parquet` — rows of files that are not live yet,
  *      so every reader ignores them until step 5 (the file name also
  *      keeps `cid` reserved, so a crashed rewrite's rows can never name a
  *      later rewrite's files)
  *   5. write `c<cid>.json` via temp + rename — THE commit point
  *
  * A crash before step 5 leaves invisible garbage that [[vacuum]] removes;
  * a crash after step 5 is a committed compaction whose dead input files
  * [[vacuum]] removes. Tombstoned files stay on disk until vacuum so that
  * in-flight readers planned against the old listing finish correctly.
  */
object Maintenance {

  /** A committed rebin ([[rebin]]): the marker-recorded NEW layout plus the
    * folded-history base snapshot id and the lineage facts the heal step
    * must reconstruct (writer epoch marks, retired delete names) — carried
    * in the marker so a crash between commit and heal loses nothing.
    */
  final case class RebinInfo(
      cid: Long,
      numBins: Int,
      salt: Long,
      baseSnapshot: Long,
      tableHash: Long,
      marks: Seq[(String, Long)],
      deletes: Seq[(String, Long)]
  )

  /** A committed compaction: id, tombstoned file names, published file names,
    * and (for [[purgeDeletes]] commits) the delete files it applied
    * physically — those are RETIRED: reads stop applying them, vacuum
    * reclaims them after the grace window. [[rebin]] commits additionally
    * carry the new bin layout (see [[RebinInfo]]) — the SAME atomic marker
    * that flips the live file set flips the row→bin routing.
    */
  final case class Compaction(
      cid: Long,
      removed: Seq[String],
      added: Seq[String],
      appliedDeletes: Seq[String] = Seq.empty,
      rebin: Option[RebinInfo] = None
  )

  final case class CompactionResult(
      cid: Long,
      filesRemoved: Int,
      filesAdded: Int,
      bytesRemoved: Long,
      bytesAdded: Long,
      binsRemapped: Int
  )

  final case class VacuumResult(dataFilesDeleted: Int, dirsDeleted: Int)

  final case class RewriteManifestsResult(filesBefore: Int, filesAfter: Int, bins: Long)

  final case class ExpireResult(snapshotsExpired: Seq[Long], rebasedInto: Option[Long])

  private def fsOf(outDir: String, conf: Configuration): FileSystem =
    new Path(outDir).getFileSystem(conf)

  private def compactRoot(outDir: String) = new Path(s"$outDir/_compacted")

  /** Committed compactions (marker files that parse), sorted by id.
    * In-flight markers are impossible (temp + rename), but a truncated file
    * from a dying filesystem is skipped rather than trusted.
    */
  def committedCompactions(outDir: String, conf: Configuration): Seq[Compaction] = {
    val fs = fsOf(outDir, conf)
    val root = compactRoot(outDir)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .toSeq
      .filter(st => st.isFile && st.getPath.getName.matches("c\\d+\\.json"))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        val txt =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        scala.util.Try {
          val o = MiniJson.parseObject(txt, where = st.getPath.toString)
          Compaction(
            o.long("cid"),
            o.strArrOpt("removed").getOrElse(throw new IllegalArgumentException("removed absent")),
            o.strArrOpt("added").getOrElse(throw new IllegalArgumentException("added absent")),
            o.strArrOpt("applied_deletes").getOrElse(Seq.empty),
            parseRebinFields(o)
          )
        }.toOption
      }
      .sortBy(_.cid)
  }

  /** The optional rebin fields of a parsed marker (see [[RebinInfo]]). */
  private def parseRebinFields(o: MiniJson.JObj): Option[RebinInfo] = {
    import MiniJson.ObjOps
    o.longOpt("rebin_num_bins").map { nb =>
      val marks =
        (o.strArrOpt("rebin_marked_writers"), o.longArrOpt("rebin_marked_epochs")) match {
          case (Some(w), Some(e)) if w.length == e.length => w.zip(e)
          case _                                          => Seq.empty[(String, Long)]
        }
      val dels = (o.strArrOpt("rebin_deletes"), o.longArrOpt("rebin_delete_counts")) match {
        case (Some(n), Some(c)) if n.length == c.length => n.zip(c)
        case _                                          => Seq.empty[(String, Long)]
      }
      RebinInfo(
        o.long("cid"),
        nb.toInt,
        o.long("rebin_salt"),
        o.long("rebin_base"),
        o.long("rebin_table_hash"),
        marks,
        dels
      )
    }
  }

  /** File names tombstoned by any committed compaction. */
  def removedFileNames(outDir: String, conf: Configuration): Set[String] =
    committedCompactions(outDir, conf).flatMap(_.removed).toSet

  /** Delete files already applied physically by a committed purge —
    * retired from every read.
    */
  def appliedDeleteNames(outDir: String, conf: Configuration): Set[String] =
    committedCompactions(outDir, conf).flatMap(_.appliedDeletes).toSet

  /** True iff any compaction has committed — the cheap gate that lets
    * never-compacted dirs keep the plain `blocks/` directory read path.
    */
  def hasCompactions(outDir: String, conf: Configuration): Boolean =
    committedCompactions(outDir, conf).nonEmpty

  /** The layout-defining rebin, if any: the NEWEST committed marker carrying
    * rebin fields wins (a later plain compact/recompress leaves routing
    * unchanged, so older rebin info stays authoritative until the next
    * rebin). When present, the recorded layout OVERRIDES meta.json's
    * num_bins/salt — that is what makes the marker rename the single atomic
    * commit point for both the file set and the routing; the heal step
    * rewrites meta.json to match, after which the override is a no-op.
    */
  def rebinStateFrom(comps: Seq[Compaction]): Option[RebinInfo] =
    comps.flatMap(_.rebin).lastOption

  /** Standalone [[rebinStateFrom]] that avoids parsing every marker on the
    * hot paths that only need the layout (loadMeta runs on every append/
    * delete/describe): markers are read newest-first with a cheap substring
    * gate, stopping at the first that carries rebin fields. Never-rebinned
    * dirs still pay the listing + raw reads, but skip all JSON parsing.
    */
  def rebinState(outDir: String, conf: Configuration): Option[RebinInfo] = {
    val fs = fsOf(outDir, conf)
    val root = compactRoot(outDir)
    if (!fs.exists(root)) return None
    val markers = fs
      .listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.matches("c\\d+\\.json"))
      .sortBy(st => -st.getPath.getName.stripPrefix("c").stripSuffix(".json").toLong)
    markers.iterator.flatMap { st =>
      val in = fs.open(st.getPath)
      val txt =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      if (!txt.contains("\"rebin_num_bins\"")) None
      else
        scala.util.Try {
          parseRebinFields(MiniJson.parseObject(txt, where = st.getPath.toString))
        }.toOption.flatten
    }.nextOption()
  }

  /** THE live-file resolver: every block read over an EncodeJob dir must go
    * through this (or a listing that equals it). Live =
    * (top-level `blocks/★.parquet` ∪ committed `_compacted/c<n>/★.parquet`)
    * minus tombstoned names. Uncommitted staging dirs are invisible by
    * construction; a compacted file tombstoned by a LATER compaction is
    * excluded the same way first-generation files are.
    */
  def liveBlockFiles(outDir: String, conf: Configuration): Array[(String, Long)] =
    liveBlockFilesFrom(outDir, conf, committedCompactions(outDir, conf))

  /** [[liveBlockFiles]] over a pre-listed marker set — scan planners list
    * the markers ONCE and derive both the live files and the (possibly
    * rebin-overridden) bin layout from that single read, so a rebin
    * committing mid-planning can never pair new-layout files with the old
    * routing or vice versa.
    */
  def liveBlockFilesFrom(
      outDir: String,
      conf: Configuration,
      comps: Seq[Compaction]
  ): Array[(String, Long)] = {
    val fs = fsOf(outDir, conf)
    val blocksDir = new Path(s"$outDir/blocks")
    require(fs.exists(blocksDir), s"no blocks/ under $outDir — not an EncodeJob output dir")
    val removed = comps.flatMap(_.removed).toSet
    def parquetFiles(dir: Path): Array[FileStatus] =
      if (fs.exists(dir))
        fs.listStatus(dir).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      else Array.empty
    val base = parquetFiles(blocksDir)
    val compacted = comps.toArray.flatMap(c => parquetFiles(new Path(compactRoot(outDir), s"c${c.cid}")))
    (base ++ compacted)
      .filter(st => !removed.contains(st.getPath.getName))
      .map(st => (st.getPath.toString, st.getLen))
      .sortBy(_._1)
  }

  /** The next unused compaction id: past every marker, (staging) dir and
    * published manifest file of a compaction, committed or not.
    */
  private def nextCompactionId(outDir: String, conf: Configuration): Long = {
    val fs = fsOf(outDir, conf)
    val root = compactRoot(outDir)
    val ids = (if (fs.exists(root)) fs.listStatus(root) else Array.empty[FileStatus]).flatMap { st =>
      val n = st.getPath.getName
      val core =
        if (st.isFile && n.matches("c\\d+\\.json")) Some(n.stripPrefix("c").stripSuffix(".json"))
        else if (st.isDirectory && n.matches("c\\d+(-tmp)?")) Some(n.stripPrefix("c").stripSuffix("-tmp"))
        else None
      core.map(_.toLong)
    } ++ BlockParquet.manifestFiles(outDir, conf).map(_.getPath.getName).collect {
      case ManifestNameRe(n) => n.toLong
    }
    if (ids.isEmpty) 0L else ids.max + 1
  }

  /** The manifest file a rewrite publishes ([[commitRewrite]] step 4). */
  private val ManifestNameRe = raw"c(\d+)\.parquet".r

  private def writeAtomic(fs: FileSystem, dest: Path, content: String): Unit = {
    val tmp = new Path(dest.getParent, s".tmp-${dest.getName}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, dest), s"rename $tmp -> $dest failed")
  }

  /** Rewrite small block files into ~`targetFileBytes` ones. Selects live
    * files under `smallFileBytes`, rewrites their rows (payload untouched —
    * this is a parquet-layout operation, block bytes move verbatim), and
    * commits via the marker protocol above. Rows are locally re-sorted on
    * (bin, block_seq) so parquet row-group `bin` stats stay tight in the
    * merged files. Returns None when fewer than `minInputFiles` qualify.
    *
    * Single maintainer at a time (Iceberg's assumption too): two concurrent
    * compactions could tombstone the same input twice — harmless for reads
    * (the union of markers is still consistent) but the second's output
    * would duplicate rows. Run from one scheduled job.
    */
  def compact(
      spark: SparkSession,
      outDir: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      minInputFiles: Int = 2
  ): Option[CompactionResult] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // sequence-scoped deletes apply per FILE (committed before/after the
    // delete); compacting files from both sides of a live delete into one
    // rewrite would lose that attribution and mis-apply the delete. Iceberg
    // imposes the same order (rewrite deletes before data files).
    require(
      Deletes.liveDeletes(outDir, conf, asOf = None).isEmpty,
      s"$outDir has live equality deletes — run purgeDeletes before compact " +
        "(compaction cannot preserve per-file delete scoping)"
    )
    val victims = liveBlockFiles(outDir, conf).filter(_._2 < smallFileBytes)
    if (victims.length < minInputFiles) return None

    val cid = nextCompactionId(outDir, conf)
    val victimBytes = victims.map(_._2).sum
    val nOut = math.max(1, math.ceil(victimBytes.toDouble / targetFileBytes).toInt)

    // 1. stage: coalesce (no shuffle — file merge, not redistribution) and
    // re-cluster rows locally so bin row-group stats survive the merge
    import spark.implicits._
    val blocks = readVictims(spark, victims.map(_._1))
      .coalesce(nOut)
      .sortWithinPartitions(col("bin"), col("block_seq"))
      .as[EncodedBlock]
    val staged = stageRewrite(blocks.rdd, outDir, cid)

    val (added, addedBytes) =
      commitRewrite(conf, outDir, cid, staged, victims, victimBytes, extraMarkerFields = Map.empty)
    val moved = staged.map(_.bin).distinct.length
    Some(CompactionResult(cid, victims.length, added.length, victimBytes, addedBytes, moved))
  }

  /** Rewrite EVERY live block through the CURRENT codec auto-selector with
    * the dir's own tables and layout — the in-place upgrade path for dirs
    * written before a newer codec joined selection (a pre-delta/dhybrid dir
    * inherits the residual-codec wins without re-ingesting the source).
    * Decoded content is unchanged (same rows, same tables); only per-block
    * codec choices and payload bytes move. Commits ONLY when the staged
    * rewrite is strictly smaller than the live bytes; otherwise the staging
    * dir is discarded and None is returned — the dir is already at or below
    * the current selector's size, and an equal-size rewrite would just
    * churn files. Same delete-scoping rule as [[compact]]: purge first.
    */
  def recompress(spark: SparkSession, outDir: String): Option[CompactionResult] = {
    import spark.implicits._
    import graft.core.MiniJson.ObjOps
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    require(
      Deletes.liveDeletes(outDir, conf, asOf = None).isEmpty,
      s"$outDir has live equality deletes — run purgeDeletes before recompress " +
        "(a full rewrite cannot preserve per-file delete scoping)"
    )
    val victims = liveBlockFiles(outDir, conf)
    if (victims.isEmpty) return None
    val meta = EncodeJob
      .loadMeta(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/meta.json missing"))
    val tables = EncodeJob
      .loadTables(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/header.bin missing"))
    // one tiny metadata scan: the dir's self-describing convention (keep
    // embedding iff any live block embeds) + the full bin set to re-encode
    val blocksDf = readVictims(spark, victims.map(_._1))
    val metaRow = blocksDf
      .agg(max(col("embedded_tables")), collect_set(col("bin")))
      .head()
    val affected = metaRow.getSeq[Int](1).toSet
    val cfg = EncodeJob.reencodeConfig(meta, tables, embed = metaRow.getBoolean(0))
    val bTables = spark.sparkContext.broadcast(tables)
    val cid = nextCompactionId(outDir, conf)
    val rows = GraftPipeline.decode(blocksDf.as[EncodedBlock], bTables, cfg)
    val staged = stageRewrite(GraftPipeline.route(rows, cfg, Some(affected)).blocks(bTables), outDir, cid)
    val tmpDir = rewriteStaging(outDir, cid)
    val stagedBytes = staged.map(_.file).distinct.map(n => fs.getFileStatus(new Path(tmpDir, n)).getLen).sum
    val victimBytes = victims.map(_._2).sum
    if (stagedBytes >= victimBytes) {
      fs.delete(tmpDir, true)
      return None
    }
    val (added, addedBytes) =
      commitRewrite(conf, outDir, cid, staged, victims, victimBytes, extraMarkerFields = Map.empty)
    Some(CompactionResult(cid, victims.length, added.length, victimBytes, addedBytes, affected.size))
  }

  final case class RebinResult(
      cid: Long,
      baseSnapshot: Long,
      numBinsBefore: Int,
      numBinsAfter: Int,
      filesRewritten: Int,
      filesAdded: Int
  )

  /** Change the table's bin layout IN PLACE — the repair for a corpus that
    * outgrew its bootstrap bin count (or whose salt must rotate): the
    * `_bin`-metadata skew inspection finds overgrown bins; this fixes them.
    * At 100 TB this is the ONE maintenance op that re-shuffles the whole
    * corpus (routing is a function of numBins/salt, so every row may move) —
    * which is exactly why it is an explicit, schedulable rewrite rather
    * than an implicit behavior; everything else (point-read locality, SPJ
    * co-partitioning, resume granularity) then keys off the new layout.
    *
    * Mechanics: decode every live block with the dir's own symbol tables,
    * re-encode through the SAME block kernel under the new routing (decoded
    * content is unchanged by construction — tables, contexts and rows are
    * identical; only bin assignment moves), and commit via the compaction
    * marker protocol with the new layout IN the marker: the one atomic
    * marker rename flips the live file set AND the row→bin routing together
    * (readers resolve layout as meta.json overridden by [[rebinState]], and
    * scan planners derive both views from one marker listing —
    * [[liveBlockFilesFrom]]), so no reader can pair new files with old
    * routing.
    *
    * History: a bin-delta snapshot lineage is meaningless across a routing
    * change (old bins_added ids would be reinterpreted in the new space),
    * so rebin FOLDS all history into one new base snapshot — id = previous
    * max + 1, claiming every new-layout bin — carrying writer epoch marks
    * (streaming-sink retry idempotence survives, as with snapshot expiry)
    * and retired delete names (vacuum keeps telling them apart from
    * orphans) forward. Time travel, incremental reads and stream
    * checkpoints older than the base refuse loudly: maintenance coarsened
    * reachable history, the compaction/purge stance. The fold runs in
    * [[healRebin]] AFTER the marker commit; a crash in between leaves a
    * table that reads correctly at its current state (layout override) but
    * refuses pre-rebin history — [[vacuum]] completes the heal.
    *
    * Contract: single maintainer, and like [[purgeDeletes]] no concurrent
    * appends (a content redistribution cannot tolerate the race verbatim
    * moves can); live equality deletes refuse (purge first — per-file
    * delete scoping cannot survive a full rewrite, same as compact). A
    * no-op (same layout) returns None without committing anything.
    */
  def rebin(
      spark: SparkSession,
      outDir: String,
      newNumBins: Int,
      newSalt: Option[Long] = None,
      healAfterCommit: Boolean = true
  ): Option[RebinResult] = {
    import spark.implicits._
    import graft.core.MiniJson.ObjOps
    require(newNumBins >= 1, "newNumBins must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    // complete any interrupted prior rebin before folding history again
    healRebin(spark, outDir)
    require(
      Deletes.liveDeletes(outDir, conf, asOf = None).isEmpty,
      s"$outDir has live equality deletes — run purgeDeletes before rebin " +
        "(per-file delete scoping cannot survive a full redistribution)"
    )
    // every current snapshot id is pre-base by construction, so ANY tag
    // would be destroyed by the history fold — refuse rather than break a
    // retention anchor silently (strict: an unparseable tag also refuses)
    val tags = Refs.listTags(outDir, conf, strict = true)
    require(
      tags.isEmpty,
      s"$outDir has tags (${tags.map(_._1).mkString(", ")}) — rebin folds all history, " +
        "which would break them; drop the tags first"
    )
    val meta = EncodeJob
      .loadMeta(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/meta.json missing"))
    val tables = EncodeJob
      .loadTables(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/header.bin missing"))
    val version = meta.longOpt("format_version").map(_.toInt)
    require(
      version.contains(EncodeJob.FormatVersion),
      s"$outDir blocks format v${version.getOrElse(1)} != engine v${EncodeJob.FormatVersion}"
    )
    val oldNumBins = meta.long("num_bins").toInt
    val oldSalt = meta.long("salt")
    val salt = newSalt.getOrElse(oldSalt)
    if (newNumBins == oldNumBins && salt == oldSalt) return None

    // the fold rewrites history, so it must see ALL of it: an unreadable
    // snapshot could hide writer marks or delete lineage that would then be
    // lost for good (the same strict gate vacuum's destructive sweep uses)
    val records = EncodeJob.loadSnapshotRecords(outDir, conf)
    val snapIds = EncodeJob.listSnapshotIds(outDir, conf)
    require(
      records.map(_.id).sorted == snapIds,
      s"$outDir: a snapshot file is unreadable or in flight — rebin folds the " +
        "lineage and refuses to run off a partial read"
    )
    val (base, _) = EncodeJob.nextSnapshotId(spark, outDir)
    val marks = records
      .flatMap(r => r.writerMarks ++ r.writerId.zip(r.writerEpoch))
      .groupMapReduce(_._1)(_._2)(math.max)
      .toSeq
      .sortBy(_._1)
    val dels = records.flatMap(_.deletesAdded).distinctBy(_._1).sortBy(_._1)

    val victims = liveBlockFiles(outDir, conf)
    val cid = nextCompactionId(outDir, conf)
    val staged =
      if (victims.isEmpty) Array.empty[EncodeJob.BinManifest] // fully-purged table: layout-only rebin
      else {
        val blocksDf = readVictims(spark, victims.map(_._1))
        val embed = blocksDf.agg(max(col("embedded_tables"))).head().getBoolean(0)
        val cfg = EncodeJob.reencodeConfig(meta, tables, embed).copy(numBins = newNumBins, salt = salt)
        val bTables = spark.sparkContext.broadcast(tables)
        val rows = GraftPipeline.decode(blocksDf.as[EncodedBlock], bTables, cfg)
        stageRewrite(GraftPipeline.route(rows, cfg, None).blocks(bTables), outDir, cid)
      }

    val extra = Map[String, MiniJson.J](
      "rebin_num_bins" -> MiniJson.JNum(newNumBins.toString),
      "rebin_salt" -> MiniJson.JNum(salt.toString),
      "rebin_base" -> MiniJson.JNum(base.toString),
      "rebin_table_hash" -> MiniJson.JNum(tables.tableHash.toString),
      "rebin_marked_writers" -> MiniJson.JArr(marks.toVector.map(m => MiniJson.JStr(m._1))),
      "rebin_marked_epochs" -> MiniJson.JArr(marks.toVector.map(m => MiniJson.JNum(m._2.toString))),
      "rebin_deletes" -> MiniJson.JArr(dels.toVector.map(d => MiniJson.JStr(d._1))),
      "rebin_delete_counts" -> MiniJson.JArr(dels.toVector.map(d => MiniJson.JNum(d._2.toString)))
    )
    // THE commit point: files + routing flip together
    val (added, _) =
      commitRewrite(conf, outDir, cid, staged, victims, victims.map(_._2).sum, extraMarkerFields = extra)
    if (healAfterCommit) healRebin(spark, outDir)
    Some(RebinResult(cid, base, oldNumBins, newNumBins, victims.length, added.length))
  }

  /** Complete a committed [[rebin]]'s post-commit work — idempotent, cheap
    * when already healed (one marker-file existence check), safe to call on
    * any dir. Steps, each individually recoverable:
    *   1. write the folded base snapshot `snap-<base>.json` (exclusive
    *      create; a torn write leaves a zero-length claim vacuum reclaims,
    *      after which the next heal rewrites it);
    *   2. delete every pre-rebin snapshot file (ids < base) — from here,
    *      old-id time travel fails with "not found" instead of the explicit
    *      rebin guard;
    *   3. rewrite meta.json's num_bins/salt to match (the marker override
    *      then becomes a no-op).
    * The rebin's new files were claimed in the new bin space before its
    * marker committed ([[commitRewrite]]), so no step touches the manifest.
    * A `c<cid>.rebin-healed` marker (written last) gates re-entry so vacuum
    * can call this unconditionally.
    */
  private[graft] def healRebin(spark: SparkSession, outDir: String): Unit = {
    import graft.core.MiniJson.ObjOps
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    val r = rebinState(outDir, conf).getOrElse(return)
    val healedMarker = new Path(compactRoot(outDir), s"c${r.cid}.rebin-healed")
    if (fs.exists(healedMarker)) return

    // 0. meta.json swap crash repair FIRST: a crash between step 3's delete
    // and rename leaves meta.json missing with the staged copy orphaned —
    // every raw meta read (including this heal's own step 3) would die
    // forever otherwise. The staged copy is complete (written and closed
    // before the delete), so renaming it back is always safe; step 3 then
    // re-verifies the layout fields regardless of which content came back.
    val metaPath0 = new Path(s"$outDir/_tables/meta.json")
    val metaTmp0 = new Path(metaPath0.getParent, s".tmp-${metaPath0.getName}")
    if (!fs.exists(metaPath0)) {
      require(
        fs.exists(metaTmp0),
        s"$outDir/_tables/meta.json missing and no staged rebin copy to recover from"
      )
      require(fs.rename(metaTmp0, metaPath0), s"recovering $metaPath0 from staged copy failed")
    }

    // 1. the folded base snapshot, reconstructed entirely from the marker.
    // A zero-length file is an UNCOMMITTED claim from a crashed heal (the
    // exclusive create succeeded, the content write did not) — treat it as
    // absent, or step 2 would delete all pre-rebin history around an empty
    // base and the healed marker would lock the loss in.
    val snapB = new Path(s"$outDir/_snapshots/snap-${r.baseSnapshot}.json")
    if (fs.exists(snapB) && fs.getFileStatus(snapB).getLen == 0)
      fs.delete(snapB, false): Unit
    if (!fs.exists(snapB)) {
      val binsJson = (0 until r.numBins).mkString("[", ",", "]")
      val marksW = r.marks.map(m => MiniJson.render(MiniJson.JStr(m._1))).mkString("[", ",", "]")
      val marksE = r.marks.map(_._2).mkString("[", ",", "]")
      val delsN = r.deletes.map(d => MiniJson.render(MiniJson.JStr(d._1))).mkString("[", ",", "]")
      val delsC = r.deletes.map(_._2).mkString("[", ",", "]")
      try
        EncodeJob.casWriteSnapshot(
          spark,
          outDir,
          () => (r.baseSnapshot, -1L),
          (_, _) =>
            s"""{"snapshot_id":${r.baseSnapshot},"parent_id":-1,"table_hash":${r.tableHash},
               |"num_bins":${r.numBins},"salt":${r.salt},"bins_added":$binsJson,
               |"marked_writers":$marksW,"marked_epochs":$marksE,
               |"deletes_added":$delsN,"deletes_counts":$delsC,
               |"rebased_from_rebin":${r.cid}}""".stripMargin,
          maxAttempts = 1
        ): Unit
      catch {
        // lost to a concurrent heal that just wrote it — success by other
        case e: IllegalStateException => if (!fs.exists(snapB)) throw e
      }
    }

    // 2. drop the folded pre-rebin history (including interrupted expiry
    // rebase tmps, whose ids are equally pre-rebin)
    val snapsDir = new Path(s"$outDir/_snapshots")
    if (fs.exists(snapsDir)) {
      fs.listStatus(snapsDir).foreach { st =>
        st.getPath.getName match {
          case EncodeJob.SnapNameRe(n) if n.toLong < r.baseSnapshot =>
            fs.delete(st.getPath, false): Unit
          case EncodeJob.TmpRebaseNameRe(n) if n.toLong < r.baseSnapshot =>
            fs.delete(st.getPath, false): Unit
          case _ =>
        }
      }
    }

    // 3. meta.json layout swap (atomic rename; raw read — the override
    // would mask the very staleness this step repairs)
    val metaPath = new Path(s"$outDir/_tables/meta.json")
    val in = fs.open(metaPath)
    val txt =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val orig = MiniJson.parseObject(txt, where = metaPath.toString)
    if (orig.long("num_bins") != r.numBins.toLong || orig.long("salt") != r.salt) {
      val updated = MiniJson.JObj(
        orig.v ++ Map(
          "num_bins" -> MiniJson.JNum(r.numBins.toString),
          "salt" -> MiniJson.JNum(r.salt.toString)
        )
      )
      // delete + rename, the expiry base-swap pattern (HDFS rename cannot
      // overwrite). The transient gap is tolerable here: a reader hitting
      // it fails loudly on the missing file, layout CORRECTNESS never
      // depends on meta.json once the marker committed (the override is
      // authoritative), and a crash in the gap re-runs this heal.
      val tmp = new Path(metaPath.getParent, s".tmp-${metaPath.getName}")
      val out = fs.create(tmp, true)
      try out.write(MiniJson.render(updated).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      require(fs.delete(metaPath, false), s"delete $metaPath failed")
      require(fs.rename(tmp, metaPath), s"rename $tmp -> $metaPath failed")
    }

    writeAtomic(fs, healedMarker, s"""{"cid":${r.cid}}""")
  }

  /** The staging dir of compaction `cid` (step 1 of the protocol). */
  private def rewriteStaging(outDir: String, cid: Long): Path = new Path(compactRoot(outDir), s"c$cid-tmp")

  /** Live block files as a block frame (known schema: no inference job). */
  private def readVictims(spark: SparkSession, files: Array[String]) =
    spark.read.schema(EncodeJob.BlockSchema).parquet(files.toIndexedSeq: _*)

  /** Step 1 of the marker commit protocol: stage `blocks` for compaction
    * `cid`; returns the stage tasks' reported rows (one per file and bin).
    */
  private def stageRewrite(blocks: RDD[EncodedBlock], outDir: String, cid: Long): Array[EncodeJob.BinManifest] =
    BlockParquet.stage(blocks, rewriteStaging(outDir, cid).toString, s"c$cid")

  /** Steps 2–5 of the marker commit protocol, shared by every rewrite:
    * rename the files the stage tasks reported (`staged`) into the
    * compaction's dir under globally unique names, drop the staging dir,
    * publish the reported rows under those names, then flip visibility
    * with ONE atomic marker write (tombstoning `victims`, publishing the
    * renamed files, plus any operation-specific marker fields). Returns
    * (published names, their total bytes).
    */
  private def commitRewrite(
      conf: Configuration,
      outDir: String,
      cid: Long,
      staged: Array[EncodeJob.BinManifest],
      victims: Array[(String, Long)],
      victimBytes: Long,
      extraMarkerFields: Map[String, MiniJson.J]
  ): (Seq[String], Long) = {
    // 2. unique, stable names for the manifest's file-name-keyed claims.
    // Every reported file holds blocks (a stage task writes no file for an
    // empty partition), so each published file is claimed by its rows.
    val fs = fsOf(outDir, conf)
    val tmpDir = rewriteStaging(outDir, cid)
    val finalDir = new Path(compactRoot(outDir), s"c$cid")
    fs.mkdirs(finalDir)
    val renamed = staged.map(_.file).distinct.sorted.zipWithIndex.map { case (name, k) =>
      val dest = new Path(finalDir, s"c$cid-$k.parquet")
      require(fs.rename(new Path(tmpDir, name), dest), s"rename $name -> $dest failed")
      name -> dest.getName
    }.toMap
    val added = renamed.values.toSeq.sorted
    val addedBytes = added.map(n => fs.getFileStatus(new Path(finalDir, n)).getLen).sum

    // 3. anything still staged is a failed or zombie attempt's file
    fs.delete(tmpDir, true): Unit

    // 4. the new files' rows, ignored by readers until the marker lands
    if (staged.nonEmpty)
      EncodeJob.publishManifest(conf, outDir, s"c$cid.parquet", staged.map(r => r.copy(file = renamed(r.file))))

    // 5. THE commit point: one atomic marker rename flips tombstones + adds
    val marker = MiniJson.render(
      MiniJson.JObj(
        Map(
          "cid" -> MiniJson.JNum(cid.toString),
          "removed" -> MiniJson.JArr(victims.toVector.map(v => MiniJson.JStr(new Path(v._1).getName))),
          "added" -> MiniJson.JArr(added.toVector.map(MiniJson.JStr)),
          "bytes_removed" -> MiniJson.JNum(victimBytes.toString),
          "bytes_added" -> MiniJson.JNum(addedBytes.toString)
        ) ++ extraMarkerFields
      )
    )
    writeAtomic(fs, new Path(compactRoot(outDir), s"c$cid.json"), marker)
    (added, addedBytes)
  }

  final case class PurgeResult(
      cid: Long,
      filesRewritten: Int,
      filesAdded: Int,
      deleteFilesApplied: Int,
      idsApplied: Long,
      binsRewritten: Int
  )

  /** Materialize the live equality deletes physically ([[Deletes]]): every
    * live block file holding a deleted bin is decoded (with the dir's
    * persisted symbol tables), its deleted rows dropped, and the survivors
    * re-encoded through the SAME block kernel — then committed through the
    * compaction marker protocol with the applied delete files recorded as
    * `applied_deletes` (retiring them from every read; vacuum reclaims them
    * after the grace window). Returns None when no live deletes exist.
    *
    * This is Iceberg's rewrite_data_files(delete-targeted) — after a purge,
    * scans pay zero merge-on-read overhead again and a doc_id can be
    * re-appended. Work scales with the DELETED BINS' data, not the corpus:
    * at 800k bins, dropping 1k docs rewrites ≤1k bins' files.
    *
    * Single-maintainer contract, like [[compact]] — and for purge that
    * includes NOT racing appends: an append that commits between the
    * victim listing and the marker would land rows in a deleted bin that
    * the rewrite never saw, and retiring the delete file would then unhide
    * them. (Compact tolerates that race because it moves rows verbatim;
    * purge changes content.) Schedule purges in the maintenance window,
    * not under live writers. Unlike compact, the rewrite CHANGES decoded
    * content (by design) — so snapshot time travel to ids older than an
    * applied delete fails loudly afterwards ([[Deletes.liveDeletes]]'s
    * reachability guard).
    */
  def purgeDeletes(spark: SparkSession, outDir: String): Option[PurgeResult] = {
    import spark.implicits._
    import graft.core.MiniJson.ObjOps
    val conf = spark.sparkContext.hadoopConfiguration
    val state = Deletes.liveDeletes(outDir, conf, asOf = None)
    if (state.isEmpty) return None

    // per delete file: its bin set — victim selection is sequence-scoped
    // PER FILE, so each data file is matched only against the delete files
    // that actually apply to it (committed after it) and share a bin
    val delBinsByName: Map[String, Set[Int]] = spark.read
      .parquet(state.paths(outDir): _*)
      .select(input_file_name().as("df"), $"bin")
      .distinct()
      .as[(String, Int)]
      .collect()
      .groupBy(t => t._1.substring(t._1.lastIndexOf('/') + 1))
      .view
      .mapValues(_.map(_._2).toSet)
      .toMap

    // ONE distributed metadata scan over the live files' tiny bin/
    // embedded_tables columns answers everything the rewrite plan needs:
    // each file's FULL bin set (victim matching and the bins to re-encode)
    // and whether any victim block embeds
    // its tables (the rewrite then preserves the dir's self-describing
    // convention). Driver memory is one row per live file — the
    // manifest-index scale.
    val live = liveBlockFiles(outDir, conf)
    val fileMeta: Array[(String, Set[Int], Boolean)] =
      if (live.isEmpty) Array.empty
      else
        spark.read
          .parquet(live.map(_._1).toIndexedSeq: _*)
          .select(input_file_name().as("f"), col("bin"), col("embedded_tables"))
          .groupBy($"f")
          .agg(collect_set($"bin").as("bins"), max($"embedded_tables").as("embed"))
          .as[(String, Seq[Int], Boolean)]
          .collect()
          .map { case (f, bins, e) => (f.substring(f.lastIndexOf('/') + 1), bins.toSet, e) }
    val fileSnaps: Map[String, Long] = EncodeJob
      .loadSnapshotRecords(outDir, conf)
      .flatMap(r => r.filesAdded.map(_ -> r.id))
      .toMap
    // victims grouped by their APPLICABLE delete set: a file committed
    // after a delete (e.g. a replace's new blocks) is not rewritten for it,
    // and each rewrite group anti-joins exactly its own deletes' ids
    val victimsMeta: Array[(String, Set[Int], Boolean, Seq[String])] =
      fileMeta.flatMap { case (name, bins, emb) =>
        val snap = fileSnaps.getOrElse(name, -1L)
        val appl = state.live.collect {
          case d
              if d.snapshotId > snap &&
                delBinsByName.getOrElse(d.name, Set.empty).exists(bins.contains) =>
            d.name
        }.sorted
        if (appl.nonEmpty) Some((name, bins, emb, appl)) else None
      }
    val victimNames = victimsMeta.map(_._1).toSet
    val victims = live.filter(f => victimNames.contains(f._1.substring(f._1.lastIndexOf('/') + 1)))
    val affected: Set[Int] = victimsMeta.iterator.flatMap(_._2).toSet
    val embed = victimsMeta.exists(_._3)

    val cid = nextCompactionId(outDir, conf)
    val meta = EncodeJob
      .loadMeta(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/meta.json missing"))
    val tables = EncodeJob
      .loadTables(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/header.bin missing"))
    val appliedField = Map(
      "applied_deletes" -> MiniJson.JArr(state.live.toVector.map(d => MiniJson.JStr(d.name)))
    )

    val cfg = EncodeJob.reencodeConfig(meta, tables, embed)
    val bTables = spark.sparkContext.broadcast(tables)
    val liveByName = live.map(f => (f._1.substring(f._1.lastIndexOf('/') + 1), f._1)).toMap

    // 1. stage the re-encoded survivors (same kernel as the batch encoder),
    // one rewrite per applicable-delete-set group so each file loses
    // exactly the rows its OWN deletes hide. The routing exchange is sized
    // to the AFFECTED bins, not the table's bin count — purging 1k docs of
    // an 800k-bin corpus must not launch 800k near-empty shuffle tasks.
    // Deleted ids that hit no live bins (already-purged dirs, unknown ids)
    // stage nothing: the empty rewrite still retires the delete files.
    val staged = victimsMeta.groupBy(_._4).toArray.flatMap { case (delNames, members) =>
      val groupFiles = members.map(m => liveByName(m._1))
      val groupBins = members.iterator.flatMap(_._2).toSet
      val rows = GraftPipeline.decode(readVictims(spark, groupFiles).as[EncodedBlock], bTables, cfg)
      val ids = spark.read
        .parquet(delNames.map(n => s"$outDir/_deletes/$n"): _*)
        .select($"doc_id")
      val kept = rows
        .join(ids, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"tokens", $"n_tok", $"source")
        .as[TokenRow]
      stageRewrite(GraftPipeline.route(kept, cfg, Some(groupBins)).blocks(bTables), outDir, cid)
    }
    val (added, _) = commitRewrite(
      conf, outDir, cid, staged, victims, victims.map(_._2).sum, extraMarkerFields = appliedField
    )

    Some(
      PurgeResult(cid, victims.length, added.length, state.live.size, state.totalIds, affected.size)
    )
  }

  /** Physically delete what committed compactions tombstoned, plus crash
    * leftovers: staging dirs (`c<n>-tmp`), markerless compaction dirs, and
    * stale parquet `_temporary` job dirs under blocks/. `olderThanMs` is the
    * in-flight-reader grace window — only markers/dirs at least that old are
    * acted on (a reader planned against a pre-compaction listing must finish
    * before its input files disappear; Iceberg's
    * `remove_orphan_files(older_than)` makes the same trade).
    */
  def vacuum(spark: SparkSession, outDir: String, olderThanMs: Long = 0L): VacuumResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    val root = compactRoot(outDir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var filesDeleted = 0
    var dirsDeleted = 0

    // tombstoned data files + retired (purge-applied) delete files, from
    // old-enough markers
    val (oldRemoved: Set[String], oldRetiredDeletes: Set[String]) =
      if (!fs.exists(root)) (Set.empty[String], Set.empty[String])
      else {
        val parsed = fs
          .listStatus(root)
          .filter(st => st.isFile && st.getPath.getName.matches("c\\d+\\.json") && st.getModificationTime <= cutoff)
          .map { st =>
            val in = fs.open(st.getPath)
            val txt =
              try new String(in.readAllBytes(), StandardCharsets.UTF_8)
              finally in.close()
            scala.util
              .Try {
                val o = MiniJson.parseObject(txt, where = st.getPath.toString)
                (o.strArrOpt("removed").getOrElse(Seq.empty), o.strArrOpt("applied_deletes").getOrElse(Seq.empty))
              }
              .getOrElse((Seq.empty[String], Seq.empty[String]))
          }
        (parsed.flatMap(_._1).toSet, parsed.flatMap(_._2).toSet)
      }
    if (oldRemoved.nonEmpty) {
      val blocksDir = new Path(s"$outDir/blocks")
      val candidateDirs =
        (if (fs.exists(blocksDir)) Seq(blocksDir) else Seq.empty) ++
          (if (fs.exists(root))
             fs.listStatus(root).filter(st => st.isDirectory && st.getPath.getName.matches("c\\d+")).map(_.getPath).toSeq
           else Seq.empty)
      candidateDirs.foreach { d =>
        fs.listStatus(d).foreach { st =>
          if (st.isFile && oldRemoved.contains(st.getPath.getName)) {
            if (fs.delete(st.getPath, false)) filesDeleted += 1
          }
        }
      }
    }

    // crash leftovers: staging dirs and committed-dir-without-marker
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && st.getModificationTime <= cutoff) {
          val orphan =
            n.matches("c\\d+-tmp") ||
              (n.matches("c\\d+") && !fs.exists(new Path(root, s"$n.json")))
          if (orphan && fs.delete(st.getPath, true)) dirsDeleted += 1
        }
      }
    }

    // a parquet job that died mid-write leaves blocks/_temporary
    val tmp = new Path(s"$outDir/blocks/_temporary")
    if (fs.exists(tmp) && fs.getFileStatus(tmp).getModificationTime <= cutoff)
      if (fs.delete(tmp, true)) dirsDeleted += 1

    // a DSv2 append or EncodeJob run whose driver died before commit
    // leaves staged task files under _write_staging/<queryId> or
    // _write_staging/encode-<run>. The grace window protects LIVE writers
    // (each staged file refreshes the dir's mtime): run vacuum with
    // olderThanMs longer than the longest in-flight append, epoch or encode.
    val wstage = new Path(s"$outDir/_write_staging")
    if (fs.exists(wstage)) {
      fs.listStatus(wstage).foreach { st =>
        if (st.isDirectory && st.getModificationTime <= cutoff)
          if (fs.delete(st.getPath, true)) dirsDeleted += 1
      }
    }

    // delete-file debris under _deletes/: retired files a committed purge
    // already applied (readers stopped consulting them at the marker
    // commit — the grace window protects reads planned before it), plus
    // crashed deleteDocs staging dirs
    val delDir = new Path(s"$outDir/_deletes")
    if (fs.exists(delDir)) {
      fs.listStatus(delDir).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && oldRetiredDeletes.contains(n) && st.getModificationTime <= cutoff) {
          if (fs.delete(st.getPath, false)) filesDeleted += 1
        } else if (st.isDirectory && n.startsWith(".tmp-") && st.getModificationTime <= cutoff) {
          if (fs.delete(st.getPath, true)) dirsDeleted += 1
        }
      }
    }

    // token-index build staging a crashed build left behind (committed
    // tix-/tfs- files are never swept here — a stale entry is keyed to a
    // file name that no longer exists and costs nothing; a FULL rebuild
    // retires them)
    val tixDir = new Path(s"$outDir/${graft.sources.TokenIndex.DirName}")
    if (fs.exists(tixDir)) {
      fs.listStatus(tixDir).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".tmp-") && st.getModificationTime <= cutoff)
          if (fs.delete(st.getPath, true)) dirsDeleted += 1
      }
    }

    // content/signature-index build staging (committed cix-/six- BUILD DIRS
    // are never swept — entries keyed to dead file names are ignored by
    // readers and cost nothing; legacy flat parquet files from the
    // pre-build-dir layout ARE reclaimed, the protocol's sweep handles
    // both). Signature index dirs are per-params (_sig_index_n4_k64, ...),
    // so sweep every matching dir.
    val sigProtocols = fs
      .listStatus(new Path(outDir))
      .collect {
        case st
            if st.isDirectory &&
              st.getPath.getName.startsWith(graft.sources.SignatureIndex.DirPrefix) =>
          new graft.sources.SidecarProtocol(st.getPath, "six-")
        case st
            if st.isDirectory &&
              st.getPath.getName.startsWith(graft.sources.SignatureIndex.SketchDirPrefix) =>
          new graft.sources.SidecarProtocol(st.getPath, "skx-")
        case st
            if st.isDirectory &&
              st.getPath.getName.startsWith(graft.sources.AuxColumn.DirPrefix) =>
          new graft.sources.SidecarProtocol(st.getPath, "col-")
      }
    (sigProtocols :+ graft.sources.ContentIndex.protocol(outDir)).foreach { p =>
      val (d, f) = p.sweep(conf, cutoff)
      dirsDeleted += d
      filesDeleted += f
    }

    // a driver killed BETWEEN publishing appended files into blocks/ and
    // the snapshot write leaves orphans: visible to scans (kept
    // conservatively) but in no snapshot's files_added, so a retried epoch
    // or job re-appends their rows — duplicates until reclaimed. Appended
    // files are the only "w-"-named ones in blocks/, so lineage membership
    // identifies orphans exactly (snapshot expiry folds files_added into
    // the rebased base, which keeps committed files out of this set). The
    // grace window protects the publish→snapshot commit in flight.
    //
    // This sweep DELETES data based on what the lineage claims, so it must
    // not run off a partial read: first complete any interrupted expiry
    // base swap, then require every snapshot file to have parsed — if one
    // is unreadable (corrupt, or a concurrent in-flight write) its
    // files_added would silently read as empty and its committed appends
    // as orphans. Skipping the sweep is always safe; orphans only cost
    // duplicate rows until a later vacuum reclaims them.
    // a writer that died between claiming its snapshot id (atomic exclusive
    // create — see EncodeJob.casWriteSnapshot) and writing the content
    // leaves a zero-length snap file: logically uncommitted, skipped by
    // lineage readers, but it blocks the strict all-snapshots-parse gates
    // (the orphan sweep below, append cold-start) forever. Reclaim it after
    // the grace window; its id becomes reusable, which is clean — the dead
    // claim never carried lineage.
    val snapsDir = new Path(s"$outDir/_snapshots")
    if (fs.exists(snapsDir)) {
      fs.listStatus(snapsDir).foreach { st =>
        if (
          st.isFile && st.getLen == 0 && st.getPath.getName.matches("snap-\\d+\\.json") &&
          st.getModificationTime <= cutoff
        )
          if (fs.delete(st.getPath, false)) filesDeleted += 1
      }
    }

    // complete an interrupted rebin's history fold — the strict lineage
    // gate below depends on it, and until the fold runs, pre-rebin history
    // reads keep refusing. Gated on a healed marker, so this is one
    // existence check on already-healed (or never-rebinned) dirs. Runs
    // after the zero-length-snapshot reclaim above so a torn base-snapshot
    // write from a crashed heal is rewritten in the same vacuum.
    healRebin(spark, outDir)

    val blocksDir = new Path(s"$outDir/blocks")
    if (fs.exists(blocksDir)) {
      repairRebase(fs, outDir)
      val snapIds = EncodeJob.listSnapshotIds(outDir, conf)
      val records = EncodeJob.loadSnapshotRecords(outDir, conf)
      // compare the id SEQUENCES, not counts: a name-unparseable extra file
      // could otherwise mask an unreadable snapshot (and a record whose
      // content id disagrees with its file name is equally untrustworthy)
      if (records.map(_.id).sorted == snapIds) {
        val lineage = records.flatMap(_.filesAdded).toSet
        fs.listStatus(blocksDir).foreach { st =>
          val n = st.getPath.getName
          if (
            st.isFile && n.startsWith("w-") && n.endsWith(".parquet") &&
            !lineage.contains(n) && st.getModificationTime <= cutoff
          )
            if (fs.delete(st.getPath, false)) filesDeleted += 1
        }
        // same sweep for delete files: a deleteDocs driver killed between
        // the rename and the snapshot write leaves a del-* file in no
        // lineage — inert (readers only apply lineage-recorded deletes) but
        // disk debris. The same strict all-snapshots-parse gate applies: an
        // unreadable snapshot could hide the deletes_added that proves a
        // file committed.
        if (fs.exists(delDir)) {
          val delLineage = records.flatMap(_.deletesAdded.map(_._1)).toSet
          fs.listStatus(delDir).foreach { st =>
            val n = st.getPath.getName
            if (
              st.isFile && n.startsWith("del-") && n.endsWith(".parquet") &&
              !delLineage.contains(n) && st.getModificationTime <= cutoff
            )
              if (fs.delete(st.getPath, false)) filesDeleted += 1
          }
        }
      }
    }

    VacuumResult(filesDeleted, dirsDeleted)
  }

  /** Consolidate the append-only `_manifest` into ONE parquet file holding
    * the rows of the live files. Every commit appends a manifest file, so a
    * year of daily deltas plus compactions is hundreds of driver-side
    * parquet opens per index build; after consolidation it is one. First,
    * live files no row names (streaming epochs, files claimed only by a
    * pre-v5 manifest) get their rows ([[EncodeJob.appendManifest]]).
    *
    * Reader-safe without coordination: the consolidated file REPEATS the
    * live files' rows verbatim, and readers key rows by (file, bin), so a
    * reader that lists old files, new file, or both sees the same claims.
    * Order: write the consolidated file in (atomic single-file rename),
    * then delete the files listed BEFORE the write — a crash mid-delete
    * leaves repeated rows, which count once, and the next rewrite retires
    * them. Rows of files that are not live are dropped, so, like every
    * maintenance op, run it with no writer mid-commit (a commit publishes
    * its rows before its files go live). Returns a no-op result when the
    * manifest already is a single file.
    */
  def rewriteManifests(spark: SparkSession, outDir: String): RewriteManifestsResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    if (!fs.exists(new Path(s"$outDir/blocks"))) return RewriteManifestsResult(0, 0, 0L)
    val numBins = EncodeJob
      .loadMeta(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/meta.json missing"))
      .long("num_bins")
      .toInt
    EncodeJob.appendManifest(spark, outDir, (0 until numBins).toSet, 0L)
    val before = BlockParquet.manifestFiles(outDir, conf)
    if (before.length <= 1) return RewriteManifestsResult(before.length, before.length, -1L)

    val live = liveBlockFiles(outDir, conf).map(f => new Path(f._1).getName).toSet
    val kept = BlockParquet
      .readManifest(before.toSeq, conf)
      .rows
      .filter(r => live(r.file))
      .distinctBy(r => (r.file, r.bin))
    // unique name: never collides with other manifest files or prior rewrites
    EncodeJob.publishManifest(conf, outDir, s"consolidated-${System.nanoTime()}.parquet", kept)
    before.foreach(st => fs.delete(st.getPath, false): Unit)
    RewriteManifestsResult(before.length, 1, kept.map(_.bin).distinct.length.toLong)
  }

  /** Expire all but the newest `keepLast` snapshots. The oldest RETAINED
    * snapshot is rebased: the expired prefix's `bins_added` fold into it
    * (compaction of the lineage, not the data — block files are untouched),
    * so reads as of any retained snapshot are unchanged and a fresh stream
    * still replays the full corpus. Time travel to an expired id fails
    * loudly (the id no longer exists). A RUNNING stream whose checkpoint
    * offset predates the rebase point will re-read the rebased snapshot's
    * merged bins on restart — at-least-once across an expiry, the same
    * contract Iceberg/Kafka give when history is truncated under a consumer.
    *
    * The base-snapshot swap is delete + rename (HDFS rename cannot
    * overwrite); [[EncodeJob.loadSnapshots]] tolerates the transient gap by
    * skipping unreadable/in-flight files. Run from the single maintenance
    * writer, not concurrently with encodes.
    */
  def expireSnapshots(spark: SparkSession, outDir: String, keepLast: Int): ExpireResult = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    repairRebase(fs, outDir)
    val records = EncodeJob.loadSnapshotRecords(outDir, conf)
    val snaps = records.map(r => (r.id, r.binsAdded))
    if (snaps.size <= keepLast) return ExpireResult(Seq.empty, None)

    // tagged snapshots are retention anchors ([[Refs]]): the cut never
    // crosses the oldest tagged id that IS in the lineage — folding INTO a
    // tagged snapshot is fine (reads as of retained ids are unchanged by
    // the fold), folding it AWAY is exactly what a tag exists to prevent.
    // Iceberg's expire gives tags the same immunity. The listing is STRICT
    // (an unparseable tag refuses the expiry — proceeding off a partial tag
    // read is how an anchor gets silently destroyed); a DANGLING tag (id
    // not in the lineage) is already broken at read time and must neither
    // disable expiry forever nor — by being the minimum — unprotect the
    // live tags behind it, so the cap is the min over FOUND indexes.
    val requested = snaps.size - keepLast
    val taggedIdxs = Refs
      .listTags(outDir, conf, strict = true)
      .map(t => snaps.indexWhere(_._1 == t._2))
      .filter(_ >= 0)
    val cut = taggedIdxs.minOption.fold(requested)(math.min(requested, _))
    if (cut <= 0) return ExpireResult(Seq.empty, None)
    val expired = snaps.take(cut)
    val (baseId, baseBins) = snaps(cut)

    // Sequence scoping survives the fold ONLY if no ordering information it
    // depends on is erased: folding maps every expired id to the base id,
    // so a LIVE delete and a file-lineage append that both fold lose their
    // relative order — a delete that postdated the append would silently
    // stop applying (deleted rows resurrect). Refuse that case; purging the
    // delete first (which retires it) makes the expiry legal. Retired
    // deletes and appends-after-deletes fold safely (their relative order
    // never mattered or is preserved against RETAINED ids).
    val foldRange = records.filter(_.id <= baseId)
    val liveFoldingDeletes = {
      val retired = appliedDeleteNames(outDir, conf)
      foldRange.flatMap(r => r.deletesAdded.collect { case (n, _) if !retired.contains(n) => r.id })
    }
    val fileCommitIds = foldRange.filter(_.filesAdded.nonEmpty).map(_.id)
    val broken = liveFoldingDeletes.exists(sd => fileCommitIds.exists(_ < sd))
    require(
      !broken,
      s"$outDir: expiring past a live equality delete would fold away the file/delete " +
        "ordering its scoping depends on — run purgeDeletes first, then expire"
    )

    val mergedBins = (expired.flatMap(_._2) ++ baseBins).distinct.sorted

    // append snapshots carry more than bins: their files_added keep the
    // committed files distinguishable from orphans (vacuum would otherwise
    // reclaim live data), and their (writer_id, writer_epoch) is the
    // streaming sink's exactly-once key — a retried epoch whose snapshot
    // was expired must still see proof of its commit. Fold both into the
    // rebased base: files merge into files_added, writer identities become
    // (marked_writers, marked_epochs) pairs keeping the MAX epoch per
    // writer (epochs are monotonic per writer, so >= compares suffice).
    val expiredIds = expired.map(_._1).toSet
    val expiredRecs = records.filter(r => expiredIds.contains(r.id))
    val baseRec = records
      .find(_.id == baseId)
      .getOrElse(throw new IllegalStateException(s"snap-$baseId.json vanished during expiry"))
    val mergedFiles =
      (expiredRecs.flatMap(_.filesAdded) ++ baseRec.filesAdded).distinct.sorted
    val mergedMarks = (expiredRecs ++ Seq(baseRec))
      .flatMap(r => r.writerMarks ++ r.writerId.zip(r.writerEpoch))
      .groupMapReduce(_._1)(_._2)(math.max)
      .toSeq
      .sortBy(_._1)
    // delete lineage folds forward too: a live delete committed in the
    // expired prefix must keep applying to reads (and stay distinguishable
    // from orphan del-* files for vacuum). Names are unique, so distinct
    // suffices. NOTE: folding moves the delete's effective snapshot id UP
    // to the rebased base — exact time travel inside the expired prefix was
    // already impossible (those ids are gone), and at any retained id the
    // folded delete applies exactly as before.
    val mergedDeletes = (expiredRecs.flatMap(_.deletesAdded) ++ baseRec.deletesAdded)
      .distinctBy(_._1)
      .sortBy(_._1)

    val basePath = new Path(s"$outDir/_snapshots/snap-$baseId.json")
    val in = fs.open(basePath)
    val txt =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val orig = MiniJson.parseObject(txt, where = basePath.toString)
    val rebased = MiniJson.JObj(
      orig.v ++ Map(
        "bins_added" -> MiniJson.JArr(mergedBins.toVector.map(b => MiniJson.JNum(b.toString))),
        "files_added" -> MiniJson.JArr(mergedFiles.toVector.map(MiniJson.JStr)),
        "marked_writers" -> MiniJson.JArr(mergedMarks.toVector.map(m => MiniJson.JStr(m._1))),
        "marked_epochs" -> MiniJson.JArr(mergedMarks.toVector.map(m => MiniJson.JNum(m._2.toString))),
        "deletes_added" -> MiniJson.JArr(mergedDeletes.toVector.map(d => MiniJson.JStr(d._1))),
        "deletes_counts" -> MiniJson.JArr(mergedDeletes.toVector.map(d => MiniJson.JNum(d._2.toString))),
        "parent_id" -> MiniJson.JNum("-1"),
        "rebased_from" -> MiniJson.JNum(expired.map(_._1).min.toString)
      )
    )
    // the tmp name must NOT start with "snap-": the lineage loaders parse
    // every snap-* name's numeric id
    val tmp = new Path(s"$outDir/_snapshots/.tmp-rebase-$baseId.json")
    val out = fs.create(tmp, true)
    try out.write(MiniJson.render(rebased).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.delete(basePath, false), s"delete $basePath failed")
    require(fs.rename(tmp, basePath), s"rename $tmp -> $basePath failed")

    expired.foreach { case (id, _) =>
      fs.delete(new Path(s"$outDir/_snapshots/snap-$id.json"), false): Unit
    }
    ExpireResult(expired.map(_._1), Some(baseId))
  }

  /** Complete (or discard) an interrupted [[expireSnapshots]] base swap.
    * The swap is create-tmp → delete-base → rename; a crash between the
    * last two leaves the base snapshot missing and its merged content only
    * in `.tmp-rebase-*`. Lineage READERS tolerate the gap (the table stays
    * scannable), but vacuum's orphan sweep must not — the missing
    * files_added would make it read committed append files as orphans and
    * delete them. If the snap file exists the tmp is pre-delete debris and
    * is discarded instead.
    */
  final case class AdoptResult(
      snapshotId: Long,
      filesAdopted: Int,
      bytesAdopted: Long,
      rowsAdopted: Long,
      valuesAdopted: Long,
      /** doc_ids live on BOTH sides before the merge — each becomes a
        * same-id twin in the union (see the adopt guard's warning).
        */
      docIdOverlap: Long = 0L
  )

  /** Zero-recode merge: adopt another encode dir's live block files into
    * this one — the "union two crawls" step of a corpus lifecycle. At
    * 100 TB, re-encoding a corpus to merge it is the wrong plan by ~five
    * orders of magnitude: block files are self-contained (bin-keyed,
    * per-row bit index, optional embedded tables), so a merge is pure byte
    * movement — file copies (server-side on an object store) plus ONE
    * snapshot commit. No decode, no entropy coding, no shuffle.
    *
    * Adoptability is a layout contract, validated before any byte moves:
    * same `format_version`, same `(num_bins, salt)` (the bin column in
    * adopted blocks must mean the same routing — point reads, SPJ and
    * manifest pruning all key on it; [[rebin]] the source first if it
    * differs), same `context_model` and `table_hash` (payloads reference
    * the shared symbol tables; a source with different tables routes
    * through the DSv2 append instead, which re-encodes). Both dirs must be
    * fully encoded (every bin in snapshot lineage — the same rule the
    * append builder enforces), and the SOURCE must have no live deletes
    * (adopting its files verbatim would resurrect the deleted rows —
    * [[purgeDeletes]] first). The destination MAY have live deletes:
    * equality deletes are sequence-scoped, and adopted files postdate
    * them, so they correctly do not apply to the adopted rows.
    *
    * Commit protocol mirrors the DSv2 append exactly: copy into
    * `_write_staging/` (distributed, one task per file), verify the staged
    * blocks' recorded `table_hash` against the destination tables
    * (belt-and-braces against a source whose meta lies), rename into
    * `blocks/`, then ONE CAS-claimed snapshot with the adopted names as
    * `files_added` (consumed by time travel, incremental reads and the
    * streaming source) and the source dir recorded as `adopted_from`. The
    * adopted files' manifest rows come from the verification pass and are
    * published before the renames. A pre-snapshot failure rolls the
    * renames back. The source dir is never written. Adopted files carry no token-index
    * entries until the next `build_token_index` run (needle scans keep
    * them conservatively — `token_stats` shows them as indexed=false).
    */
  def adopt(spark: SparkSession, srcDir: String, dstDir: String): Option[AdoptResult] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = fsOf(srcDir, conf)
    val dstFs = fsOf(dstDir, conf)
    val srcQ = srcFs.makeQualified(new Path(srcDir))
    val dstQ = dstFs.makeQualified(new Path(dstDir))
    require(srcQ != dstQ, s"adopt: source and destination are the same dir ($srcQ)")

    // complete any committed-but-unhealed rebin on either side first: the
    // layout fields and live file sets read below must be post-fold
    healRebin(spark, dstDir)
    healRebin(spark, srcDir)

    def metaOf(dir: String): MiniJson.JObj =
      EncodeJob
        .loadMeta(spark, dir)
        .getOrElse(throw new IllegalArgumentException(s"$dir is not an encoded graft dir"))
    val srcMeta = metaOf(srcDir)
    val dstMeta = metaOf(dstDir)
    def checkVersion(dir: String, m: MiniJson.JObj): Unit = {
      val v = m.longOpt("format_version").map(_.toInt)
      require(
        v.contains(EncodeJob.FormatVersion),
        s"$dir blocks format v${v.getOrElse(1)} != engine v${EncodeJob.FormatVersion}"
      )
    }
    checkVersion(srcDir, srcMeta)
    checkVersion(dstDir, dstMeta)
    def layoutField(name: String): (Long, Long) = {
      def of(dir: String, m: MiniJson.JObj) = m
        .longOpt(name)
        .getOrElse(throw new IllegalArgumentException(s"$dir records no $name (pre-layout tables)"))
      (of(srcDir, srcMeta), of(dstDir, dstMeta))
    }
    Seq("num_bins", "salt", "table_hash").foreach { f =>
      val (s, d) = layoutField(f)
      require(
        s == d,
        s"adopt: $f mismatch (source $s, destination $d) — " +
          (if (f == "table_hash")
             "different symbol tables; route through the DSv2 append (re-encode) instead"
           else "rebin the source into the destination's layout first")
      )
    }
    val srcModel = srcMeta.strOpt("context_model").getOrElse("simple")
    val dstModel = dstMeta.strOpt("context_model").getOrElse("simple")
    require(
      srcModel == dstModel,
      s"adopt: context_model mismatch (source $srcModel, destination $dstModel)"
    )
    val numBins = layoutField("num_bins")._2.toInt
    val expectedHash = layoutField("table_hash")._2

    def checkCovered(dir: String): Unit = {
      val covered = EncodeJob.loadSnapshots(dir, conf).flatMap(_._2).toSet
      require(
        (0 until numBins).forall(covered.contains),
        s"adopt: $dir is not fully encoded (${(0 until numBins).count(!covered.contains(_))} of " +
          s"$numBins bins missing from snapshot lineage) — finish EncodeJob.run first"
      )
    }
    checkCovered(srcDir)
    checkCovered(dstDir)

    val srcDeletes = Deletes.liveDeletes(srcDir, conf, None)
    require(
      srcDeletes.isEmpty,
      s"adopt: $srcDir has ${srcDeletes.totalIds} live deleted ids in ${srcDeletes.live.size} " +
        "delete file(s) — adopting its blocks verbatim would resurrect them; purge_deletes first"
    )

    val srcFiles = liveBlockFiles(srcDir, conf)
    if (srcFiles.isEmpty) return None

    // doc_id-overlap guard: adopted rows keep their ids verbatim, so an id
    // already live in the destination becomes a same-id content twin that a
    // doc_id-keyed equality delete can never thin (dedup_exact surfaces
    // them as same_id_groups but cannot delete them), and point lookups on
    // that id return two rows. Both sides are METADATA-ONLY scans (doc_id
    // streams, no entropy decode) and the shuffle carries ids only — the
    // cost any id-level check must pay, tiny next to a re-encode. Warn
    // loudly rather than refuse: the union of genuinely disjoint crawls is
    // the common case and must not grow a bypass flag.
    val docIdOverlap = {
      val srcIds = spark.read.format("graft").load(srcDir).select("doc_id").distinct()
      val dstIds = spark.read.format("graft").load(dstDir).select("doc_id")
      srcIds.join(dstIds, Seq("doc_id"), "left_semi").count()
    }
    if (docIdOverlap > 0L)
      System.err.println(
        s"adopt: WARNING — $docIdOverlap doc_id(s) in $srcDir are already live in $dstDir; " +
          "the union will hold same-id twins that equality deletes cannot separate " +
          "(dedup_exact reports them as same_id_groups). Re-id the source or purge the " +
          "destination ids first if id uniqueness matters."
      )

    val uid = java.util.UUID.randomUUID().toString
    val stagingDir = new Path(s"$dstDir/_write_staging/adopt-$uid")
    dstFs.mkdirs(stagingDir): Unit
    val plan = srcFiles.zipWithIndex.map { case ((path, size), i) =>
      (path, f"w-adopt-$uid%s-f$i%05d.parquet", size)
    }

    // distributed byte copy — the only data movement of the whole merge
    val stagingStr = stagingDir.toString
    val sConf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(conf))
    spark.sparkContext
      .parallelize(plan.toIndexedSeq, math.min(plan.length, spark.sparkContext.defaultParallelism * 2))
      .foreach { case (src, name, _) =>
        val c = sConf.value.value
        val from = new Path(src)
        val to = new Path(stagingStr, name)
        val ok = org.apache.hadoop.fs.FileUtil
          .copy(from.getFileSystem(c), from, to.getFileSystem(c), to, false, true, c)
        require(ok, s"adopt: copy $from -> $to failed")
      }

    // staged-content check + the snapshot's exact row/value accounting +
    // the adopted files' manifest rows, in one pass over the staged files
    val staged = plan.map(p => s"$stagingStr/${p._2}").toIndexedSeq
    val rows = EncodeJob.deriveManifest(spark, staged)
    val bad = rows.map(_.table_hash).filter(_ != expectedHash)
    require(
      bad.isEmpty,
      s"adopt: staged blocks record table_hash ${bad.headOption.getOrElse("")} but the " +
        s"shared tables hash to $expectedHash — $srcDir's meta.json does not match its blocks"
    )
    val (rowsAdopted, valuesAdopted) = (rows.map(_.n_rows).sum, rows.map(_.n_values).sum)

    val renamed = scala.collection.mutable.ArrayBuffer[String]()
    val snapshotId =
      try {
        EncodeJob.publishManifest(conf, dstDir, s"adopt-$uid.parquet", rows)
        plan.foreach { case (_, name, _) =>
          val dst = new Path(s"$dstDir/blocks", name)
          require(dstFs.rename(new Path(stagingDir, name), dst), s"adopt: rename to $dst failed")
          renamed += name
        }
        val filesJson =
          renamed.sorted.map(n => MiniJson.render(MiniJson.JStr(n))).mkString("[", ",", "]")
        EncodeJob
          .casWriteSnapshot(
            spark,
            dstDir,
            () => EncodeJob.nextSnapshotId(spark, dstDir),
            (id, parent) =>
              s"""{"snapshot_id":$id,"parent_id":$parent,"bins_added":[],
                 |"files_added":$filesJson,"writer_id":${MiniJson.render(MiniJson.JStr(s"adopt-$uid"))},
                 |"adopted_from":${MiniJson.render(MiniJson.JStr(srcQ.toString))},
                 |"n_rows_added":$rowsAdopted,"n_values_added":$valuesAdopted}""".stripMargin
          )
          ._1
      } catch {
        case err: Throwable =>
          renamed.foreach(n => scala.util.Try(dstFs.delete(new Path(s"$dstDir/blocks", n), false)))
          scala.util.Try(dstFs.delete(stagingDir, true))
          throw err
      }

    dstFs.delete(stagingDir, true): Unit

    Some(AdoptResult(snapshotId, renamed.size, plan.map(_._3).sum, rowsAdopted, valuesAdopted, docIdOverlap))
  }

  /** Exact-duplicate corpus dedup as ONE maintenance verb: find every group
    * of documents whose `tokens` arrays are identical and commit an equality
    * delete of all but one (`CALL graft.system.dedup_exact(path)`) — the
    * first pass of a web-scale curation pipeline (empty pages, error pages,
    * boilerplate mirrors), composed from the engine's own primitives so it
    * inherits their scale posture:
    *
    *   - Content identity is a 124-bit key: two independent
    *     [[graft.functions.TokenFold]] 62-bit chains (seeds 0 and 1) plus
    *     `n_tok`. The group-by therefore shuffles ~30 bytes per document —
    *     never the token payload (grouping by the arrays themselves would
    *     ship the corpus). At 10^12 docs the expected hash-collision count
    *     is ~5e-14; a collision's cost is one wrongly-deleted doc, the
    *     tradeoff every web-scale dedup (MinHash included) already makes.
    *   - KEEPER RULE: the lexicographically smallest `doc_id` per group
    *     (plain ASCII string order — deterministic, engine-independent, and
    *     recomputable by the DuckDB oracle with `min(doc_id)` on VARCHAR).
    *   - Hot keys (a boilerplate doc duplicated 10^8 times) stream: the
    *     keeper/count aggregate combines map-side, and the join-back that
    *     names the losers builds on the ONE keeper row per group while the
    *     member stream flows through — no per-group materialization
    *     (the round-3 `collect_list` lesson).
    *   - The commit is a merge-on-read equality delete
    *     ([[Deletes.deleteDocs]], one bin-sorted parquet + one CAS-claimed
    *     snapshot): no data file moves, readers hide the losers immediately,
    *     the physical rewrite is [[purgeDeletes]]' amortized job — exactly
    *     how a 100 TB dedup must land (rewriting half the corpus inline
    *     would be the week-long job this engine exists to avoid).
    *
    * Reads through the DSv2 relation, so live deletes are respected (an
    * already-deleted doc can neither keep nor lose) and time travel still
    * shows the pre-dedup corpus at earlier snapshots. Idempotent: a second
    * run finds no groups and commits nothing. The per-doc hash pass is one
    * full decode scan — the same cost any content pass pays.
    */
  final case class DedupExactResult(
      snapshotId: Option[Long],
      dupGroups: Long,
      docsDeleted: Long,
      /** Block files decoded for content hashes this run: -1 on the full-scan
        * path (every live file, inside the DSv2 scan), ≥0 on the incremental
        * path (only files the content index did not already cover).
        */
      filesHashed: Long = -1L,
      /** Duplicate-content groups whose members all share ONE doc_id (e.g. a
        * double-append of the same batch, or an adopt of an overlapping
        * crawl). A doc_id-keyed equality delete cannot thin such a group
        * without deleting its keeper too, so these are surfaced here rather
        * than counted in [[dupGroups]] — keeping the idempotence contract
        * honest: a second run reports `dupGroups == 0` even when same-id
        * twins remain (they need a physical rewrite, not a delete).
        */
      sameIdGroups: Long = 0L
  )

  /** The [[dedupExact]] dataflow over any (doc_id, tokens, n_tok) frame,
    * exposed for plan audits: `hashed` (returned PERSISTED — caller
    * unpersists) projects the token payload down to the two 62-bit folds
    * ON THE SCAN SIDE, so every exchange in `dupGroups`/`losers` moves
    * ~30-byte rows, never token arrays.
    */
  private[graft] def exactDedupPlan(
      corpus: org.apache.spark.sql.DataFrame
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val hashed = corpus
      .select(
        col("doc_id"),
        col("n_tok"),
        graft.functions.TokenFold.token_fold(col("tokens"), 0L).as("h1"),
        graft.functions.TokenFold.token_fold(col("tokens"), 1L).as("h2")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dupGroups, losers, _) = exactDedupGroups(hashed)
    (hashed, dupGroups, losers)
  }

  /** Group/keeper/loser stage shared by the full-scan and incremental paths:
    * both feed ~30-byte (doc_id, n_tok, h1, h2) rows, so the dedup SEMANTICS
    * (124-bit key, min-doc_id keeper) are one piece of code regardless of
    * where the hashes came from.
    *
    * A group is actionable only when it spans MORE THAN ONE distinct doc_id:
    * the delete commit is keyed on doc_id, so a group whose copies all carry
    * the same id (double-append / overlapping adopt) is returned separately
    * as `sameIdGroups` — deleting that id would take the keeper with it.
    */
  private def exactDedupGroups(
      hashed: org.apache.spark.sql.DataFrame
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val groups = hashed
      .groupBy("h1", "h2", "n_tok")
      .agg(
        min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_ids")
      )
      .where(col("n_copies") > 1)
    val dupGroups = groups.where(col("n_ids") > 1)
    val sameIdGroups = groups.where(col("n_ids") === 1)
    val losers = hashed
      .join(dupGroups, Seq("h1", "h2", "n_tok"))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    (dupGroups, losers, sameIdGroups)
  }

  /** With `incremental = true`, the content-hash pass reads the persistent
    * [[graft.sources.ContentIndex]] instead of decoding the corpus: only
    * live block files with no committed index entry are decoded (and their
    * entries published for the NEXT run), then entries are restricted to
    * live (file, doc) pairs by a metadata-only `_file`/doc_id scan when
    * equality deletes are live (skipped entirely on append-only corpora) —
    * so re-running
    * dedup on an append-mostly 100 TB corpus costs O(new data) decode plus
    * hash-row shuffles, not a full re-read. Same keeper rule, same delete
    * commit, same result as the full-scan path (the index pins its hashes
    * equal to `graft_token_fold` by spec).
    */
  def dedupExact(
      spark: SparkSession,
      outDir: String,
      incremental: Boolean = false
  ): DedupExactResult = {
    import spark.implicits._
    val (hashed, filesHashed) =
      if (!incremental)
        (exactDedupPlan(spark.read.format("graft").load(outDir))._1, -1L)
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val live = liveBlockFiles(outDir, conf).map(_._1)
        val (entries, built) = graft.sources.ContentIndex.ensure(spark, outDir, live)
        // entries cover live FILES; when equality deletes are live, restrict
        // to live (file, doc) pairs via the scan's `_file` metadata column —
        // a metadata-only read (no payload pages, no entropy decode) that
        // applies EXACTLY the scan's sequence-scoped delete rule, so a doc
        // deleted from an old file but re-appended later keeps its new
        // entry. Append-only corpora (no live deletes) skip the scan
        // entirely: the hash pass is then a pure sidecar parquet read.
        val liveRows =
          if (Deletes.liveDeletes(outDir, conf, asOf = None).isEmpty) entries
          else {
            val livePairs = spark.read
              .format("graft")
              .load(outDir)
              .select(col("_file").as("file"), col("doc_id"))
            entries.join(livePairs, Seq("file", "doc_id"), "left_semi")
          }
        val h = liveRows
          .select(col("doc_id"), col("n_tok"), col("h1"), col("h2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (h, built)
      }
    val (dupGroups, losers, sameIdGroups) = exactDedupGroups(hashed)
    try {
      // materialize the hash pass (and the group counts) BEFORE the delete
      // commits — a cache eviction after the commit would otherwise rescan
      // the post-delete corpus. Both counts re-aggregate the PERSISTED
      // ~30-byte hash rows, so the second is a cheap map-side-combined pass.
      val groups = dupGroups.count()
      val sameId = sameIdGroups.count()
      if (groups == 0L) DedupExactResult(None, 0L, 0L, filesHashed, sameId)
      else {
        val res = Deletes.deleteDocs(spark, outDir, losers.as[String])
        DedupExactResult(
          res.map(_.snapshotId),
          groups,
          res.map(_.idsRecorded).getOrElse(0L),
          filesHashed,
          sameId
        )
      }
    } finally hashed.unpersist(): Unit
  }

  /** NEAR-duplicate corpus dedup as one verb
    * (`CALL graft.system.dedup_near(path[, threshold])`): MinHash+LSH over
    * TOKEN n-gram shingles, exact-Jaccard verification at `threshold`,
    * connected-component resolution, and ONE merge-on-read equality-delete
    * snapshot keeping the lexicographically-smallest doc_id per cluster —
    * the boilerplate/template pass that exact dedup misses, run directly on
    * the compressed corpus. Every stage is an existing proven primitive:
    *
    *   - shingles = [[graft.ops.Dedup.tokenShingles]] (the eval-screen's
    *     gram-hash rule), signatures/banding/candidates =
    *     [[graft.ops.Dedup.minhashFromShingles]] /
    *     [[graft.ops.Dedup.lshCandidatePairs]] — bucket equi-joins with
    *     deterministic salt-split caps, never an all-pairs compare;
    *   - candidates verify by EXACT shingle-set Jaccard
    *     ([[graft.ops.Dedup.jaccard]], integer threshold test), so LSH is
    *     recall-only — a false bucket collision cannot delete a document;
    *   - near-similarity is not transitive, so pairs resolve to components
    *     ([[graft.ops.Dedup.resolveClusters]], min-label propagation, one
    *     shuffle per round) and exactly one doc per component survives.
    *
    * Cost: one decode scan + signature pass over ~k·8 bytes/doc, bucket
    * joins over doc-count-sized rows — the payload never shuffles. The
    * delete commits like [[dedupExact]]'s (no data files move). NOT
    * guaranteed single-pass-complete under hot-bucket salt caps: deleting
    * losers can regroup a capped bucket's salt windows and expose pairs a
    * first pass never compared (recall, never precision) — re-run until
    * `docsDeleted == 0` for a fixpoint; on healthy (non-degenerate) corpora
    * one pass is the fixpoint, and a second run costs one scan + hash pass.
    */
  final case class DedupNearResult(
      snapshotId: Option[Long],
      nPairs: Long,
      nClusters: Long,
      docsDeleted: Long,
      /** Block files decoded for signatures this run: -1 on the full-scan
        * path, ≥0 on the incremental ([[graft.sources.SignatureIndex]]) path.
        */
      filesSigned: Long = -1L
  )

  /** Shared back half of both near-dup paths: persist the verified pairs,
    * resolve components, commit the delete.
    */
  private def nearDupCommit(
      spark: SparkSession,
      outDir: String,
      pairsDf: org.apache.spark.sql.DataFrame,
      filesSigned: Long
  ): DedupNearResult = {
    import spark.implicits._
    val pairs =
      pairsDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nPairs = pairs.count()
      if (nPairs == 0L) DedupNearResult(None, 0L, 0L, 0L, filesSigned)
      else {
        val labels = graft.ops.Dedup.resolveClusters(pairs)
        try {
          val nClusters = labels.select(col("cluster")).distinct().count()
          val losers = labels
            .where(col("doc_id") =!= col("cluster"))
            .select(col("doc_id"))
            .as[String]
          val res = Deletes.deleteDocs(spark, outDir, losers)
          DedupNearResult(
            res.map(_.snapshotId),
            nPairs,
            nClusters,
            res.map(_.idsRecorded).getOrElse(0L),
            filesSigned
          )
          // the delete write materialized `losers`; the labels checkpoint
          // (resolveClusters' final round) can be dropped deterministically
          // instead of waiting on the ContextCleaner
        } finally graft.ops.Dedup.unpersistCheckpoint(labels)
      }
    } finally pairs.unpersist(): Unit
  }

  /** [[dedupNearFixpoint]]'s report: every pass's result in order, plus
    * whether the run CONVERGED (last pass deleted nothing) or stopped at
    * `maxPasses` with work possibly remaining.
    */
  final case class DedupNearFixpointResult(
      passes: Seq[DedupNearResult],
      converged: Boolean
  ) {
    def docsDeleted: Long = passes.map(_.docsDeleted).sum
    def nPairs: Long = passes.map(_.nPairs).sum
    def nClusters: Long = passes.map(_.nClusters).sum
  }

  /** The scaladoc'd "re-run until `docsDeleted == 0`" contract as ONE call:
    * bounded iteration of [[dedupNear]] to the fixpoint. Salt-capped hot
    * buckets are the only source of multi-pass work (deleting losers
    * regroups a capped bucket's salt windows and exposes pairs a first pass
    * never compared — recall, never precision), so healthy corpora converge
    * in one productive pass plus one cheap empty one; a degenerate corpus
    * (hot-bucket floods) converges geometrically, each pass shrinking every
    * capped window to its keeper. `maxPasses` bounds the worst case; the
    * result says whether the fixpoint was reached.
    */
  def dedupNearFixpoint(
      spark: SparkSession,
      outDir: String,
      threshold: Double = 0.7,
      shingleN: Int = 4,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1024,
      incremental: Boolean = false,
      maxPasses: Int = 8,
      sketch: Boolean = false
  ): DedupNearFixpointResult = {
    require(maxPasses >= 1, s"maxPasses must be >= 1, got $maxPasses")
    val passes = scala.collection.mutable.ArrayBuffer[DedupNearResult]()
    var converged = false
    while (!converged && passes.length < maxPasses) {
      val r =
        dedupNear(spark, outDir, threshold, shingleN, k, bands, maxBucket, incremental, sketch)
      passes += r
      converged = r.docsDeleted == 0L
    }
    DedupNearFixpointResult(passes.toSeq, converged)
  }

  /** With `incremental = true`, the signature pass (the verb's one
    * corpus-scale decode) reads the persistent
    * [[graft.sources.SignatureIndex]]: only uncovered live files are
    * decoded and signed, liveness follows the content-index rule (live
    * files; live (file, doc) pairs via `_file` when deletes exist), and the
    * exact-Jaccard verification re-derives shingles for CANDIDATE docs only
    * through a doc-pruned scan — LSH buckets admit a tiny fraction, so the
    * full-corpus decode disappears from the re-run entirely. Banding,
    * verification, clustering and the delete commit are the same code as
    * the full path; signatures are pinned equal by spec, so the two paths
    * are interchangeable on results.
    */
  def dedupNear(
      spark: SparkSession,
      outDir: String,
      threshold: Double = 0.7,
      shingleN: Int = 4,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1024,
      incremental: Boolean = false,
      /** With `incremental`: use the band-SKETCH sidecar (bands·4 B/doc)
        * instead of the full-signature one (k·8 B/doc) — banding needs only
        * band hashes, and exact verification never reads signatures, so the
        * result is the same modulo 1-in-4G extra (verified-away) candidates.
        */
      sketch: Boolean = false
  ): DedupNearResult = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0, 1], got $threshold")
    require(!sketch || incremental, "sketch => true requires incremental => true (the sketch IS a sidecar level)")
    if (!incremental) {
      val shingled = graft.ops.Dedup
        .tokenShingles(
          spark.read.format("graft").load(outDir).select(col("doc_id"), col("tokens")),
          shingleN
        )
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sigs = graft.ops.Dedup.minhashFromShingles(shingled, k)
        val cands = graft.ops.Dedup.lshCandidatePairs(sigs, bands, maxBucket)
        // integer-exact threshold test (the minhashNearDups rule)
        val pairs = graft.ops.Dedup
          .jaccard(cands, shingled)
          .where(col("uni") > 0 && col("inter").cast("double") >= col("uni") * threshold)
          .select(col("doc_a"), col("doc_b"))
        nearDupCommit(spark, outDir, pairs, filesSigned = -1L)
      } finally shingled.unpersist(): Unit
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      val live = liveBlockFiles(outDir, conf).map(_._1)
      val (entries, signed) =
        if (sketch)
          graft.sources.SignatureIndex.ensureSketch(spark, outDir, live, shingleN, k, bands)
        else graft.sources.SignatureIndex.ensure(spark, outDir, live, shingleN, k)
      val liveRows =
        if (Deletes.liveDeletes(outDir, conf, asOf = None).isEmpty) entries
        else {
          val livePairs = spark.read
            .format("graft")
            .load(outDir)
            .select(col("_file").as("file"), col("doc_id"))
          entries.join(livePairs, Seq("file", "doc_id"), "left_semi")
        }
      val keyed = (if (sketch) liveRows.select(col("doc_id"), col("bands"))
                   else liveRows.select(col("doc_id"), col("minhash")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cands = (if (sketch) graft.ops.Dedup.lshCandidatePairsFromBands(keyed, maxBucket)
                     else graft.ops.Dedup.lshCandidatePairs(keyed, bands, maxBucket))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try verifyCandidatesAndCommit(spark, outDir, cands, shingleN, threshold, signed)
        finally cands.unpersist(): Unit
      } finally keyed.unpersist(): Unit
    }
  }

  /** The incremental near-dup paths' shared back half: exact verification
    * decodes ONLY the candidate docs' shingles. "Only" is a PLAN property:
    * the scan decodes candidate rows alone iff the semi-join broadcasts
    * (the DSv2 source's runtime filtering then prunes bins and bit-seeks
    * the hit rows — the q_graft_join shape); a sort-merge join would
    * silently decode the whole corpus below the join. So broadcast
    * explicitly while the candidate set is broadcastable, and fall back to
    * the plain join — paying one decode scan, same as the full path — only
    * past ~5M candidate ids (near-dup candidates at that scale mean the
    * corpus is mostly duplicates anyway).
    */
  private def verifyCandidatesAndCommit(
      spark: SparkSession,
      outDir: String,
      cands: org.apache.spark.sql.DataFrame,
      shingleN: Int,
      threshold: Double,
      signed: Long
  ): DedupNearResult = {
    val candDocs = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nCand = candDocs.count()
      val joinSide =
        if (nCand <= 5000000L) org.apache.spark.sql.functions.broadcast(candDocs)
        else candDocs
      val subset = spark.read
        .format("graft")
        .load(outDir)
        .join(joinSide, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("tokens"))
      val shingled = graft.ops.Dedup
        .tokenShingles(subset, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = graft.ops.Dedup
          .jaccard(cands, shingled)
          .where(col("uni") > 0 && col("inter").cast("double") >= col("uni") * threshold)
          .select(col("doc_a"), col("doc_b"))
        nearDupCommit(spark, outDir, pairs, filesSigned = signed)
      } finally shingled.unpersist(): Unit
    } finally candDocs.unpersist(): Unit
  }

  /** Eval-set decontamination as one verb
    * (`CALL graft.system.decontaminate(path, eval_view[, n][, delete])`):
    * flag — and optionally DELETE — every corpus document containing any
    * consecutive token n-gram of the eval set, composing the broadcast
    * screen ([[graft.ops.Decontaminate.screen]]: eval grams collected
    * sorted + broadcast, ONE shuffle-free corpus pass, output eval-sized)
    * with the merge-on-read equality-delete commit. `delete = false` is
    * the review mode (counts only, nothing committed); `delete = true`
    * commits the flagged ids as one snapshot — time travel still reads the
    * pre-decontamination corpus, and the physical rewrite is
    * [[purgeDeletes]]' amortized job, exactly like the dedup verbs.
    */
  final case class DecontaminateResult(
      snapshotId: Option[Long],
      docsFlagged: Long,
      docsDeleted: Long
  )

  def decontaminate(
      spark: SparkSession,
      outDir: String,
      evalSeqs: org.apache.spark.sql.DataFrame,
      n: Int = 4,
      delete: Boolean = false
  ): DecontaminateResult = {
    import spark.implicits._
    val corpus = spark.read.format("graft").load(outDir).select(col("doc_id"), col("tokens"))
    val hits = graft.ops.Decontaminate
      .screen(corpus, evalSeqs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the flag pass before any delete commits (the dedup
      // verbs' cache-eviction rule)
      val flagged = hits.count()
      if (!delete || flagged == 0L) DecontaminateResult(None, flagged, 0L)
      else {
        val res = Deletes.deleteDocs(
          spark,
          outDir,
          hits.select(col("doc_id").cast("string")).as[String]
        )
        DecontaminateResult(
          res.map(_.snapshotId),
          flagged,
          res.map(_.idsRecorded).getOrElse(0L)
        )
      }
    } finally hits.unpersist(): Unit
  }

  /** Quality screen by compression cost
    * (`CALL graft.system.filter_nll(path, min_bpt_ppm, max_bpt_ppm[,
    * delete])`): flag — and optionally DELETE — every document whose
    * unigram log-loss (quantized bits-per-token under the corpus's OWN
    * token distribution, ppm-scaled; [[graft.ops.Scoring.unigramLogLoss]],
    * the estimator cost model the encoder already runs) falls outside
    * [min, max]. The LOW tail compresses suspiciously well — templates,
    * boilerplate, constant filler (an empty doc scores 0 and is low-tail
    * junk by definition); the HIGH tail does not fit the corpus — binary
    * junk, wrong language. Cost: one histogram pass (256-cell aggregate)
    * to build the cost table from the corpus itself + one scoring pass —
    * two decode scans, no shuffle beyond the tiny histogram reduce; the
    * flag set and the delete commit follow the dedup verbs' shape exactly.
    */
  final case class FilterNllResult(
      snapshotId: Option[Long],
      docsFlagged: Long,
      flaggedLow: Long,
      flaggedHigh: Long,
      docsDeleted: Long
  )

  def filterNll(
      spark: SparkSession,
      outDir: String,
      minBptPpm: Long,
      maxBptPpm: Long,
      delete: Boolean = false
  ): FilterNllResult = {
    import spark.implicits._
    require(
      0L <= minBptPpm && minBptPpm <= maxBptPpm,
      s"need 0 <= min_bpt_ppm <= max_bpt_ppm, got [$minBptPpm, $maxBptPpm]"
    )
    def corpus =
      spark.read
        .format("graft")
        .load(outDir)
        .select(
          col("doc_id"),
          col("tokens").cast("array<int>").as("tokens"),
          col("n_tok"),
          col("source")
        )
        .as[TokenRow]
    val cfg1 = GraftPipeline.Config(
      numContexts = 1,
      maxBits = graft.core.Hybrid.DefaultMaxBits
    )
    val costs = GraftPipeline.analyze(corpus, cfg1).costModel(0)
    val flagged = graft.ops.Scoring
      .unigramLogLoss(corpus.toDF, costs, col("tokens"))
      .select(col("doc_id"), col("bpt_ppm"))
      .where(col("bpt_ppm") < minBptPpm || col("bpt_ppm") > maxBptPpm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lo = flagged.where(col("bpt_ppm") < minBptPpm).count()
      val hi = flagged.where(col("bpt_ppm") > maxBptPpm).count()
      val n = lo + hi
      if (!delete || n == 0L) FilterNllResult(None, n, lo, hi, 0L)
      else {
        val res = Deletes.deleteDocs(spark, outDir, flagged.select(col("doc_id")).as[String])
        FilterNllResult(
          res.map(_.snapshotId),
          n,
          lo,
          hi,
          res.map(_.idsRecorded).getOrElse(0L)
        )
      }
    } finally flagged.unpersist(): Unit
  }

  private[graft] def repairRebase(fs: FileSystem, outDir: String): Unit = {
    val snapsDir = new Path(s"$outDir/_snapshots")
    if (!fs.exists(snapsDir)) return
    fs.listStatus(snapsDir).foreach { st =>
      st.getPath.getName match {
        case n @ EncodeJob.TmpRebaseNameRe(id) if st.isFile =>
          // snap-<id> present means the crash happened BEFORE the delete
          // (the tmp is pre-delete debris) — id reuse is impossible because
          // nextSnapshotId counts tmp-rebase ids as taken, so an existing
          // snap-<id> can only be the original, never a later allocation
          val snap = new Path(snapsDir, s"snap-$id.json")
          if (!fs.exists(snap)) {
            // two concurrent cold-start commits can both reach this repair:
            // the first rename consumes the tmp, the second sees rename
            // fail with the snap now present — success-by-other, not error
            val renamed = scala.util.Try(fs.rename(st.getPath, snap)).getOrElse(false)
            require(renamed || fs.exists(snap), s"completing interrupted rebase failed: $n")
          } else fs.delete(st.getPath, false): Unit
        case _ =>
      }
    }
  }
}
