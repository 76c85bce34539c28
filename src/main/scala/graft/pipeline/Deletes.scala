package graft.pipeline

import graft.core.MiniJson
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level deletes over encode dirs — Iceberg-style equality-delete files,
  * merged at read (merge-on-read) and applied physically by
  * [[Maintenance.purgeDeletes]]. This closes the training-data loop the
  * north star implies: dedup/quality ops identify doc_ids to drop, and the
  * corpus sheds them WITHOUT re-encoding 100 TB — a delete commit writes one
  * tiny (bin, doc_id) parquet plus one snapshot, nothing else moves. The
  * reference's single-file bitstream has no analog (removal means full
  * re-conversion, /root/reference/src/graphs/convert.rs:617-888); the
  * design here follows Iceberg v2 equality deletes from the public spec.
  *
  * Layout under `outDir`:
  * {{{
  *   _deletes/del-<uuid>.parquet   committed delete files: (bin int, doc_id string)
  *   _deletes/.tmp-<uuid>/         staging (invisible until renamed)
  * }}}
  *
  * Commit protocol (same shape as the DSv2 append): stage the parquet,
  * rename the single part to its final unique name, then ONE CAS-claimed
  * snapshot records it as `deletes_added` (with per-file id counts in the
  * parallel `deletes_counts` array) — THE commit point. A crash between
  * rename and snapshot leaves an orphan `del-*` file that is in no lineage:
  * readers never apply it and [[Maintenance.vacuum]] reclaims it after the
  * grace window.
  *
  * Semantics — SEQUENCE-SCOPED, Iceberg's equality-delete rule: a delete
  * committed at snapshot S hides a doc_id's rows only in data files
  * committed BEFORE S.
  *   - re-appending a deleted doc_id later makes it visible again (the new
  *     file postdates the delete); [[replaceDocs]] does delete+append in
  *     ONE snapshot — the atomic upsert.
  *   - file→snapshot attribution comes from the `files_added` lineage;
  *     EncodeJob bootstrap blocks and compacted rewrites have none and are
  *     subject to every delete (sound: snapshot ids are monotonic in wall
  *     time and [[Maintenance.compact]] refuses to run while deletes are
  *     live, so a compacted file can never fold rows that postdate one).
  *   - [[Maintenance.purgeDeletes]] materializes live deletes physically —
  *     each affected file is rewritten dropping exactly the rows ITS
  *     applicable deletes hide — and RETIRES the applied delete files.
  *   - snapshot time travel to S applies exactly the deletes committed at
  *     ids ≤ S. Travel to a snapshot OLDER than a purged delete fails loudly
  *     (the rows are physically gone — maintenance coarsened reachable
  *     history, the same stance compaction takes with appended files).
  *
  * Scale: the delete files are the only per-delete state. Each scan task
  * in [[graft.sources]] streams the delete files that apply to its data
  * file — bin-filtered through row-group skipping for small bin sets,
  * otherwise a full per-file load cached JVM-wide. Chronic unpurged
  * deletes degrade scan throughput linearly in delete bytes — purge is the
  * repair, exactly like Iceberg's rewrite_position_delete_files.
  *
  * Surface boundary: merge-on-read applies at the LOGICAL read surface —
  * the DSv2 relation (batch and streaming). The block-level pipeline APIs
  * ([[EncodeJob.readBlocks]], [[GraftPipeline.decode]]) are physical and
  * return stored rows verbatim; purge first, or filter explicitly, when
  * using them on a table with live deletes.
  */
object Deletes {

  /** One committed, still-live delete file. */
  final case class DeleteFile(name: String, snapshotId: Long, count: Long)

  /** The live (visible, unretired) delete set for a read. */
  final case class DeleteState(live: Seq[DeleteFile]) {
    def isEmpty: Boolean = live.isEmpty
    def totalIds: Long = live.map(_.count).sum
    def paths(outDir: String): Seq[String] = live.map(d => s"$outDir/_deletes/${d.name}")
  }

  final case class DeleteResult(snapshotId: Long, idsRecorded: Long, fileNames: Seq[String])

  private def fsOf(outDir: String, conf: Configuration): FileSystem =
    new Path(outDir).getFileSystem(conf)

  /** Commit a delete of `docIds` (distinct-ed here; unknown ids are legal —
    * equality deletes need no existence check, matching Iceberg). Returns
    * None for an empty id set (no snapshot is committed).
    *
    * The delete file is sorted by bin and written as ONE part so parquet
    * row-group `bin` stats let executor-side readers skip the ids of bins
    * their file cannot hold.
    */
  /** Recorded bin layout of an encoded dir, validated. */
  private def binLayout(spark: SparkSession, outDir: String): (Int, Long) = {
    import MiniJson.ObjOps
    val meta = EncodeJob
      .loadMeta(spark, outDir)
      .getOrElse(
        throw new IllegalArgumentException(
          s"$outDir is not an encoded graft dir (no _tables/meta.json)"
        )
      )
    val numBins = meta
      .longOpt("num_bins")
      .map(_.toInt)
      .getOrElse(
        throw new IllegalArgumentException(
          s"$outDir records no bin layout — deletes require the recorded num_bins/salt"
        )
      )
    (numBins, meta.long("salt"))
  }

  /** Target ids per delete parquet. One bin-sorted file is the common
    * (curation-sized) case; a dedup pass over a web corpus can delete a
    * large FRACTION of it, and funnelling 10^11 ids through one write task
    * (the old `coalesce(1)`) would be the job's bottleneck — so past this
    * size the staged write range-partitions on (bin, doc_id) and ONE
    * snapshot commits every part (`deletes_added` is a list). Readers are
    * indifferent: each part is bin-sorted, and every reader streams
    * whichever files apply with bin row-group skipping.
    */
  private[graft] val DefaultIdsPerDeleteFile: Long = 16L * 1024 * 1024

  /** Stage + publish bin-sorted delete parquet(s); returns one (name, id
    * count) per part, or None for an empty set. NOT yet committed — the
    * published files are inert (in no lineage) until a snapshot records
    * them. The id stream is persisted for the size probe + write pair, so
    * an expensive upstream (a dedup loser join) computes once.
    */
  private def writeDeleteFiles(
      spark: SparkSession,
      outDir: String,
      docIds: Dataset[String],
      numBins: Int,
      salt: Long,
      idsPerFile: Long = DefaultIdsPerDeleteFile
  ): Option[Seq[(String, Long)]] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    val rows = docIds
      .toDF("doc_id")
      .where($"doc_id".isNotNull)
      .distinct()
      .withColumn("bin", GraftPipeline.binCol(numBins, salt))
      .select($"bin", $"doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rows.count()
      if (n == 0L) return None
      val nParts =
        math.max(1L, math.min(1024L, (n + idsPerFile - 1L) / idsPerFile)).toInt
      val uuid = java.util.UUID.randomUUID().toString
      val staging = new Path(s"$outDir/_deletes/.tmp-$uuid")
      val sorted =
        if (nParts == 1) rows.coalesce(1).sortWithinPartitions($"bin", $"doc_id")
        else
          rows
            .repartitionByRange(nParts, $"bin", $"doc_id")
            .sortWithinPartitions($"bin", $"doc_id")
      sorted.write.parquet(staging.toString)
      val parts = fs
        .listStatus(staging)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      // per-part counts from the footers (driver-side, <=1024 small files);
      // range partitioning can leave empty parts — skip them
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      parts.zipWithIndex.foreach { case (st, k) =>
        val cnt = {
          val r = BlockParquet.openFile(st.getPath, conf)
          try r.getRecordCount
          finally r.close()
        }
        if (cnt > 0L) {
          val name =
            if (nParts == 1) s"del-$uuid.parquet" else s"del-$uuid-p$k.parquet"
          val dest = new Path(s"$outDir/_deletes/$name")
          require(fs.rename(st.getPath, dest), s"rename ${st.getPath} -> $dest failed")
          out += ((name, cnt))
        }
      }
      fs.delete(staging, true): Unit
      require(out.map(_._2).sum == n, s"staged delete parts hold ${out.map(_._2).sum} ids, expected $n")
      Some(out.toSeq)
    } finally rows.unpersist(): Unit
  }

  def deleteDocs(
      spark: SparkSession,
      outDir: String,
      docIds: Dataset[String],
      idsPerFile: Long = DefaultIdsPerDeleteFile
  ): Option[DeleteResult] = {
    val (numBins, salt) = binLayout(spark, outDir)
    val parts = writeDeleteFiles(spark, outDir, docIds, numBins, salt, idsPerFile)
      .getOrElse(return None)
    val n = parts.map(_._2).sum
    val namesJson =
      parts.map(p => MiniJson.render(MiniJson.JStr(p._1))).mkString("[", ",", "]")
    val countsJson = parts.map(_._2).mkString("[", ",", "]")

    // THE commit point: CAS-claimed snapshot carrying the delete delta
    // (every part in ONE snapshot). bins_added stays empty — no data files
    // changed.
    val (snapId, _) = EncodeJob.casWriteSnapshot(
      spark,
      outDir,
      () => EncodeJob.nextSnapshotId(spark, outDir),
      (id, parent) =>
        s"""{"snapshot_id":$id,"parent_id":$parent,"bins_added":[],
           |"deletes_added":$namesJson,"deletes_counts":$countsJson}""".stripMargin
    )
    Some(DeleteResult(snapId, n, parts.map(_._1)))
  }

  /** One stat that spares the hot no-deletes path the per-planning lineage
    * read below: `_deletes/` is created by the first deleteDocs and never
    * removed (vacuum deletes files inside it), so a missing dir proves no
    * delete was ever committed.
    */
  private def everDeleted(outDir: String, conf: Configuration): Boolean =
    fsOf(outDir, conf).exists(new Path(s"$outDir/_deletes"))

  final case class ReplaceResult(
      snapshotId: Long,
      nDocs: Long,
      filesAdded: Seq[String],
      deleteFiles: Seq[String]
  )

  /** Atomic UPSERT: replace each doc_id in `rows` with its new content in
    * ONE snapshot — an equality delete of the ids plus the re-encoded new
    * rows as appended block files, committed together. Sequence scoping
    * makes it sound: the delete (snapshot S) hides the ids only in files
    * committed BEFORE S, and the new blocks are committed AT S — readers at
    * S or later see exactly the new content, readers at earlier snapshots
    * the old. This is the re-crawl shape of a training corpus: refreshed
    * documents land under their existing doc_id without re-encoding
    * anything else.
    *
    * Requires a fully-encoded dir (same contract as the DSv2 append
    * writer). Crash between block publish and the snapshot leaves `w-`
    * orphans in no lineage — visible to scans until vacuum reclaims them
    * (the append path's documented window); an in-JVM failure rolls the
    * published files back. Returns None for an empty batch.
    */
  def replaceDocs(
      spark: SparkSession,
      outDir: String,
      rows: Dataset[TokenRow]
  ): Option[ReplaceResult] = {
    import spark.implicits._
    import MiniJson.ObjOps
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(outDir, conf)
    val (numBins, salt) = binLayout(spark, outDir)
    val meta = EncodeJob.loadMeta(spark, outDir).get
    val version = meta.longOpt("format_version").map(_.toInt)
    require(
      version.contains(EncodeJob.FormatVersion),
      s"$outDir blocks format v${version.getOrElse(1)} != engine v${EncodeJob.FormatVersion}"
    )
    EncodeJob.requireFullyEncoded(outDir, conf, numBins, "replace docs")
    val tables = EncodeJob
      .loadTables(spark, outDir)
      .getOrElse(throw new IllegalArgumentException(s"$outDir: _tables/header.bin missing"))

    val cached = rows.cache()
    try {
      val nDocs = cached.count()
      if (nDocs == 0L) return None
      val nDistinct = cached.select($"doc_id").distinct().count()
      require(
        nDistinct == nDocs,
        s"replace batch carries duplicate doc_ids ($nDocs rows, $nDistinct distinct) — " +
          "one replacement row per id"
      )
      val binsTouched = cached
        .select(GraftPipeline.binCol(numBins, salt).as("b"))
        .distinct()
        .as[Int]
        .collect()

      // the new blocks keep the dir's self-describing convention: embed
      // when any live block embeds its tables
      val embed = !EncodeJob.readBlocks(spark, outDir).select($"embedded_tables").where($"embedded_tables").isEmpty
      val cfg = EncodeJob.reencodeConfig(meta, tables, embed)
      val bTables = spark.sparkContext.broadcast(tables)
      val uuid = java.util.UUID.randomUUID().toString
      val staging = new Path(s"$outDir/_write_staging/replace-$uuid")
      val reported = BlockParquet
        .stage(GraftPipeline.route(cached, cfg, Some(binsTouched.toSet)).blocks(bTables), staging.toString, s"replace-$uuid")
      val names = reported.map(_.file).distinct.sorted.zipWithIndex.map { case (part, k) =>
        part -> s"w-replace-$uuid-$k.parquet"
      }.toMap

      // Rollback handlers are scoped to END at the commit point: once the
      // snapshot references the delete file and the renamed blocks, deleting
      // them would destroy committed data while the lineage still lists it
      // (every later scan would fail opening the missing delete file, and
      // the upsert's new rows would be lost with the equality delete of the
      // old rows surviving). Post-commit cleanup is best-effort only.
      val renamed = scala.collection.mutable.ArrayBuffer[String]()
      var committed = false
      try {
        EncodeJob.publishManifest(
          conf, outDir, s"replace-$uuid.parquet", reported.map(r => r.copy(file = names(r.file)))
        )
        names.foreach { case (part, name) =>
          val dest = new Path(s"$outDir/blocks/$name")
          require(fs.rename(new Path(staging, part), dest), s"rename $part -> $dest failed")
          renamed += name
        }
        val delParts = writeDeleteFiles(
          spark, outDir, cached.select($"doc_id").as[String], numBins, salt
        ).get // nDocs > 0, so the id set is non-empty
        val delNames = delParts.map(_._1)
        val snapId =
          try {
            val filesJson =
              renamed.sorted.map(n => MiniJson.render(MiniJson.JStr(n))).mkString("[", ",", "]")
            val delNamesJson =
              delNames.map(n => MiniJson.render(MiniJson.JStr(n))).mkString("[", ",", "]")
            val delCountsJson = delParts.map(_._2).mkString("[", ",", "]")
            // THE commit point: one snapshot carries BOTH halves of the upsert
            val (id, _) = EncodeJob.casWriteSnapshot(
              spark,
              outDir,
              () => EncodeJob.nextSnapshotId(spark, outDir),
              (id, parent) =>
                s"""{"snapshot_id":$id,"parent_id":$parent,"bins_added":[],"files_added":$filesJson,
                   |"deletes_added":$delNamesJson,"deletes_counts":$delCountsJson,
                   |"n_rows_added":$nDocs}""".stripMargin
            )
            committed = true
            id
          } catch {
            case err: Throwable =>
              delNames.foreach(n => scala.util.Try(fs.delete(new Path(s"$outDir/_deletes/$n"), false)))
              throw err
          }
        // committed — cleanup below is best-effort and must not fail the replace
        scala.util.Try(fs.delete(staging, true)): Unit
        Some(ReplaceResult(snapId, nDocs, renamed.toSeq.sorted, delNames))
      } catch {
        case err: Throwable if !committed =>
          renamed.foreach(n => scala.util.Try(fs.delete(new Path(s"$outDir/blocks/$n"), false)))
          scala.util.Try(fs.delete(staging, true))
          throw err
      }
    } finally cached.unpersist(): Unit
  }

  /** Every delete file the lineage records (purged or not), with its commit
    * snapshot id and id count.
    */
  def allDeletes(outDir: String, conf: Configuration): Seq[DeleteFile] = {
    if (!everDeleted(outDir, conf)) return Seq.empty
    allDeletes(EncodeJob.loadSnapshotRecords(outDir, conf))
  }

  /** [[allDeletes]] over preloaded lineage (scan planners resolve the
    * snapshot records ONCE and derive every view from that single read).
    */
  def allDeletes(records: Seq[EncodeJob.SnapshotRecord]): Seq[DeleteFile] =
    records.flatMap(r => r.deletesAdded.map { case (name, count) => DeleteFile(name, r.id, count) })

  /** The delete files a read as of `asOf` (None = current) must apply:
    * committed at ids ≤ asOf, minus files a committed purge already applied
    * physically. Fails loudly when `asOf` predates a PURGED delete — those
    * rows are physically gone, so the requested history is unreachable
    * (maintenance coarsened it; same contract as compaction vs time travel).
    */
  def liveDeletes(outDir: String, conf: Configuration, asOf: Option[Long]): DeleteState =
    if (!everDeleted(outDir, conf)) DeleteState(Nil)
    else
      liveDeletesFrom(
        EncodeJob.loadSnapshotRecords(outDir, conf),
        Maintenance.appliedDeleteNames(outDir, conf),
        asOf
      )

  /** [[liveDeletes]] over preloaded lineage. `retired` is by-name so the
    * purge-marker listing is skipped entirely when the lineage holds no
    * delete (the hot no-deletes path costs zero extra file opens).
    */
  def liveDeletesFrom(
      records: Seq[EncodeJob.SnapshotRecord],
      retired: => Set[String],
      asOf: Option[Long]
  ): DeleteState = {
    val all = allDeletes(records)
    if (all.isEmpty) return DeleteState(Nil)
    val ret = retired
    asOf.foreach { s =>
      val unreachable = all.filter(d => ret.contains(d.name) && d.snapshotId > s)
      require(
        unreachable.isEmpty,
        s"snapshot $s cannot be reconstructed: deletes committed after it " +
          s"(${unreachable.map(_.name).mkString(", ")}) were physically purged — " +
          "maintenance coarsened the reachable history"
      )
    }
    val visible = asOf.fold(all)(s => all.filter(_.snapshotId <= s))
    DeleteState(visible.filterNot(d => ret.contains(d.name)))
  }

  /** Non-throwing existence check (planning-time gates: aggregate pushdown,
    * numRows exactness). True iff any visible delete is unretired; the asOf
    * reachability guard is left to [[liveDeletes]] at scan time.
    */
  def hasLive(outDir: String, conf: Configuration, asOf: Option[Long]): Boolean = {
    val all = allDeletes(outDir, conf)
    if (all.isEmpty) return false
    val retired = Maintenance.appliedDeleteNames(outDir, conf)
    asOf.fold(all)(s => all.filter(_.snapshotId <= s)).exists(d => !retired.contains(d.name))
  }
}
