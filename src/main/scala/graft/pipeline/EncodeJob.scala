package graft.pipeline

import graft.core._
import graft.core.MiniJson.ObjOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Resumable, lineage-tracked encode job (the generalization of the
  * reference's properties/metadata surface, /root/reference/src/graphs/
  * parameters.rs:92-125, to per-partition checkpoints + snapshot log).
  *
  * Output layout under `outDir`:
  *   blocks/          parquet of EncodedBlock rows (files added per run)
  *   _tables/header.bin   shared symbol tables in the reference's
  *                        self-describing header bit format
  *   _tables/meta.json    maxBits / numContexts / tableHash / config
  *   _manifest/       parquet of (block file, bin) rows (one file per commit)
  *   _snapshots/snap-<n>.json   snapshot lineage (parent pointer, bins added)
  *
  * Commit order of a run: manifest file → block files → snapshot. The
  * encode tasks write their blocks (one file per partition, holding whole
  * bins) into `_write_staging/` and report each file's manifest rows, so
  * nothing is read back ([[commitBlocks]]).
  *
  * Resume correctness: a bin is "done" iff a live block file's manifest
  * rows claim it ([[doneBins]]) — the rename of one block file into
  * blocks/ is the unit of progress (its rows were published before it),
  * a live file no row names is claimed from its blocks first, and the
  * snapshot is derived metadata a resume repairs. Blocks are
  * a deterministic function of (bin row set, symbol tables, config), so a
  * resumed run writes the same data pages, manifest rows and `_tables/` as
  * an uninterrupted one (parquet footer bytes are not stable across JVMs,
  * so whole block files are not byte-identical); the recorded table hash
  * guards against resuming with different tables.
  */
object EncodeJob {

  /** Output-layout schema version. Bumped whenever [[EncodedBlock]] or the
    * manifest gains or changes fields (v2 added row_bits_codec/
    * row_bits_payload/embedded_tables; v3 added the manifest `files`
    * column — the bin→block-file index the DSv2 scan prunes from at any
    * file count; v4 added the delta codec to auto-selection, so v4 dirs
    * can hold codec-id-6 blocks a v3 reader would reject; v5 made a
    * manifest row a fact about one file — [[BinManifest]]): resuming into
    * an outDir written by a different version would fail or mix schemas
    * silently at the parquet layer, so [[run]] rejects the mismatch
    * explicitly instead.
    */
  val FormatVersion = 5

  /** One manifest row: the blocks of `bin` inside the block file `file`
    * (counts and sums over those blocks). Block files are write-once, so a
    * row is never superseded: the writer that adds a file publishes its
    * rows before the commit point that makes the file live, and readers
    * keep exactly the rows whose file is live. A file is named by rows for
    * every bin it holds, or by none (then scans keep it conservatively).
    * This is the `add(file, bins, …)` fact of an ordered commit log.
    */
  final case class BinManifest(
      bin: Int,
      n_blocks: Long,
      n_rows: Long,
      n_values: Long,
      payload_bytes: Long,
      payload_bits: Long,
      table_hash: Long,
      file: String
  )

  final case class EncodeResult(
      snapshotId: Long,
      binsEncoded: Seq[Int],
      binsSkipped: Seq[Int],
      tableHash: Long
  )

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomically claim and write `snap-<id>.json`, retrying with a fresh id
    * when a concurrent writer claims the same one first. The claim
    * primitive is filesystem-specific because only one is truly exclusive
    * on each:
    *   - HDFS: `create(dest, overwrite = false)` — the namenode arbitrates,
    *     exactly one writer wins.
    *   - local (`file:`) FS: Hadoop's RawLocalFileSystem.create(false) is
    *     check-THEN-act (an exists() test followed by a plain
    *     FileOutputStream — verified in the shipped hadoop-client jar), so
    *     two racers can both pass the check and the second silently
    *     truncates the first's committed content. Here the claim is
    *     `java.nio` `CREATE_NEW` (open(2) with O_CREAT|O_EXCL — the kernel
    *     arbitrates).
    * NOT rename in either case: HDFS rejects a rename onto an existing
    * destination, but posix rename silently REPLACES it (measured on
    * Hadoop's RawLocalFileSystem), so two racing writers would overwrite
    * each other's committed snapshot, and the lost snapshot's `files_added`
    * would later read as orphans — vacuum would delete committed data over
    * an operator mistake.
    *
    * A writer that dies between the claim and the content close leaves a
    * zero-length snap file: logically uncommitted (its writer never
    * returned success), skipped by lineage readers, refused by the strict
    * destructive paths (vacuum orphan sweep, append cold-start), and
    * reclaimed by [[Maintenance.vacuum]] after the grace window. The
    * content is one small buffered write, so a torn non-empty file takes a
    * mid-close crash — strict readers refuse destructive action on it and
    * it is left for manual inspection.
    *
    * `nextId` is re-evaluated per attempt (it must re-list the snapshot
    * dir); `maxAttempts = 1` turns the CAS into a loud single-shot claim
    * for callers whose content is already bound to one precomputed id.
    * Returns the committed (snapshotId, parentId).
    */
  /** The exclusive-create claim primitive (shared by the snapshot CAS and
    * [[Refs]] tag creation): Some(stream) when this caller won the name,
    * None when it already exists. Filesystem-dispatched — see
    * [[casWriteSnapshot]] for why each branch is what it is.
    */
  private[graft] def exclusiveCreate(
      f: FileSystem,
      dest: Path
  ): Option[java.io.OutputStream] =
    if (f.getScheme == "file") {
      // kernel-arbitrated O_EXCL; bypasses ChecksumFileSystem (no .crc
      // sidecar — readers skip verification when the sidecar is absent)
      val local = java.nio.file.Paths.get(dest.toUri.getPath)
      try
        Some(
          java.nio.file.Files.newOutputStream(
            local,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE
          )
        )
      catch { case _: java.nio.file.FileAlreadyExistsException => None }
    } else {
      try Some(f.create(dest, false))
      catch {
        case e: java.io.IOException => if (f.exists(dest)) None else throw e
      }
    }

  private[graft] def casWriteSnapshot(
      spark: SparkSession,
      outDir: String,
      nextId: () => (Long, Long),
      content: (Long, Long) => String,
      maxAttempts: Int = 10
  ): (Long, Long) = {
    val f = fs(spark, outDir)
    f.mkdirs(new Path(s"$outDir/_snapshots"))
    var attempt = 0
    while (attempt < maxAttempts) {
      val (id, parent) = nextId()
      val dest = new Path(s"$outDir/_snapshots/snap-$id.json")
      val claimed: Option[java.io.OutputStream] = exclusiveCreate(f, dest)
      claimed match {
        case Some(out) =>
          try out.write(content(id, parent).getBytes(StandardCharsets.UTF_8))
          finally out.close()
          return (id, parent)
        case None => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"lost the snapshot-commit race $maxAttempts times under $outDir — " +
        "another writer is committing concurrently"
    )
  }

  private def readString(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Persist tables in the self-describing header bit format plus a meta
    * file. The layout follows the reference's header design
    * (/root/reference/src/huffman/encoder.rs:310-335) with one documented
    * deviation: symbol-length fields are 3-bit (see Huffman.scala) where
    * the reference writes 35-bit length fields (an apparent upstream
    * usize::BITS bug), so header artifacts are NOT byte-interchangeable
    * with the reference — payload bits are.
    */
  def saveTables(
      spark: SparkSession,
      outDir: String,
      t: SymbolTables,
      contextModel: String = "simple",
      layout: Option[GraftPipeline.Config] = None
  ): Unit = {
    val w = new BitWriter(4096)
    Huffman.writeHeader(t, w)
    val bytes = w.toBytes
    val f = fs(spark, outDir)
    val out = f.create(new Path(s"$outDir/_tables/header.bin"), true)
    try out.write(bytes)
    finally out.close()
    // num_bins/salt define the row->bin routing: a resume under a different
    // layout would mis-skip bins, so they are recorded for validation
    val layoutFields =
      layout.map(c => s""","num_bins":${c.numBins},"salt":${c.salt}""").getOrElse("")
    writeString(
      spark,
      s"$outDir/_tables/meta.json",
      s"""{"format_version":$FormatVersion,"max_bits":${t.maxBits},"num_contexts":${t.numContexts},"table_hash":${t.tableHash},"context_model":"$contextModel"$layoutFields}"""
    )
  }

  /** Parsed `_tables/meta.json` (fails loudly, naming the file and field).
    * meta.json keeps its bootstrap layout; the recorded bin layout is
    * OVERRIDDEN by the newest committed [[Maintenance.rebin]] marker when
    * one exists — the marker rename is the rebin's only commit, flipping
    * routing together with the live file set, so every layout consumer must
    * read through this override.
    */
  def loadMeta(spark: SparkSession, outDir: String): Option[MiniJson.JObj] = {
    val path = s"$outDir/_tables/meta.json"
    if (!exists(spark, path)) return None
    val parsed = MiniJson.parseObject(readString(spark, path), where = path)
    val overridden =
      Maintenance.rebinState(outDir, spark.sparkContext.hadoopConfiguration) match {
        case Some(r) =>
          MiniJson.JObj(
            parsed.v ++ Map(
              "num_bins" -> MiniJson.JNum(r.numBins.toString),
              "salt" -> MiniJson.JNum(r.salt.toString)
            )
          )
        case None => parsed
      }
    Some(overridden)
  }

  /** The Config that re-encodes rows into a committed dir: its `tables`,
    * the bin layout and context model of its `meta` ([[loadMeta]]), and
    * `embed` — a rewrite keeps the self-describing convention when any
    * block it replaces or joins embeds its tables.
    */
  def reencodeConfig(meta: MiniJson.JObj, tables: SymbolTables, embed: Boolean): GraftPipeline.Config =
    GraftPipeline.Config(
      numContexts = tables.numContexts,
      maxBits = tables.maxBits,
      numBins = meta.long("num_bins").toInt,
      salt = meta.long("salt"),
      contextModel = meta.strOpt("context_model").getOrElse("simple"),
      embedTables = embed
    )

  def loadTables(spark: SparkSession, outDir: String): Option[SymbolTables] = {
    val meta = loadMeta(spark, outDir).getOrElse(return None)
    val maxBits = meta.long("max_bits").toInt
    val numContexts = meta.long("num_contexts").toInt
    val expectedHash = meta.long("table_hash")
    val f = fs(spark, outDir)
    val in = f.open(new Path(s"$outDir/_tables/header.bin"))
    val bytes =
      try in.readAllBytes()
      finally in.close()
    val t = Huffman.readHeader(new BitReader(bytes), maxBits, numContexts)
    require(
      t.tableHash == expectedHash,
      s"symbol table corruption: hash ${t.tableHash} != recorded $expectedHash"
    )
    Some(t)
  }

  /** The committed block rows as a DataFrame, compaction-aware: once any
    * [[Maintenance.compact]] has committed, the live set is an explicit file
    * list (tombstoned originals excluded, compacted replacements included) —
    * a plain directory read would double-count rewritten rows until vacuum
    * and miss them after. Never-compacted dirs keep the plain directory
    * read (no extra listing round-trips on the common path).
    */
  private def liveBlocks(spark: SparkSession, outDir: String): org.apache.spark.sql.DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (Maintenance.hasCompactions(outDir, conf)) {
      val files = Maintenance.liveBlockFiles(outDir, conf).map(_._1)
      // a purge that deleted every doc can tombstone ALL files —
      // spark.read.parquet of an empty path list cannot infer a schema, so
      // answer with an empty typed frame instead of crashing callers
      if (files.isEmpty) {
        import spark.implicits._
        spark.emptyDataset[EncodedBlock].toDF()
      } else spark.read.schema(BlockSchema).parquet(files.toIndexedSeq: _*)
    } else spark.read.schema(BlockSchema).parquet(s"$outDir/blocks")
  }

  /** The known block schema: passing it skips parquet schema inference (a
    * one-task footer-reading job per read).
    */
  private[pipeline] lazy val BlockSchema = Encoders.product[EncodedBlock].schema

  /** Bins already committed to blocks/: the union of the bins the live
    * block files' manifest rows claim (empty if no output yet). Live files
    * no row names (a lost manifest file, blocks written outside the
    * engine's writers) are claimed first, from their blocks
    * ([[claimLive]]); on a fully claimed dir this is a driver-side
    * manifest read with no Spark job.
    */
  def doneBins(spark: SparkSession, outDir: String): Set[Int] =
    if (!exists(spark, s"$outDir/blocks")) Set.empty
    else claimLive(spark, outDir).iterator.map(_.bin).toSet

  private[graft] def nextSnapshotId(spark: SparkSession, outDir: String): (Long, Long) = {
    val dir = s"$outDir/_snapshots"
    val f = fs(spark, outDir)
    // a committed rebin marker RESERVES its base id: the lineage reader
    // takes the base record from the marker, so a snapshot committed under
    // that id would never be read
    val reserved = Maintenance
      .rebinState(outDir, spark.sparkContext.hadoopConfiguration)
      .map(_.baseSnapshot)
    if (!f.exists(new Path(dir)))
      return reserved.fold((0L, -1L))(b => (b + 1, b))
    // an id held only by an interrupted expiry base swap (.tmp-rebase-N —
    // snap-N deleted, rename not yet done) is still TAKEN: allocating it to
    // a new snapshot would make the later repair discard the rebased
    // content as stale debris, losing that lineage entry for good
    val ids = f
      .listStatus(new Path(dir))
      .map(_.getPath.getName)
      .collect {
        case SnapNameRe(n)      => n.toLong
        case TmpRebaseNameRe(n) => n.toLong
      } ++ reserved
    if (ids.isEmpty) (0L, -1L) else (ids.max + 1, ids.max)
  }

  /** Canonical snapshot / interrupted-rebase file names. Derived copies like
    * `snap-7.json.orig` must match NEITHER: they are not part of the
    * lineage, so neither its records nor its id listing may see them.
    */
  private[graft] val SnapNameRe = raw"snap-(\d+)\.json".r
  private[graft] val TmpRebaseNameRe = raw"\.tmp-rebase-(\d+)\.json".r

  /** One committed snapshot's lineage entry. EncodeJob snapshots carry only
    * `binsAdded` (bins are write-once for the batch encoder, so the bin set
    * IS the delta); DSv2 append snapshots ([[graft.sources]] write path) add
    * rows to EXISTING bins and therefore carry their exact `filesAdded`
    * (file names, the same key the manifest claims use) plus the writer
    * identity used for streaming-epoch idempotence.
    */
  final case class SnapshotRecord(
      id: Long,
      binsAdded: Seq[Int],
      filesAdded: Seq[String],
      writerId: Option[String],
      writerEpoch: Option[Long],
      writerMarks: Seq[(String, Long)] = Seq.empty,
      /** Equality-delete files this snapshot committed ([[Deletes]]): (file
        * name under `_deletes/`, id count) — the count rides in the lineage
        * so readers can size their application strategy without opening the
        * files.
        */
      deletesAdded: Seq[(String, Long)] = Seq.empty
  )

  /** The table's snapshot lineage from ONE `_snapshots` listing ([[lineage]]).
    *
    * @param records  the lineage records, sorted by id
    * @param ids      every listed snapshot id the lineage spans (a file that
    *                 is in flight or unreadable is listed but has no record)
    * @param times    (id, commit wall-clock ms) for every id in `ids`
    * @param complete every listed id parsed (`records` covers `ids`): the
    *                 gate of the paths that rewrite or sweep off the lineage
    * @param rebin    the newest committed rebin, if any
    */
  final case class Lineage(
      records: Seq[SnapshotRecord],
      ids: Seq[Long],
      times: Seq[(Long, Long)],
      complete: Boolean,
      rebin: Option[Maintenance.RebinInfo]
  )

  /** THE lineage reader: every lineage view (scans, time travel, streaming,
    * the snapshots procedure, appends, vacuum, rebin) reads through it.
    *
    * History folds are applied here, not repaired on disk. The fold point F
    * is the larger of the newest committed rebin's base snapshot and the
    * newest record an expiry rebased (`rebased_from`); every id below F is
    * folded into F, so the reader drops its records and ids. When F is a
    * rebin base, the base record is the marker's [[Maintenance.RebinInfo]]
    * (every bin of the new layout, the carried writer marks and retired
    * deletes, committed at the marker's mtime) — a `snap-<base>.json` file
    * holds the same facts and is not read. Snapshot files are parsed newest
    * first and nothing below F is opened.
    *
    * Tolerant of in-flight files — the snapshot write is not atomic, so a
    * file that does not parse (or whose `snapshot_id` is not its name's) is
    * listed without a record, and `complete` turns false. Order: the
    * snapshot listing first, then the rebin marker — `comps`, when a scan
    * planner passes the marker listing it already holds, else a read of
    * its own. A rebin committing in between is then seen with the
    * pre-rebin ids it folds, never missed behind post-rebin ids.
    */
  def lineage(
      outDir: String,
      conf: Configuration,
      comps: Option[Seq[Maintenance.Compaction]] = None
  ): Lineage = {
    val f = new Path(outDir).getFileSystem(conf)
    val dir = new Path(s"$outDir/_snapshots")
    val listed =
      if (!f.exists(dir)) Seq.empty
      else
        f.listStatus(dir).toSeq.flatMap { st =>
          st.getPath.getName match {
            case SnapNameRe(n) => Some((n.toLong, st))
            case _             => None
          }
        }
    val rebin = comps.fold(Maintenance.rebinState(outDir, conf))(Maintenance.rebinStateFrom)
    val base = rebin.map(_.baseSnapshot).getOrElse(-1L)
    // newest first, down to the first rebased record or the rebin base
    val parsed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[SnapshotRecord])]
    val it = listed.filter(_._1 > base).sortBy(-_._1).iterator
    var folded = false
    while (!folded && it.hasNext) {
      val (id, st) = it.next()
      val rec = parseSnapshot(f, st.getPath).filter(_._1.id == id)
      folded = rec.exists(_._2)
      parsed += ((id, st.getModificationTime, rec.map(_._1)))
    }
    val baseRec = rebin.filter(_ => !folded).map { r =>
      (
        r.baseSnapshot,
        r.committedAtMs,
        Some(SnapshotRecord(r.baseSnapshot, 0 until r.numBins, Seq.empty, None, None, r.marks, r.deletes))
      )
    }
    val all = (parsed ++ baseRec).sortBy(_._1)
    Lineage(
      all.flatMap(_._3).toSeq,
      all.map(_._1).toSeq,
      all.map(e => (e._1, e._2)).toSeq,
      all.forall(_._3.isDefined),
      rebin
    )
  }

  /** One snapshot file's record, and whether an expiry rebased it (its
    * `rebased_from` marks the fold point of every id below it); None when
    * the file does not parse to both `snapshot_id` and `bins_added`, or
    * vanished after the listing (vacuum deleting a folded file).
    */
  private def parseSnapshot(f: FileSystem, p: Path): Option[(SnapshotRecord, Boolean)] =
    scala.util.Try {
      val in = f.open(p)
      val txt =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val o = MiniJson.parseObject(txt, where = p.toString)
      // writer marks: (writer, max committed epoch) pairs carried
      // forward by snapshot expiry so a retried epoch stays a no-op
      // after its own snapshot was expired (parallel arrays — the
      // flat shape MiniJson reads without nested-object support)
      val marks = (o.strArrOpt("marked_writers"), o.longArrOpt("marked_epochs")) match {
        case (Some(w), Some(e)) if w.length == e.length => w.zip(e)
        case _                                          => Seq.empty[(String, Long)]
      }
      // delete lineage: parallel name/count arrays (the flat shape
      // MiniJson reads). Mismatched lengths = a malformed commit —
      // fail the parse (the record is then treated as in-flight and the
      // strict destructive paths refuse), never half-read a delete set.
      val deletes = (o.strArrOpt("deletes_added"), o.longArrOpt("deletes_counts")) match {
        case (Some(n), Some(c)) if n.length == c.length => n.zip(c)
        case (None, None)                               => Seq.empty[(String, Long)]
        case _ =>
          throw new IllegalArgumentException("deletes_added/deletes_counts length mismatch")
      }
      val rec = SnapshotRecord(
        o.long("snapshot_id"),
        o.longArrOpt("bins_added")
          .getOrElse(throw new IllegalArgumentException("bins_added absent"))
          .map(_.toInt),
        o.strArrOpt("files_added").getOrElse(Seq.empty),
        o.strOpt("writer_id"),
        o.longOpt("writer_epoch"),
        marks,
        deletes
      )
      (rec, o.longOpt("rebased_from").isDefined)
    }.toOption

  /** The [[lineage]] records, sorted by id. */
  def loadSnapshotRecords(outDir: String, conf: Configuration): Seq[SnapshotRecord] =
    lineage(outDir, conf).records

  /** The [[lineage]] ids, including listed files that do not parse yet. */
  def listSnapshotIds(outDir: String, conf: Configuration): Seq[Long] =
    lineage(outDir, conf).ids

  /** The (snapshot_id, bins committed) view of [[loadSnapshotRecords]]. */
  def loadSnapshots(outDir: String, conf: Configuration): Seq[(Long, Seq[Int])] =
    loadSnapshotRecords(outDir, conf).map(r => (r.id, r.binsAdded))

  /** (snapshot id, commit wall-clock ms) pairs, sorted by id: the
    * [[lineage]] times, which are the snapshot files' modification times
    * (a rebin base's is its marker's). The snapshot JSON itself carries no
    * timestamp ON PURPOSE — resume/replay must produce identical
    * metadata — so commit time is the filesystem's, which is exact for the
    * atomic-rename commit (object stores stamp the final PUT). Maintenance
    * that rewrites snapshot files (expiry folds) refreshes their times;
    * time travel then resolves against the rewritten history, which is the
    * only history that still exists.
    */
  def listSnapshotTimes(outDir: String, conf: Configuration): Seq[(Long, Long)] =
    lineage(outDir, conf).times

  /** Refuse `op` unless the lineage covers every bin of a `numBins` layout
    * — appends, replaces and adopts add rows to EXISTING bins, which a
    * resumed [[run]] would misread as done on a partially encoded dir. A
    * rebin's base record covers every bin of its layout.
    */
  def requireFullyEncoded(outDir: String, conf: Configuration, numBins: Int, op: String): Unit = {
    val covered = loadSnapshotRecords(outDir, conf).iterator.flatMap(_.binsAdded).toSet
    val missing = (0 until numBins).count(b => !covered(b))
    require(
      missing == 0,
      s"$op: $outDir is not fully encoded ($missing of $numBins bins missing from snapshot " +
        "lineage) — finish EncodeJob.run first"
    )
  }

  /** Resolve `TIMESTAMP AS OF`: the snapshot live at wall-clock `tsMs` —
    * the latest commit at or before it (ties broken by id). Loud errors
    * name the valid range so a user can correct the literal.
    */
  def snapshotAsOfTime(outDir: String, conf: Configuration, tsMs: Long): Long = {
    val times = listSnapshotTimes(outDir, conf)
    require(times.nonEmpty, s"no committed snapshots under $outDir/_snapshots")
    val hits = times.filter(_._2 <= tsMs)
    require(
      hits.nonEmpty,
      s"no snapshot committed at or before epoch-ms $tsMs; earliest is " +
        s"snapshot ${times.head._1} at ${times.map(_._2).min}"
    )
    hits.maxBy { case (id, t) => (t, id) }._1
  }

  /** Run (or resume) the full encode into `outDir`.
    *
    * The reference's two passes: histograms, shared tables, then the
    * block encode. Every run routes its input once through
    * [[GraftPipeline.route]], keeping the bins not yet committed, and
    * commits that shuffle's blocks ([[commitBlocks]]). The tables are the
    * persisted ones on a resume (the same blocks); a fresh run with
    * `rounds == 1` folds pass 1 into the routing shuffle's map side (one
    * input scan, one small merge job), and `rounds > 1` runs its analysis
    * rounds first.
    *
    * @param onlyBins  restrict this run to a subset of bins — the test hook
    *                  for simulating a job killed mid-encode.
    */
  def run(
      input: Dataset[TokenRow],
      outDir: String,
      cfg: GraftPipeline.Config,
      onlyBins: Option[Set[Int]] = None
  ): EncodeResult = {
    val spark = input.sparkSession

    // a killed run's staged files were never published; nothing reads them
    sweepStaging(spark, outDir)

    // 1. skip bins whose blocks are already committed (claiming first any
    // live file no manifest row names — no read on a fresh dir).
    val done = doneBins(spark, outDir)
    val requested = onlyBins.getOrElse((0 until cfg.numBins).toSet)
    val todo = requested -- done
    // a fresh run's todo is EVERY bin (800k at 100 TB) — skip the bin
    // predicate rather than build a membership test over the full range
    val keep = if (todo.size == cfg.numBins) None else Some(todo)
    val (snapshotId, parentId) = nextSnapshotId(spark, outDir)

    // 2. shared symbol tables: reuse persisted ones (a resume writes
    // the same blocks), else pass 1 + build + persist; then 3. encode the missing
    // bins. The routing shuffle drops committed bins on its map side, so a
    // resume shuffles only the remaining data.
    val routed = GraftPipeline.route(input, cfg, keep)
    val tables = loadTables(spark, outDir) match {
      case Some(t) =>
        require(
          t.maxBits == cfg.maxBits && t.numContexts == cfg.numContexts,
          s"persisted tables (maxBits=${t.maxBits}, ctx=${t.numContexts}) do not match config"
        )
        val recorded = loadMeta(spark, outDir).get
        val recordedModel = recorded.strOpt("context_model")
        require(
          recordedModel.forall(_ == cfg.contextModel),
          s"persisted context model ${recordedModel.getOrElse("?")} != config ${cfg.contextModel}"
        )
        // pre-v3 outDirs (older format_version, or none recorded) hold
        // blocks/manifests without the current columns — fail loudly rather
        // than let the parquet layer mix schemas on append
        val recordedVersion = recorded.longOpt("format_version").map(_.toInt)
        require(
          recordedVersion.contains(FormatVersion),
          s"outDir blocks format v${recordedVersion.getOrElse(1)} != engine v$FormatVersion — " +
            "re-encode into a fresh outDir (cross-version resume is not supported)"
        )
        // the recorded bin layout defines row->bin routing; resuming under
        // a different numBins/salt (e.g. auto-sized bins over GROWN input)
        // would skip "done" bins whose membership has silently changed
        val recordedBins = recorded.longOpt("num_bins").map(_.toInt)
        require(
          recordedBins.forall(_ == cfg.numBins),
          s"persisted bin layout num_bins=${recordedBins.getOrElse(-1)} != config ${cfg.numBins} — " +
            "resume requires the original layout (did auto bin sizing change with the input?)"
        )
        val recordedSalt = recorded.longOpt("salt")
        require(
          recordedSalt.forall(_ == cfg.salt),
          s"persisted bin salt ${recordedSalt.getOrElse(-1L)} != config ${cfg.salt}"
        )
        t
      case None =>
        // cfg.rounds > 1 runs the reference-style iterative re-estimation
        // (Log2 bootstrap + Huffman estimator, no bit-writing — an extra
        // round costs ~one analyze scan, convert.rs:95-152). One round
        // folds pass 1 into the routing shuffle's map side: one input scan.
        require(cfg.rounds == 1 || cfg.autoSelect, "rounds > 1 requires autoSelect")
        val t =
          if (cfg.rounds == 1) GraftPipeline.buildTables(routed.histograms(), cfg)
          else GraftPipeline.analyzeRoundsEstimated(input, cfg, cfg.rounds)
        saveTables(spark, outDir, t, cfg.contextModel, layout = Some(cfg))
        t
    }
    // the encode tasks write their own block files and report their
    // manifest rows; the driver publishes both
    if (todo.nonEmpty)
      commitBlocks(spark, routed.blocks(spark.sparkContext.broadcast(tables)), outDir)

    // 4. snapshot lineage record. Self-repair mirrors the manifest's: a
    // crash after the blocks commit but before the snapshot write leaves
    // bins that are `done` on resume yet absent from every snapshot's
    // bins_added — snapshot time travel and the streaming source (which
    // union bins_added deltas) would then skip those docs forever while
    // unfiltered batch reads include them. They are committed and readable
    // (blocks-before-snapshot ordering), so adopt them into THIS run's
    // bins_added.
    val recordedInSnapshots: Set[Int] =
      loadSnapshots(outDir, spark.sparkContext.hadoopConfiguration).flatMap(_._2).toSet
    val binsJson = (todo ++ (done -- recordedInSnapshots)).toSeq.sorted.mkString("[", ",", "]")
    // single-shot claim (maxAttempts = 1): the bins this run skipped were
    // decided against THIS id's parent, so a collision must fail loudly,
    // not retry under a new one — it means a concurrent encode is running
    // against the contract
    casWriteSnapshot(
      spark,
      outDir,
      () => (snapshotId, parentId),
      (id, parent) =>
        s"""{"snapshot_id":$id,"parent_id":$parent,"table_hash":${tables.tableHash},
           |"num_bins":${cfg.numBins},"num_contexts":${cfg.numContexts},"max_bits":${cfg.maxBits},"rounds":${cfg.rounds},
           |"context_model":"${cfg.contextModel}","salt":${cfg.salt},"bins_added":$binsJson,"bins_skipped":${done.size}}""".stripMargin,
      maxAttempts = 1
    ): Unit

    EncodeResult(snapshotId, todo.toSeq.sorted, done.toSeq.sorted, tables.tableHash)
  }

  /** Staging dirs of [[commitBlocks]] live under `_write_staging/` with
    * this prefix; nothing reads them, and the next run (or vacuum's grace
    * sweep) removes a killed run's leftovers.
    */
  private val StagingPrefix = "encode-"

  private def sweepStaging(spark: SparkSession, outDir: String): Unit = {
    val f = fs(spark, outDir)
    val root = new Path(s"$outDir/_write_staging")
    if (f.exists(root))
      f.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(StagingPrefix))
        .foreach(st => f.delete(st.getPath, true): Unit)
  }

  /** Commit one run's encoded blocks with no re-read of what was written.
    * The encode tasks stage their partitions under
    * `_write_staging/encode-<run>/` through [[BlockParquet.stage]] (one
    * file per partition, holding whole bins) and report each file's
    * manifest rows. The driver then
    *   1. publishes the reported rows as ONE manifest file
    *      ([[publishManifest]]) — rows of a file that never becomes live
    *      are ignored by every reader;
    *   2. renames the files of the collected attempts into `blocks/` —
    *      a partition holds whole bins, so every rename publishes complete
    *      bins and is the unit of progress a resume skips.
    */
  private def commitBlocks(spark: SparkSession, blocks: RDD[EncodedBlock], outDir: String): Unit = {
    val f = fs(spark, outDir)
    val runId = java.util.UUID.randomUUID().toString
    val staging = new Path(s"$outDir/_write_staging/$StagingPrefix$runId")
    try {
      val reported = BlockParquet.stage(blocks, staging.toString, s"$StagingPrefix$runId")
      if (reported.nonEmpty)
        publishManifest(spark.sparkContext.hadoopConfiguration, outDir, s"$StagingPrefix$runId.parquet", reported)
      val blocksDir = new Path(s"$outDir/blocks")
      f.mkdirs(blocksDir)
      reported.map(_.file).distinct.sorted.foreach { name =>
        val src = new Path(staging, name)
        require(f.rename(src, new Path(blocksDir, name)), s"rename $src -> $blocksDir failed")
      }
    } finally f.delete(staging, true): Unit
  }

  /** Publish `rows` as ONE manifest file: written under
    * `_write_staging/manifest-<uuid>/`, then renamed to `_manifest/<name>`.
    * Every writer calls this BEFORE the commit point that makes the rows'
    * files live, so a failure here fails (and rolls back) the commit. The
    * single rename makes a commit's rows visible all-or-none: a file is
    * claimed for every bin it holds or for none, never for some — a
    * partial claim would let the scan's pruning drop committed data for
    * the missing bins.
    */
  private[graft] def publishManifest(
      conf: Configuration,
      outDir: String,
      name: String,
      rows: Seq[BinManifest]
  ): Unit = {
    val f = new Path(outDir).getFileSystem(conf)
    val staging = new Path(s"$outDir/_write_staging/manifest-${java.util.UUID.randomUUID()}")
    try {
      val staged = new Path(staging, "manifest.parquet")
      BlockParquet.writeManifest(staged, conf, rows.sortBy(r => (r.file, r.bin)))
      val manifestDir = new Path(s"$outDir/_manifest")
      f.mkdirs(manifestDir)
      val dest = new Path(manifestDir, name)
      require(f.rename(staged, dest), s"rename $staged -> $dest failed")
    } finally f.delete(staging, true): Unit
  }

  /** Claim the live block files no manifest row names ([[claimLive]]).
    * Callers: blocks written outside the engine's writers (benchmarks, the
    * Verify corpus dirs), right after writing their files, each passing
    * the full bin range; an empty `bins` claims nothing. `snapshotId` is
    * unused: rows are facts about files, not about snapshots.
    */
  def appendManifest(
      spark: SparkSession,
      outDir: String,
      bins: Set[Int],
      snapshotId: Long
  ): Unit =
    if (bins.nonEmpty) claimLive(spark, outDir): Unit

  /** The live block files' manifest rows, after claiming every live file no
    * row names: the rows its blocks derive (a distributed scan of those
    * files only, reading each payload for its length) are published as one
    * file ([[publishManifest]]). No job runs when every live file is
    * named. Behind [[doneBins]] (a resume claims what a lost manifest file
    * left unnamed), [[appendManifest]] and [[Maintenance.rewriteManifests]]
    * (files a pre-v5 manifest claims).
    */
  private[graft] def claimLive(spark: SparkSession, outDir: String): Seq[BinManifest] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = BlockParquet.readManifest(BlockParquet.manifestFiles(outDir, conf).toSeq, conf).rows
    val live = Maintenance.liveBlockFiles(outDir, conf).map(f => new Path(f._1))
    val named = rows.iterator.map(_.file).toSet
    val unnamed = live.filterNot(f => named(f.getName))
    val claimed =
      if (unnamed.isEmpty) Array.empty[BinManifest]
      else deriveManifest(spark, unnamed.map(_.toString).toIndexedSeq)
    if (claimed.nonEmpty)
      publishManifest(conf, outDir, s"manifest-${java.util.UUID.randomUUID()}.parquet", claimed)
    val liveNames = live.map(_.getName).toSet
    rows.filter(r => liveNames(r.file)).toSeq ++ claimed
  }

  /** The manifest rows the blocks of `files` derive, one per (file, bin):
    * one distributed scan that reads each payload for its length. A
    * (file, bin) whose blocks disagree on `table_hash` fails by name.
    */
  private[pipeline] def deriveManifest(spark: SparkSession, files: Seq[String]): Array[BinManifest] = {
    import spark.implicits._
    spark.read
      .schema(BlockSchema)
      .parquet(files: _*)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"), $"bin")
      .agg(
        count(lit(1)),
        sum($"n_rows").cast("long"),
        sum($"n_values"),
        sum(expr("length(payload)")) + sum($"meta_bytes"),
        sum($"payload_bits"),
        min($"table_hash"),
        max($"table_hash")
      )
      .as[(String, Int, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
      .map { case (file, bin, blocks, rows, values, bytes, bits, hash, maxHash) =>
        require(hash == maxHash, s"block file $file records table hashes $hash and $maxHash for bin $bin")
        BinManifest(bin, blocks, rows, values, bytes, bits, hash, file)
      }
  }

  /** Read the encoded blocks back as a typed Dataset (compaction-aware).
    *
    * PHYSICAL surface: blocks decode to exactly what is stored, which
    * includes rows hidden by live merge-on-read deletes ([[Deletes]]).
    * The logical read of a table with deletes is the DSv2 relation
    * (`spark.read.format("graft")`), which merges the delete set; callers
    * of this block-level API that need delete semantics should purge first
    * ([[Maintenance.purgeDeletes]]) or filter against
    * [[Deletes.liveDeletes]] themselves.
    */
  def readBlocks(spark: SparkSession, outDir: String): Dataset[EncodedBlock] = {
    import spark.implicits._
    liveBlocks(spark, outDir).as[EncodedBlock]
  }
}
