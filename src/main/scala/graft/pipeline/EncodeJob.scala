package graft.pipeline

import graft.core._
import graft.core.MiniJson.ObjOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
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
  *   _manifest/       parquet of per-bin manifests (one file per commit)
  *   _snapshots/snap-<n>.json   snapshot lineage (parent pointer, bins added)
  *
  * Commit order of a run: block files → manifest file → snapshot. The
  * encode tasks write their blocks (one file per partition, holding whole
  * bins) into `_write_staging/` and report each bin's manifest row, so
  * nothing is read back ([[commitBlocks]]).
  *
  * Resume correctness: a bin is "done" iff its blocks are in blocks/ — the
  * rename of one block file into blocks/ is the unit of progress; the
  * manifest and snapshot are derived metadata a resume repairs. Blocks are
  * a deterministic function of (bin row set, symbol tables, config), so a
  * resumed run is byte-identical to an uninterrupted one; the recorded
  * table hash guards against resuming with different tables.
  */
object EncodeJob {

  /** Output-layout schema version. Bumped whenever [[EncodedBlock]] or the
    * manifest gains or changes fields (v2 added row_bits_codec/
    * row_bits_payload/embedded_tables; v3 added the manifest `files`
    * column — the bin→block-file index the DSv2 scan prunes from at any
    * file count; v4 added the delta codec to auto-selection, so v4 dirs
    * can hold codec-id-6 blocks a v3 reader would reject): resuming into
    * an outDir written by a different version would fail or mix schemas
    * silently at the parquet layer, so [[run]] rejects the mismatch
    * explicitly instead.
    */
  val FormatVersion = 4

  final case class BinManifest(
      snapshot_id: Long,
      bin: Int,
      n_blocks: Long,
      n_rows: Long,
      n_values: Long,
      payload_bytes: Long,
      payload_bits: Long,
      table_hash: Long,
      files: String
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
    * The recorded bin layout is OVERRIDDEN by a committed
    * [[Maintenance.rebin]] marker when one exists: the marker rename is the
    * atomic commit point that flips routing together with the live file
    * set, and meta.json catches up in the (crash-recoverable) heal step —
    * so every layout consumer must read through this override. Read order
    * matters and is safe here: meta.json is parsed BEFORE the marker
    * listing, so a rebin committing in between is seen (new layout), never
    * unseen-after-heal (stale layout over new files).
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
      // (appendManifest's zero-fill is how numRows then stays exact)
      if (files.isEmpty) {
        import spark.implicits._
        spark.emptyDataset[EncodedBlock].toDF()
      } else spark.read.schema(BlockSchema).parquet(files.toIndexedSeq: _*)
    } else spark.read.schema(BlockSchema).parquet(s"$outDir/blocks")
  }

  /** The known block schema: passing it skips parquet schema inference (a
    * one-task footer-reading job per read).
    */
  private lazy val BlockSchema = Encoders.product[EncodedBlock].schema

  /** Bins already committed to blocks/ (empty if no output yet). */
  def doneBins(spark: SparkSession, outDir: String): Set[Int] = {
    if (!exists(spark, s"$outDir/blocks")) return Set.empty
    import spark.implicits._
    liveBlocks(spark, outDir)
      .select("bin")
      .distinct()
      .as[Int]
      .collect()
      .toSet
  }

  private[graft] def nextSnapshotId(spark: SparkSession, outDir: String): (Long, Long) = {
    val dir = s"$outDir/_snapshots"
    val f = fs(spark, outDir)
    // a committed rebin marker RESERVES its base id even before the heal
    // writes snap-<base>.json: a routine append in the commit-to-heal crash
    // window would otherwise claim that exact id, and the later heal would
    // silently adopt the foreign snapshot as the folded base (then delete
    // all pre-rebin history around it)
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
    * `snap-7.json.orig` must match NEITHER: the id listing and the record
    * load have to agree on the same file set, or vacuum's completeness guard
    * (records vs ids) could be fooled into sweeping off a partial lineage.
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

  /** Snapshot lineage under `outDir`, sorted by id. Tolerant of in-flight
    * files — the snapshot write is not atomic, so a file that does not yet
    * parse to both `snapshot_id` and `bins_added` is skipped (the next
    * listing sees it complete). Blocks commit before the snapshot, so a
    * completed file's bins/files are always readable.
    */
  def loadSnapshotRecords(outDir: String, conf: Configuration): Seq[SnapshotRecord] = {
    val f = new Path(outDir).getFileSystem(conf)
    val dir = new Path(s"$outDir/_snapshots")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir)
      .toSeq
      .map(_.getPath)
      .filter(p => SnapNameRe.matches(p.getName))
      .flatMap { p =>
        val in = f.open(p)
        val txt =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        scala.util.Try {
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
          SnapshotRecord(
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
        }.toOption
      }
      .sortBy(_.id)
  }

  /** List committed snapshot ids without opening any file — lets vacuum
    * detect that [[loadSnapshotRecords]]'s read-tolerant parse silently
    * skipped a snapshot before it deletes anything based on the lineage.
    */
  def listSnapshotIds(outDir: String, conf: Configuration): Seq[Long] = {
    val f = new Path(outDir).getFileSystem(conf)
    val dir = new Path(s"$outDir/_snapshots")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir)
      .toSeq
      .map(_.getPath.getName)
      .collect { case SnapNameRe(n) => n.toLong }
      .sorted
  }

  /** The (snapshot_id, bins committed) view of [[loadSnapshotRecords]]. */
  def loadSnapshots(outDir: String, conf: Configuration): Seq[(Long, Seq[Int])] =
    loadSnapshotRecords(outDir, conf).map(r => (r.id, r.binsAdded))

  /** (snapshot id, commit wall-clock ms) pairs from the snapshot files'
    * modification times, sorted by id. The snapshot JSON itself carries no
    * timestamp ON PURPOSE — resume/replay must produce byte-identical
    * metadata — so commit time is the filesystem's, which is exact for the
    * atomic-rename commit (object stores stamp the final PUT). Maintenance
    * that rewrites snapshot files (expiry folds) refreshes their times;
    * time travel then resolves against the rewritten history, which is the
    * only history that still exists.
    */
  def listSnapshotTimes(outDir: String, conf: Configuration): Seq[(Long, Long)] = {
    val f = new Path(outDir).getFileSystem(conf)
    val dir = new Path(s"$outDir/_snapshots")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir)
      .toSeq
      .flatMap { st =>
        st.getPath.getName match {
          case SnapNameRe(n) => Some((n.toLong, st.getModificationTime))
          case _             => None
        }
      }
      .sortBy(_._1)
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
    import spark.implicits._

    // complete any interrupted rebin before reading layout or lineage — a
    // routine encode entering the commit-to-heal crash window must not run
    // against a half-folded history (gated no-op on healthy dirs)
    Maintenance.healRebin(spark, outDir)
    // a killed run's staged files were never published; nothing reads them
    sweepStaging(spark, outDir)

    // 1. shared symbol tables: reuse persisted ones (byte-identical resume),
    // else pass-1 analyze + build + persist.
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
        // cfg.rounds > 1 runs the reference-style iterative re-estimation,
        // DEFAULTING to the estimated variant (Log2 bootstrap + Huffman
        // estimator, no bit-writing — an extra round costs ~one analyze
        // scan, the reference's actual design, convert.rs:95-152);
        // estimatedRounds=false selects the exact dry-run-encode variant
        // with the monotone-size guarantee. rounds=1 is always the plain
        // full-corpus analyze.
        require(cfg.rounds == 1 || cfg.autoSelect, "rounds > 1 requires autoSelect")
        val t =
          if (cfg.rounds > 1 && cfg.estimatedRounds)
            GraftPipeline.analyzeRoundsEstimated(input, cfg, cfg.rounds)
          else GraftPipeline.analyzeRounds(input, cfg, cfg.rounds)
        saveTables(spark, outDir, t, cfg.contextModel, layout = Some(cfg))
        t
    }
    val bTables = spark.sparkContext.broadcast(tables)

    // 2. skip bins whose blocks are already committed.
    val done = doneBins(spark, outDir)
    val requested = onlyBins.getOrElse((0 until cfg.numBins).toSet)
    val todo = requested -- done
    val (snapshotId, parentId) = nextSnapshotId(spark, outDir)

    // self-repair: a crash between a block file's rename (the unit of
    // progress) and the manifest commit leaves a done bin with no manifest
    // row forever — resume re-derives those rows from the committed blocks.
    val manifested: Set[Int] =
      if (!exists(spark, s"$outDir/_manifest")) Set.empty
      else
        spark.read
          .parquet(s"$outDir/_manifest")
          .select("bin")
          .distinct()
          .as[Int]
          .collect()
          .toSet
    val repair = done -- manifested

    if (todo.nonEmpty) {
      // 3. encode only the missing bins: the bin predicate prunes before the
      // shuffle, so resumed runs shuffle only the remaining data. A fresh
      // run's todo is EVERY bin (800k at 100 TB) — skip the predicate
      // rather than build a membership test over the full range.
      val pending =
        if (todo.size == cfg.numBins) input
        else
          input
            .withColumn("__bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
            .where(binMembership(col("__bin"), todo))
            .drop("__bin")
            .as[TokenRow]
      // 4. the encode tasks write their own block files and report their
      // manifest rows; the driver publishes both.
      commitBlocks(GraftPipeline.encode(pending, bTables, cfg), outDir, snapshotId)
    }

    if (repair.nonEmpty) {
      // manifest entries for the repaired bins, derived from their
      // committed blocks.
      appendManifest(spark, outDir, repair, snapshotId)
    }

    // 5. snapshot lineage record. Self-repair mirrors the manifest's: a
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
    // single-shot claim (maxAttempts = 1): the manifest rows above already
    // carry THIS id, so a collision must fail loudly, not retry under a new
    // one — it means a concurrent encode is running against the contract
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

  /** Bin-membership predicate that stays cheap at 100 TB bin counts: a
    * literal IN list for small sets (codegen'd, parquet-pushable), a
    * set-lookup UDF past that — building 800k `Literal` nodes per plan is
    * driver work the filter itself never pays back.
    */
  private[pipeline] def binMembership(c: org.apache.spark.sql.Column, bins: Set[Int]): org.apache.spark.sql.Column =
    if (bins.size <= 4096) c.isInCollection(bins)
    else udf((b: Int) => bins.contains(b)).apply(c)

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
    * Each encode task writes its partition's blocks as ONE file under
    * `_write_staging/encode-<run>/` (named by task attempt, so a retried or
    * speculative attempt never collides) and reports one manifest row per
    * bin it wrote. The driver then
    *   1. renames the files of the collected attempts into `blocks/` —
    *      a partition holds whole bins, so every rename publishes complete
    *      bins and is the unit of progress a resume skips;
    *   2. writes the reported rows as ONE manifest file, staged and then
    *      renamed into `_manifest/` (all-or-none, like [[appendManifest]]).
    * A kill between the two leaves renamed bins with no manifest row; the
    * next run's repair re-derives them with [[appendManifest]].
    */
  private def commitBlocks(
      blocks: Dataset[EncodedBlock],
      outDir: String,
      snapshotId: Long
  ): Unit = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, outDir)
    val runId = java.util.UUID.randomUUID().toString
    val staging = new Path(s"$outDir/_write_staging/$StagingPrefix$runId")
    val stagingDir = staging.toString
    val sConf = new graft.sources.SerializableHadoopConf(conf)
    try {
      val reported = blocks
        .mapPartitions(it => writeBlockFile(it, stagingDir, runId, snapshotId, sConf))
        .collect()
      val blocksDir = new Path(s"$outDir/blocks")
      f.mkdirs(blocksDir)
      reported.map(_.files).distinct.sorted.foreach { name =>
        val src = new Path(staging, name)
        require(f.rename(src, new Path(blocksDir, name)), s"rename $src -> $blocksDir failed")
      }
      if (reported.nonEmpty) {
        val rows = reported.groupBy(_.bin).values.map(_.reduce(mergeManifest)).toSeq.sortBy(_.bin)
        val staged = new Path(staging, "manifest.parquet")
        BlockParquet.writeManifest(staged, conf, rows)
        val manifestDir = new Path(s"$outDir/_manifest")
        f.mkdirs(manifestDir)
        val dest = new Path(manifestDir, s"$StagingPrefix$runId.parquet")
        require(f.rename(staged, dest), s"rename $staged -> $dest failed")
      }
    } finally f.delete(staging, true): Unit
  }

  /** One encode task's side of [[commitBlocks]]: write the partition's
    * blocks to one staged file and return its per-bin manifest rows.
    */
  private def writeBlockFile(
      blocks: Iterator[EncodedBlock],
      stagingDir: String,
      runId: String,
      snapshotId: Long,
      conf: graft.sources.SerializableHadoopConf
  ): Iterator[BinManifest] = {
    if (!blocks.hasNext) return Iterator.empty
    val task = org.apache.spark.TaskContext.get()
    val name = f"$StagingPrefix$runId-p${task.partitionId}%05d-t${task.taskAttemptId}.parquet"
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(BlockParquet.Schema)
    val perBin = scala.collection.mutable.TreeMap[Int, BinManifest]()
    val w = BlockParquet.open(new Path(stagingDir, name), conf.value)
    try
      blocks.foreach { b =>
        w.write(BlockParquet.toGroup(b, groups))
        val row = BinManifest(
          snapshotId, b.bin, 1L, b.n_rows.toLong, b.n_values,
          b.payload.length.toLong + b.meta_bytes, b.payload_bits, b.table_hash, name
        )
        perBin(b.bin) = perBin.get(b.bin).fold(row)(mergeManifest(_, row))
      }
    finally w.close()
    perBin.valuesIterator
  }

  /** Sum two manifest rows of one bin (the aggregation of [[appendManifest]]). */
  private def mergeManifest(a: BinManifest, b: BinManifest): BinManifest =
    a.copy(
      n_blocks = a.n_blocks + b.n_blocks,
      n_rows = a.n_rows + b.n_rows,
      n_values = a.n_values + b.n_values,
      payload_bytes = a.payload_bytes + b.payload_bytes,
      payload_bits = a.payload_bits + b.payload_bits,
      files =
        if (a.files == b.files) a.files
        else (a.files.split(',') ++ b.files.split(',')).distinct.sorted.mkString(",")
    )

  /** Derive + append manifest rows for `bins` from the COMMITTED blocks
    * (a distributed scan that reads every payload for its length). The
    * manifest rows of a [[run]]'s own bins come from its encode tasks
    * instead ([[commitBlocks]]); [[run]] calls this only to repair bins a
    * killed run renamed into blocks/ but never manifested. `files` records which
    * block parquet files hold each bin — the driver-side bin→file index
    * the DSv2 scan prunes from at any file count (the file-level analog of
    * the reference's random-access index, huffman_graph_decoder.rs:151-205).
    * Bins are write-once, so a bin's file set never changes after its
    * manifest row lands; a file whose bins crashed out of the manifest is
    * claimed by NO row and the scan keeps it conservatively. Also the
    * manifesting step for blocks written OUTSIDE [[run]] (benchmarks, the
    * Verify corpus dirs).
    */
  def appendManifest(
      spark: SparkSession,
      outDir: String,
      bins: Set[Int],
      snapshotId: Long
  ): Unit = {
    import spark.implicits._
    val manifest = liveBlocks(spark, outDir)
      .where(binMembership(col("bin"), bins))
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum($"n_rows").cast("long").as("n_rows"),
        sum($"n_values").as("n_values"),
        (sum(expr("length(payload)")) + sum($"meta_bytes")).as("payload_bytes"),
        sum($"payload_bits").as("payload_bits"),
        first($"table_hash").as("table_hash"),
        concat_ws(",", sort_array(collect_set($"__file"))).as("files")
      )
      .withColumn("snapshot_id", lit(snapshotId))
      .select(
        $"snapshot_id", $"bin", $"n_blocks", $"n_rows", $"n_values",
        $"payload_bytes", $"payload_bits", $"table_hash", $"files"
      )
      .as[BinManifest]
    // ONE part file per append: the commit of a single file is atomic
    // (rename), so an append's claims become visible all-or-none — a
    // multi-part append could crash mid-commit and leave a block file
    // claimed by only SOME of its bins' rows, making the scan's
    // claims-based pruning silently drop committed data for the missing
    // bins. The aggregation above stays distributed; only the tiny
    // one-row-per-bin result funnels through the single write task.
    manifest.coalesce(1).write.mode(SaveMode.Append).parquet(s"$outDir/_manifest")
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
