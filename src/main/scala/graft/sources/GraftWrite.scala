package graft.sources

import graft.core.{BitReader, Huffman, MiniJson}
import graft.pipeline.{BlockParquet, EncodeJob, GraftPipeline, Maintenance}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** `df.write.format("graft").mode("append").save(outDir)` — the DSv2 WRITE
  * path over an [[graft.pipeline.EncodeJob]] output directory, plus the
  * matching Structured Streaming sink
  * (`ds.writeStream.format("graft").option("path", outDir)`).
  *
  * Scope: APPEND to an already-encoded dir. The initial encode is a two-pass
  * job with a global barrier (corpus histograms → shared symbol tables →
  * encode), which does not fit the single-pass per-task `BatchWrite`
  * contract — that bootstrap stays with [[graft.pipeline.EncodeJob]].
  * Appends are the single-pass case: the dir's persisted symbol tables are
  * shipped to every writer task (a few KB, the same header bytes the read
  * path ships), each task routes its rows to their deterministic salted
  * bins, runs the SAME block kernel as the batch encoder
  * ([[GraftPipeline.blockIterator]]), and writes the blocks as one parquet
  * file through the batch encoder's block-file writer
  * ([[graft.pipeline.BlockParquet]]). This is the Iceberg-style incremental
  * append the north star asks for: new training sequences land in an
  * existing compressed table without re-encoding it.
  *
  * Commit protocol (driver, after every task committed):
  *   1. a batch append publishes the manifest rows its tasks reported (one
  *      per file and bin); readers ignore them until the files are live;
  *   2. staged task files are renamed into `blocks/` (same visibility
  *      semantics as EncodeJob's blocks-before-snapshot ordering);
  *   3. THE commit point: one atomic snapshot write recording the appended
  *      file names as `files_added` (bins are NOT write-once for appends, so
  *      the file set — not the bin set — is the lineage delta; snapshot
  *      time travel and the streaming read source consume it).
  *
  * Crash/abort safety: a failure before the snapshot write rolls back the
  * renames (the driver deletes the renamed files and rethrows, then Spark's
  * abort removes the staging dir), so a failed append leaves the dir exactly
  * as it was. Streaming epochs are exactly-once: each epoch's snapshot
  * records (writer_id, writer_epoch), and a retried `commit(epoch)` that
  * finds its snapshot already present cleans its staging and returns.
  *
  * Concurrency: snapshot ids are claimed with an atomic exclusive create
  * ([[graft.pipeline.EncodeJob.casWriteSnapshot]]), so appends racing on
  * one dir each commit under their own id — no lineage is silently
  * overwritten (posix rename would have replaced the loser's snapshot;
  * see the CAS scaladoc). The initial encode and
  * [[graft.pipeline.Maintenance]] keep the single-writer contract.
  */
private[sources] final class GraftWriteBuilder(
    path: String,
    info: LogicalWriteInfo,
    clustered: Boolean
) extends WriteBuilder {

  override def build(): Write = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration

    // an interrupted rebin must fold before validation: the coverage check
    // below reads the (marker-overridden) NEW layout but would see the
    // pre-fold lineage — a routine append entering the commit-to-heal crash
    // window completes the heal instead of failing on the mismatch (gated
    // no-op on healthy dirs; commit() heals again as a backstop for
    // builders created before the rebin committed)
    Maintenance.healRebin(spark, path)

    // --- dir validation (driver, at planning time: fail before any task) ---
    val metaOpt = EncodeJob.loadMeta(spark, path)
    if (metaOpt.isEmpty) {
      // FRESH dir → driver-coordinated BOOTSTRAP (the CTAS / first-write
      // path): tasks stage raw varint-packed rows, commit() runs the
      // two-pass EncodeJob over them (the global analyze barrier cannot
      // run inside the per-task BatchWrite contract). A non-empty non-graft
      // dir is foreign data and stays refused.
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val fresh = !fs.exists(p) || fs
        .listStatus(p)
        .forall { st =>
          val n = st.getPath.getName
          n == GraftBootstrap.Marker || n == GraftBootstrap.StagingRoot
        }
      require(
        fresh,
        s"$path is neither an encoded graft dir (no _tables/meta.json) nor an empty/new " +
          "directory — the bootstrap write refuses to run over foreign data"
      )
      val ords = GraftWriteBuilder.validateSchema(info.schema(), "graft bootstrap")
      return new GraftBootstrapWrite(
        path,
        info.queryId(),
        ords,
        GraftBootstrap.Options.from(info.options()),
        spark.sparkContext.broadcast(new SerializableConfiguration(conf))
      )
    }
    val meta = metaOpt.get
    import MiniJson.ObjOps
    val version = meta.longOpt("format_version").map(_.toInt)
    require(
      version.contains(EncodeJob.FormatVersion),
      s"$path blocks format v${version.getOrElse(1)} != engine v${EncodeJob.FormatVersion} — " +
        "cross-version append is not supported"
    )
    val numBins = meta
      .longOpt("num_bins")
      .map(_.toInt)
      .getOrElse(
        throw new IllegalArgumentException(
          s"$path records no bin layout (pre-layout tables) — append requires the recorded " +
            "num_bins/salt that define row->bin routing"
        )
      )
    val salt = meta.long("salt")
    val tables = EncodeJob
      .loadTables(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"$path: _tables/header.bin missing"))

    // Appends add rows to EXISTING bins, which EncodeJob's bin-level resume
    // bookkeeping would misread on a partially-encoded dir (an appended bin
    // looks `done`, so a resumed run would skip the original data for it).
    // Only a fully-encoded dir (every bin committed by the snapshot lineage)
    // accepts appends.
    val covered = EncodeJob.loadSnapshots(path, conf).flatMap(_._2).toSet
    require(
      (0 until numBins).forall(covered.contains),
      s"$path is not fully encoded (${numBins - covered.count((0 until numBins).contains)} of " +
        s"$numBins bins missing from snapshot lineage) — finish EncodeJob.run before appending"
    )

    // --- schema validation: ACCEPT_ANY_SCHEMA skips Spark's check, so the
    // builder owns it (by NAME; nullability is enforced per-row at write) ---
    val Array(docOrd, tokOrd, ntokOrd, srcOrd) =
      GraftWriteBuilder.validateSchema(info.schema(), "graft append")

    val opts = info.options()
    def boolOpt(k: String, dflt: Boolean) = Option(opts.get(k)).map(_.toBoolean).getOrElse(dflt)
    def intOpt(k: String, dflt: Int) = Option(opts.get(k)).map(_.toInt).getOrElse(dflt)
    def longOpt(k: String, dflt: Long) = Option(opts.get(k)).map(_.toLong).getOrElse(dflt)
    val dfltCfg = GraftPipeline.Config()
    val cfg = GraftPipeline.Config(
      numContexts = tables.numContexts,
      maxBits = tables.maxBits,
      numBins = numBins,
      maxBlockRows = intOpt("maxBlockRows", dfltCfg.maxBlockRows),
      maxBlockValues = intOpt("maxBlockValues", dfltCfg.maxBlockValues),
      salt = salt,
      autoSelect = boolOpt("autoSelect", dfltCfg.autoSelect),
      contextModel = meta.strOpt("context_model").getOrElse("simple"),
      embedTables = boolOpt("embedTables", dfltCfg.embedTables)
    )

    val headerBytes = {
      val w = new graft.core.BitWriter(4096)
      Huffman.writeHeader(tables, w)
      w.toBytes
    }

    new GraftWrite(
      path = path,
      queryId = info.queryId(),
      cfg = cfg,
      headerBytes = headerBytes,
      colOrds = Array(docOrd, tokOrd, ntokOrd, srcOrd),
      maxBufferedValues = longOpt("maxBufferedValues", 32L * 1024 * 1024),
      conf = spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      clustered = boolOpt("clusteredWrite", clustered)
    )
  }
}

private[sources] object GraftWriteBuilder {

  /** Ordinals of (doc_id, tokens, n_tok, source) in `schema`, validated by
    * NAME and type — shared by the append and bootstrap writes.
    */
  def validateSchema(schema: StructType, who: String): Array[Int] = {
    def ord(name: String, ok: DataType => Boolean, want: String): Int = {
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0, s"$who: input is missing required column `$name` $want")
      require(
        ok(schema.fields(i).dataType),
        s"$who: column `$name` is ${schema.fields(i).dataType.simpleString}, expected $want"
      )
      i
    }
    val docOrd = ord("doc_id", _ == StringType, "string")
    val tokOrd = ord(
      "tokens",
      { case ArrayType(IntegerType, _) => true; case _ => false },
      "array<int>"
    )
    val ntokOrd = ord("n_tok", _ == IntegerType, "int")
    val srcOrd = ord("source", _ == StringType, "string")
    val extra = schema.fieldNames.toSet -- Set("doc_id", "tokens", "n_tok", "source")
    require(
      extra.isEmpty,
      s"$who: unexpected columns ${extra.toSeq.sorted.mkString(", ")} — the block " +
        "layout stores exactly (doc_id, tokens, n_tok, source); drop the extras explicitly"
    )
    Array(docOrd, tokOrd, ntokOrd, srcOrd)
  }
}

private[sources] final class GraftWrite(
    path: String,
    queryId: String,
    cfg: GraftPipeline.Config,
    headerBytes: Array[Byte],
    colOrds: Array[Int],
    maxBufferedValues: Long,
    conf: Broadcast[SerializableConfiguration],
    clustered: Boolean
) extends Write
    with RequiresDistributionAndOrdering {

  /** Cluster + sort appended rows by their routing bin BEFORE the writers
    * run (Iceberg's hash distribution mode): each write task then holds few
    * whole bins, so the files it commits carry narrow manifest bin claims —
    * the property file-level pruning and storage-partitioned joins live on.
    * Without it, every task of a wide append touches ~every bin and each
    * appended file claims the whole bin space, so point reads must open all
    * of them forever after. The transform is the catalog-registered
    * `graft_bin_<numBins>_<salt>(doc_id)` family (the SPJ identity anchor);
    * resolution needs a FunctionCatalog, which Spark's write planner takes
    * from the RELATION — only catalog-resolved tables have one. So the
    * clustered distribution is declared exactly when this table was loaded
    * through [[GraftCatalog]] (INSERT INTO graft.`dir`, df.writeTo,
    * replace_docs); the path route (`df.write.format("graft")`) would fail
    * analysis on the unresolvable transform and instead keeps the
    * task-shaped files — correctness is identical either way, the claims
    * are just wider. `option("clusteredWrite", true/false)` overrides (a
    * path-route caller CAN force it on when the graft catalog is
    * registered... it still fails without one, loudly, at planning).
    */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (clustered)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(Array(binTransform))
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  // a pre-clustered input (or AQE coalescing) may legally skip the shuffle
  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!clustered) Array.empty
    else
      Array(
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          binTransform,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
        )
      )

  private def binTransform: org.apache.spark.sql.connector.expressions.Expression =
    org.apache.spark.sql.connector.expressions.Expressions.apply(
      s"graft_bin_${cfg.numBins}_${cfg.salt}",
      org.apache.spark.sql.connector.expressions.Expressions.column("doc_id")
    )

  private def stagingDir = s"$path/_write_staging/$queryId"

  private def factory = GraftWriterFactory(
    stagingDir = stagingDir,
    queryId = queryId,
    headerBytes = headerBytes,
    cfg = cfg,
    maxBufferedValues = maxBufferedValues,
    colOrds = colOrds,
    conf = conf
  )

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftAppendCommit.commit(path, stagingDir, messages, queryId, epoch = None)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftAppendCommit.cleanStaging(path, stagingDir, epoch = None)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo): StreamingDataWriterFactory =
      factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      GraftAppendCommit.commit(path, stagingDir, messages, queryId, epoch = Some(epochId))
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      GraftAppendCommit.cleanStaging(path, stagingDir, epoch = Some(epochId))
  }
}

/** The driver-side append commit shared by the batch and streaming writes. */
private[sources] object GraftAppendCommit {

  /** Max committed epoch per (table path, writer), cached on the driver.
    * Populated by ONE full lineage scan on the writer's first epoch commit
    * after (re)start and kept current in memory afterwards, so steady-state
    * epoch commits read no snapshot files at all AND the idempotence answer
    * is always exact — a bounded "recent snapshots" window could miss an old
    * commit (e.g. other writers appended 64+ snapshots while this one was
    * down) and turn the orphan sweep below into deletion of committed files.
    * The value carries the table INCARNATION (mtime of `_tables/meta.json`,
    * written once at bootstrap) next to the epoch: a dir wiped and
    * re-encoded under a still-live driver must not inherit the old table's
    * epoch proof, or retried epochs would be silently swallowed as
    * already-committed. Entries are tiny — negligible even across thousands
    * of streams in one driver.
    */
  private val maxCommittedEpoch =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  /** Forget cached writer state so tests can exercise the cold-start scan. */
  private[sources] def resetWriterCacheForTesting(): Unit = maxCommittedEpoch.clear()

  /** Delete staged (uncommitted) task files: the whole staging dir for a
    * batch write, only this epoch's files for a streaming write (the next
    * epoch may already be staging into the shared dir).
    */
  def cleanStaging(path: String, stagingDir: String, epoch: Option[Long]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val dir = new Path(stagingDir)
    if (!fs.exists(dir)) return
    epoch match {
      case None => fs.delete(dir, true): Unit
      case Some(e) =>
        // staged names are w-<queryId>-e<epoch>-p…, and the staging dir is
        // per-query, so its own name IS the queryId. Match the full prefix:
        // a bare "-e<id>-" tag can also occur inside the query UUID itself
        // (a 4-hex group like "e427" yields "-e427-"), which would delete
        // the next epoch's in-flight staged files
        val prefix = s"w-${dir.getName}-e$e-"
        fs.listStatus(dir)
          .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
          .foreach(st => fs.delete(st.getPath, false): Unit)
    }
  }

  def commit(
      path: String,
      stagingDir: String,
      messages: Array[WriterCommitMessage],
      writerId: String,
      epoch: Option[Long]
  ): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)

    // an interrupted rebin must fold before this append's snapshot commits
    // — its base id is reserved (EncodeJob.nextSnapshotId), but committing
    // around a half-folded history would still interleave with the heal's
    // snapshot deletions; completing it first is cheap (gated no-op) and
    // makes the lineage this commit reads self-consistent
    Maintenance.healRebin(spark, path)

    // streaming exactly-once: a retried epoch whose snapshot already
    // committed must not append its rows again. Epochs are monotonic per
    // writer, so ANY record (or expiry-carried mark) for this writer with
    // epoch >= e proves e committed. The writer's max committed epoch is
    // cached on the driver: the FIRST epoch commit after (re)start pays one
    // full lineage scan (exact — snapshot expiry folds marks forward so the
    // proof survives truncation), every later commit answers from memory,
    // so steady-state commit cost is independent of table age.
    val cacheKey = (path, writerId)
    // one O(1) stat per epoch commit: detect a wiped-and-rebootstrapped dir
    // so a warm cache entry from the PREVIOUS table never answers for this
    // one (missing meta.json only occurs in synthetic test dirs → 0L)
    val incarnation = epoch.map { _ =>
      scala.util
        .Try(fs.getFileStatus(new Path(s"$path/_tables/meta.json")).getModificationTime)
        .getOrElse(0L)
    }
    epoch.foreach { e =>
      maxCommittedEpoch.get(cacheKey).foreach { case (inc, _) =>
        if (!incarnation.contains(inc)) maxCommittedEpoch.remove(cacheKey): Unit
      }
      if (!maxCommittedEpoch.contains(cacheKey)) {
        // the lineage this scan trusts must be COMPLETE — a silently
        // skipped snapshot could both hide the committed proof and
        // unprotect its files from the sweep below. Finish any interrupted
        // expiry base swap first (its content may hold this writer's
        // marks), then require every snapshot file to have parsed.
        Maintenance.repairRebase(fs, path)
        // a CONCURRENT writer's snapshot may be claimed but mid-content for
        // a few ms (casWriteSnapshot's claim→write window): re-scan with
        // backoff before declaring the lineage unreadable. A claim that
        // never fills in (crashed writer) keeps failing here until vacuum
        // reclaims it — refusing is the safe direction for the sweep below.
        var recs = EncodeJob.loadSnapshotRecords(path, conf)
        var tries = 0
        while (recs.map(_.id).sorted != EncodeJob.listSnapshotIds(path, conf) && tries < 5) {
          Thread.sleep(100L << tries)
          recs = EncodeJob.loadSnapshotRecords(path, conf)
          tries += 1
        }
        require(
          recs.map(_.id).sorted == EncodeJob.listSnapshotIds(path, conf),
          s"graft append: unreadable snapshot lineage under $path/_snapshots — cannot " +
            "decide epoch idempotence; repair or remove the corrupt snapshot file"
        )
        val max = recs.iterator.flatMap { r =>
          r.writerEpoch.filter(_ => r.writerId.contains(writerId)) ++
            r.writerMarks.collect { case (w, me) if w == writerId => me }
        }.maxOption.getOrElse(-1L)
        // self-heal a crashed prior attempt of THIS epoch: a driver killed
        // between publishing task files and the snapshot write leaves
        // orphans in blocks/ (visible but in no lineage). In-JVM commit
        // failures roll their published files back (and drop the cache
        // entry, so a rollback that itself failed lands here too) — sweep
        // once, on the cold start. The lineage-membership guard makes the
        // delete provably safe even if the scan were ever wrong about max.
        if (max < e) {
          val blocksDir = new Path(s"$path/blocks")
          if (fs.exists(blocksDir)) {
            val lineageFiles = recs.flatMap(_.filesAdded).toSet
            val prefix = s"w-$writerId-e$e-"
            fs.listStatus(blocksDir)
              .filter { st =>
                st.isFile && st.getPath.getName.startsWith(prefix) &&
                !lineageFiles.contains(st.getPath.getName)
              }
              .foreach(st => fs.delete(st.getPath, false): Unit)
          }
        }
        maxCommittedEpoch.putIfAbsent(cacheKey, (incarnation.get, max)): Unit
      }
    }
    val alreadyCommitted = epoch.exists(e => maxCommittedEpoch(cacheKey)._2 >= e)
    if (alreadyCommitted) { cleanStaging(path, stagingDir, epoch); return }

    val msgs = messages.collect { case m: GraftCommitMessage if m.nRows > 0 => m }
    if (msgs.isEmpty) { cleanStaging(path, stagingDir, epoch); return }

    val renamed = mutable.ArrayBuffer[String]()
    try {
      // 1. the task files' manifest rows, ignored by readers until the
      // files go live. Streaming epochs skip them: a manifest file per
      // epoch would grow the manifest with stream age; scans keep the
      // unclaimed files conservatively, and rewrite_manifests claims them.
      if (epoch.isEmpty)
        EncodeJob.publishManifest(
          conf, path, s"append-${java.util.UUID.randomUUID()}.parquet", msgs.toSeq.flatMap(_.rows)
        )

      // 2. publish the task files (visible to full scans from here, exactly
      // like EncodeJob's block-file renames before its snapshot write)
      msgs.foreach { m =>
        val src = new Path(stagingDir, m.fileName)
        val dst = new Path(s"$path/blocks", m.fileName)
        require(fs.rename(src, dst), s"rename $src -> $dst failed")
        renamed += m.fileName
      }

      // 3. THE commit point: CAS-claimed snapshot with the exact file
      // delta. The id is claimed with an atomic exclusive create and
      // re-allocated on collision (see EncodeJob.casWriteSnapshot), so two
      // appends racing on one dir both commit, under distinct ids — the
      // loser of each claim retries, never silently overwriting the
      // winner's lineage. bins_added stays empty — appended bins are
      // already visible in the lineage (the builder required a
      // fully-encoded dir), and recording them again would make the
      // streaming source replay whole bins.
      val filesJson =
        renamed.sorted.map(n => MiniJson.render(MiniJson.JStr(n))).mkString("[", ",", "]")
      val epochFields = epoch.map(e => s""","writer_epoch":$e""").getOrElse("")
      EncodeJob
        .casWriteSnapshot(
          spark,
          path,
          () => EncodeJob.nextSnapshotId(spark, path),
          (id, parent) =>
            s"""{"snapshot_id":$id,"parent_id":$parent,"bins_added":[],
               |"files_added":$filesJson,"writer_id":${MiniJson.render(MiniJson.JStr(writerId))}$epochFields,
               |"n_rows_added":${msgs.map(_.nRows).sum},"n_values_added":${msgs.map(_.nValues).sum}}""".stripMargin
        ): Unit
      epoch.foreach(e => maxCommittedEpoch(cacheKey) = (incarnation.get, e))
    } catch {
      case err: Throwable =>
        // pre-snapshot failure: roll the published files back so the dir is
        // untouched; Spark's abort then removes the staging leftovers. The
        // rollback is best-effort (the FS fault that failed the commit may
        // fail deletes too) — dropping the cache entry forces the retry
        // through the cold-start sweep, which reclaims any leftover debris.
        renamed.foreach(n => scala.util.Try(fs.delete(new Path(s"$path/blocks", n), false)))
        epoch.foreach(_ => maxCommittedEpoch.remove(cacheKey): Unit)
        throw err
    }

    cleanStaging(path, stagingDir, epoch)
  }
}

/** Per-task commit message: the staged file's name and its manifest rows,
  * one per bin it holds ([[graft.pipeline.BlockParquet.FileRows]]) — the
  * rows the driver publishes for a batch append. A task whose random
  * doc_ids touch most of an 800k-bin table sends a row per bin: that file
  * holds those bins, and its rows are the claims a point read prunes by.
  */
private[sources] final case class GraftCommitMessage(
    fileName: String,
    rows: Array[EncodeJob.BinManifest]
) extends WriterCommitMessage {
  def nRows: Long = rows.iterator.map(_.n_rows).sum
  def nValues: Long = rows.iterator.map(_.n_values).sum
}

private[sources] final case class GraftWriterFactory(
    stagingDir: String,
    queryId: String,
    headerBytes: Array[Byte],
    cfg: GraftPipeline.Config,
    maxBufferedValues: Long,
    colOrds: Array[Int],
    conf: Broadcast[SerializableConfiguration]
) extends DataWriterFactory
    with StreamingDataWriterFactory {

  // file names carry the queryId: (partitionId, taskId) restart per Spark
  // application, so without it a later append job could rename onto (and on
  // a posix rename silently DESTROY) a previously committed append's block
  // file of the same name. The queryId is a UUID, so names are globally
  // unique; cleanStaging matches the full w-<queryId>-e<epoch>- prefix (a
  // bare "-e<id>-" tag can occur inside the UUID's own hex groups).
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      stagingDir,
      f"w-$queryId%s-p$partitionId%05d-t$taskId.parquet",
      headerBytes,
      cfg,
      colOrds,
      maxBufferedValues,
      conf
    )

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      stagingDir,
      f"w-$queryId%s-e$epochId%d-p$partitionId%05d-t$taskId.parquet",
      headerBytes,
      cfg,
      colOrds,
      maxBufferedValues,
      conf
    )
}

/** One writer task: routes rows to their salted bins, buffers per bin, and
  * flushes full bins through the shared block kernel into one staged parquet
  * file in the block layout.
  *
  * Memory: a bin flushes as soon as it holds `maxBlockValues` token values
  * (a full block — identical fill to the batch encoder), and if many bins
  * are partially full the LARGEST ones flush early once total buffered
  * values exceed `maxBufferedValues` (bounded memory at any bin count, at
  * the cost of undersized blocks — [[graft.pipeline.Maintenance.compact]]
  * is the repair for chronic small-append fragmentation). Input clustered by
  * doc_id hash fills blocks best; random input at high bin counts degrades
  * to smaller blocks, never to more memory.
  */
private[sources] final class GraftDataWriter(
    stagingDir: String,
    fileName: String,
    headerBytes: Array[Byte],
    cfg: GraftPipeline.Config,
    colOrds: Array[Int],
    maxBufferedValues: Long,
    sConf: Broadcast[SerializableConfiguration]
) extends DataWriter[InternalRow] {

  private val tables =
    Huffman.readHeader(new BitReader(headerBytes), cfg.maxBits, cfg.numContexts)

  private final class BinBuf {
    val rows = mutable.ArrayBuffer[(String, Array[Int], Int, String)]()
    var values: Long = 0L
  }
  private val buffers = mutable.HashMap[Int, BinBuf]()
  private var buffered = 0L

  private var writer: ParquetWriter[Group] = _
  private val groups = new SimpleGroupFactory(BlockParquet.Schema)
  private val rows = new BlockParquet.FileRows(fileName)

  private val Array(docOrd, tokOrd, ntokOrd, srcOrd) = colOrds

  override def write(row: InternalRow): Unit = {
    def nonNull(ord: Int, name: String): Unit =
      if (row.isNullAt(ord))
        throw new IllegalArgumentException(s"graft append: null `$name` (the layout is non-null)")
    nonNull(docOrd, "doc_id"); nonNull(tokOrd, "tokens")
    nonNull(ntokOrd, "n_tok"); nonNull(srcOrd, "source")
    val docId = row.getUTF8String(docOrd).toString
    val arr = row.getArray(tokOrd)
    val n = arr.numElements()
    val toks = new Array[Int](n)
    var k = 0
    while (k < n) {
      if (arr.isNullAt(k))
        throw new IllegalArgumentException(s"graft append: doc $docId has a null token at $k")
      toks(k) = arr.getInt(k)
      k += 1
    }
    val nTok = row.getInt(ntokOrd)
    require(nTok == n, s"graft append: doc $docId has n_tok=$nTok but ${n} tokens")
    val source = row.getString(srcOrd)

    val bin = GraftDataSource.binOf(docId, cfg.numBins, cfg.salt)
    val buf = buffers.getOrElseUpdate(bin, new BinBuf)
    buf.rows += ((docId, toks, nTok, source))
    buf.values += n
    buffered += n
    if (buf.values >= cfg.maxBlockValues) flush(bin)
    else if (buffered > maxBufferedValues) flushLargestHalf()
  }

  private def flush(bin: Int): Unit = {
    val buf = buffers.remove(bin).getOrElse(return)
    buffered -= buf.values
    if (buf.rows.isEmpty) return
    // the batch encoder's within-bin order: source-homogeneous blocks so
    // per-block codec selection sees one source's distribution
    val sorted = buf.rows.sortBy(r => (r._4, r._1))
    val it = GraftPipeline.blockIterator(
      sorted.iterator.map { case (d, t, nt, s) => (d, t, nt, s, bin) },
      tables,
      cfg
    )
    it.foreach { b =>
      if (writer == null) writer = BlockParquet.open(new Path(stagingDir, fileName), sConf.value.value)
      writer.write(BlockParquet.toGroup(b, groups))
      rows.add(b)
    }
  }

  private def flushLargestHalf(): Unit = {
    // one O(B log B) sort per spill episode, not a repeated O(B) maxBy per
    // flushed bin: with random doc_ids a task can hold a buffer for every
    // bin (~800k at 100 TB corpus bin counts), and the repeated-maxBy form
    // is O(B^2) per episode — minutes of driver-invisible CPU per spill
    val target = maxBufferedValues / 2
    val bySize = buffers.toArray.sortBy(-_._2.values)
    var i = 0
    while (buffered > target && i < bySize.length) {
      flush(bySize(i)._1)
      i += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    buffers.keys.toArray.sorted.foreach(flush)
    if (writer != null) writer.close()
    GraftCommitMessage(fileName, rows.result)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val fs = new Path(stagingDir).getFileSystem(sConf.value.value)
      fs.delete(new Path(stagingDir, fileName), false): Unit
    }
  }

  override def close(): Unit = ()
}
