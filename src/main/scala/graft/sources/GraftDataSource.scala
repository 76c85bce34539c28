package graft.sources

import graft.pipeline.{BlockDecoder, BlockParquet, GraftPipeline, StoredBlock}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong
import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("graft").load(outDir)` — a DataSource V2 batch-read
  * surface over an [[graft.pipeline.EncodeJob]] output directory. This is the
  * Spark-native form of the reference's decoder factories (sequential
  * `SequentialHuffmanDecoderFactory` and random-access factory,
  * /root/reference/src/graphs/huffman_graph_decoder.rs:110-205): compressed
  * blocks become an ordinary Catalyst relation, so decoded rows compose with
  * the whole DataFrame/SQL surface (joins, aggregates, views) with the scan
  * doing only the work the plan needs:
  *
  *   - **Column pruning to the page level.** The scan projects the blocks
  *     parquet down to exactly the metadata streams the query touches: a
  *     `SELECT source, n_tok` never reads the entropy `payload` column's
  *     pages at all (parquet column pruning), and never runs the entropy
  *     decoder. The 4-byte-per-token decode work is paid only when `tokens`
  *     is in the required schema.
  *   - **Filter pushdown with bin pruning.** `doc_id` equality/IN predicates
  *     re-derive the writer's salted bins (same xxhash64 expression as
  *     [[GraftPipeline.binCol]]) and push a `bin` predicate into the parquet
  *     reader — row groups whose `bin` stats miss are skipped without being
  *     read (the blocks layout writes one bin per task, so this prunes whole
  *     files' worth of row groups). Surviving hybrid blocks are point-decoded
  *     through the per-row bit index (seek straight to each hit row's first
  *     bit) instead of entropy-decoding whole blocks — the reference's
  *     random-access path (offsets.rs:19-58) under a Spark scan.
  *   - **Runtime (join-driven) filtering.** The scan implements
  *     `SupportsRuntimeFiltering` on doc_id: a broadcast join against a
  *     small dim pushes the build side's keys into the scan at execution
  *     time — the "join a 100 TB corpus with an allowlist" shape reads only
  *     the allowlist's bins. doc_id predicates additionally prune whole
  *     input files on the driver by the `_manifest/` claims (no footer
  *     reads); files no row names are kept, and the executors' row-group
  *     filter prunes inside them.
  *   - **Aggregate pushdown to metadata.** Unfiltered COUNT(*) / COUNT(col)
  *     / SUM(n_tok) are answered from each block's recorded row/value
  *     counts — one partial row per file, no payload bytes touched.
  *   - **Snapshot time travel.** `option("snapshot", n)` reads the corpus
  *     as of EncodeJob snapshot n (the bins committed by its lineage —
  *     blocks are write-once per bin, so the bin set IS the as-of state).
  *   - **Observable via DSv2 custom metrics** (`graft blocks decoded`,
  *     `token values decoded`, `rows emitted`) in the SQL UI / plan metrics,
  *     so "the pruning actually happened" is a queryable fact, not a claim.
  *
  * Pushed filters are also left in the post-scan residual (we return every
  * filter from `pushFilters`), so Catalyst re-checks them above the scan;
  * the pushdown is a pure pruning optimization and can never change results.
  *
  * Write path: deliberately NOT a DSv2 `SupportsWrite`. Encoding is a
  * two-pass job with a global barrier (corpus histograms → shared symbol
  * tables → encode), which does not fit the single-pass, per-task
  * `BatchWrite` contract; writes go through [[graft.pipeline.EncodeJob]]
  * (the spark-submit surface), which also owns resume/lineage.
  *
  * Scale notes: planning lists the block files only (no footer reads on the
  * driver); all parquet footer/row-group work happens in the executors'
  * readers. One input partition per block file keeps task granularity at the
  * writer's bin granularity (~32M tokens per bin by default), and the
  * symbol-table header rides to executors once per task in the serialized
  * reader factory (a few KB).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]
  ): Table = {
    val path = Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft source requires .load(<encode outDir>)"))
    new GraftTable(path)
  }
}

object GraftDataSource {
  /** The input_hint row shape — what EncodeJob consumed and what decode returns. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)
  ))

  /** Driver-side twin of [[GraftPipeline.binCol]]: runs the same XXH64
    * chain Spark's `xxhash64(doc_id, salt)` evaluates (utf8 bytes with
    * seed 42, then the salt long with the running hash as seed) without
    * building an expression tree per id — a 1M-doc runtime filter derives
    * its bins in one tight loop. Parity with the write path's Catalyst
    * expression is pinned by GraftSourceSpec.
    */
  def binOf(docId: String, numBins: Int, salt: Long): Int = {
    val utf8 = UTF8String.fromString(docId)
    val h1 = XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset, utf8.numBytes(), 42L)
    val h = XXH64.hashLong(salt, h1)
    (((h % numBins) + numBins) % numBins).toInt
  }

  /** Both-defined → intersect; one → that one; neither → None. */
  private[sources] def intersectOpt[A](a: Option[Set[A]], b: Option[Set[A]]): Option[Set[A]] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(x intersect y)
      case (x, y)             => x.orElse(y)
    }
}

/** Job-level metadata read once at planning from `_tables/`: the shared
  * symbol tables (self-describing header bytes) and the recorded bin layout.
  */
private[sources] final case class GraftMeta(
    headerBytes: Array[Byte],
    maxBits: Int,
    numContexts: Int,
    contextModel: String,
    numBins: Int,
    salt: Long
)

private[sources] object GraftMeta {
  import graft.core.MiniJson
  import graft.core.MiniJson.ObjOps

  /** meta.json as written, WITHOUT the rebin layout override — only for
    * callers that apply the override themselves from a marker listing they
    * also derive the file set from ([[GraftScan]]), so layout and files
    * stay consistent under a concurrently committing rebin.
    */
  def loadRaw(outDir: String, conf: Configuration): GraftMeta = {
    val fs = new Path(outDir).getFileSystem(conf)
    def readAll(p: String): Array[Byte] = {
      val in = fs.open(new Path(p))
      try in.readAllBytes()
      finally in.close()
    }
    val metaPath = s"$outDir/_tables/meta.json"
    val meta = MiniJson.parseObject(
      new String(readAll(metaPath), java.nio.charset.StandardCharsets.UTF_8),
      where = metaPath
    )
    GraftMeta(
      headerBytes = readAll(s"$outDir/_tables/header.bin"),
      maxBits = meta.long("max_bits").toInt,
      numContexts = meta.long("num_contexts").toInt,
      contextModel = meta.strOpt("context_model").getOrElse("simple"),
      numBins = meta.long("num_bins").toInt,
      salt = meta.long("salt")
    )
  }

  /** [[loadRaw]] with the committed-rebin layout override applied (see
    * [[graft.pipeline.EncodeJob.loadMeta]] — same rule, same safe read
    * order: meta.json before the marker listing).
    */
  def load(outDir: String, conf: Configuration): GraftMeta = {
    val raw = loadRaw(outDir, conf)
    graft.pipeline.Maintenance.rebinState(outDir, conf) match {
      case Some(r) => raw.copy(numBins = r.numBins, salt = r.salt)
      case None    => raw
    }
  }

  /** Block parquet files under an encode outDir, with sizes. Delegates to
    * the maintenance layer's live-file resolver so scans over a compacted
    * dir read the rewritten files (and never the tombstoned originals).
    */
  def listBlockFiles(outDir: String, conf: Configuration): Array[(String, Long)] =
    graft.pipeline.Maintenance.liveBlockFiles(outDir, conf)
}

private[sources] class GraftTable(
    path: String,
    pinnedSnapshot: Option[Long] = None,
    /** True when this instance was resolved through [[GraftCatalog]]: only
      * then does Spark hand the write planner a FunctionCatalog able to
      * resolve the `graft_bin_*` transform, so only then does the write
      * declare its clustered distribution (see [[GraftWrite]]).
      */
    viaCatalog: Boolean = false
) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft.`$path`"

  /** `_bin` — the writer-assigned salted routing bin, selectable on demand
    * (`SELECT _bin, count(*) … GROUP BY _bin` is the skew-inspection query
    * an operator runs before rebinning a hot corpus). Hidden from
    * `SELECT *`; costs nothing to emit (the readers project the block
    * `bin` column for pruning anyway).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_bin"
        override def dataType(): org.apache.spark.sql.types.DataType = IntegerType
        override def isNullable: Boolean = false
        override def comment(): String =
          "writer-assigned salted bin: pmod(xxhash64(doc_id, salt), num_bins)"
      },
      // `_row_bits` — the row's STORED compressed payload size in bits,
      // straight from the seekable codecs' per-row bit index (O25): the
      // real compression-cost-per-document signal (`_row_bits / n_tok` =
      // exact bits-per-token as encoded), read WITHOUT touching the
      // entropy payload. NULL on blocks whose codec has no per-row index
      // (lightweight block-level codecs — their per-row size is not
      // defined); excludes per-block overhead (embedded table headers).
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_row_bits"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "stored compressed bits of this row's token payload (per-row bit index); " +
            "null on block-level (non-seekable) codecs"
      },
      // `_file` — the block parquet file NAME the row is stored in (file
      // names are immutable identities in this layout, so the name alone is
      // the row's physical address together with `_bin`). The Iceberg-style
      // provenance column: joins against per-file sidecars (content index,
      // token index coverage, audit rows) become exact under sequence-scoped
      // deletes — liveness of (file, doc) pairs is precisely what the scan
      // itself evaluates. Costs nothing: constant per partition.
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "name of the block parquet file this row is stored in"
      }
    )
  override def schema(): StructType = GraftDataSource.Schema
  // ACCEPT_ANY_SCHEMA: Spark's byName append check would reject the common
  // nullable-column DataFrame against this non-null schema; the write
  // builder validates names/types itself and the writers enforce non-null
  // per row with a named error
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA
    )
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // timestampAsOf (epoch ms): wall-clock time travel, resolved against
    // the snapshot files' commit times (the DataFrame face of the
    // catalog's `TIMESTAMP AS OF`). Ambiguous with an explicit snapshot
    // pin — refuse rather than pick silently.
    val byTime = Option(options.get("timestampAsOf")).map { ts =>
      graft.pipeline.EncodeJob.snapshotAsOfTime(
        path,
        SparkSession.active.sparkContext.hadoopConfiguration,
        ts.toLong
      )
    }
    // tag: named snapshot pin (graft.pipeline.Refs) — resolved here so the
    // scan below is indistinguishable from an explicit snapshot pin
    val byTag = Option(options.get("tag")).map { t =>
      graft.pipeline.Refs.resolveOrFail(
        path,
        SparkSession.active.sparkContext.hadoopConfiguration,
        t
      )
    }
    val explicit = Option(options.get("snapshot")).map(_.toLong)
    require(
      Seq(byTime, byTag, explicit).count(_.isDefined) <= 1,
      "options 'snapshot', 'tag' and 'timestampAsOf' are mutually exclusive"
    )
    new GraftScanBuilder(
      path,
      // explicit read option wins; `pinnedSnapshot` is the catalog's
      // `VERSION AS OF` / `TIMESTAMP AS OF` pin (GraftCatalog.loadTable)
      explicit.orElse(byTag).orElse(byTime).orElse(pinnedSnapshot),
      Option(options.get("maxSnapshotsPerBatch")).map(_.toInt),
      // incremental batch read (Iceberg's incremental-scan shape): plan
      // only the rows ADDED by snapshots in (fromSnapshot, snapshot|latest]
      // — the "what's new since my last run" query a downstream pipeline
      // issues instead of re-reading 100 TB. EXCLUSIVE lower bound, so
      // polling with fromSnapshot = last-seen id composes gap-free.
      Option(options.get("fromSnapshot")).map(_.toLong),
      // token-containment needles: emit only rows whose `tokens` array
      // contains the value(s) — the content-search face of the
      // [[TokenIndex]] sidecar (blocks whose blooms provably cannot
      // satisfy the needles are never decoded). An exact filter evaluated
      // at the source (not advisory): correct with or without an index,
      // the index only skips work.
      //   containsToken      = v        one needle
      //   containsAnyToken   = v1,v2,…  rows containing AT LEAST ONE
      //   containsAllTokens  = v1,v2,…  rows containing EVERY needle
      //   containsSeq        = v1,v2,…  rows containing them CONSECUTIVELY
      TokenNeedles.fromOptions(options),
      // sampleDocs/sampleSeed: deterministic hash sample of doc_ids,
      // evaluated on the doc_id metadata stream (payload row-seeked for
      // kept rows only) — see [[DocSample]]
      DocSample.fromOptions(options),
      // tokenPrefix = k: the `tokens` column returns only each row's FIRST
      // min(n_tok, k) values — context-window truncation evaluated at the
      // source. Seekable blocks (hybrid/dhybrid with a row-bits index)
      // entropy-decode exactly k values per row and stop, so "first 2048
      // tokens of every doc" never pays a full-corpus decode; `n_tok` keeps
      // the ORIGINAL stored length (so truncation stats stay computable).
      // containsToken filters compose as truncate-then-filter: containment
      // is evaluated on the truncated view the scan emits.
      Option(options.get("tokenPrefix")).map { v =>
        val k = v.toInt
        require(k > 0, s"tokenPrefix must be positive, got $k")
        k
      }
    )
  }

  /** Layout facts surfaced by `DESCRIBE TABLE EXTENDED graft.\`dir\``
    * (ops-visible without opening any file by hand). One meta.json read
    * per call — DESCRIBE is not a hot path.
    */
  override def properties(): java.util.Map[String, String] = {
    import graft.core.MiniJson.ObjOps
    val spark = SparkSession.active
    // meta.json alone — GraftMeta.load would also read the full Huffman
    // header blob, which DESCRIBE has no use for
    val m = graft.pipeline.EncodeJob
      .loadMeta(spark, path)
      .getOrElse(return java.util.Map.of("provider", "graft"))
    val snaps = graft.pipeline.EncodeJob
      .loadSnapshotRecords(path, spark.sparkContext.hadoopConfiguration)
      .map(_.id)
    java.util.Map.of(
      "provider", "graft",
      "num_bins", m.long("num_bins").toString,
      "salt", m.long("salt").toString,
      "context_model", m.strOpt("context_model").getOrElse("simple"),
      "num_contexts", m.long("num_contexts").toString,
      "max_bits", m.long("max_bits").toString,
      "snapshots", snaps.size.toString,
      "current_snapshot", snaps.maxOption.map(_.toString).getOrElse("none")
    )
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo
  ): org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(path, info, clustered = viaCatalog)

  /** SQL `DELETE FROM graft.\`dir\` WHERE doc_id = …/IN (…)` — the Spark-
    * native face of [[graft.pipeline.Deletes.deleteDocs]] (Iceberg exposes
    * equality deletes the same way). Only doc_id equality/IN predicates are
    * metadata-expressible as one equality-delete commit; anything else
    * (including an unconditioned DELETE, which Spark hands over as
    * AlwaysTrue) is refused HERE so Spark raises its loud "cannot delete"
    * analysis error instead of this table guessing at row-level semantics.
    * ANDed predicates intersect their id sets. The commit is merge-on-read:
    * one delete parquet + one snapshot, no data file moves.
    */
  private def deleteIdSets(filters: Array[org.apache.spark.sql.sources.Filter]): Option[Seq[Set[String]]] = {
    val sets = filters.map {
      case org.apache.spark.sql.sources.EqualTo("doc_id", v: String) => Some(Set(v))
      case org.apache.spark.sql.sources.In("doc_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        Some(vs.iterator.map(_.asInstanceOf[String]).toSet)
      // a condition that constant-folds to false (templated guard clauses)
      // is a legal delete of zero rows, not an unsupported predicate
      case _: org.apache.spark.sql.sources.AlwaysFalse => Some(Set.empty[String])
      case _ => None
    }
    if (filters.nonEmpty && sets.forall(_.isDefined)) Some(sets.toSeq.flatten) else None
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    deleteIdSets(filters).isDefined

  /** TRUNCATE TABLE: the inherited default would call
    * canDeleteWhere(AlwaysTrue) -> false and return false, which Spark's
    * TruncateTableExec treats as SUCCESS-without-cache-refresh — a silent
    * no-op the user reads as "table truncated". Refuse loudly instead.
    */
  override def truncateTable(): Boolean =
    throw new UnsupportedOperationException(
      s"graft table $path does not support TRUNCATE — delete by doc_id, or remove the dir"
    )

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val sets = deleteIdSets(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE supports only doc_id =/IN predicates, got ${filters.mkString(", ")}"
      )
    )
    val ids = sets.reduce(_ intersect _)
    val spark = SparkSession.active
    import spark.implicits._
    graft.pipeline.Deletes.deleteDocs(spark, path, ids.toSeq.toDS()): Unit
  }
}

/** Pushed token-containment needles with three row semantics:
  *   - `any`: a row must contain AT LEAST ONE needle;
  *   - `all`: a row must contain EVERY needle (one index-absent needle
  *     disqualifies the whole block — the strongest pruning);
  *   - `seq`: a row must contain the needles CONSECUTIVELY in order (the
  *     token n-gram contamination screen). Index pruning is the same as
  *     `all` — a sequence needs every member present — and exactness
  *     comes from the window compare on the decoded values.
  * Exact row semantics are always enforced by [[TokenNeedles.rowMatches]]
  * on the decoded values — the index only skips provably hopeless blocks.
  */
private[sources] final case class TokenNeedles(tokens: Array[Int], mode: String) {
  require(tokens.nonEmpty, "at least one token needle required")
  require(tokens.length <= 1024, s"${tokens.length} needles — cap is 1024")
  require(mode == "any" || mode == "all" || mode == "seq", s"unknown needle mode $mode")

  /** Pruning strength: all/seq both require every needle present. */
  private def needEvery: Boolean = mode != "any"

  def describe: String =
    mode + "[" + tokens.take(8).mkString(",") +
      (if (tokens.length > 8) s",… (${tokens.length})" else "") + "]"

  /** Sorted-distinct needle set for any/all matching (lazy, built once per
    * scan): binary search keeps the per-decoded-value cost O(log k) — a
    * 1024-needle banned-token screen would otherwise pay 1024 compares per
    * token on the hot decode path.
    */
  @transient private lazy val sortedTokens: Array[Int] = {
    val s = tokens.clone()
    java.util.Arrays.sort(s)
    // distinct: duplicate needles collapse to set semantics, and binary
    // search then has exactly one slot per value (with duplicates it may
    // land on any of the equal slots — a found[] bitmap would mis-track)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** Exact containment check over one decoded row slice. */
  def rowMatches(vals: Array[Int], start: Int, end: Int): Boolean = mode match {
    case "any" =>
      val s = sortedTokens
      var j = start
      while (j < end) {
        if (java.util.Arrays.binarySearch(s, vals(j)) >= 0) return true
        j += 1
      }
      false
    case "all" =>
      val s = sortedTokens // sorted-distinct: one slot per needle value
      var remaining = s.length
      val found = new Array[Boolean](s.length)
      var j = start
      while (j < end && remaining > 0) {
        val idx = java.util.Arrays.binarySearch(s, vals(j))
        if (idx >= 0 && !found(idx)) { found(idx) = true; remaining -= 1 }
        j += 1
      }
      remaining == 0
    case _ => // seq: consecutive in-order window compare
      var j = start
      val last = end - tokens.length
      while (j <= last) {
        var i = 0
        while (i < tokens.length && vals(j + i) == tokens(i)) i += 1
        if (i == tokens.length) return true
        j += 1
      }
      false
  }

  /** Can a block with these index entries hold a matching row? Entries are
    * the multi-valued (bin, block_seq) group; empty = unknown = maybe.
    */
  def blockMayMatch(es: List[TokenIndex.Entry]): Boolean = {
    if (es.isEmpty) return true
    @inline def rejected(t: Int): Boolean = !es.exists(_.mayContain(t))
    if (needEvery) !tokens.exists(rejected) // one absent needle kills the block
    else tokens.exists(t => !rejected(t))
  }

  /** Can a FILE with this recorded token range hold a matching row? */
  def fileMayMatch(s: TokenIndex.FileSummary): Boolean = {
    @inline def inRange(t: Int): Boolean = t >= s.tokMin && t <= s.tokMax
    if (needEvery) tokens.forall(inRange) else tokens.exists(inRange)
  }
}

private[sources] object TokenNeedles {
  private def parseList(s: String): Array[Int] =
    s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)

  def fromOptions(options: CaseInsensitiveStringMap): Option[TokenNeedles] = {
    val chosen = Seq(
      Option(options.get("containsToken")).map(v => TokenNeedles(Array(v.toInt), "all")),
      Option(options.get("containsAnyToken")).map(v => TokenNeedles(parseList(v), "any")),
      Option(options.get("containsAllTokens")).map(v => TokenNeedles(parseList(v), "all")),
      Option(options.get("containsSeq")).map(v => TokenNeedles(parseList(v), "seq"))
    ).flatten
    require(
      chosen.size <= 1,
      "options containsToken / containsAnyToken / containsAllTokens / containsSeq are mutually exclusive"
    )
    chosen.headOption
  }
}

/** Deterministic doc-level corpus sample, pushed to the readers: keep a row
  * iff `mix62(hashChars(doc_id) ^ mix62(seed)) ppm-bucket < ppm` — the
  * training-mix experiment query ("a reproducible 1% of the corpus") at
  * metadata cost: readers decode only the doc_id stream for every block and
  * row-seek the payload of sampled rows, instead of full-decoding 100 TB and
  * filtering above the scan. The hash is the cross-engine 62-bit family
  * ([[graft.ops.XHash]]), so the DuckDB oracle recomputes membership exactly;
  * the same doc_id samples identically at any parallelism, snapshot, or bin
  * layout (sampling commutes with time travel, appends and rebin). Like
  * containsToken this is an EXACT filter at the source (not advisory — Spark
  * never sees the dropped rows), so metadata aggregate pushdown and exact
  * numRows gate themselves off under it.
  */
private[sources] final case class DocSample(
    ppm: Int,
    seed: Long,
    /** Stratified rates: per-source ppm overriding `ppm` (which then acts as
      * the `*` default). The hash is doc_id-only either way, so samples at
      * different rates NEST: every doc kept at 1% is kept at 10% — raising a
      * source's rate only ADDS documents, the property a mix experiment
      * sweep relies on.
      */
    bySource: Map[String, Int] = Map.empty
) {
  require(ppm >= 0 && ppm <= 1000000, s"sample ppm must be in [0, 1e6], got $ppm")
  bySource.foreach { case (src, p) =>
    require(p >= 0 && p <= 1000000, s"sample ppm for source '$src' must be in [0, 1e6], got $p")
  }
  private val mixedSeed = graft.ops.XHash.mix62(seed & graft.ops.XHash.Mask62)
  def needsSource: Boolean = bySource.nonEmpty
  def keep(docId: String, source: String): Boolean = {
    val p = if (bySource.isEmpty) ppm else bySource.getOrElse(source, ppm)
    p > 0 && (p == 1000000 ||
      graft.ops.XHash.mix62(graft.ops.XHash.hashChars(docId) ^ mixedSeed) % 1000000L < p)
  }
  def describe: String =
    s"ppm=$ppm,seed=$seed" +
      (if (bySource.isEmpty) ""
       else bySource.toSeq.sorted.map { case (s, p) => s"$s:$p" }.mkString(",bySource=[", ",", "]"))
}

private[sources] object DocSample {
  /** `sampleDocs` = uniform fraction in (0,1);
    * `sampleBySource` = `src:frac,…[,*:frac]` — per-source fractions in
    * [0,1] (1 keeps the source whole, 0 drops it), `*` the default for
    * unlisted sources (absent → unlisted sources are kept whole);
    * `sampleSeed` = long (default 0) — reshuffles membership for repeated
    * experiments. The two sample options are mutually exclusive.
    */
  def fromOptions(options: CaseInsensitiveStringMap): Option[DocSample] = {
    val seed = Option(options.get("sampleSeed")).map(_.toLong).getOrElse(0L)
    def ppmOf(v: String, what: String, openRange: Boolean): Int = {
      val frac = v.toDouble
      if (openRange)
        require(frac > 0.0 && frac < 1.0, s"$what must be a fraction in (0,1), got $v")
      else
        require(frac >= 0.0 && frac <= 1.0, s"$what must be a fraction in [0,1], got $v")
      // any POSITIVE fraction clamps to >=1 ppm (matching sampleDocs and the
      // graft_sample SQL function) — only an explicit 0 drops a source;
      // sub-ppm rates must not silently round a kept source to dropped
      if (frac > 0.0) math.max(1, math.round(frac * 1e6).toInt)
      else 0
    }
    val uniform = Option(options.get("sampleDocs"))
      .map(v => DocSample(ppmOf(v, "sampleDocs", openRange = true), seed))
    val stratified = Option(options.get("sampleBySource")).map { spec =>
      val entries = spec.split(",").map(_.trim).filter(_.nonEmpty).map { e =>
        e.split(":") match {
          case Array(src, f) => src.trim -> ppmOf(f.trim, s"sampleBySource $src", openRange = false)
          case _ => throw new IllegalArgumentException(
            s"sampleBySource entries must be src:fraction, got '$e'")
        }
      }
      require(entries.nonEmpty, "sampleBySource must list at least one src:fraction")
      val (dflt, named) = entries.partition(_._1 == "*")
      DocSample(dflt.lastOption.map(_._2).getOrElse(1000000), seed, named.toMap)
    }
    require(
      uniform.isEmpty || stratified.isEmpty,
      "options sampleDocs and sampleBySource are mutually exclusive"
    )
    uniform.orElse(stratified)
  }
}

private[sources] class GraftScanBuilder(
    path: String,
    snapshot: Option[Long] = None,
    maxSnapshotsPerBatch: Option[Int] = None,
    fromSnapshot: Option[Long] = None,
    containsToken: Option[TokenNeedles] = None,
    sample: Option[DocSample] = None,
    tokenPrefix: Option[Int] = None
) extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = GraftDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Seq[String]] = None
  private var aggBySource: Boolean = false
  private var limit: Option[Int] = None

  /** Per-partition limit: readers stop decoding once they have emitted
    * `n` rows (a `df.show()` over a 100 TB corpus decodes a handful of
    * blocks). We return false — i.e. we do NOT claim the limit as pushed
    * (Spark keeps the full LIMIT above the scan) — and use the recorded n
    * purely as a reader-side early-stop. Do not "upgrade" this to
    * `true`: claiming the push with isPartiallyPushed=false would make
    * Spark drop its limit while we only enforce n PER PARTITION, silently
    * truncating results.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false
  }

  private def supported(f: Filter): Boolean = f match {
    case EqualTo("doc_id", _: String)                             => true
    case In("doc_id", vs) if vs.forall(_.isInstanceOf[String])    => true
    case EqualTo("source", _: String)                             => true
    case In("source", vs) if vs.forall(_.isInstanceOf[String])    => true
    // n_tok comparisons prune ROWS before payload decode: the reader
    // evaluates them on the decoded n_toks metadata stream, so length
    // filters ride the sparse row-seek path instead of decoding full blocks
    case EqualTo("n_tok", _: Int)                                 => true
    case In("n_tok", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Int]) => true
    case GreaterThan("n_tok", _: Int)                             => true
    case GreaterThanOrEqual("n_tok", _: Int)                      => true
    case LessThan("n_tok", _: Int)                                => true
    case LessThanOrEqual("n_tok", _: Int)                         => true
    case IsNotNull(c) if GraftDataSource.Schema.fieldNames.contains(c) => true
    case _                                                        => false
  }

  /** Claim doc_id/source predicates for pruning but return EVERY filter as a
    * post-scan residual — the scan's filtering is advisory (skip work), never
    * authoritative, so a pruning bug can degrade performance but not results.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Live equality deletes ([[graft.pipeline.Deletes]]) make block metadata
    * OVER-count: a pushed COUNT would include rows the merge-on-read filter
    * hides. One lineage read at planning gates the pushdown off (Iceberg
    * makes the same trade: metadata-only answers only without deletes).
    */
  private lazy val hasLiveDeletes: Boolean =
    graft.pipeline.Deletes
      .hasLive(path, SparkSession.active.sparkContext.hadoopConfiguration, snapshot)

  /** COUNT/SUM/MIN/MAX(n_tok) aggregates are answered from block METADATA
    * (every block records its row and token-value counts; min/max decode
    * the small n_toks stream), so a corpus-wide count never decodes a
    * block's entropy payload — partial per-partition rows, Spark combines.
    * `GROUP BY source` pushes too (the per-source token-count report is THE
    * training-mix curation query): blocks record their rows' sources as a
    * tiny lightweight-coded stream, and the encode sort keeps blocks
    * source-homogeneous, so a grouped COUNT/SUM usually reads n_rows /
    * n_values per block and emits one partial row per source per file —
    * still zero entropy-payload bytes. Spark only offers aggregates here
    * when NO post-scan filters remain; since [[pushFilters]] keeps every
    * filter residual, an aggregate can only be pushed on an unfiltered
    * scan — metadata counts are then exact (unless live deletes exist; see
    * [[hasLiveDeletes]]).
    */
  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    def col(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _                                               => None
      }
    // containsToken hides rows Spark cannot see from here — metadata
    // counts would over-count, exactly like live deletes; an incremental
    // read sees a snapshot-range subset, so whole-file metadata would
    // over-count the same way
    if (pushed.nonEmpty || hasLiveDeletes || containsToken.isDefined ||
      sample.isDefined || fromSnapshot.isDefined) return false
    // the only grouping the block metadata can answer is BY SOURCE (the
    // sources stream); anything else (doc_id, n_tok expressions, multiple
    // keys) stays in Spark
    val groupBySource = agg.groupByExpressions.toSeq match {
      case Seq()  => false
      case Seq(g) => if (col(g).contains("source")) true else return false
      case _      => return false
    }
    val kinds = agg.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(GraftAgg.CountRows)
      case c: aggregate.Count
          if !c.isDistinct && col(c.column).exists(GraftDataSource.Schema.fieldNames.contains) =>
        Some(GraftAgg.CountRows) // no column is nullable: count(col) == count(*)
      case s: aggregate.Sum if !s.isDistinct && col(s.column).contains("n_tok") =>
        Some(GraftAgg.SumTokens)
      // MIN/MAX(n_tok) decode each block's n_toks metadata stream (~n_rows
      // small ints, lightweight-coded) — still no entropy payload read
      case m: aggregate.Min if col(m.column).contains("n_tok") =>
        Some(GraftAgg.MinNtok)
      case m: aggregate.Max if col(m.column).contains("n_tok") =>
        Some(GraftAgg.MaxNtok)
      case _ => None
    }
    if (kinds.forall(_.isDefined)) {
      pushedAgg = Some(kinds.flatten)
      aggBySource = groupBySource
      true
    } else false
  }

  override def build(): Scan =
    new GraftScan(
      path, required, pushed, pushedAgg, snapshot, limit, maxSnapshotsPerBatch, containsToken,
      aggGroupBySource = aggBySource, fromSnapshot = fromSnapshot, sample = sample,
      tokenPrefix = tokenPrefix)
}

/** Conjunction of pushed n_tok comparison predicates in serializable data
  * form: inclusive [lo, hi] bounds plus an optional allowed-value set.
  * Advisory like every pushed filter here — Catalyst re-checks the full
  * predicate above the scan, so this can only skip work, never change
  * results.
  */
private[sources] final case class NtokPred(lo: Int, hi: Int, in: Option[Set[Int]]) {
  def ok(n: Int): Boolean = n >= lo && n <= hi && in.forall(_.contains(n))
}

private[sources] object NtokPred {
  /** None when no n_tok predicate was claimed. */
  def from(fs: Array[Filter]): Option[NtokPred] = {
    var lo = Int.MinValue
    var hi = Int.MaxValue
    var in: Option[Set[Int]] = None
    var any = false
    def addIn(s: Set[Int]): Unit = {
      in = Some(in.map(_ intersect s).getOrElse(s)); any = true
    }
    def unsatisfiable(): Unit = { lo = Int.MaxValue; hi = Int.MinValue; any = true }
    fs.foreach {
      case EqualTo("n_tok", v: Int) => addIn(Set(v))
      case In("n_tok", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Int]) =>
        addIn(vs.map(_.asInstanceOf[Int]).toSet)
      case GreaterThan("n_tok", v: Int) =>
        if (v == Int.MaxValue) unsatisfiable() else { lo = math.max(lo, v + 1); any = true }
      case GreaterThanOrEqual("n_tok", v: Int) => lo = math.max(lo, v); any = true
      case LessThan("n_tok", v: Int) =>
        if (v == Int.MinValue) unsatisfiable() else { hi = math.min(hi, v - 1); any = true }
      case LessThanOrEqual("n_tok", v: Int) => hi = math.min(hi, v); any = true
      case _ => ()
    }
    if (any) Some(NtokPred(lo, hi, in)) else None
  }
}

/** A pushed-down aggregate the block metadata can answer. */
private[sources] object GraftAgg {
  val CountRows = "count_rows"
  val SumTokens = "sum_tokens"
  val MinNtok = "min_n_tok"
  val MaxNtok = "max_n_tok"

  /** Kinds that need the per-block n_toks column decoded (still metadata:
    * one small lightweight-coded int stream per block, never the entropy
    * payload).
    */
  def needsNtoks(kinds: Seq[String]): Boolean =
    kinds.exists(k => k == MinNtok || k == MaxNtok)
}

private[sources] class GraftScan(
    path: String,
    required: StructType,
    filters: Array[Filter],
    agg: Option[Seq[String]] = None,
    snapshot: Option[Long] = None,
    limit: Option[Int] = None,
    maxSnapshotsPerBatch: Option[Int] = None,
    containsToken: Option[TokenNeedles] = None,
    aggGroupBySource: Boolean = false,
    fromSnapshot: Option[Long] = None,
    sample: Option[DocSample] = None,
    tokenPrefix: Option[Int] = None
) extends Scan
    with Batch
    with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** TWO driver-side lineage reads per scan — down from five, but not one,
    * because the views have OPPOSITE ordering constraints vs the block-file
    * listing under concurrent commits:
    *   - delete state must be resolved BEFORE the listing (see
    *     [[blockFiles]]: the reverse interleaving with a concurrent purge
    *     would resurrect deleted rows) → [[lineageRecords]];
    *   - file→snapshot attribution must be resolved AFTER the listing, or
    *     a file committed during planning would appear in the listing but
    *     not the lineage and default to -1 — every delete would wrongly
    *     hide its re-appended rows → [[postListingLineage]].
    * Time-travel bins ride the early read (bins are write-once); the as-of
    * file exclusion rides the late one (a file committed mid-planning must
    * be seen so it can be excluded). The late read takes its rebin from
    * the scan's one marker listing ([[compactionState]]), so its fold
    * agrees with the listed files.
    */
  private lazy val lineageRecords: Seq[graft.pipeline.EncodeJob.SnapshotRecord] =
    graft.pipeline.EncodeJob.lineage(path, hadoopConf).records

  /** Fresh lineage read forced after the block-file listing — the superset
    * of [[lineageRecords]] covering files committed while planning ran.
    */
  private lazy val postListingLineage: graft.pipeline.EncodeJob.Lineage = {
    blockFiles: Unit
    graft.pipeline.EncodeJob.lineage(path, hadoopConf, Some(compactionState))
  }

  /** Snapshot time travel: a snapshot sees exactly the bins committed by it
    * and its ancestors (blocks are write-once per bin, so the bin set IS the
    * as-of state — the queryable face of EncodeJob's snapshot lineage).
    * History older than a committed rebin's base refuses loudly: the old
    * bins_added ids live in the PRE-rebin bin space and would be
    * reinterpreted under the new routing (the lineage reader has already
    * dropped them, so without this guard the plain not-found error fires).
    */
  private lazy val snapshotBins: Option[Set[Int]] = snapshot.map { id =>
    rebinInfo.foreach { r =>
      require(
        id >= r.baseSnapshot,
        s"snapshot $id predates the rebin of $path (base snapshot ${r.baseSnapshot}) — " +
          "the table was redistributed and earlier history folded (maintenance coarsened " +
          "the reachable history)"
      )
    }
    require(
      lineageRecords.exists(_.id == id),
      s"snapshot $id not found under $path/_snapshots (have ${lineageRecords.map(_.id).sorted.mkString(",")})"
    )
    lineageRecords.filter(_.id <= id).flatMap(_.binsAdded).toSet
  }

  private def stringValues(fs: Array[Filter], column: String): Option[Set[String]] = {
    val sets = fs.collect {
      case EqualTo(`column`, v: String) => Set(v)
      case In(`column`, vs)             => vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private val staticDocIds: Option[Set[String]] = stringValues(filters, "doc_id")
  private val sourceFilter: Option[Set[String]] = stringValues(filters, "source")
  private val ntokPred: Option[NtokPred] = NtokPred.from(filters)

  /** Runtime (join-driven) doc_id restriction — set by Spark's dynamic
    * pruning through [[filter]] before partition planning. The combined id
    * set and its bin grouping are memoized on write, so a 1M-key runtime
    * filter hashes once, not once per description/planning/factory call.
    *
    * IMPORTANT: runtime ids must flow to the readers through the
    * (re-planned) PARTITIONS, not the reader factory — Spark forces the
    * factory during physical planning (`supportsColumnar`), BEFORE dynamic
    * pruning delivers the join keys, so a factory snapshot of this state
    * is stale. [[planInputPartitions]] runs after [[filter]] and attaches
    * each file's slice of the id set to its partition.
    */
  @volatile private var runtimeDocIds: Option[Set[String]] = None
  @volatile private var cachedDocState: Option[(Option[Set[String]], Option[Map[Int, Array[String]]])] = None

  import GraftDataSource.intersectOpt

  private def docState: (Option[Set[String]], Option[Map[Int, Array[String]]]) =
    cachedDocState match {
      case Some(s) => s
      case None =>
        val ids = intersectOpt(staticDocIds, runtimeDocIds)
        val byBin =
          ids.map(_.toArray.sorted.groupBy(GraftDataSource.binOf(_, meta.numBins, meta.salt)))
        val s = (ids, byBin)
        cachedDocState = Some(s)
        s
    }

  private def docIdFilter: Option[Set[String]] = docState._1

  private lazy val hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** ONE marker listing per scan: the live file set AND the (possibly
    * rebin-overridden) bin layout both derive from it, so a rebin committing
    * mid-planning can never pair new files with old routing or vice versa.
    * Forcing order inside: meta.json strictly BEFORE the marker listing,
    * and the delete state BEFORE the file listing (the purge-commit
    * ordering [[blockFiles]] documents).
    */
  private lazy val compactionState: Seq[graft.pipeline.Maintenance.Compaction] = {
    rawMeta: Unit
    deleteState: Unit
    graft.pipeline.Maintenance.committedCompactions(path, hadoopConf)
  }
  private lazy val rebinInfo: Option[graft.pipeline.Maintenance.RebinInfo] =
    graft.pipeline.Maintenance.rebinStateFrom(compactionState)
  private lazy val rawMeta: GraftMeta = GraftMeta.loadRaw(path, hadoopConf)
  private lazy val meta: GraftMeta =
    rebinInfo.map(r => rawMeta.copy(numBins = r.numBins, salt = r.salt)).getOrElse(rawMeta)

  /** doc_id predicates re-derive the writer's salted bins; None = all bins. */
  private def docIdBins: Option[Set[Int]] = docState._2.map(_.keySet)

  /** Bins this scan may touch: doc_id-derived ∩ snapshot-visible. */
  private def wantedBins: Option[Set[Int]] = intersectOpt(docIdBins, snapshotBins)

  private lazy val blockFiles: Array[(String, Long)] = {
    // ORDER MATTERS vs a concurrent purge commit: resolve the delete state
    // BEFORE listing files. Then a purge landing in between only makes the
    // scan apply an already-materialized delete to already-purged files —
    // harmless. The reverse interleaving (list pre-purge victims, read
    // post-purge retirement) would silently resurrect deleted rows, since
    // the delete filter is authoritative (no residual above the scan
    // re-applies it).
    deleteState: Unit
    graft.pipeline.Maintenance.liveBlockFilesFrom(path, hadoopConf, compactionState)
  }

  /** The equality deletes this scan must merge at read
    * ([[graft.pipeline.Deletes]]): delete files committed at ids ≤ the
    * requested snapshot, minus files a committed purge already applied
    * physically. Evaluating this also enforces the reachability guard
    * (time travel older than a purged delete fails loudly). Always resolved
    * before [[blockFiles]] — see the ordering note there.
    */
  private lazy val deleteState: graft.pipeline.Deletes.DeleteState =
    graft.pipeline.Deletes.liveDeletesFrom(
      lineageRecords,
      graft.pipeline.Maintenance.appliedDeleteNames(path, hadoopConf),
      snapshot
    )

  /** Which snapshot committed each block file, from the `files_added`
    * lineage (DSv2 appends and replaces). Files in no snapshot's file
    * lineage (EncodeJob bootstrap blocks, compacted rewrites) map to -1:
    * every delete applies to them — sound, because snapshot ids are
    * monotonic in wall time, so any file a compaction folded was committed
    * before every later delete, and compaction refuses to run under LIVE
    * deletes ([[graft.pipeline.Maintenance.compact]]).
    *
    * Each partition carries its file's entry so the reader applies
    * Iceberg's equality-delete sequence rule: delete file D committed at
    * snapshot Sd hides rows only in data files committed at snapshots < Sd.
    * A doc_id re-appended AFTER its delete is therefore visible — replace
    * = delete + append, atomically via [[graft.pipeline.Deletes.replaceDocs]].
    */
  private lazy val fileCommitSnaps: Map[String, Long] =
    postListingLineage.records.flatMap(r => r.filesAdded.map(_ -> r.id)).toMap

  /** As-of file exclusion for DSv2 appends: bins are write-once for
    * EncodeJob snapshots (bin visibility covers them) but appends add files
    * to EXISTING bins, so a time-travel read must drop the files committed
    * AFTER the requested snapshot. Exclusion is only sound while those
    * later files are still live — once maintenance compacts an appended
    * file, its rows are mixed into rewritten files that cannot be excluded
    * at file granularity, so the read fails loudly instead of silently
    * including future rows (Iceberg's stance: maintenance coarsens
    * reachable history).
    */
  private lazy val excludedAppendFiles: Set[String] = snapshot match {
    case None => Set.empty
    case Some(s) =>
      // post-listing read: a file committed while planning ran must be in
      // this set, or the as-of scan would include rows from the future
      val later = postListingLineage.records
        .filter(_.id > s)
        .flatMap(_.filesAdded)
        .toSet
      if (later.nonEmpty) {
        val live = blockFiles.map(f => GraftScan.nameOf(f._1)).toSet
        val folded = later -- live
        require(
          folded.isEmpty,
          s"snapshot $s cannot be reconstructed: files appended after it " +
            s"(${folded.toSeq.sorted.take(4).mkString(", ")}${if (folded.size > 4) ", …" else ""}) " +
            "were compacted or vacuumed — maintenance coarsened the reachable history"
        )
      }
      later
  }

  override def readSchema(): StructType = agg match {
    case Some(kinds) =>
      val aggFields = kinds.zipWithIndex.map { case (k, i) =>
        // SUM/MIN/MAX over zero rows are NULL; counts never are. MIN/MAX
        // keep n_tok's int type (Spark re-aggregates the partials typed).
        k match {
          case GraftAgg.MinNtok | GraftAgg.MaxNtok =>
            StructField(s"${k}_$i", IntegerType, nullable = true)
          case _ =>
            StructField(s"${k}_$i", LongType, nullable = k == GraftAgg.SumTokens)
        }
      }
      // Spark maps a pushed group-by POSITIONALLY: grouping columns first,
      // then the aggregate columns (the JDBC partial-pushdown contract)
      if (aggGroupBySource)
        StructType(StructField("source", StringType, nullable = false) +: aggFields)
      else StructType(aggFields)
    case None => required
  }

  override def toBatch: Batch = this

  // a 1M-value In filter (the runtime-filter shape) must not render 1M
  // entries into every explain/UI string
  private def brief[A](xs: Iterable[A], max: Int = 20): String = {
    val s = xs.take(max + 1).toSeq
    if (s.lengthCompare(max) > 0) s.take(max).mkString(",") + s",… (${xs.size} total)"
    else s.mkString(",")
  }

  override def description(): String =
    s"GraftScan path=$path, readSchema=[${required.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${brief(filters.toSeq.map(_.toString.take(200)), 8)}]" +
      agg.map(k =>
        s", pushedAggregates=[${k.mkString(",")}]" +
          (if (aggGroupBySource) ", groupedBy=[source]" else "")).getOrElse("") +
      containsToken.map(t => s", containsTokens=${t.describe}").getOrElse("") +
      sample.map(sp => s", sampleDocs=${sp.describe}").getOrElse("") +
      tokenPrefix.map(k => s", tokenPrefix=$k").getOrElse("") +
      snapshot.map(s => s", snapshot=$s").getOrElse("") +
      fromSnapshot.map(s => s", fromSnapshot=$s").getOrElse("") +
      docIdBins.map(b => s", prunedBins=[${brief(b.toSeq.sorted)}]").getOrElse("") +
      (if (deleteState.isEmpty) ""
       else s", liveDeletes=${deleteState.live.size} files/${deleteState.totalIds} ids")

  /** Opt-in storage-partitioned scan (`spark.graft.binPartitionedScan=true`):
    * one task group per BIN, each split keyed by [[HasPartitionKey]], with
    * the partitioning reported as `graft_bin(doc_id, numBins, salt)` — the
    * FunctionCatalog-registered routing function. Two same-layout graft
    * tables loaded through the catalog then equi-join on doc_id with ZERO
    * exchange (Iceberg's bucket-SPJ pattern; at 100 TB the joins this
    * kills are the last shuffle in the engine's join story). None (normal
    * per-file planning) when: the conf is off, an aggregate/limit was
    * pushed, the dir lacks exact manifest bin claims for every live file,
    * or the scan is loaded without a catalog (Spark then cannot resolve
    * the function identity and quietly falls back — reporting is advisory).
    * Both [[outputPartitioning]] and [[planInputPartitions]] derive from
    * THIS one value, so the report and the partitions can never disagree.
    */
  private lazy val keyedBinPartitions: Option[Array[(Int, Array[String])]] = {
    val wantKeyed = SparkSession.active.conf
      .getOption("spark.graft.binPartitionedScan")
      .exists(_.toBoolean)
    if (!wantKeyed || agg.nonEmpty || limit.nonEmpty || fromSnapshot.nonEmpty) None
    else {
      val live = blockFiles.filterNot { case (f, _) => excludedAppendFiles.contains(GraftScan.nameOf(f)) }
      GraftScan.manifestIndex(path, hadoopConf, live).map(_.fileBins).filter(_.nonEmpty).flatMap { claims =>
        val (claimed, unclaimed) =
          live.partition { case (f, _) => claims.contains(GraftScan.nameOf(f)) }
        // Spark's own writer (Bench and the SparkEntry fixtures write block
        // files with it) commits a ZERO-ROW part file for a write task with
        // no bins; no manifest row claims it, but it also holds nothing —
        // verify by footer record count (cached, at most KeyedProbeCap
        // files) rather than give up on keyed planning. An unclaimed file
        // WITH rows is outside the manifest (blocks written outside the
        // engine's writers) → fall back to per-file planning.
        val files = claimed.map(_._1)
        val emptiesOnly = unclaimed.length <= GraftScan.KeyedProbeCap &&
          unclaimed.forall { case (f, len) =>
            GraftScan.parquetRowCount(f, len, hadoopConf) == 0L
          }
        if (!emptiesOnly) None
        else {
          // ALL visible bins stay (no doc_id pruning here): the reported
          // partitioning must be stable, and the readers still apply the
          // exact doc filters from the factory
          val byBin = scala.collection.mutable.TreeMap[Int, scala.collection.mutable.ArrayBuffer[String]]()
          for {
            f <- files
            b <- claims(GraftScan.nameOf(f))
            if snapshotBins.forall(_.contains(b))
          } byBin.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer[String]()) += f
          if (byBin.isEmpty) None
          else Some(byBin.iterator.map { case (b, fs) => (b, fs.toArray) }.toArray)
        }
      }
    }
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedBinPartitions match {
      case Some(groups) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        // Catalyst only keeps a reported KeyGroupedPartitioning when every
        // transform has exactly ONE child and it is a column reference
        // (KeyGroupedPartitioning.supportsExpressions — the Iceberg
        // bucket(col) shape; extra literal args disqualify the transform).
        // So the layout parameters ride in the FUNCTION NAME instead:
        // `graft_bin_<numBins>_<salt>(doc_id)`, a name family the catalog
        // resolves ([[GraftCatalog.loadFunction]]) whose canonical name
        // embeds the layout — two scans co-join iff numBins AND salt match.
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(
            Expressions.apply(
              s"graft_bin_${meta.numBins}_${meta.salt}",
              Expressions.column("doc_id")
            )
          ),
          groups.length
        )
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  // ---- runtime (join-driven) filtering: a broadcast join against a small
  // doc_id set lets Spark push the build side's keys into this scan at
  // execution time — the 100 TB shape "join the corpus with a 1M-doc
  // allowlist" then reads only the allowlist's bins.
  // Disabled in keyed mode: dropping bins would invalidate the reported
  // partitioning, and a storage-partitioned join needs no runtime pruning
  // (each task already reads exactly its own bin on both sides).
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // also declined for incremental reads: delta partitions are planned by
    // snapshot range, not doc_id bins, so runtime keys could not prune them
    // (the join above re-checks — declining costs correctness nothing)
    if (keyedBinPartitions.isDefined || fromSnapshot.isDefined) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("doc_id"))

  override def filter(runtimeFilters: Array[Filter]): Unit =
    stringValues(runtimeFilters, "doc_id").foreach { ids =>
      runtimeDocIds = Some(runtimeDocIds.fold(ids)(_ intersect ids))
      cachedDocState = None // re-derive ids ∩ bins once, lazily
      cachedPartitions = None // re-plan under the narrowed id set
    }

  private[sources] def runtimeFiltered: Boolean = runtimeDocIds.isDefined

  /** One partition per surviving block file. Runs AFTER runtime filtering,
    * so each partition carries the CURRENT doc_id restriction — sliced to
    * the ids whose bins the file's manifest rows claim, so a 1M-id
    * allowlist ships each task only its own handful of ids, not the whole
    * set, and total slicing work stays O(files × bins-per-file) hash
    * lookups. Files no row names get the full set (conservative, bounded).
    * A small wanted-bin set also rides along for parquet row-group
    * skipping in the reader.
    */
  /** Memoized: Spark invokes planInputPartitions more than once per query
    * (plan rendering / outputPartitioning checks, then execution), and the
    * planning here is pure over the scan's listing-time state plus the
    * runtime-filter ids — [[filter]] drops the memo when those narrow, so
    * a post-filter replan sees the restriction while repeated calls on an
    * unchanged scan stop re-paying the whole planning pass.
    */
  @volatile private var cachedPartitions: Option[Array[InputPartition]] = None

  override def planInputPartitions(): Array[InputPartition] =
    cachedPartitions match {
      case Some(p) => p
      case None =>
        val r = planInputPartitionsImpl()
        cachedPartitions = Some(r)
        r
    }

  private def planInputPartitionsImpl(): Array[InputPartition] = {
    fromSnapshot.foreach { s =>
      // incremental read: ONLY the rows added by snapshots in (s, e] —
      // shared planner with the streaming source, so a batch catch-up and
      // a stream catch-up over the same range read identical rows. Deletes
      // still apply at e with sequence scoping (file partitions carry
      // their commit snapshot; bin partitions ride the factory's delete
      // files), so a replace inside the range contributes its NEW content.
      val e = snapshot.getOrElse(lineageRecords.map(_.id).maxOption.getOrElse(-1L))
      require(
        s == -1L || lineageRecords.exists(_.id == s),
        s"fromSnapshot $s not found under $path/_snapshots " +
          s"(have ${lineageRecords.map(_.id).sorted.mkString(",")})"
      )
      require(
        e >= s,
        s"fromSnapshot $s is newer than the read end $e — an incremental range must go forward"
      )
      return GraftScan.planDeltaPartitions(
        path, s, e, blockFiles, postListingLineage, hadoopConf, s"incremental read ($s, $e]")
    }
    keyedBinPartitions.foreach { groups =>
      // keyed (storage-partitioned) planning: one split per (file, bin),
      // grouped into bin tasks by Spark via the partition key. Deletes
      // apply in the reader like every other plan (fileCommitSnap scopes
      // them).
      return groups.flatMap { case (b, fs) =>
        fs.map { f =>
          GraftInputPartition(
            f,
            binsOverride = Some(Array(b)),
            fileCommitSnap = fileCommitSnaps.getOrElse(GraftScan.nameOf(f), -1L),
            spjBin = Some(b)
          ): InputPartition
        }
      }
    }
    val planned0 =
      GraftScan
        .planFiles(path, blockFiles, wantedBins, hadoopConf)
        .filter { case (f, _) => !excludedAppendFiles.contains(GraftScan.nameOf(f)) }
    // token-index file pruning: drop files whose recorded token value range
    // cannot satisfy the needles (O(files) driver map, no footer reads).
    // Files the index has no summary for are kept — pruning is
    // downward-advisory.
    val planned = containsToken match {
      case Some(t) =>
        TokenIndex.fileSummaries(path, hadoopConf) match {
          case Some(sums) =>
            planned0.filter { case (f, _) =>
              sums.get(GraftScan.nameOf(f)).forall(t.fileMayMatch)
            }
          case None => planned0
        }
      case None => planned0
    }
    val idsByBin = docState._2
    val smallBins: Option[Array[Int]] = wantedBins.filter(_.size <= 1024).map(_.toArray.sorted)
    // files no manifest row names would each have to carry the whole id
    // set; bounded so a 1M-id runtime filter over a manifest-less dir
    // cannot multiply itself into every task — past the cap those readers
    // emit unfiltered rows and the join/residual above re-checks (correct,
    // just less pruned)
    lazy val allIds: Option[Array[String]] =
      idsByBin.map(_.valuesIterator.flatten.toArray.sorted).filter(_.length <= 65536)
    planned.map { case (f, fileBins) =>
      // slice the (bin -> ids) map down to this file's claimed bins; an
      // unclaimed file gets the bounded full set
      def sliceBins(m: Map[Int, Array[String]]): Option[Array[String]] =
        fileBins.map(_.iterator.flatMap(m.get).flatten.toArray.sorted)
      GraftInputPartition(
        f,
        binsOverride = smallBins,
        docIdsOverride = idsByBin.flatMap(m => sliceBins(m).orElse(allIds)),
        fileCommitSnap = fileCommitSnaps.getOrElse(GraftScan.nameOf(f), -1L)
      )
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(
      headerBytes = meta.headerBytes,
      maxBits = meta.maxBits,
      numContexts = meta.numContexts,
      contextModel = meta.contextModel,
      requiredFields = required.fieldNames,
      docIdFilter = docIdFilter,
      sourceFilter = sourceFilter,
      ntokPred = ntokPred,
      // parquet or-chain filter: a pruning optimization, kept small; the
      // exact snapshot check is visibleBins in the readers
      wantedBins = wantedBins.filter(_.size <= 1024).map(_.toArray.sorted),
      aggKinds = agg.map(_.toArray),
      aggBySource = aggGroupBySource,
      visibleBins = snapshotBins.map(_.toArray.sorted),
      conf = SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      limit = limit,
      // the live delete files with their commit snapshots: every reader
      // loads the ones that apply to its file (sequence scoping)
      deleteFiles =
        if (deleteState.isEmpty) Array.empty
        else deleteState.live.map(d => (s"$path/_deletes/${d.name}", d.snapshotId)).toArray,
      containsToken = containsToken,
      sample = sample,
      tablePath = path,
      tokenPrefix = tokenPrefix
    )

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(blockFiles.map(_._2).sum)
    override def numRows(): OptionalLong =
      // exact only for the full table: filters/snapshots see a subset, live
      // deletes hide rows the manifest still counts, and a containsToken
      // needle hides rows the same way (without this gate, CBO would size a
      // 1-row needle result at the full corpus and e.g. refuse to broadcast
      // it in a join).
      // Every writer, the streaming sink included, publishes a file's rows
      // before the file goes live, so the live files' rows sum to the
      // table's rows.
      // fromSnapshot sees a snapshot-range subset, like the other gates
      if (filters.isEmpty && snapshot.isEmpty && deleteState.isEmpty && containsToken.isEmpty &&
        sample.isEmpty && fromSnapshot.isEmpty)
        GraftScan
          .manifestIndex(path, hadoopConf, blockFiles)
          .flatMap(_.numRows)
          .fold(OptionalLong.empty())(n => OptionalLong.of(n))
      else OptionalLong.empty()
  }

  /** Streaming read: each EncodeJob snapshot is one micro-batch (its
    * bins_added delta) — the Iceberg-style incremental-read pattern over
    * the write-once bin layout.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(path, () => createReaderFactory(), maxSnapshotsPerBatch)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(
      new BlocksDecodedMetric,
      new TokenValuesDecodedMetric,
      new RowsEmittedMetric,
      new BlocksIndexSkippedMetric
    )
}

private[sources] object GraftScan {
  /** Most unclaimed files the keyed planner probes for zero rows
    * ([[parquetRowCount]]) before it falls back to per-file planning.
    */
  val KeyedProbeCap = 4096

  /** Plan the rows ADDED by snapshots in (s, e] — the ONE delta planner
    * behind both the streaming source (each micro-batch is one offset
    * range) and the batch incremental read (`option("fromSnapshot", s)`),
    * so the two surfaces can never disagree on what a snapshot range
    * contains. `lineage` must be read BEFORE `files` was listed (a file
    * committed in between then appears in the listing but in no planned
    * delta — correctly excluded, it belongs to a later range).
    *
    * Two delta granularities: EncodeJob snapshots commit whole write-once
    * BINS; DSv2 append snapshots add FILES to existing bins. A bin-delta
    * partition must therefore exclude every file carried by file-level
    * lineage (any snapshot's files_added) — those rows belong to exactly
    * the range spanning their own append snapshot, never to a bin replay.
    *
    * Compaction folds appended files into rewritten files whose rows a bin
    * replay cannot tell apart from EncodeJob rows. Two distinct hazards: a
    * folded file IN range (s, e] means rows this range owes that no live
    * file carries (would drop), and a folded file BEYOND e means rows a
    * bin replay in THIS range would emit early (double-read later) — but
    * only if this range replays bins at all; a pure file-delta range never
    * touches rewritten files. The one recoverable in-range case is the
    * FULL from-scratch range (s == -1, nothing folded beyond e), where the
    * all-bins replay emits the folded rows itself. Anything else refuses
    * loudly rather than drop or double-read rows.
    */
  def planDeltaPartitions(
      path: String,
      s: Long,
      e: Long,
      files: Array[(String, Long)],
      lineage: graft.pipeline.EncodeJob.Lineage,
      hadoopConf: Configuration,
      context: String
  ): Array[InputPartition] = {
    if (e <= s) return Array.empty
    val recs = lineage.records
    // a committed rebin folded all earlier history into its base snapshot:
    // pre-rebin bin deltas would be reinterpreted in the NEW bin space
    // (stale stream checkpoints would silently re-read the whole corpus as
    // a "delta", or worse, a wrong subset of it) — refuse loudly instead.
    // A from-scratch replay (s == -1) is legal: the lineage starts at the
    // base record, which replays the full corpus.
    lineage.rebin.foreach { r =>
      require(
        s == -1L || s >= r.baseSnapshot,
        s"$context starts at snapshot $s, which predates the rebin of $path (base " +
          s"snapshot ${r.baseSnapshot}) — the table was redistributed and earlier history " +
          "folded; streams must restart from a fresh checkpoint, batch readers drop " +
          "fromSnapshot (a full read is exact)"
      )
      require(
        e >= r.baseSnapshot,
        s"$context ends at snapshot $e, which predates the rebin of $path (base " +
          s"snapshot ${r.baseSnapshot}) — that history was folded"
      )
    }
    val inRange = recs.filter(x => x.id > s && x.id <= e)
    val deltaBins = inRange.flatMap(_.binsAdded).toSet
    val deltaFiles = inRange.flatMap(_.filesAdded).toSet
    val allAppendFiles = recs.flatMap(_.filesAdded).toSet
    if (deltaBins.isEmpty && deltaFiles.isEmpty) return Array.empty
    val liveNames = files.map(f => GraftScan.nameOf(f._1)).toSet
    val folded = (r: graft.pipeline.EncodeJob.SnapshotRecord) =>
      r.filesAdded.exists(f => !liveNames.contains(f))
    val foldedInRange = inRange.filter(folded)
    val foldedBeyond = recs.filter(r => r.id > e && folded(r))
    val hazards = foldedInRange ++ (if (deltaBins.nonEmpty) foldedBeyond else Seq.empty)
    if (hazards.nonEmpty) {
      val fullReplay = s == -1L && foldedBeyond.isEmpty
      require(
        fullReplay,
        s"$context cannot be planned: appended files of snapshots " +
          s"${hazards.map(_.id).mkString(", ")} were compacted into rewritten files " +
          "that a partial replay can neither exclude nor reach — re-read from scratch " +
          "(streams: restart from a fresh checkpoint; batch: drop fromSnapshot — a full " +
          "read is exact), or disable compaction while incremental readers are catching up"
      )
      // full replay: folded rows arrive via the bin route; only still-live
      // append files are planned as file deltas (collected below)
    }
    // file-delta partitions carry their commit snapshot so the readers'
    // delete application stays sequence-scoped (a replace's own files must
    // not be hidden by the delete committed in the same snapshot)
    val fileSnapOf: Map[String, Long] = recs.flatMap(r => r.filesAdded.map(_ -> r.id)).toMap
    val fileParts: Array[InputPartition] = files.collect {
      case (f, _) if deltaFiles.contains(GraftScan.nameOf(f)) =>
        GraftInputPartition(f, fileCommitSnap = fileSnapOf.getOrElse(GraftScan.nameOf(f), -1L))
    }
    if (deltaBins.isEmpty) return fileParts
    val bins = deltaBins.toArray.sorted
    // same manifest pruning as the batch path; the readers' exact bin
    // check keeps any kept file correct regardless
    val binParts: Array[InputPartition] = GraftScan
      .pruneFiles(
        path,
        files.filterNot(f => allAppendFiles.contains(GraftScan.nameOf(f._1))),
        Some(deltaBins),
        hadoopConf
      )
      .map(f => GraftInputPartition(f, Some(bins)))
    binParts ++ fileParts
  }

  /** Driver-side index derived from the `_manifest` parquet, read without
    * a Spark job. Each row is a fact about one immutable block file (the
    * blocks of one bin inside it — [[graft.pipeline.EncodeJob.BinManifest]]),
    * so the index keeps the rows whose file is in `live` and resolves
    * nothing else: claims key by (file, bin), a repeated row counts once.
    * Carries the corpus row count over the live claimed files (broadcast
    * decisions) and the block-file→bins claims — the file-level analog of
    * the reference's random-access offset index
    * (/root/reference/src/graphs/huffman_graph_decoder.rs:151-205), letting
    * a point read over an 800k-file corpus plan O(hit-bins) partitions with
    * zero footer opens. A live file no row names claims nothing —
    * [[pruneFiles]] keeps unclaimed files, so the index can only skip files
    * the manifest explicitly accounts for. Rows of a pre-v5 manifest claim
    * too, but count no rows per file: numRows is then unknown.
    *
    * The parsed manifest is cached JVM-wide per manifest-listing
    * fingerprint (any commit invalidates); None when no manifest row exists.
    */
  final case class ManifestIndex(numRows: Option[Long], fileBins: Map[String, Array[Int]])

  /** All rows of one manifest listing: file → bin → n_rows (pre-v5 claims
    * carry no count), and whether every row is of the current format.
    */
  private final case class ManifestRows(byFile: Map[String, Map[Int, Long]], exact: Boolean)

  /** Few entries, but each can be large (an 800k-bin corpus's index is
    * ~100 MB of file→bins claims) — so this cache is bounded by INDEX
    * count, not entry count like the row-count cache.
    */
  private val ManifestCacheCap = 64
  private val manifestRowsCache =
    scala.collection.concurrent.TrieMap[String, Option[ManifestRows]]()

  def manifestIndex(path: String, conf: Configuration, live: Array[(String, Long)]): Option[ManifestIndex] = {
    val files = graft.pipeline.BlockParquet.manifestFiles(path, conf)
    if (files.isEmpty) return None
    val key = files.map(st => s"${st.getPath}:${st.getLen}").mkString(path, "|", "")
    if (manifestRowsCache.size > ManifestCacheCap) manifestRowsCache.clear()
    manifestRowsCache
      .getOrElseUpdate(
        key, {
          val m = graft.pipeline.BlockParquet.readManifest(files.toSeq, conf)
          val counted = m.rows.groupMapReduce(_.file)(r => Map(r.bin -> r.n_rows))(_ ++ _)
          // a file named by current rows too keeps those (they name all its bins)
          val byFile = m.legacyClaims.map { case (f, bins) => f -> bins.map(_ -> 0L).toMap } ++ counted
          if (byFile.isEmpty) None else Some(ManifestRows(byFile, m.legacyClaims.isEmpty))
        }
      )
      .map { rows =>
        val claimed = live.iterator.map(f => nameOf(f._1)).flatMap(n => rows.byFile.get(n).map(n -> _)).toMap
        ManifestIndex(
          if (rows.exact) Some(claimed.valuesIterator.map(_.valuesIterator.sum).sum) else None,
          claimed.view.mapValues(_.keys.toArray.sorted).toMap
        )
      }
  }

  /** The block files a scan restricted to `bins` must read: the live
    * files whose manifest rows claim a wanted bin, plus every file no row
    * names. File-level pruning is NOT advisory — a wrongly dropped file
    * loses rows — so it rests only on the manifest: a file's rows name
    * every bin it holds, and a dir with no rows plans every live file
    * (the readers' exact bin check and parquet row-group skipping still
    * prune inside them). No footer is opened.
    */
  def pruneFiles(
      path: String,
      blockFiles: Array[(String, Long)],
      bins: Option[Set[Int]],
      conf: Configuration
  ): Array[String] = planFiles(path, blockFiles, bins, conf).map(_._1)

  /** [[pruneFiles]] plus each kept file's claimed bins (None: no row
    * names the file, or the scan wants every bin). The concrete bins let
    * the planner slice a doc_id restriction per file in O(file's own bins)
    * hash lookups instead of walking the whole id map once per file.
    */
  def planFiles(
      path: String,
      blockFiles: Array[(String, Long)],
      bins: Option[Set[Int]],
      conf: Configuration
  ): Array[(String, Option[Array[Int]])] = bins match {
    case None => blockFiles.map(f => (f._1, None))
    case Some(b) =>
      val claims = manifestIndex(path, conf, blockFiles).fold(Map.empty[String, Array[Int]])(_.fileBins)
      blockFiles.flatMap { case (f, _) =>
        claims.get(nameOf(f)) match {
          case Some(fb) => if (fb.exists(b.contains)) Some((f, Some(fb))) else None
          case None     => Some((f, None))
        }
      }
  }

  private[sources] def nameOf(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** Exact record count from the parquet footer (sum of row-group counts).
    * Used by the keyed planner to prove an unclaimed part file is the
    * zero-row debris of an empty write task. Cached JVM-wide, keyed by
    * (path, length) so an overwritten file re-reads; bounded — a
    * long-lived driver scanning many dirs clears it on overflow.
    */
  private val CacheCap = 1 << 16
  private val rowCountCache =
    scala.collection.concurrent.TrieMap[(String, Long), Long]()

  def parquetRowCount(file: String, len: Long, conf: Configuration): Long = {
    if (rowCountCache.size > CacheCap) rowCountCache.clear()
    rowCountCache.getOrElseUpdate(
      (file, len), {
        val r = BlockParquet.openFile(new Path(file), conf)
        try r.getRecordCount
        finally r.close()
      }
    )
  }
}

/** One block parquet file. `binsOverride` carries a micro-batch's delta bin
  * set (streaming) or a small wanted-bin set (batch point reads);
  * `docIdsOverride` carries THIS file's slice of the doc_id restriction —
  * the partition is the only channel that sees post-runtime-filter state
  * (the reader factory is forced before dynamic pruning fires). Deletes
  * carry no per-partition payload: `fileCommitSnap` picks which of the
  * factory's delete files the reader streams.
  */
private[sources] final case class GraftInputPartition(
    file: String,
    binsOverride: Option[Array[Int]] = None,
    docIdsOverride: Option[Array[String]] = None,
    /** Snapshot that committed this file via file lineage; -1 = bootstrap/
      * compacted (every delete applies). Scopes the reader's delete load.
      */
    fileCommitSnap: Long = -1L,
    /** Set ONLY by the keyed (storage-partitioned) planner: the single bin
      * this partition reads, doubling as its [[HasPartitionKey]] key so
      * Spark groups same-bin splits into one task and co-locates joins.
      */
    spjBin: Option[Int] = None
) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = {
    // only consulted when the scan reported KeyGroupedPartitioning, and the
    // keyed planner sets spjBin on every partition it emits
    require(spjBin.isDefined, s"partitionKey() on a non-keyed partition for $file")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](spjBin.get)
    )
  }
}

// One no-arg class per metric: Spark's SQL UI re-instantiates custom metrics
// BY CLASS NAME via a zero-arg constructor when aggregating task values — a
// shared parameterized class would render every metric as "N/A".
private[sources] class BlocksDecodedMetric extends CustomSumMetric {
  override def name(): String = GraftMetrics.BlocksDecoded
  override def description(): String = "graft blocks decoded"
}
private[sources] class TokenValuesDecodedMetric extends CustomSumMetric {
  override def name(): String = GraftMetrics.TokenValuesDecoded
  override def description(): String = "graft token values decoded"
}
private[sources] class RowsEmittedMetric extends CustomSumMetric {
  override def name(): String = GraftMetrics.RowsEmitted
  override def description(): String = "graft rows emitted"
}
private[sources] class BlocksIndexSkippedMetric extends CustomSumMetric {
  override def name(): String = GraftMetrics.BlocksIndexSkipped
  override def description(): String = "graft blocks skipped by token index"
}

object GraftMetrics {
  val BlocksDecoded = "graftBlocksDecoded"
  val TokenValuesDecoded = "graftTokenValuesDecoded"
  val RowsEmitted = "graftRowsEmitted"
  val BlocksIndexSkipped = "graftBlocksIndexSkipped"
}

private[sources] final case class GraftReaderFactory(
    headerBytes: Array[Byte],
    maxBits: Int,
    numContexts: Int,
    contextModel: String,
    requiredFields: Array[String],
    docIdFilter: Option[Set[String]],
    sourceFilter: Option[Set[String]],
    ntokPred: Option[NtokPred] = None,
    wantedBins: Option[Array[Int]],
    aggKinds: Option[Array[String]] = None,
    aggBySource: Boolean = false,
    visibleBins: Option[Array[Int]] = None,
    conf: Broadcast[SerializableConfiguration],
    limit: Option[Int] = None,
    /** Live delete files as (path, commit snapshot id) — the snapshot
      * drives per-partition sequence scoping in the readers.
      */
    deleteFiles: Array[(String, Long)] = Array.empty,
    /** Exact content filter: emit only rows whose tokens satisfy the
      * needles. Readers consult the [[TokenIndex]] sidecar (when present
      * and complete for their file) to skip blocks that provably cannot.
      */
    containsToken: Option[TokenNeedles] = None,
    /** Exact deterministic doc-level sample ([[DocSample]]): readers decode
      * the doc_id metadata stream, keep hash-selected rows, and row-seek
      * only their payload.
      */
    sample: Option[DocSample] = None,
    /** Table root — where the readers find `_token_index/`. */
    tablePath: String = "",
    /** Emit only each row's first min(n_tok, k) tokens (context-window
      * truncation at the source). Seekable blocks decode exactly k values
      * per row; `n_tok` keeps the original stored length.
      */
    tokenPrefix: Option[Int] = None
) extends PartitionReaderFactory {

  /** The most restrictive correct (bins, docs) for a partition: a
    * partition-level bin set (streaming delta / batch point read)
    * intersects the factory's (snapshot option); either alone applies
    * as-is. Same for the doc_id restriction: the partition carries the
    * post-runtime-filter slice, the factory the planning-time snapshot.
    */
  private def effectiveSets(p: GraftInputPartition): (Option[Set[Int]], Option[Set[String]]) = (
    GraftDataSource.intersectOpt(p.binsOverride.map(_.toSet), visibleBins.map(_.toSet)),
    GraftDataSource.intersectOpt(p.docIdsOverride.map(_.toSet), docIdFilter)
  )

  /** Scans emit ColumnarBatches of zero-copy vectors over the decoded
    * blocks; pushed metadata aggregates are row-shaped (one partial row per
    * file — nothing to vectorize).
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = aggKinds.isEmpty

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val kinds = aggKinds.getOrElse(
      throw new IllegalStateException("internal error: row reader requested for a columnar scan")
    )
    // tripwire: the builder disables aggregate pushdown under live
    // deletes (metadata counts would include hidden rows)
    require(
      deleteFiles.isEmpty,
      "internal error: metadata aggregate planned over a table with live deletes"
    )
    require(
      containsToken.isEmpty,
      "internal error: metadata aggregate planned under a containsToken filter"
    )
    require(
      sample.isEmpty,
      "internal error: metadata aggregate planned under a sampleDocs filter"
    )
    new GraftAggReader(p.file, kinds, effectiveSets(p)._1, conf, aggBySource)
  }

  override def createColumnarReader(
      partition: InputPartition
  ): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    require(aggKinds.isEmpty, "internal error: columnar reader planned for a pushed aggregate")
    val (bins, docs) = effectiveSets(p)
    new GraftColumnarReader(p.file, this, bins, docs, p.fileCommitSnap)
  }
}

/** Metadata-only reader for pushed-down COUNT/SUM/MIN/MAX(n_tok): scans
  * just the tiny block metadata columns of its file and emits ONE partial
  * row (Spark's final aggregate combines the partials). COUNT/SUM come from
  * the recorded n_rows/n_values; MIN/MAX additionally decode each visible
  * block's n_toks stream (~n_rows small lightweight-coded ints). Never
  * touches the entropy payload.
  *
  * `groupBySource` adds GROUP BY source: one partial row PER SOURCE (none
  * at all for an empty file — grouped aggregates have no zero-row group).
  * Blocks are source-homogeneous by the encode sort, so the common case
  * reads one decoded sources stream (RLE, ~bytes) and still answers
  * COUNT/SUM from n_rows/n_values; a block that straddles a source
  * boundary (or a mixed append) decodes its n_toks stream to attribute
  * per-row. Per-file state is one small struct per distinct source — the
  * training-mix label domain, not a key domain.
  */
private[sources] class GraftAggReader(
    file: String,
    kinds: Array[String],
    visibleBins: Option[Set[Int]],
    sConf: Broadcast[SerializableConfiguration],
    groupBySource: Boolean = false
) extends PartitionReader[InternalRow] {

  private final class Agg {
    var rows = 0L
    var values = 0L
    var minNtok = Int.MaxValue
    var maxNtok = Int.MinValue
  }

  private var scanned = false
  private val total = new Agg
  // insertion-ordered: partial-row order is deterministic per file
  private val bySource = new java.util.LinkedHashMap[String, Agg]()
  private var groupIter: java.util.Iterator[java.util.Map.Entry[String, Agg]] = null
  private var current: (String, Agg) = null
  private val needNtoks = GraftAgg.needsNtoks(kinds.toSeq)
  private val needSum = kinds.contains(GraftAgg.SumTokens)

  private val reader: ParquetReader[Group] = {
    val base = Set("bin", "block_seq", "n_rows", "n_values")
    val cols =
      base ++
        (if (needNtoks || (groupBySource && needSum))
           Set("n_toks_codec", "n_toks_payload")
         else Set.empty[String]) ++
        (if (groupBySource) Set("sources_codec", "sources_payload") else Set.empty[String])
    GraftFiles.openProjected(file, sConf, cols, None)
  }

  private def aggFor(source: String): Agg = {
    var a = bySource.get(source)
    if (a == null) { a = new Agg; bySource.put(source, a) }
    a
  }

  private def scan(): Unit = {
    var g = reader.read()
    while (g != null) {
      if (visibleBins.forall(_.contains(g.getInteger("bin", 0)))) {
        val nRows = g.getInteger("n_rows", 0)
        if (!groupBySource) {
          total.rows += nRows
          total.values += g.getLong("n_values", 0)
          if (needNtoks && nRows > 0) {
            val nToks = BlockDecoder.nToks(new ParquetBlock(g, file))
            var j = 0
            while (j < nToks.length) {
              if (nToks(j) < total.minNtok) total.minNtok = nToks(j)
              if (nToks(j) > total.maxNtok) total.maxNtok = nToks(j)
              j += 1
            }
          }
        } else if (nRows > 0) {
          val block = new ParquetBlock(g, file)
          val sources = BlockDecoder.sources(block)
          var homogeneous = true
          var j = 1
          while (homogeneous && j < nRows) {
            if (sources(j) != sources(0)) homogeneous = false
            j += 1
          }
          val decodeNtoks = needNtoks || (needSum && !homogeneous)
          val nToks = if (decodeNtoks) BlockDecoder.nToks(block) else null
          if (homogeneous) {
            val a = aggFor(sources(0))
            a.rows += nRows
            a.values += g.getLong("n_values", 0)
            if (nToks != null) {
              var i = 0
              while (i < nToks.length) {
                if (nToks(i) < a.minNtok) a.minNtok = nToks(i)
                if (nToks(i) > a.maxNtok) a.maxNtok = nToks(i)
                i += 1
              }
            }
          } else {
            var i = 0
            while (i < nRows) {
              val a = aggFor(sources(i))
              a.rows += 1
              if (nToks != null) {
                a.values += nToks(i)
                if (nToks(i) < a.minNtok) a.minNtok = nToks(i)
                if (nToks(i) > a.maxNtok) a.maxNtok = nToks(i)
              }
              i += 1
            }
          }
        }
      }
      g = reader.read()
    }
  }

  override def next(): Boolean = {
    if (!scanned) {
      scan()
      scanned = true
      if (!groupBySource) { current = ("", total); return true }
      groupIter = bySource.entrySet().iterator()
    }
    if (!groupBySource) return false
    if (groupIter.hasNext) {
      val e = groupIter.next()
      current = (e.getKey, e.getValue)
      true
    } else false
  }

  override def get(): InternalRow = {
    val off = if (groupBySource) 1 else 0
    val out = new GenericInternalRow(kinds.length + off)
    val a = current._2
    if (groupBySource) out.update(0, UTF8String.fromString(current._1))
    var i = 0
    while (i < kinds.length) {
      kinds(i) match {
        case GraftAgg.CountRows => out.setLong(i + off, a.rows)
        case GraftAgg.SumTokens =>
          if (a.rows == 0L) out.setNullAt(i + off) else out.setLong(i + off, a.values)
        case GraftAgg.MinNtok =>
          if (a.rows == 0L) out.setNullAt(i + off) else out.setInt(i + off, a.minNtok)
        case GraftAgg.MaxNtok =>
          if (a.rows == 0L) out.setNullAt(i + off) else out.setInt(i + off, a.maxNtok)
        case other => throw new IllegalArgumentException(s"unknown aggregate $other")
      }
      i += 1
    }
    out
  }

  override def close(): Unit = reader.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    GraftTaskMetric(GraftMetrics.BlocksDecoded, 0L),
    GraftTaskMetric(GraftMetrics.TokenValuesDecoded, 0L),
    GraftTaskMetric(GraftMetrics.RowsEmitted, if (groupBySource) bySource.size().toLong else 1L)
  )
}

/** One decoded, filter-applied block: the surviving row indices plus the
  * column arrays the scan's column vectors view. `tokenValues` is a single
  * contiguous buffer — the full block decode in dense mode, the
  * concatenated hit rows in sparse point-read mode — with `tokenStarts(j)`
  * the start of hit `j`'s slice and `emitLens(j)` its length
  * (`nToks(hits(j))`, or its truncation under tokenPrefix). Column arrays
  * are null when the query doesn't need them.
  */
private[sources] final class DecodedBlock(
    val bin: Int,
    val hits: Array[Int],
    val docIds: Array[String],
    val sources: Array[String],
    val nToks: Array[Int],
    val tokenValues: Array[Int],
    val tokenStarts: Array[Int],
    /** Per-hit emitted `tokens` length: nToks(hits(i)) normally, its
      * tokenPrefix-truncated value under `option("tokenPrefix", k)`. Null
      * when the projection never materializes tokens (like tokenStarts).
      */
    val emitLens: Array[Int],
    /** The block's stored per-row bit index (all nRows, indexed by hit row),
      * only decoded when `_row_bits` is projected; null when not requested
      * OR the block's codec carries no index (block-level codecs).
      */
    val rowBits: Array[Int]
)

/** The scan's executor-side reader for one blocks parquet file: one
  * [[ColumnarBatch]] per decoded block, with every column a ZERO-COPY
  * [[ColumnVector]] view over the [[DecodedBlock]]'s arrays — the `tokens`
  * child vector IS the decoded block buffer, and Spark's codegen'd
  * ColumnarToRow (or any vector-aware operator above) reads elements
  * straight out of it. `sum(size(tokens))` never touches elements, and
  * element access is an int-array load. Block caps (maxBlockValues ≈ 256k
  * tokens) keep each batch ~1 MB.
  *
  * Projects the parquet scan down to the block columns the query needs (the
  * entropy `payload` column is only materialized when `tokens` is
  * required), pushes the bin predicate into parquet (row-group stats +
  * record-level filtering), and decodes hit rows through [[BlockDecoder]]
  * (a per-row seek for sparse hits on seekable blocks, full-block decode
  * otherwise). Merge-on-read deletes apply here and only here: the reader
  * loads the delete files committed after its data file and drops the rows
  * whose doc_id they hold.
  */
private[sources] class GraftColumnarReader(
    file: String,
    f: GraftReaderFactory,
    visibleBins: Option[Set[Int]],
    docFilter: Option[Set[String]],
    fileCommitSnap: Long
) extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  /** Delete files that APPLY to this partition's data file under sequence
    * scoping: only those committed after the file itself.
    */
  private val applicableDeleteFiles: Array[String] =
    f.deleteFiles.collect { case (p, snap) if snap > fileCommitSnap => p }

  private val deletesPossible = applicableDeleteFiles.nonEmpty

  /** The partition-level bin set (fresh, incl. runtime-filter-derived
    * bins) intersected with the factory's snapshot; pushed to parquet as
    * an advisory row-group filter (exact checks follow), kept small.
    */
  private val pushedBins: Option[Array[Int]] = GraftDataSource
    .intersectOpt(visibleBins, f.wantedBins.map(_.toSet))
    .filter(_.size <= 1024)
    .map(_.toArray.sorted)

  /** The deleted ids this partition must hide, streamed from its
    * applicable delete files ([[GraftFiles.deletedIdSets]]).
    */
  private lazy val deletedSets: Array[Set[String]] =
    GraftFiles.deletedIdSets(applicableDeleteFiles, f.conf, pushedBins)

  private val needDocIds =
    f.requiredFields.contains("doc_id") || docFilter.isDefined || deletesPossible ||
      f.sample.isDefined
  private val needSources = f.requiredFields.contains("source") || f.sourceFilter.isDefined ||
    f.sample.exists(_.needsSource)
  // a containsToken needle must decode tokens even when the projection
  // doesn't keep them — containment is checked on the decoded rows
  private val needTokens = f.requiredFields.contains("tokens") || f.containsToken.isDefined
  private val needNToks =
    needTokens || f.requiredFields.contains("n_tok") || f.ntokPred.isDefined
  // the _row_bits metadata column reads the per-row bit index WITHOUT the
  // entropy payload — a metadata-only compression-cost query stays one
  private val needRowBits = f.requiredFields.contains("_row_bits")

  /** This file's token-index entries, multi-valued by (bin, block_seq);
    * None = no complete index → no block skipping (decode everything the
    * other filters admit). Loaded once per partition, only when a needle
    * was pushed.
    */
  private lazy val tokenIndexEntries: Option[Map[(Int, Int), List[TokenIndex.Entry]]] =
    if (f.containsToken.isEmpty || f.tablePath.isEmpty) None
    else TokenIndex.entriesForFile(f.tablePath, GraftScan.nameOf(file), f.conf.value.value)

  private lazy val decoder =
    BlockDecoder.fromHeader(f.headerBytes, f.maxBits, f.numContexts, f.contextModel)

  private var blocksDecoded = 0L
  private var tokenValuesDecoded = 0L
  private var rowsEmitted = 0L
  private var blocksIndexSkipped = 0L

  /** The `_file` metadata value: this partition's file NAME, interned once. */
  private lazy val fileNameUtf8: UTF8String =
    UTF8String.fromString(GraftScan.nameOf(file))

  private val reader: ParquetReader[Group] = {
    // project the parquet scan down to the needed block columns; block_seq
    // is the token-index lookup key and names a corrupt block
    val wanted = scala.collection.mutable.LinkedHashSet[String]("bin", "block_seq", "codec", "n_rows")
    if (needDocIds) { wanted += "doc_ids_codec"; wanted += "doc_ids_payload" }
    if (needSources) { wanted += "sources_codec"; wanted += "sources_payload" }
    if (needNToks) { wanted += "n_toks_codec"; wanted += "n_toks_payload" }
    if (needRowBits) { wanted += "row_bits_codec"; wanted += "row_bits_payload" }
    if (needTokens) {
      wanted += "payload"; wanted += "row_bits_codec"; wanted += "row_bits_payload"
      wanted += "embedded_tables"; wanted += "table_hash"
    }
    GraftFiles.openProjected(file, f.conf, wanted.toSet, pushedBins)
  }

  private var exhausted = false
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    val blk = readBlock() // also enforces the pushed per-partition limit
    if (blk == null) return false
    val nHits = blk.hits.length
    // truncate the final batch under a pushed limit (LIMIT without ORDER BY
    // is any-N-rows; Spark's global limit sits above the scan regardless)
    val nOut =
      f.limit.map(l => math.min(nHits.toLong, l - rowsEmitted).toInt).getOrElse(nHits)
    val cols: Array[ColumnVector] = f.requiredFields.map {
      case "doc_id" => new GraftStringVector(blk.docIds, blk.hits)
      case "tokens" =>
        new GraftTokenArrayVector(
          new GraftIntsVector(blk.tokenValues),
          blk.tokenStarts,
          blk.emitLens)
      case "n_tok"  => new GraftHitIntVector(blk.nToks, blk.hits)
      case "source" => new GraftStringVector(blk.sources, blk.hits)
      case "_bin"   => new GraftConstIntVector(blk.bin)
      case "_row_bits" =>
        if (blk.rowBits == null) new GraftNullLongVector(nHits)
        else new GraftHitLongVector(blk.rowBits, blk.hits)
      case "_file"  => new GraftConstStringVector(fileNameUtf8)
      case other    => throw new IllegalArgumentException(s"unknown column $other")
    }
    batch = new ColumnarBatch(cols, nOut)
    rowsEmitted += nOut
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = reader.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    GraftTaskMetric(GraftMetrics.BlocksDecoded, blocksDecoded),
    GraftTaskMetric(GraftMetrics.TokenValuesDecoded, tokenValuesDecoded),
    GraftTaskMetric(GraftMetrics.RowsEmitted, rowsEmitted),
    GraftTaskMetric(GraftMetrics.BlocksIndexSkipped, blocksIndexSkipped)
  )

  /** Read forward to the next block with surviving rows; null when the file
    * is exhausted. Honors the per-partition limit (stop opening/decoding
    * blocks once satisfied — Spark applies the global LIMIT above the scan).
    */
  private def readBlock(): DecodedBlock = {
    if (f.limit.exists(rowsEmitted >= _)) return null
    while (!exhausted) {
      val g = reader.read()
      if (g == null) exhausted = true
      else {
        val blk = decodeBlockData(g)
        if (blk != null) return blk
      }
    }
    null
  }

  private def decodeBlockData(g: Group): DecodedBlock = {
    // exact snapshot visibility: only bins committed by the requested
    // snapshot's lineage exist for this scan
    val b = new ParquetBlock(g, file)
    val bin = b.bin
    if (!visibleBins.forall(_.contains(bin))) return null
    // token-index block skipping: consult the sidecar BEFORE any decode.
    // Multi-valued lookup (compaction can co-locate equal keys): an entry
    // group rejects only when NO entry can satisfy the needles. A key with
    // no entries (e.g. an all-empty-rows block) decodes normally — the
    // exact containment filter below still applies.
    f.containsToken.foreach { t =>
      tokenIndexEntries.foreach { ix =>
        val es = ix.getOrElse((bin, b.block_seq), Nil)
        if (!t.blockMayMatch(es)) {
          blocksIndexSkipped += 1
          return null
        }
      }
    }
    blocksDecoded += 1
    val nRows = b.n_rows
    val docIds = if (needDocIds) BlockDecoder.docIds(b) else null
    val sources = if (needSources) BlockDecoder.sources(b) else null

    // decode n_toks BEFORE hit selection only when a pushed n_tok predicate
    // needs it — otherwise keep it after the empty-hits early return, so
    // point reads don't pay an O(n_rows) decode for blocks they discard
    var nToks: Array[Int] = if (f.ntokPred.isDefined) BlockDecoder.nToks(b) else null

    // row predicate from the pushed doc_id/source/n_tok filters + the
    // merge-on-read equality-delete set; n_tok predicates evaluate on the
    // metadata stream, so length-filtered scans pay the payload decode only
    // for matching rows (sparse hits take the decoder's row-seek path)
    val hits: Array[Int] = {
      val del = if (deletesPossible) deletedSets else null
      val hb = Array.newBuilder[Int]
      var r = 0
      while (r < nRows) {
        val ok =
          docFilter.forall(s => s.contains(docIds(r))) &&
            f.sourceFilter.forall(s => s.contains(sources(r))) &&
            f.ntokPred.forall(_.ok(nToks(r))) &&
            f.sample.forall(sp => sp.keep(docIds(r), if (sp.needsSource) sources(r) else null)) &&
            (del == null || !GraftFiles.anyContains(del, docIds(r)))
        if (ok) hb += r
        r += 1
      }
      hb.result()
    }
    if (hits.isEmpty) return null
    if (nToks == null && needNToks) nToks = BlockDecoder.nToks(b)

    // _row_bits projection: the stored per-row bit index, payload untouched
    val metaRowBits = if (needRowBits) BlockDecoder.rowBits(b) else null

    // per-hit token slices; under option("tokenPrefix", k) each is the
    // row's first min(n_tok, k) values — context-window truncation at the
    // source
    if (!needTokens)
      return new DecodedBlock(bin, hits, docIds, sources, nToks, null, null, null, metaRowBits)
    val tok = decoder.decodeHits(b, nToks, hits, f.tokenPrefix.getOrElse(Int.MaxValue), metaRowBits)
    tokenValuesDecoded += tok.values.length

    // exact containment filter for pushed needles: keep only hit rows
    // whose decoded slice satisfies them. Evaluated on the emitted window
    // (truncate-then-filter under tokenPrefix — the scan behaves as a table
    // whose tokens column IS the prefix). Starts keep pointing into the
    // SAME decoded buffer, so the surviving subset is a plain
    // (hits, starts, lens) re-pack — no copies.
    var outHits = hits
    var outStarts = tok.starts
    var outLens = tok.lens
    f.containsToken.foreach { t =>
      val keepH = Array.newBuilder[Int]
      val keepS = Array.newBuilder[Int]
      val keepL = Array.newBuilder[Int]
      var i = 0
      while (i < hits.length) {
        val start = tok.starts(i)
        if (t.rowMatches(tok.values, start, start + tok.lens(i))) {
          keepH += hits(i); keepS += start; keepL += tok.lens(i)
        }
        i += 1
      }
      outHits = keepH.result()
      outStarts = keepS.result()
      outLens = keepL.result()
    }
    if (outHits.isEmpty) return null

    new DecodedBlock(bin, outHits, docIds, sources, nToks, tok.values, outStarts, outLens, metaRowBits)
  }
}

/** Base for the scan's read-only, null-free column vectors: views over the
  * decoded block arrays (no copies, no `close` work — the arrays are plain
  * heap objects owned by the batch). Only the accessors a graft column can
  * be asked for are implemented; the rest fail loudly.
  */
private[sources] abstract class GraftVector(dt: DataType)
    extends org.apache.spark.sql.vectorized.ColumnVector(dt) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  protected def unsupported: Nothing =
    throw new UnsupportedOperationException(s"${getClass.getName}: $dataType")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getLong(i: Int): Long = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = unsupported
  override def getUTF8String(i: Int): UTF8String = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector = unsupported
}

/** The `tokens` element vector: a direct view over the contiguous decoded
  * block buffer (indexed by flat element position, not batch row).
  */
private[sources] final class GraftIntsVector(vals: Array[Int]) extends GraftVector(IntegerType) {
  override def getInt(i: Int): Int = vals(i)
  // bulk extraction (ColumnarArray.toIntArray and friends): one arraycopy
  // instead of the default per-element loop
  override def getInts(start: Int, count: Int): Array[Int] = {
    val out = new Array[Int](count)
    System.arraycopy(vals, start, out, 0, count)
    out
  }
}

/** An int column subject to the block's hit filter (`n_tok`). */
private[sources] final class GraftHitIntVector(vals: Array[Int], hits: Array[Int])
    extends GraftVector(IntegerType) {
  override def getInt(i: Int): Int = vals(hits(i))
}

/** The `_bin` metadata column: constant within one block's batch. */
private[sources] final class GraftConstIntVector(v: Int) extends GraftVector(IntegerType) {
  override def getInt(i: Int): Int = v
}

/** The `_file` metadata column: constant within one partition's batches. */
private[sources] final class GraftConstStringVector(v: UTF8String)
    extends GraftVector(StringType) {
  override def getUTF8String(i: Int): UTF8String = v
}

/** The `_row_bits` metadata column on a seekable block: the stored per-row
  * bit index widened to long, subject to the hit filter.
  */
private[sources] final class GraftHitLongVector(vals: Array[Int], hits: Array[Int])
    extends GraftVector(LongType) {
  override def getLong(i: Int): Long = vals(hits(i)).toLong
}

/** `_row_bits` on a block-level (non-seekable) codec: all null — per-row
  * compressed size is not defined there.
  */
private[sources] final class GraftNullLongVector(n: Int) extends GraftVector(LongType) {
  override def hasNull: Boolean = true
  override def numNulls: Int = n
  override def isNullAt(i: Int): Boolean = true
  override def getLong(i: Int): Long = 0L // null slot; value unread by contract
}

/** A string column subject to the hit filter (`doc_id`, `source`). */
private[sources] final class GraftStringVector(vals: Array[String], hits: Array[Int])
    extends GraftVector(StringType) {
  override def getUTF8String(i: Int): UTF8String = UTF8String.fromString(vals(hits(i)))
}

/** The `tokens` array column: batch row `i` is the slice
  * [starts(i), starts(i) + lens(i)) of the shared element vector (lens is
  * the emitted length — the full row, or its tokenPrefix truncation).
  */
private[sources] final class GraftTokenArrayVector(
    child: GraftIntsVector,
    starts: Array[Int],
    lens: Array[Int]
) extends GraftVector(ArrayType(IntegerType, containsNull = false)) {
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    new org.apache.spark.sql.vectorized.ColumnarArray(child, starts(i), lens(i))
  override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector = child
}

/** Offset = highest EncodeJob snapshot id whose bins this stream has
  * emitted; -1 = nothing yet.
  */
private[sources] final case class GraftOffset(snapshot: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshot":$snapshot}"""
}

private[sources] object GraftOffset {
  import graft.core.MiniJson.ObjOps
  def fromJson(json: String): GraftOffset =
    GraftOffset(graft.core.MiniJson.parseObject(json, where = "graft offset").long("snapshot"))
}

/** Micro-batch stream over an encode dir: each batch (start, end] reads
  * exactly the bins the snapshots in that range added (write-once bins make
  * the delta exact), with manifest pruning dropping files that hold
  * none of them. Commit/stop are no-ops — progress lives in the checkpoint
  * offsets, the source is immutable.
  *
  * Admission control: without it, a stream started (or restarted) against a
  * dir with hundreds of committed snapshots would replay them all as ONE
  * giant batch. `option("maxSnapshotsPerBatch", n)` bounds every batch to n
  * snapshots (each snapshot = one "file" under Spark's `ReadMaxFiles`
  * limit), so catch-up proceeds in bounded, checkpointed steps.
  *
  * Equality deletes: every emitted batch applies the delete set that was
  * LIVE when the enclosing scan was built (the reader factory carries it) —
  * a fresh stream over a table with deletes never emits deleted docs, and a
  * purge mid-stream is picked up on restart. Rows emitted BEFORE their
  * delete committed are not retracted (append-only source semantics, the
  * Iceberg incremental-read contract).
  */
private[sources] class GraftMicroBatchStream(
    path: String,
    factory: () => PartitionReaderFactory,
    maxSnapshotsPerBatch: Option[Int] = None
) extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles, ReadMaxRows}

  private lazy val hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Set under Trigger.AvailableNow: the newest snapshot as of query start.
    * Batches never read past it (snapshots committed DURING the run wait
    * for the next start), and the query self-terminates once it's reached —
    * still in maxSnapshotsPerBatch-bounded steps. Without this interface
    * Spark degrades AvailableNow to Trigger.Once and ignores read limits.
    */
  @volatile private var availableNowEnd: Option[Long] = None

  private def latestSnapshot: Long =
    graft.pipeline.EncodeJob.loadSnapshotRecords(path, hadoopConf).map(_.id).maxOption.getOrElse(-1L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestSnapshot)

  override def initialOffset(): Offset = GraftOffset(-1L)

  override def getDefaultReadLimit: ReadLimit =
    maxSnapshotsPerBatch
      .map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** Next batch end: the furthest pending snapshot within the read limit
    * (snapshots are the admission unit — maxFiles/maxRows both cap the
    * snapshot count per batch).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftOffset].snapshot
    val all = graft.pipeline.EncodeJob.loadSnapshotRecords(path, hadoopConf).map(_.id)
    val pending = availableNowEnd.fold(all)(e => all.filter(_ <= e)).filter(_ > s)
    val capped = limit match {
      case f: ReadMaxFiles => pending.take(f.maxFiles())
      case r: ReadMaxRows  => pending.take(r.maxRows().toInt)
      case _               => pending
    }
    GraftOffset(capped.maxOption.getOrElse(s))
  }

  // with SupportsAdmissionControl, Spark drives latestOffset(start, limit)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method"
    )

  override def reportLatestOffset(): Offset = GraftOffset(latestSnapshot)

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].snapshot
    val e = end.asInstanceOf[GraftOffset].snapshot
    if (e <= s) return Array.empty
    // lineage BEFORE the file listing — the order planDeltaPartitions requires
    val lineage = graft.pipeline.EncodeJob.lineage(path, hadoopConf)
    val files = GraftMeta.listBlockFiles(path, hadoopConf)
    GraftScan.planDeltaPartitions(path, s, e, files, lineage, hadoopConf, s"stream batch ($s, $e]")
  }

  override def createReaderFactory(): PartitionReaderFactory = factory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** A block-parquet record as a [[StoredBlock]]: each column is read from the
  * record once, on first use, so a reader touches only the columns it
  * projected and decodes.
  */
private[sources] final class ParquetBlock(g: Group, path: String) extends StoredBlock {
  private def bytes(field: String): Array[Byte] = g.getBinary(field, 0).getBytes
  lazy val bin: Int = g.getInteger("bin", 0)
  lazy val block_seq: Int = g.getInteger("block_seq", 0)
  lazy val codec: String = g.getString("codec", 0)
  lazy val n_rows: Int = g.getInteger("n_rows", 0)
  lazy val doc_ids_codec: String = g.getString("doc_ids_codec", 0)
  lazy val doc_ids_payload: Array[Byte] = bytes("doc_ids_payload")
  lazy val sources_codec: String = g.getString("sources_codec", 0)
  lazy val sources_payload: Array[Byte] = bytes("sources_payload")
  lazy val n_toks_codec: String = g.getString("n_toks_codec", 0)
  lazy val n_toks_payload: Array[Byte] = bytes("n_toks_payload")
  lazy val row_bits_codec: String = g.getString("row_bits_codec", 0)
  lazy val row_bits_payload: Array[Byte] = bytes("row_bits_payload")
  lazy val embedded_tables: Boolean = g.getBoolean("embedded_tables", 0)
  lazy val payload: Array[Byte] = bytes("payload")
  lazy val table_hash: Long = g.getLong("table_hash", 0)
  override def file: Option[String] = Some(path)
}

/** Parquet access shared by the table's readers: projected opens of block
  * files, their cached schemas, and the merge-on-read delete-set loads.
  */
private[sources] object GraftFiles {
  private val SchemaCacheCap = 1 << 16
  private val schemaCache =
    scala.collection.concurrent.TrieMap[String, MessageType]()

  /** JVM-wide cache of FULL delete-file loads (no bin filter), keyed per
    * delete file: many partitions per executor would otherwise each
    * re-stream the same files, and partitions whose applicable file lists
    * differ (sequence scoping after append→delete rounds) still share each
    * file's load. Sound because delete files are write-once under unique
    * names. Bounded by entry count, cleared on overflow: an entry can be
    * large, and a table past the cap in live delete files is due a purge.
    */
  private val DeleteSetCacheCap = 64
  private val deleteSetCache =
    scala.collection.concurrent.TrieMap[String, Set[String]]()

  /** The deleted doc_ids a partition must hide, as one set per loaded unit
    * (a row is hidden when any set holds its doc_id). With a small bin set,
    * the parquet bin filter skips foreign row groups (delete files are
    * written bin-sorted) and the filtered union is NOT cached (it is
    * proportional to the partition's own bins); otherwise each file's full
    * set comes from the JVM-wide cache.
    */
  def deletedIdSets(
      files: Array[String],
      conf: Broadcast[SerializableConfiguration],
      bins: Option[Array[Int]]
  ): Array[Set[String]] = {
    def load(ps: Array[String]): Set[String] = {
      val out = scala.collection.mutable.HashSet[String]()
      ps.foreach { p =>
        val r = openProjected(p, conf, Set("bin", "doc_id"), bins)
        try {
          var g = r.read()
          while (g != null) {
            out += g.getString("doc_id", 0)
            g = r.read()
          }
        } finally r.close()
      }
      out.toSet
    }
    bins match {
      case Some(_) => Array(load(files))
      case None =>
        if (deleteSetCache.size > DeleteSetCacheCap) deleteSetCache.clear()
        files.map(p => deleteSetCache.getOrElseUpdate(p, load(Array(p))))
    }
  }

  /** Does any of `sets` hold `docId`? (the per-row delete check) */
  def anyContains(sets: Array[Set[String]], docId: String): Boolean = {
    var i = 0
    while (i < sets.length) {
      if (sets(i).contains(docId)) return true
      i += 1
    }
    false
  }

  /** Full parquet schema of a block file, cached JVM-wide — block files are
    * write-once, and this saves one footer open per task. Bounded: cleared
    * on overflow instead of growing for the life of a long-lived executor.
    */
  def fileSchema(file: String, conf: Configuration): MessageType = {
    if (schemaCache.size > SchemaCacheCap) schemaCache.clear()
    schemaCache.getOrElseUpdate(
      file, {
        val r = BlockParquet.openFile(new Path(file), conf)
        try r.getFileMetaData.getSchema
        finally r.close()
      }
    )
  }

  /** Open a block file projected to `wanted` columns (exact types from the
    * cached footer schema, so the projection can never disagree with the
    * writer), optionally with a `bin` membership filter pushed to parquet.
    * Each call copies the broadcast driver conf — the projection setting
    * must not leak into sibling readers.
    */
  def openProjected(
      file: String,
      sConf: Broadcast[SerializableConfiguration],
      wanted: Set[String],
      bins: Option[Array[Int]]
  ): ParquetReader[Group] = {
    val conf = new Configuration(sConf.value.value)
    val fileSchema = GraftFiles.fileSchema(file, conf)
    val projection = new MessageType(
      fileSchema.getName,
      fileSchema.getFields.asScala.filter(t => wanted.contains(t.getName)).asJava
    )
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    // the InputFile builder reads with `conf`; the Path builder would first
    // parse Hadoop's default XML into a fresh Configuration on every open
    val builder = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(file), conf)) {
      override protected def getReadSupport(): org.apache.parquet.hadoop.api.ReadSupport[Group] = new GroupReadSupport()
    }
    bins.foreach { bs =>
      val pred: FilterPredicate = bs
        .map(b => FilterApi.eq(FilterApi.intColumn("bin"), Int.box(b)))
        .reduce[FilterPredicate](FilterApi.or)
      builder.withFilter(FilterCompat.get(pred))
    }
    builder.build()
  }
}

private[sources] final case class GraftTaskMetric(name0: String, value0: Long)
    extends CustomTaskMetric {
  override def name(): String = name0
  override def value(): Long = value0
}
