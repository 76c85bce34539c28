package graft.sources

import graft.pipeline.Maintenance

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.Collections

/** SQL-callable maintenance over encode dirs — the Iceberg-procedure-shaped
  * surface (`CALL graft.system.compact(...)`) on top of
  * [[graft.pipeline.Maintenance]], registered as a Spark catalog:
  *
  * {{{
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog   // config, or:
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *
  *   CALL graft.system.compact(path => '/data/corpus')
  *   CALL graft.system.vacuum(path => '/data/corpus', older_than_ms => 3600000)
  *   CALL graft.system.expire_snapshots(path => '/data/corpus', keep_last => 7)
  *   CALL graft.system.rewrite_manifests(path => '/data/corpus')
  *   CALL graft.system.delete_docs(path => '/data/corpus', doc_ids => array('d1','d2'))
  *   CALL graft.system.purge_deletes(path => '/data/corpus')
  *   CALL graft.system.rebin(path => '/data/corpus', num_bins => 1600000)
  * }}}
  *
  * Each procedure returns its result as one row (the same fields the
  * programmatic API returns), so scheduled SQL-only maintenance jobs can
  * assert on what happened. All operations assume the single-maintainer
  * contract documented on [[graft.pipeline.Maintenance]].
  *
  * The reference engine's single-file output never needs this surface; its
  * closest analog is the offsets rebuild on conversion
  * (/root/reference/src/graphs/convert.rs:784-856). At 100 TB the catalog is
  * what keeps maintenance schedulable from plain SQL warehouses instead of
  * bespoke driver programs.
  */
final class GraftCatalog
    extends CatalogPlugin
    with ProcedureCatalog
    with TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Path-identified tables, Iceberg-HadoopCatalog-style: the identifier IS
    * the encode dir (``SELECT … FROM graft.`/data/corpus` ``,
    * ``DELETE FROM graft.`/data/corpus` WHERE doc_id IN (…)``,
    * ``INSERT INTO graft.`/data/corpus` SELECT …``). This is what makes the
    * DML surface SQL-reachable — Spark's `format.`path`` file-resolution
    * rule only covers v1 FileFormats, not DSv2 providers, so without the
    * catalog route `DELETE FROM` could never reach [[GraftTable]]'s
    * `SupportsDelete`. Tables resolve fresh per load (no caching — the scan
    * resolves lineage lazily at planning, so state is always current).
    */
  private def encodeDirOf(ident: Identifier): String = {
    // a backticked path is ONE identifier part; reject dotted namespaces
    // (they would silently mangle a path that was meant to be quoted)
    if (ident.namespace().nonEmpty) throw new NoSuchTableException(ident)
    val path = ident.name()
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    // a Path-invalid identifier (stray colon etc.) is "no such table", not
    // an internal-looking URI error surfaced mid-analysis
    val exists =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$path/_tables/meta.json")
        p.getFileSystem(conf).exists(p)
      } catch { case _: IllegalArgumentException => false }
    if (!exists) throw new NoSuchTableException(ident)
    path
  }

  override def loadTable(ident: Identifier): Table =
    new GraftTable(encodeDirOf(ident), viaCatalog = true)

  /** `VERSION AS OF n` = snapshot time travel (the catalog face of the read
    * option `option("snapshot", n)`); validity is checked at scan planning
    * against the lineage, which also guards reachability past maintenance.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    // numeric = snapshot id; anything else resolves as a TAG name
    // (graft.pipeline.Refs — Iceberg's `VERSION AS OF 'tag'` shape). Tag
    // names are validated to contain a non-digit, so the two spaces can
    // never collide; an unknown tag fails loudly naming the available ones.
    val dir = encodeDirOf(ident)
    val snap = version.toLongOption.getOrElse(
      graft.pipeline.Refs
        .resolveOrFail(dir, SparkSession.active.sparkContext.hadoopConfiguration, version)
    )
    new GraftTable(dir, pinnedSnapshot = Some(snap), viaCatalog = true)
  }

  /** `TIMESTAMP AS OF t` = wall-clock time travel. Spark hands the literal
    * as MICROseconds since epoch; it resolves to the snapshot live at that
    * instant — the latest commit at or before it, by the snapshot files'
    * commit (modification) times. The snapshot JSON stays timestamp-free on
    * purpose (resume/replay byte-identity), so the filesystem's commit
    * stamp IS the commit time; see [[graft.pipeline.EncodeJob.snapshotAsOfTime]].
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = encodeDirOf(ident)
    val snap = graft.pipeline.EncodeJob.snapshotAsOfTime(
      dir,
      SparkSession.active.sparkContext.hadoopConfiguration,
      // floor micros -> ms: never resolve to a snapshot committed strictly
      // after the requested instant
      Math.floorDiv(timestamp, 1000L)
    )
    new GraftTable(dir, pinnedSnapshot = Some(snap), viaCatalog = true)
  }

  override def tableExists(ident: Identifier): Boolean =
    try { encodeDirOf(ident); true }
    catch { case _: NoSuchTableException => false }

  /** Encode dirs are not enumerable from a catalog root. */
  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"$catalogName tables are encode dirs — ALTER is not supported; use graft.system procedures"
    )

  /** `CREATE TABLE graft.`dir`` [AS SELECT …]` — the SQL bootstrap entry.
    * Creating a graft table is creating a FRESH directory (plus a pending
    * marker so an aborted CTAS is recognizable); the data lands through the
    * table's write, which on a fresh dir is the driver-coordinated
    * bootstrap ([[GraftBootstrap]]): stage raw rows, run the two-pass
    * EncodeJob, one snapshot. The schema must be the engine's fixed
    * (doc_id, tokens, n_tok, source) row shape; PARTITIONED BY is refused —
    * bin routing is the table's own salted layout, not a user partitioning.
    */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]
  ): Table = {
    if (ident.namespace().nonEmpty) throw new NoSuchTableException(ident)
    val path = ident.name()
    require(
      partitions.isEmpty,
      s"$catalogName tables manage their own salted bin layout — PARTITIONED BY is not supported"
    )
    val st = StructType(columns.map(c => StructField(c.name(), c.dataType(), c.nullable())))
    GraftWriteBuilder.validateSchema(st, "graft create table"): Unit
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_tables/meta.json")))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(catalogName, path)
      )
    require(
      !fs.exists(p) || fs.listStatus(p).forall { s =>
        val n = s.getPath.getName
        n == GraftBootstrap.Marker || n == GraftBootstrap.StagingRoot
      },
      s"$path exists and is not empty — refusing to create a graft table over foreign data"
    )
    fs.mkdirs(p): Unit
    val marker = new org.apache.hadoop.fs.Path(p, GraftBootstrap.Marker)
    if (!fs.exists(marker)) fs.create(marker, false).close()
    new GraftTable(path, viaCatalog = true)
  }

  /** DROP cleans up ONLY a pending (created-but-never-encoded) bootstrap
    * dir — the non-atomic CTAS failure path. A real encoded corpus is never
    * droppable through SQL: deleting 100 TB wants the explicit filesystem
    * act, not a one-line DROP TABLE.
    */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace().nonEmpty) return false
    val path = ident.name()
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs =
      try p.getFileSystem(conf)
      catch { case _: IllegalArgumentException => return false }
    if (!fs.exists(p)) return false
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_tables/meta.json"))) return false
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, GraftBootstrap.Marker))) return false
    fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName tables are encode dirs — RENAME is not supported"
    )

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ns = ident.namespace()
    require(
      ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("system")),
      s"unknown namespace ${ns.mkString(".")} — graft procedures live under `system`"
    )
    GraftCatalog.procedures.getOrElse(
      ident.name().toLowerCase,
      throw new RuntimeException(
        s"unknown procedure $catalogName.system.${ident.name()} — available: " +
          GraftCatalog.procedures.keys.toSeq.sorted.mkString(", ")
      )
    )
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || (namespace.length == 1 && namespace(0).equalsIgnoreCase("system")))
      GraftCatalog.procedures.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty

  /** SQL face of the engine's routing function:
    * `graft.system.graft_bin(doc_id, num_bins, salt)` — the same
    * `pmod(xxhash64(doc_id, salt), num_bins)` every writer and reader uses,
    * so SQL users can pre-bucket upsert batches, join against the `_bin`
    * metadata column, or audit a dir's routing by hand. Also the identity
    * anchor a future storage-partitioned join needs (both sides must
    * resolve the SAME function).
    */
  override def loadFunction(
      ident: Identifier
  ): org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ns = ident.namespace()
    val ok = ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("system"))
    if (!ok) throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    ident.name().toLowerCase match {
      case "graft_bin" => GraftCatalog.graftBinFunction
      // the storage-partitioned-join family: layout parameters ride in the
      // name because catalyst only keeps single-column-child transforms
      // (see GraftScan.outputPartitioning) — `graft_bin_<numBins>_<salt>`
      case GraftCatalog.BinFamily(numBins, salt) =>
        GraftCatalog.graftBinLayoutFunction(numBins.toInt, salt.toLong)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || (namespace.length == 1 && namespace(0).equalsIgnoreCase("system")))
      Array(Identifier.of(Array("system"), "graft_bin"))
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    try { loadFunction(ident); true }
    catch { case _: org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException => false }
}

private object GraftCatalog {

  /** Name pattern of the per-layout routing-function family used by
    * storage-partitioned scans: `graft_bin_<numBins>_<salt>`.
    */
  private val BinFamily = "^graft_bin_(\\d+)_(-?\\d+)$".r

  /** Single-argument face of the routing function, with the table layout
    * (numBins, salt) baked into the function identity: this is the shape
    * catalyst's KeyGroupedPartitioning accepts for storage-partitioned
    * joins (one column-reference child), and the canonical name is the
    * compatibility contract — two scans co-join with zero exchange iff
    * their canonical names (hence layouts) are equal.
    */
  private def graftBinLayoutFunction(
      numBins: Int,
      salt: Long
  ): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    new org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
      override def name(): String = s"graft_bin_${numBins}_$salt"
      override def description(): String =
        s"graft_bin_${numBins}_$salt(doc_id): pmod(xxhash64(doc_id, $salt), $numBins) — " +
          "the writer's routing bin for this table layout"
      override def bind(
          inputType: StructType
      ): org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
        require(
          inputType.fields.length == 1,
          s"graft_bin_${numBins}_$salt expects (doc_id string), got $inputType"
        )
        new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
          override def name(): String = s"graft_bin_${numBins}_$salt"
          override def canonicalName(): String = s"graft.system.graft_bin($numBins,$salt)"
          override def inputTypes(): Array[DataType] = Array(StringType)
          override def resultType(): DataType = IntegerType
          override def isResultNullable: Boolean = false
          override def isDeterministic: Boolean = true
          override def produceResult(input: InternalRow): Integer = {
            require(!input.isNullAt(0), s"graft_bin_${numBins}_$salt: doc_id must not be null")
            GraftDataSource.binOf(input.getUTF8String(0).toString, numBins, salt)
          }
        }
      }
    }

  /** `graft_bin(doc_id string, num_bins int, salt bigint) -> int` —
    * delegates to [[GraftDataSource.binOf]] (one hash, one identity). The
    * magic `invoke` overload keeps it inside whole-stage codegen; nulls
    * surface as errors (a null doc_id has no bin — the writers refuse it
    * too).
    */
  private val graftBinFunction
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    new org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
      override def name(): String = "graft_bin"
      override def description(): String =
        "graft_bin(doc_id, num_bins, salt): the writer's routing bin = pmod(xxhash64(doc_id, salt), num_bins)"
      override def bind(
          inputType: StructType
      ): org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
        require(
          inputType.fields.length == 3,
          s"graft_bin expects (doc_id string, num_bins int, salt bigint), got $inputType"
        )
        new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
          override def name(): String = "graft_bin"
          override def canonicalName(): String = "graft.system.graft_bin"
          override def inputTypes(): Array[DataType] =
            Array(StringType, IntegerType, LongType)
          override def resultType(): DataType = IntegerType
          override def isResultNullable: Boolean = false
          override def isDeterministic: Boolean = true
          override def produceResult(input: InternalRow): Integer = {
            require(!input.isNullAt(0), "graft_bin: doc_id must not be null")
            GraftDataSource.binOf(input.getUTF8String(0).toString, input.getInt(1), input.getLong(2))
          }
        }
      }
    }

  /** One self-binding procedure: parameters are fixed (no overloads), so
    * `bind` validates nothing beyond what the analyzer already coerced.
    */
  private abstract class MaintenanceProcedure(
      procName: String,
      val parameters: Array[ProcedureParameter],
      resultSchema: StructType
  ) extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    def run(spark: SparkSession, input: InternalRow): InternalRow
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = run(SparkSession.active, input)
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = resultSchema
        override def description(): String = s"graft.system.$procName result"
      }
      Collections.singletonList(scan).iterator()
    }
  }

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
  private def inDflt(n: String, t: DataType, sql: String) =
    ProcedureParameter.in(n, t).defaultValue(sql).build()

  private def pathOf(input: InternalRow): String = {
    require(!input.isNullAt(0), "path must not be null")
    input.getUTF8String(0).toString
  }

  private val compact = new MaintenanceProcedure(
    "compact",
    Array(
      in("path", StringType),
      inDflt("small_file_bytes", LongType, (32L << 20).toString),
      inDflt("target_file_bytes", LongType, (128L << 20).toString),
      inDflt("min_input_files", IntegerType, "2")
    ),
    StructType(Seq(
      StructField("compaction_id", LongType, nullable = true),
      StructField("files_removed", IntegerType, nullable = false),
      StructField("files_added", IntegerType, nullable = false),
      StructField("bytes_removed", LongType, nullable = false),
      StructField("bytes_added", LongType, nullable = false),
      StructField("bins_remapped", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "rewrite small block files into large ones (decoded content unchanged)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      Maintenance.compact(spark, pathOf(input), input.getLong(1), input.getLong(2), input.getInt(3)) match {
        case Some(r) =>
          InternalRow(r.cid, r.filesRemoved, r.filesAdded, r.bytesRemoved, r.bytesAdded, r.binsRemapped)
        case None => InternalRow(null, 0, 0, 0L, 0L, 0)
      }
  }

  private val recompress = new MaintenanceProcedure(
    "recompress",
    Array(in("path", StringType)),
    StructType(Seq(
      StructField("compaction_id", LongType, nullable = true),
      StructField("files_removed", IntegerType, nullable = false),
      StructField("files_added", IntegerType, nullable = false),
      StructField("bytes_removed", LongType, nullable = false),
      StructField("bytes_added", LongType, nullable = false),
      StructField("bins_remapped", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "re-encode every live block through the current codec auto-selector " +
        "(decoded content unchanged); commits only when strictly smaller"
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      Maintenance.recompress(spark, pathOf(input)) match {
        case Some(r) =>
          InternalRow(r.cid, r.filesRemoved, r.filesAdded, r.bytesRemoved, r.bytesAdded, r.binsRemapped)
        case None => InternalRow(null, 0, 0, 0L, 0L, 0)
      }
  }

  private val rebin = new MaintenanceProcedure(
    "rebin",
    Array(
      in("path", StringType),
      in("num_bins", IntegerType),
      inDflt("salt", LongType, "NULL")
    ),
    StructType(Seq(
      StructField("compaction_id", LongType, nullable = true),
      StructField("base_snapshot", LongType, nullable = true),
      StructField("num_bins_before", IntegerType, nullable = false),
      StructField("num_bins_after", IntegerType, nullable = false),
      StructField("files_rewritten", IntegerType, nullable = false),
      StructField("files_added", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "redistribute the table into a new bin layout (decoded content unchanged); " +
        "folds snapshot history into a new base — pre-rebin time travel and stream " +
        "checkpoints then refuse loudly"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val salt = if (input.isNullAt(2)) None else Some(input.getLong(2))
      Maintenance.rebin(spark, pathOf(input), input.getInt(1), salt) match {
        case Some(r) =>
          InternalRow(
            r.cid, r.baseSnapshot, r.numBinsBefore, r.numBinsAfter,
            r.filesRewritten, r.filesAdded
          )
        case None =>
          val nb = input.getInt(1)
          InternalRow(null, null, nb, nb, 0, 0)
      }
    }
  }

  private val createTag = new MaintenanceProcedure(
    "create_tag",
    Array(in("path", StringType), in("name", StringType), in("snapshot", LongType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "pin a snapshot under a name (VERSION AS OF 'name' / option(\"tag\")); " +
        "tagged snapshots are immune to expire_snapshots"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val name = input.getUTF8String(1).toString
      val snap = input.getLong(2)
      graft.pipeline.Refs
        .createTag(pathOf(input), spark.sparkContext.hadoopConfiguration, name, snap)
      InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(name), snap)
    }
  }

  private val dropTag = new MaintenanceProcedure(
    "drop_tag",
    Array(in("path", StringType), in("name", StringType)),
    StructType(Seq(StructField("dropped", BooleanType, nullable = false)))
  ) {
    override def description(): String = "remove a tag (false when it did not exist)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      InternalRow(
        graft.pipeline.Refs.dropTag(
          pathOf(input),
          spark.sparkContext.hadoopConfiguration,
          input.getUTF8String(1).toString
        )
      )
  }

  private val tagsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)
  ))

  private val tags = new MaintenanceProcedure(
    "tags",
    Array(in("path", StringType)),
    tagsSchema
  ) {
    override def description(): String = "list the table's tags (one row per tag)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val out = graft.pipeline.Refs
        .listTags(pathOf(input), spark.sparkContext.hadoopConfiguration)
        .map { case (n, id) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n), id)
        }
        .toArray
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = tagsSchema
        override def description(): String = "graft.system.tags result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("tags overrides call() directly")
  }

  private val filesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("commit_snapshot", LongType, nullable = true),
    StructField("bins_claimed", IntegerType, nullable = true),
    StructField("compacted", BooleanType, nullable = false)
  ))

  /** Iceberg's `files` metadata table as a procedure: one row per LIVE
    * block file, from pure driver-side metadata (file listing + manifest
    * index + snapshot lineage — no data file is opened). The ops queries
    * this answers: unclaimed files (bins_claimed NULL → point reads keep
    * them conservatively; rewrite_manifests claims them), small-file
    * buildup (bytes distribution → schedule compact),
    * and append attribution (commit_snapshot NULL = bootstrap/compacted,
    * subject to every delete). One row per file is the same driver scale
    * the manifest index already carries.
    */
  private val files = new MaintenanceProcedure(
    "files",
    Array(in("path", StringType)),
    filesSchema
  ) {
    override def description(): String =
      "one row per live block file: bytes, commit snapshot, manifest claims"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val conf = spark.sparkContext.hadoopConfiguration
      val path = pathOf(input)
      val live = Maintenance.liveBlockFiles(path, conf)
      val claims: Map[String, Array[Int]] =
        GraftScan.manifestIndex(path, conf, live).map(_.fileBins).getOrElse(Map.empty)
      val commitOf: Map[String, Long] = graft.pipeline.EncodeJob
        .loadSnapshotRecords(path, conf)
        .flatMap(r => r.filesAdded.map(_ -> r.id))
        .toMap
      val out = live.map { case (f, len) =>
        val name = GraftScan.nameOf(f)
        InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name),
          len,
          commitOf.get(name).map(java.lang.Long.valueOf).orNull,
          claims.get(name).map(b => java.lang.Integer.valueOf(b.length)).orNull,
          f.contains("/_compacted/")
        )
      }
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = filesSchema
        override def description(): String = "graft.system.files result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("files overrides call() directly")
  }

  private val tokenStatsSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("indexed", BooleanType, nullable = false),
    StructField("tok_min", IntegerType, nullable = true),
    StructField("tok_max", IntegerType, nullable = true),
    StructField("indexed_blocks", IntegerType, nullable = true)
  ))

  /** Token-index coverage report: one row per LIVE block file with its
    * sidecar summary (token value range + indexed block count) or
    * indexed=false when the file has no entry — the query an operator runs
    * before relying on needle pruning ("did the last build cover the files
    * appends/compaction added since?"; unindexed files are still read
    * exactly, just never skipped). Driver metadata only: the file listing
    * plus the O(files) summary rows the scan planner already loads.
    */
  private val tokenStats = new MaintenanceProcedure(
    "token_stats",
    Array(in("path", StringType)),
    tokenStatsSchema
  ) {
    override def description(): String =
      "per-file token-index coverage: value range, indexed blocks, stale files"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val conf = spark.sparkContext.hadoopConfiguration
      val path = pathOf(input)
      val live = Maintenance.liveBlockFiles(path, conf)
      val summaries = TokenIndex.fileSummaries(path, conf).getOrElse(Map.empty)
      val out = live.map { case (f, len) =>
        val name = GraftScan.nameOf(f)
        val s = summaries.get(name)
        InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name),
          len,
          s.isDefined,
          s.map(x => java.lang.Integer.valueOf(x.tokMin)).orNull,
          s.map(x => java.lang.Integer.valueOf(x.tokMax)).orNull,
          s.map(x => java.lang.Integer.valueOf(x.nBlocks)).orNull
        )
      }
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = tokenStatsSchema
        override def description(): String = "graft.system.token_stats result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("token_stats overrides call() directly")
  }

  private val codecStatsSchema = StructType(Seq(
    StructField("codec", StringType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_values", LongType, nullable = false),
    StructField("payload_bits", LongType, nullable = false),
    StructField("bits_per_value", DoubleType, nullable = false)
  ))

  private val codecStats = new MaintenanceProcedure(
    "codec_stats",
    Array(in("path", StringType)),
    codecStatsSchema
  ) {
    override def description(): String =
      "per-codec block counts and payload sizes over the live files " +
        "(observability for auto-selection and recompress)"
    // multi-row result (one row per codec, biggest payload first), so this
    // overrides call() instead of the one-row run() contract
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val live =
        Maintenance.liveBlockFiles(pathOf(input), spark.sparkContext.hadoopConfiguration)
      val out: Array[InternalRow] =
        if (live.isEmpty) Array.empty
        else {
          import spark.implicits._
          spark.read
            .parquet(live.map(_._1).toIndexedSeq: _*)
            .groupBy(col("codec"))
            .agg(
              count(lit(1)).as("n_blocks"),
              sum(col("n_rows").cast("long")).as("n_rows"),
              sum(col("n_values")).as("n_values"),
              sum(col("payload_bits")).as("payload_bits")
            )
            .orderBy(col("payload_bits").desc)
            .as[(String, Long, Long, Long, Long)]
            .collect()
            .map { case (c, nb, nr, nv, pb) =>
              InternalRow(
                org.apache.spark.unsafe.types.UTF8String.fromString(c),
                nb, nr, nv, pb,
                if (nv == 0L) 0.0 else pb.toDouble / nv
              )
            }
        }
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = codecStatsSchema
        override def description(): String = "graft.system.codec_stats result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("codec_stats overrides call() directly")
  }

  private val snapshotsSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("n_bins_added", IntegerType, nullable = false),
    StructField("n_files_added", IntegerType, nullable = false),
    StructField("n_delete_files", IntegerType, nullable = false),
    StructField("n_ids_deleted", LongType, nullable = false),
    StructField("writer_id", StringType, nullable = true),
    StructField("writer_epoch", LongType, nullable = true)
  ))

  /** Iceberg's `snapshots` metadata table as a procedure: the lineage,
    * one row per live snapshot (expiry bounds the count by design, so the
    * driver-side collect is small). `committed_at_ms` is the snapshot
    * file's mtime — the same clock `TIMESTAMP AS OF` resolves against; the
    * JSON itself stays timestamp-free for resume/replay byte-identity.
    */
  private val snapshots = new MaintenanceProcedure(
    "snapshots",
    Array(in("path", StringType)),
    snapshotsSchema
  ) {
    override def description(): String =
      "the dir's snapshot lineage: bins/files/deletes added per snapshot, " +
        "commit wall-clock, streaming writer identity"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = pathOf(input)
      val recs = graft.pipeline.EncodeJob.loadSnapshotRecords(dir, conf)
      val mtimes: Map[Long, Long] = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/_snapshots")
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Map.empty
        else
          fs.listStatus(p).flatMap { st =>
            st.getPath.getName match {
              case graft.pipeline.EncodeJob.SnapNameRe(id) => Some(id.toLong -> st.getModificationTime)
              case _                                       => None
            }
          }.toMap
      }
      val out: Array[InternalRow] = recs.zipWithIndex.map { case (r, i) =>
        InternalRow(
          r.id,
          if (i == 0) -1L else recs(i - 1).id,
          mtimes.getOrElse(r.id, 0L),
          r.binsAdded.length,
          r.filesAdded.length,
          r.deletesAdded.length,
          r.deletesAdded.map(_._2).sum,
          r.writerId.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
          r.writerEpoch.map(Long.box).orNull
        )
      }.toArray
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = snapshotsSchema
        override def description(): String = "graft.system.snapshots result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("snapshots overrides call() directly")
  }

  private val vacuum = new MaintenanceProcedure(
    "vacuum",
    Array(in("path", StringType), inDflt("older_than_ms", LongType, "0")),
    StructType(Seq(
      StructField("data_files_deleted", IntegerType, nullable = false),
      StructField("dirs_deleted", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "delete tombstoned files, crash staging debris, and lineage-orphaned appends"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = Maintenance.vacuum(spark, pathOf(input), input.getLong(1))
      InternalRow(r.dataFilesDeleted, r.dirsDeleted)
    }
  }

  private val expireSnapshots = new MaintenanceProcedure(
    "expire_snapshots",
    Array(in("path", StringType), in("keep_last", IntegerType)),
    StructType(Seq(
      StructField("snapshots_expired", IntegerType, nullable = false),
      StructField("oldest_expired", LongType, nullable = true),
      StructField("rebased_into", LongType, nullable = true)
    ))
  ) {
    override def description(): String =
      "drop old snapshots, folding their lineage into the oldest retained one"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = Maintenance.expireSnapshots(spark, pathOf(input), input.getInt(1))
      InternalRow(
        r.snapshotsExpired.size,
        r.snapshotsExpired.minOption.map(Long.box).orNull,
        r.rebasedInto.map(Long.box).orNull
      )
    }
  }

  private val rewriteManifests = new MaintenanceProcedure(
    "rewrite_manifests",
    Array(in("path", StringType)),
    StructType(Seq(
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false),
      StructField("bins", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "consolidate the manifest into one file of the live files' rows"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = Maintenance.rewriteManifests(spark, pathOf(input))
      InternalRow(r.filesBefore, r.filesAfter, r.bins)
    }
  }

  private val deleteDocs = new MaintenanceProcedure(
    "delete_docs",
    Array(in("path", StringType), in("doc_ids", ArrayType(StringType))),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = true),
      StructField("ids_recorded", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "commit an equality delete of the given doc_ids (merge-on-read; purge applies it physically)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      require(!input.isNullAt(1), "doc_ids must not be null")
      val ids = input.getArray(1)
      val strs = (0 until ids.numElements()).map { i =>
        require(!ids.isNullAt(i), s"doc_ids[$i] is null")
        ids.getUTF8String(i).toString
      }
      import spark.implicits._
      graft.pipeline.Deletes.deleteDocs(spark, pathOf(input), strs.toDS()) match {
        case Some(r) => InternalRow(r.snapshotId, r.idsRecorded)
        case None    => InternalRow(null, 0L)
      }
    }
  }

  private val purgeDeletes = new MaintenanceProcedure(
    "purge_deletes",
    Array(in("path", StringType)),
    StructType(Seq(
      StructField("compaction_id", LongType, nullable = true),
      StructField("files_rewritten", IntegerType, nullable = false),
      StructField("files_added", IntegerType, nullable = false),
      StructField("delete_files_applied", IntegerType, nullable = false),
      StructField("ids_applied", LongType, nullable = false),
      StructField("bins_rewritten", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "physically apply the live equality deletes (rewrite affected files, retire the delete files)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      Maintenance.purgeDeletes(spark, pathOf(input)) match {
        case Some(r) =>
          InternalRow(r.cid, r.filesRewritten, r.filesAdded, r.deleteFilesApplied, r.idsApplied, r.binsRewritten)
        case None => InternalRow(null, 0, 0, 0, 0L, 0)
      }
  }

  private val replaceDocs = new MaintenanceProcedure(
    "replace_docs",
    Array(in("path", StringType), in("source_view", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = true),
      StructField("n_docs", LongType, nullable = false),
      StructField("files_added", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "atomic upsert: replace each doc_id in the named view/table with its row " +
        "(equality delete + re-encoded blocks in ONE snapshot)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      require(!input.isNullAt(1), "source_view must not be null")
      val view = input.getUTF8String(1).toString
      import spark.implicits._
      // tolerate view column types the writer would accept anyway (e.g.
      // bigint n_tok from SQL literals); the encode path validates content
      val rows = spark
        .table(view)
        .selectExpr(
          "CAST(doc_id AS STRING) AS doc_id",
          "CAST(tokens AS ARRAY<INT>) AS tokens",
          "CAST(n_tok AS INT) AS n_tok",
          "CAST(source AS STRING) AS source"
        )
        .as[graft.pipeline.TokenRow]
      graft.pipeline.Deletes.replaceDocs(spark, pathOf(input), rows) match {
        case Some(r) => InternalRow(r.snapshotId, r.nDocs, r.filesAdded.size)
        case None    => InternalRow(null, 0L, 0)
      }
    }
  }

  private val buildTokenIndex = new MaintenanceProcedure(
    "build_token_index",
    Array(in("path", StringType), inDflt("full", BooleanType, "false")),
    StructType(Seq(
      StructField("files_indexed", IntegerType, nullable = false),
      StructField("files_skipped", IntegerType, nullable = false),
      StructField("blocks_indexed", LongType, nullable = false),
      StructField("index_bytes", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "build (or incrementally extend) the token data-skipping index: " +
        "per-block value range + bloom filter consulted by " +
        "option(\"containsToken\", v) scans; full => true re-indexes " +
        "everything (the repair after heavy compaction)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = TokenIndex.build(spark, pathOf(input), input.getBoolean(1))
      InternalRow(r.filesIndexed, r.filesSkipped, r.blocksIndexed, r.indexBytes)
    }
  }

  private val buildContentIndex = new MaintenanceProcedure(
    "build_content_index",
    Array(in("path", StringType)),
    StructType(Seq(
      StructField("files_hashed", LongType, nullable = false),
      StructField("files_covered", IntegerType, nullable = false),
      StructField("entries", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "build (or incrementally extend) the _content_index sidecar: per-doc " +
        "124-bit content keys used by dedup_exact(incremental => true); " +
        "only live files without committed entries are decoded — run it " +
        "off-peak so the dedup pass itself is a pure sidecar read"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val dir = pathOf(input)
      val live = Maintenance
        .liveBlockFiles(dir, spark.sparkContext.hadoopConfiguration)
        .map(_._1)
      // stats ride the ensure's own coverage aggregate — no extra job
      val e = ContentIndex.ensureStats(spark, dir, live)
      InternalRow(e.filesBuilt, e.filesCovered, e.liveDocs)
    }
  }

  private val buildSigIndex = new MaintenanceProcedure(
    "build_sig_index",
    Array(
      in("path", StringType),
      inDflt("shingle_n", IntegerType, "4"),
      inDflt("k", IntegerType, "64"),
      // sketch => true builds the bands·4 B/doc _sig_sketch_… level instead
      // of the k·8 B/doc signature level (the footprint dial)
      inDflt("sketch", BooleanType, "false"),
      inDflt("bands", IntegerType, "16")
    ),
    StructType(Seq(
      StructField("files_signed", LongType, nullable = false),
      StructField("files_covered", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "build (or incrementally extend) the _sig_index_n{N}_k{K} sidecar of " +
        "per-doc MinHash signatures used by dedup_near(incremental => true); " +
        "with sketch => true, the _sig_sketch_n{N}_k{K}_b{B} band-hash level " +
        "(bands*4 B/doc — the footprint dial; pair with dedup_near(sketch => " +
        "true)). Only live files without committed entries are decoded — run " +
        "it off-peak so the dedup's signature pass is a pure sidecar read"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val dir = pathOf(input)
      val live = Maintenance
        .liveBlockFiles(dir, spark.sparkContext.hadoopConfiguration)
        .map(_._1)
      val (_, built) =
        if (input.getBoolean(3))
          SignatureIndex
            .ensureSketch(spark, dir, live, input.getInt(1), input.getInt(2), input.getInt(4))
        else SignatureIndex.ensure(spark, dir, live, input.getInt(1), input.getInt(2))
      InternalRow(built, live.length)
    }
  }

  private val attachColumn = new MaintenanceProcedure(
    "attach_column",
    Array(in("path", StringType), in("name", StringType), in("source_view", StringType)),
    StructType(Seq(
      StructField("docs_attached", LongType, nullable = false),
      StructField("column_bytes", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "attach (or override) the named per-document array<long> aux column " +
        "(e.g. per-token logprobs) from a view of (doc_id, values): encoded " +
        "per doc (zigzag-varint/delta/const, smallest wins) into the " +
        "_column_<name> sidecar family — adding a column never re-encodes " +
        "the corpus; read it back joined to the scan by doc_id"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      require(!input.isNullAt(1), "name must not be null")
      require(!input.isNullAt(2), "source_view must not be null")
      val r = AuxColumn.attach(
        spark,
        pathOf(input),
        input.getUTF8String(1).toString,
        spark.table(input.getUTF8String(2).toString)
      )
      InternalRow(r.docsAttached, r.bytes)
    }
  }

  private val columnsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("docs", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)
  ))
  private val columnsProc = new MaintenanceProcedure(
    "columns",
    Array(in("path", StringType)),
    columnsSchema
  ) {
    override def description(): String =
      "one row per attached aux column: live doc count and stored bytes"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val path = pathOf(input)
      val conf = spark.sparkContext.hadoopConfiguration
      val out = AuxColumn.list(path, conf).toArray.map { n =>
        val (docs, bytes) = AuxColumn.stats(spark, path, n)
        InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n), docs, bytes)
      }
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = columnsSchema
        override def description(): String = "graft.system.columns result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("columns overrides call() directly")
  }

  private val adopt = new MaintenanceProcedure(
    "adopt",
    Array(in("path", StringType), in("source", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = true),
      StructField("files_adopted", IntegerType, nullable = false),
      StructField("bytes_adopted", LongType, nullable = false),
      StructField("rows_adopted", LongType, nullable = false),
      StructField("values_adopted", LongType, nullable = false),
      StructField("doc_id_overlap", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "zero-recode merge: adopt another same-layout encode dir's live block files " +
        "into this one (file copies + one snapshot commit — no decode/re-encode); " +
        "requires matching format/bins/salt/tables and a purge-clean source. " +
        "doc_id_overlap counts source ids already live in the destination " +
        "(warned: the union holds same-id twins equality deletes cannot thin)"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      require(!input.isNullAt(1), "source must not be null")
      Maintenance.adopt(spark, input.getUTF8String(1).toString, pathOf(input)) match {
        case Some(r) =>
          InternalRow(
            r.snapshotId, r.filesAdopted, r.bytesAdopted, r.rowsAdopted, r.valuesAdopted,
            r.docIdOverlap
          )
        case None => InternalRow(null, 0, 0L, 0L, 0L, 0L)
      }
    }
  }

  /** The pretraining chunker as a SQL verb: pack a graft corpus into
    * fixed-length training examples and write them to a NEW graft dir —
    * the whole prepare-an-epoch step (`ops/Packing` + `EncodeJob`) as one
    * `CALL`. Example ids become zero-padded doc_ids (`ex-000000000042`),
    * so the examples' doc_id order IS the stream order; `order_seed` packs
    * in the seeded epoch permutation; `sep_token` is the EOS convention.
    * The output dir is sized via the metadata aggregate (zero payload
    * reads) and must be fresh — packing over an existing corpus is almost
    * certainly an operator mistake, refused rather than mixed.
    */
  private val pack = new MaintenanceProcedure(
    "pack",
    Array(
      in("path", StringType),
      in("out", StringType),
      inDflt("seq_len", IntegerType, "2048"),
      inDflt("sep_token", IntegerType, "NULL"),
      inDflt("order_seed", LongType, "NULL")
    ),
    StructType(Seq(
      StructField("n_examples", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("num_bins", IntegerType, nullable = false)
    ))
  ) {
    override def description(): String =
      "pack a corpus into fixed-length training examples written as a NEW " +
        "graft dir (concat in doc_id or seeded-epoch order, chunk to " +
        "seq_len, drop the tail); doc_id = ex-<example_id>"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      import org.apache.hadoop.fs.Path
      import spark.implicits._
      val src = pathOf(input)
      require(!input.isNullAt(1), "out must not be null")
      val out = input.getUTF8String(1).toString
      val seqLen = input.getInt(2)
      val sep = if (input.isNullAt(3)) None else Some(input.getInt(3))
      val seed = if (input.isNullAt(4)) None else Some(input.getLong(4))
      require(
        new Path(out).toUri.getPath != new Path(src).toUri.getPath,
        "out must differ from path — packing a corpus over itself would corrupt it"
      )
      val conf = spark.sparkContext.hadoopConfiguration
      val outFs = new Path(out).getFileSystem(conf)
      require(
        !outFs.exists(new Path(out)) || outFs.listStatus(new Path(out)).isEmpty,
        s"out dir $out is not empty — pack writes a NEW corpus, not an append"
      )

      val corpus = spark.read.format("graft").load(src)
      // size the output's bins from source metadata (pushed aggregate —
      // zero payload bytes): packed tokens ≈ source tokens + one separator
      // per doc, minus the dropped tail
      // coalesce: sum() is NULL on a valid-but-empty corpus (every doc
      // deleted by a dedup/filter pass) and would NPE into the primitive
      // decode before the zero-examples message below could fire
      val (srcTokens, nDocs) = corpus
        .agg(coalesce(sum(col("n_tok").cast("long")), lit(0L)), count(lit(1)))
        .as[(Long, Long)]
        .collect()
        .head
      require(
        nDocs > 0,
        s"corpus at $src has no live documents — nothing to pack"
      )
      val estTokens = srcTokens + (if (sep.isDefined) nDocs else 0L)
      val cfg = graft.pipeline.GraftPipeline
        .Config(numBins = graft.pipeline.GraftPipeline.Config.binsFor(estTokens))

      val (packed, release) = graft.ops.Packing.packSequencesWithHandle(
        corpus.select(col("doc_id"), col("tokens")), seqLen, sep, orderSeed = seed)
      try {
        val nExamples = packed.count() // cached pieces: a cheap second scan
        require(
          nExamples > 0,
          s"corpus at $src packs to zero $seqLen-token examples — nothing to write"
        )
        val rows = packed
          .select(
            org.apache.spark.sql.functions
              .format_string("ex-%012d", col("example_id"))
              .as("doc_id"),
            col("tokens"),
            lit(seqLen).as("n_tok"),
            lit("packed").as("source")
          )
          .as[graft.pipeline.TokenRow]
        val res = graft.pipeline.EncodeJob.run(rows, out, cfg)
        InternalRow(nExamples, nExamples * seqLen, res.snapshotId, cfg.numBins)
      } finally release()
    }
  }

  private val dedupExact = new MaintenanceProcedure(
    "dedup_exact",
    Array(in("path", StringType), inDflt("incremental", BooleanType, "false")),
    StructType(Seq(
      StructField("snapshot", LongType, nullable = true),
      StructField("dup_groups", LongType, nullable = false),
      StructField("docs_deleted", LongType, nullable = false),
      StructField("files_hashed", LongType, nullable = true),
      StructField("same_id_groups", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "delete every exact-duplicate document (identical tokens) except the " +
        "lexicographically smallest doc_id per group, as one merge-on-read " +
        "equality-delete snapshot; purge_deletes amortizes the physical rewrite. " +
        "incremental => hash through the persistent _content_index (decode only " +
        "files not yet covered; files_hashed reports how many). same_id_groups " +
        "counts duplicate groups sharing ONE doc_id (double-append) — not " +
        "deletable by id, surfaced instead of looping forever"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = Maintenance.dedupExact(spark, pathOf(input), incremental = input.getBoolean(1))
      InternalRow(
        r.snapshotId.map(Long.box).orNull,
        r.dupGroups,
        r.docsDeleted,
        if (r.filesHashed < 0L) null else Long.box(r.filesHashed),
        r.sameIdGroups
      )
    }
  }

  private val dedupNear = new MaintenanceProcedure(
    "dedup_near",
    Array(
      in("path", StringType),
      inDflt("threshold", DoubleType, "0.7D"),
      inDflt("shingle_n", IntegerType, "4"),
      inDflt("max_bucket", IntegerType, "1024"),
      inDflt("incremental", BooleanType, "false"),
      // mirror build_sig_index's signature knobs: an incremental run with a
      // sidecar pre-built at non-default k would otherwise silently rebuild
      // (and pay for) the default _sig_index_n{N}_k64
      inDflt("k", IntegerType, "64"),
      inDflt("bands", IntegerType, "16"),
      // the documented "re-run until docs_deleted == 0" contract in one call
      inDflt("until_fixpoint", BooleanType, "false"),
      inDflt("max_passes", IntegerType, "8"),
      // with incremental: band the stored _sig_sketch_… level (bands*4 B/doc)
      // instead of full signatures
      inDflt("sketch", BooleanType, "false")
    ),
    StructType(Seq(
      StructField("snapshot", LongType, nullable = true),
      StructField("n_pairs", LongType, nullable = false),
      StructField("n_clusters", LongType, nullable = false),
      StructField("docs_deleted", LongType, nullable = false),
      StructField("files_signed", LongType, nullable = true),
      StructField("passes", IntegerType, nullable = false),
      StructField("pass_deletes", StringType, nullable = false),
      StructField("converged", BooleanType, nullable = false)
    ))
  ) {
    override def description(): String =
      "delete near-duplicate documents (MinHash+LSH over token n-gram shingles, " +
        "exact-Jaccard verified at threshold, connected components) keeping the " +
        "smallest doc_id per cluster, as one merge-on-read equality-delete snapshot. " +
        "incremental => sign through the persistent _sig_index for the given " +
        "(shingle_n, k) (decode only files not yet covered; exact verification " +
        "decodes candidate docs only); k/bands must satisfy bands | k. " +
        "until_fixpoint => iterate (bounded by max_passes) until a pass deletes " +
        "nothing — pass_deletes reports per-pass counts, converged says whether " +
        "the fixpoint was reached"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val k = input.getInt(5)
      val bands = input.getInt(6)
      require(k > 0 && bands > 0 && k % bands == 0, s"bands ($bands) must divide k ($k)")
      val fix = Maintenance.dedupNearFixpoint(
        spark,
        pathOf(input),
        threshold = input.getDouble(1),
        shingleN = input.getInt(2),
        k = k,
        bands = bands,
        maxBucket = input.getInt(3),
        incremental = input.getBoolean(4),
        maxPasses = if (input.getBoolean(7)) input.getInt(8) else 1,
        sketch = input.getBoolean(9)
      )
      // single-pass (default) rows read exactly as before; fixpoint rows
      // aggregate and carry the per-pass trail
      val lastSnap = fix.passes.reverse.collectFirst {
        case p if p.snapshotId.isDefined => p.snapshotId.get
      }
      val signed = fix.passes.map(_.filesSigned).filter(_ >= 0L)
      InternalRow(
        lastSnap.map(Long.box).orNull,
        fix.nPairs,
        fix.nClusters,
        fix.docsDeleted,
        if (signed.isEmpty) null else Long.box(signed.sum),
        fix.passes.length,
        org.apache.spark.unsafe.types.UTF8String.fromString(
          fix.passes.map(_.docsDeleted).mkString(",")
        ),
        fix.converged
      )
    }
  }

  private val decontaminate = new MaintenanceProcedure(
    "decontaminate",
    Array(
      in("path", StringType),
      in("eval_view", StringType),
      inDflt("n", IntegerType, "4"),
      inDflt("delete", BooleanType, "false")
    ),
    StructType(Seq(
      StructField("snapshot", LongType, nullable = true),
      StructField("docs_flagged", LongType, nullable = false),
      StructField("docs_deleted", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "flag (and with delete => true, equality-delete) every corpus doc " +
        "containing any consecutive token n-gram of the named eval view's " +
        "tokens column — broadcast screen, one shuffle-free corpus pass"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      require(!input.isNullAt(1), "eval_view must not be null")
      val eval = spark.table(input.getUTF8String(1).toString)
      val r = Maintenance.decontaminate(
        spark,
        pathOf(input),
        eval,
        n = input.getInt(2),
        delete = input.getBoolean(3)
      )
      InternalRow(r.snapshotId.map(Long.box).orNull, r.docsFlagged, r.docsDeleted)
    }
  }

  private val auditSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_values", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("error", StringType, nullable = true)
  ))

  /** Integrity fsck ([[Audit.audit]]): decode every live block distributed
    * (one task per file, the scan's own codec dispatch) and cross-check the
    * per-block accounting; one row per file, corrupt files report
    * `ok = false` with the error instead of failing the job.
    */
  private val audit = new MaintenanceProcedure(
    "audit",
    Array(in("path", StringType)),
    auditSchema
  ) {
    override def description(): String =
      "decode-verify every live block file (one row per file; ok=false + error on corruption)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = Audit
        .audit(SparkSession.active, pathOf(input))
        .map { r =>
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(r.file),
            r.bytes,
            r.nBlocks,
            r.nRows,
            r.nValues,
            r.ok,
            r.error.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
          )
        }
        .toArray
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = auditSchema
        override def description(): String = "graft.system.audit result"
      }
      Collections.singletonList(scan).iterator()
    }
    override def run(spark: SparkSession, input: InternalRow): InternalRow =
      throw new IllegalStateException("audit overrides call() directly")
  }

  private val filterNll = new MaintenanceProcedure(
    "filter_nll",
    Array(
      in("path", StringType),
      in("min_bpt_ppm", LongType),
      in("max_bpt_ppm", LongType),
      inDflt("delete", BooleanType, "false")
    ),
    StructType(Seq(
      StructField("snapshot", LongType, nullable = true),
      StructField("docs_flagged", LongType, nullable = false),
      StructField("flagged_low", LongType, nullable = false),
      StructField("flagged_high", LongType, nullable = false),
      StructField("docs_deleted", LongType, nullable = false)
    ))
  ) {
    override def description(): String =
      "flag (and with delete => true, equality-delete) docs whose unigram " +
        "log-loss bits-per-token (ppm, under the corpus's own distribution) " +
        "falls outside [min, max] — low = templated/boilerplate, high = junk"
    override def run(spark: SparkSession, input: InternalRow): InternalRow = {
      val r = Maintenance.filterNll(
        spark,
        pathOf(input),
        minBptPpm = input.getLong(1),
        maxBptPpm = input.getLong(2),
        delete = input.getBoolean(3)
      )
      InternalRow(
        r.snapshotId.map(Long.box).orNull,
        r.docsFlagged,
        r.flaggedLow,
        r.flaggedHigh,
        r.docsDeleted
      )
    }
  }

  private val procedures: Map[String, UnboundProcedure] = Map(
    "compact" -> compact,
    "audit" -> audit,
    "decontaminate" -> decontaminate,
    "filter_nll" -> filterNll,
    "dedup_exact" -> dedupExact,
    "dedup_near" -> dedupNear,
    "build_token_index" -> buildTokenIndex,
    "build_content_index" -> buildContentIndex,
    "build_sig_index" -> buildSigIndex,
    "attach_column" -> attachColumn,
    "columns" -> columnsProc,
    "recompress" -> recompress,
    "rebin" -> rebin,
    "create_tag" -> createTag,
    "drop_tag" -> dropTag,
    "tags" -> tags,
    "files" -> files,
    "codec_stats" -> codecStats,
    "token_stats" -> tokenStats,
    "snapshots" -> snapshots,
    "vacuum" -> vacuum,
    "expire_snapshots" -> expireSnapshots,
    "rewrite_manifests" -> rewriteManifests,
    "delete_docs" -> deleteDocs,
    "purge_deletes" -> purgeDeletes,
    "replace_docs" -> replaceDocs,
    "pack" -> pack,
    "adopt" -> adopt
  )
}
