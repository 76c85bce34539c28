package graft

import graft.codec.{BlockStats, CodecSelector}
import graft.core.{Histograms, Hybrid, SymbolTables}
import graft.pipeline.{EncodedBlock, GraftPipeline, TokenRow, TokenTables}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries run over the deterministic token table derived from the driver's
  * lineitem parquet (TokenTables.fromLineitem; DuckDB-side twin in
  * TokenTables.duckTokCte) plus the documents/embeddings tables. Where
  * possible the Spark side calls the PRODUCTION codec code (Hybrid.token,
  * CodecSelector, Histograms.costModel) so the DuckDB oracle checks the
  * engine itself, not a SQL re-derivation.
  */
object SparkEntry {

  private val CTE = TokenTables.duckTokCte

  /** DuckDB-side hybrid token split (mirrors Hybrid.token / the reference
    * encode split at /root/reference/src/huffman/common.rs:38-53).
    */
  private def duckHybridToken(col: String): String =
    s"""(CASE WHEN $col < 16 THEN $col
       | ELSE 16 + (length(bin($col))-1-4)*8
       |      + CAST(floor(($col - power(2, length(bin($col))-1)) / power(2, length(bin($col))-3)) AS BIGINT)*2
       |      + $col % 2 END)""".stripMargin.replaceAll("\n", " ")

  /** DuckDB-side bit width (mirrors IntCodecs.bitsFor). */
  private def duckBitsFor(col: String): String =
    s"(CASE WHEN $col <= 0 THEN 0 ELSE length(bin($col)) END)"

  // ---- DuckDB twins of the text-dedup hash chain (graft.ops.XHash /
  // TextOps) — shared CTE computing the 62-bit word hash per (doc, pos).
  private val X = graft.ops.XHash
  private val duckWordHashCte: String =
    s"""words AS (
       |  SELECT doc_id, unnest(generate_series(1, len(string_split(text, ' ')))) AS j,
       |         string_split(text, ' ') AS ws
       |  FROM documents
       |), wraw AS (
       |  SELECT doc_id, j, ${X.sqlHashCharsRaw("ws[j]")} AS hr FROM words
       |), wh AS (
       |  SELECT doc_id, j, ${X.sqlMix62("hr")} AS word_hash FROM wraw
       |)""".stripMargin

  /** Word 3-gram shingle CTE chain (TextOps.shingleUdf twin): word hashes →
    * lead-window 3-grams → staged XHash fold → DISTINCT shingle set + per-doc
    * set sizes. Shared by the MinHash and n-gram Jaccard oracles.
    */
  private val duckShinglesCte: String =
    s"""$duckWordHashCte,
       |sh3 AS (
       |  SELECT doc_id, word_hash AS w1,
       |         lead(word_hash, 1) OVER (PARTITION BY doc_id ORDER BY j) AS w2,
       |         lead(word_hash, 2) OVER (PARTITION BY doc_id ORDER BY j) AS w3
       |  FROM wh
       |),
       |shf1 AS (SELECT doc_id, w2, w3, ${X.sqlMix62(s"xor(${X.FoldInit}, w1)")} AS f1 FROM sh3 WHERE w3 IS NOT NULL),
       |shf2 AS (SELECT doc_id, w3, ${X.sqlMix62("xor(f1, w2)")} AS f2 FROM shf1),
       |shingles AS (SELECT DISTINCT doc_id, ${X.sqlMix62("xor(f2, w3)")} AS shingle FROM shf2),
       |shsize AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1)""".stripMargin

  // ---- DuckDB twins of the quantized ANN scoring (graft.ops.Ann) ----
  /** qe = floor(x*1000 + 0.5) per element (Ann.quantize). */
  private val duckQuant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"

  /** Exact integer-quantized cosine (Ann.icos) over two BIGINT lists. */
  private def duckIcos(qa: String, qb: String): String =
    s"""(CASE WHEN CAST(list_sum(list_transform($qa, x -> x*x)) AS BIGINT) = 0
       | OR CAST(list_sum(list_transform($qb, x -> x*x)) AS BIGINT) = 0 THEN 0
       | ELSE CAST(floor(CAST(list_sum(list_transform(generate_series(1, len($qa)), d -> $qa[d] * $qb[d])) AS BIGINT) * 1000000.0
       |   / sqrt(CAST(CAST(list_sum(list_transform($qa, x -> x*x)) AS BIGINT) * CAST(list_sum(list_transform($qb, x -> x*x)) AS BIGINT) AS DOUBLE))) AS BIGINT) END)""".stripMargin
      .replaceAll("\n", " ")

  /** Random-hyperplane signature CTE (Ann.planeSig): per (vec, table) a
    * bucket of nPlanes sign bits, each from the XHash.mix62 Rademacher
    * draw for (table<<20 | plane<<10 | d).
    */
  private def duckSigCte(nPlanes: Int, nTables: Int): String = {
    val base =
      s"xor(xor(${graft.ops.Ann.DefaultSeed}, CAST(t AS BIGINT) << 20), xor(CAST(p AS BIGINT) << 10, CAST(d AS BIGINT)))"
    s"""sigrows AS (
       |  SELECT vec_id, t, p,
       |    CAST(list_sum(list_transform(generate_series(1, len(qe)), d ->
       |      CASE WHEN (${X.sqlMix62(base)}) & 1 = 0 THEN qe[d] ELSE -qe[d] END)) AS BIGINT) AS dotp
       |  FROM qc, (SELECT unnest(generate_series(0, ${nTables - 1})) AS t),
       |       (SELECT unnest(generate_series(0, ${nPlanes - 1})) AS p)
       |), sigs AS (
       |  SELECT vec_id, t, CAST(sum(CASE WHEN dotp > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM sigrows GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Per-doc lightweight codec selection via the production CodecSelector. */
  private val codecChoiceUdf = udf { tokens: Seq[Long] =>
    val values = tokens.map(_.toInt).toArray
    val (codec, bits) = CodecSelector.select(values, Array(0, values.length), None)
    (codec.name, bits)
  }

  private def tok(s: SparkSession, dir: String): DataFrame =
    TokenTables.tokExploded(s, dir)

  private def docTable(s: SparkSession, dir: String): DataFrame =
    TokenTables.fromLineitem(s, dir)

  /** embedTables=true: every hybrid block carries the self-describing
    * header (O7), so q_point_lookup / q_roundtrip_verify exercise the
    * embedded-header parse + hash check on every block they decode — the
    * self-describing format sits under the hard DuckDB oracle (values are
    * unchanged by the header; selection charges header bits to the hybrid
    * side).
    */
  val pipelineCfg: GraftPipeline.Config =
    GraftPipeline.Config(
      numContexts = 64, numBins = 32, maxBlockRows = 2048, maxBlockValues = 131072,
      embedTables = true
    )

  /** One shared encode of the derived corpus per (session, sfDir): analyze →
    * broadcast tables → cached blocks, with the join-verify computed lazily.
    * Every query that touches the compressed corpus (q_roundtrip_verify,
    * q_point_lookup, …) reuses this instead of re-running analyze+encode.
    */
  private def tokenRows(s: SparkSession, dir: String): Dataset[TokenRow] = {
    import s.implicits._
    docTable(s, dir)
      .select(
        $"doc_id".cast("string").as("doc_id"),
        $"tokens".cast("array<int>").as("tokens"),
        $"n_tok",
        $"source"
      )
      .as[TokenRow]
  }

  final class EncodedCorpus(s: SparkSession, dir: String, cfg: GraftPipeline.Config) {
    // persisted: analyze, encode and the verify join each consume the
    // derived table — without the cache every pass re-runs the lineitem
    // groupBy shuffle that derives it (3x the derivation cost per roundtrip)
    val rows: Dataset[TokenRow] =
      tokenRows(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tables: Broadcast[SymbolTables] =
      s.sparkContext.broadcast(
        GraftPipeline.buildTables(GraftPipeline.analyze(rows, cfg), cfg)
      )
    val blocks: Dataset[EncodedBlock] =
      GraftPipeline.encode(rows, tables, cfg).cache()
    lazy val mismatches: Long =
      GraftPipeline.verify(rows, GraftPipeline.decode(blocks, tables, cfg))

    /** Drop the cached rows/blocks and the tables broadcast. */
    def release(): Unit = {
      rows.unpersist()
      blocks.unpersist()
      tables.unpersist()
    }
  }

  private val corpusCache =
    scala.collection.concurrent.TrieMap[(Int, String), EncodedCorpus]()

  /** Release handles of Packing intermediates created by the q_pack_*
    * queries, drained by [[releaseCorpora]] so Verify's leak check stays
    * clean.
    */
  private val packHandles =
    scala.collection.concurrent.TrieMap[Int, List[() => Unit]]()

  private def trackPackHandle(s: SparkSession, release: () => Unit): Unit = {
    val id = System.identityHashCode(s)
    packHandles.updateWith(id) {
      case Some(rest) => Some(release :: rest)
      case None       => Some(release :: Nil)
    }: Unit
  }

  /** ONE seqLen=64 spans pack of the derived corpus per (session, sfDir),
    * shared by q_pack_sequences (spans dropped) and q_pack_spans — the
    * shuffle + pack + persisted intermediates are paid once per Verify run
    * (the corpusCache pattern).
    */
  private val packCache =
    scala.collection.concurrent.TrieMap[(Int, String), DataFrame]()

  private def packed64(s: SparkSession, dir: String): DataFrame =
    packCache.getOrElseUpdate(
      (System.identityHashCode(s), dir), {
        val (df, release) = graft.ops.Packing
          .packSequencesWithHandle(docTable(s, dir), seqLen = 64, withSpans = true)
        trackPackHandle(s, release)
        df
      }
    )

  /** ONE shared encode of the derived corpus per (session, sfDir) — every
    * compressed-corpus query (q_roundtrip_verify, q_point_lookup,
    * q_context_bits) reuses it, so a Verify run pays exactly one
    * corpus-scale analyze+encode.
    */
  def encodedCorpus(s: SparkSession, dir: String): EncodedCorpus =
    corpusCache.getOrElseUpdate(
      (System.identityHashCode(s), dir),
      new EncodedCorpus(s, dir, pipelineCfg)
    )

  /** Cache lifecycle: unpersist and evict every corpus held for `s` (called
    * from Verify teardown; a long-lived session should call this when done
    * with a dir's queries).
    */
  def releaseCorpora(s: SparkSession): Unit = {
    val id = System.identityHashCode(s)
    corpusCache.keys.filter(_._1 == id).foreach { k =>
      corpusCache.remove(k).foreach(_.release())
    }
    graftDirCache.keys.filter(_._1 == id).foreach { k =>
      // each entry is a full encoded-corpus copy on disk — delete it, don't
      // just drop the mapping
      graftDirCache.remove(k).foreach(deleteDir)
    }
    graftCompactDirCache.keys.filter(_._1 == id).foreach { k =>
      graftCompactDirCache.remove(k).foreach(deleteDir)
    }
    graftCtasDirCache.keys.filter(_._1 == id).foreach { k =>
      // the CTAS dir is <tmp>/corpus — remove the enclosing tmp dir
      graftCtasDirCache.remove(k).foreach(d => deleteDir(new java.io.File(d).getParent))
    }
    auxAttachedOnce.keys.filter(_._1 == id).foreach(auxAttachedOnce.remove)
    graftAppendDirCache.keys.filter(_._1 == id).foreach { k =>
      graftAppendDirCache.remove(k).foreach(deleteDir)
    }
    graftAdoptDirCache.keys.filter(_._1 == id).foreach { k =>
      graftAdoptDirCache.remove(k).foreach(deleteDir)
    }
    graftDeleteDirCache.keys.filter(_._1 == id).foreach { k =>
      graftDeleteDirCache.remove(k).foreach(deleteDir)
    }
    graftPurgeDirCache.keys.filter(_._1 == id).foreach { k =>
      graftPurgeDirCache.remove(k).foreach(deleteDir)
    }
    graftReplaceDirCache.keys.filter(_._1 == id).foreach { k =>
      graftReplaceDirCache.remove(k).foreach(deleteDir)
    }
    graftSqlDeleteDirCache.keys.filter(_._1 == id).foreach { k =>
      graftSqlDeleteDirCache.remove(k).foreach(deleteDir)
    }
    graftDedupDirCache.keys.filter(_._1 == id).foreach { k =>
      graftDedupDirCache.remove(k).foreach(deleteDir)
    }
    graftNearDupDirCache.keys.filter(_._1 == id).foreach { k =>
      graftNearDupDirCache.remove(k).foreach(deleteDir)
    }
    graftNllDirCache.keys.filter(_._1 == id).foreach { k =>
      graftNllDirCache.remove(k).foreach(deleteDir)
    }
    graftRebinDirCache.keys.filter(_._1 == id).foreach { k =>
      graftRebinDirCache.remove(k).foreach(deleteDir)
    }
    packCache.keys.filter(_._1 == id).foreach(packCache.remove)
    packHandles.remove(id).foreach(_.foreach(_.apply()))
  }

  private def deleteDir(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  private val graftDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Build-once cached EncodeJob-layout temp dir per (session, sfDir) — the
    * shared bootstrap behind every DSv2 query dir: persists the SHARED
    * encoded corpus's tables + cached blocks (no re-encode) and manifests
    * the dir like a production EncodeJob output (the DSv2 queries then plan
    * through the manifest's bin->file index — the 100 TB path; the footer
    * fallback stays covered by sbt tests). `withLineage` additionally
    * records the snap-0 lineage EncodeJob.run would have written (the
    * append/delete/replace paths REQUIRE a fully-encoded dir), and
    * `blockParts` optionally scatters the blocks (the compaction fixture).
    * `mutate` is the operation under test, applied before publication.
    *
    * Build-then-`putIfAbsent` (not `getOrElseUpdate`, which is not atomic
    * for the building step): two concurrent first queries may both write a
    * corpus copy, but exactly one wins the map and the loser's dir is
    * deleted immediately — at most one temp corpus dir ever persists per
    * (session, sfDir) per cache.
    */
  private def cachedGraftDir(
      cache: scala.collection.concurrent.TrieMap[(Int, String), String],
      s: SparkSession,
      dir: String,
      prefix: String,
      withLineage: Boolean = false,
      blockParts: Option[Int] = None,
      blocksOf: EncodedCorpus => org.apache.spark.sql.Dataset[graft.pipeline.EncodedBlock] =
        _.blocks
  )(mutate: (String, EncodedCorpus) => Unit): String = {
    val key = (System.identityHashCode(s), dir)
    cache.get(key) match {
      case Some(existing) => existing
      case None =>
        val ec = encodedCorpus(s, dir)
        val out = java.nio.file.Files.createTempDirectory(prefix).toString
        graft.pipeline.EncodeJob
          .saveTables(s, out, ec.tables.value, pipelineCfg.contextModel, layout = Some(pipelineCfg))
        val blocks = blocksOf(ec)
        blockParts.fold(blocks)(blocks.repartition(_))
          .write.mode("overwrite").parquet(s"$out/blocks")
        if (withLineage) {
          val snapDir = java.nio.file.Paths.get(out, "_snapshots")
          java.nio.file.Files.createDirectories(snapDir)
          java.nio.file.Files.write(
            snapDir.resolve("snap-0.json"),
            s"""{"snapshot_id":0,"parent_id":-1,"bins_added":[${(0 until pipelineCfg.numBins).mkString(",")}]}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          )
        }
        graft.pipeline.EncodeJob
          .appendManifest(s, out, (0 until pipelineCfg.numBins).toSet, snapshotId = 0L)
        mutate(out, ec)
        cache.putIfAbsent(key, out) match {
          case Some(winner) => deleteDir(out); winner
          case None         => out
        }
    }
  }

  /** Write-once EncodeJob-layout dir for the plain DSv2 scan queries:
    * `spark.read.format("graft")` serves the exact bytes the oracle chain
    * already pins.
    */
  private def graftScanDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftDirCache, s, dir, "graft-dsv2")((_, _) => ())

  /** Once-per-(session, sfDir) attach guard for q_aux_column: the sidecar
    * is additive (no other query reads `_column_*`), so it rides the SHARED
    * scan dir; a second attach would only add an identical build.
    */
  private val auxAttachedOnce =
    scala.collection.concurrent.TrieMap[(Int, String), Boolean]()

  private val graftCtasDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** A corpus created PURELY through SQL: the shared scan dir is mounted via
    * the graft catalog and CTAS'd into a fresh dir (`CREATE TABLE
    * graft.`out`` AS SELECT …``), exercising the whole bootstrap chain —
    * catalog createTable → staged raw rows → driver-coordinated two-pass
    * EncodeJob → snapshot commit — so q_ctas_scan's point reads of the
    * result sit under the hard DuckDB oracle: a row dropped, duplicated or
    * mis-encoded anywhere in that chain fails the hash.
    */
  private def graftCtasDir(s: SparkSession, dir: String): String = {
    val key = (System.identityHashCode(s), dir)
    graftCtasDirCache.get(key) match {
      case Some(existing) => existing
      case None =>
        s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
        val src = graftScanDir(s, dir)
        val out =
          java.nio.file.Files.createTempDirectory("graft-dsv2-ctas").toString + "/corpus"
        s.sql(
          s"CREATE TABLE graft.`$out` AS SELECT doc_id, tokens, n_tok, source FROM graft.`$src`"
        ).collect(): Unit
        graftCtasDirCache.putIfAbsent(key, out) match {
          case Some(winner) => deleteDir(out); winner
          case None         => out
        }
    }
  }

  private val graftCompactDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftScanDir]], but the blocks are deliberately scattered
    * across many small parquet files and then COMPACTED + VACUUMED through
    * the maintenance layer before any query reads them — q_compact_scan
    * therefore pins the whole rewrite→atomic-marker-commit→reclaim path
    * under the hard DuckDB oracle: a compaction that duplicated, dropped,
    * or re-ordered one row would fail the hash comparison.
    */
  private def graftCompactDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftCompactDirCache, s, dir, "graft-dsv2-compact", blockParts = Some(6)) {
      (out, _) =>
        val res = graft.pipeline.Maintenance
          .compact(s, out, smallFileBytes = Long.MaxValue / 2, targetFileBytes = Long.MaxValue / 2)
        require(res.exists(_.filesRemoved >= 6), s"compaction did not engage on $out")
        graft.pipeline.Maintenance.vacuum(s, out, olderThanMs = 0L): Unit
    }

  private val graftRebinDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftScanDir]], but the whole dir is REBINNED (Maintenance
    * .rebin: every row re-routed into a different bin count AND salt, all
    * blocks re-encoded, history folded into a new base snapshot) before any
    * query reads it — q_rebin_scan's point reads therefore pin the full
    * redistribution chain (decode→re-route→re-encode→one marker commit
    * flipping layout and lineage) under the hard DuckDB oracle: one row landing in the wrong bin,
    * or decoding differently after the move, fails the hash.
    */
  private def graftRebinDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftRebinDirCache, s, dir, "graft-dsv2-rebin", withLineage = true) {
      (out, _) =>
        val res = graft.pipeline.Maintenance
          .rebin(s, out, newNumBins = 23, newSalt = Some(0x9e3779b9L))
        require(res.isDefined, s"rebin under test did not engage on $out")
        require(res.get.numBinsBefore == pipelineCfg.numBins && res.get.numBinsAfter == 23)
    }

  private val graftAppendDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftScanDir]], but AFTER the dir is laid down, a derived slice
    * of the corpus (every doc with id % 7 == 3, re-keyed to id + 10^12) is
    * appended through the DSv2 WRITE path — `df.write.format("graft")
    * .mode("append")`. q_graft_append then point-reads both original and
    * appended docs from the result, so the writer's whole chain (per-task
    * bin routing, the shared block kernel, hand-rolled block parquet,
    * manifest rows, snapshot commit with file lineage) sits under the hard
    * DuckDB oracle: one mis-encoded or dropped appended row fails the hash.
    */
  private def graftAppendDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftAppendDirCache, s, dir, "graft-dsv2-append", withLineage = true) {
      (out, ec) =>
        import s.implicits._
        // THE append under test
        ec.rows
          .where($"doc_id".cast("long") % 7 === 3)
          .withColumn("doc_id", ($"doc_id".cast("long") + 1000000000000L).cast("string"))
          .write.format("graft").mode("append").save(out)
    }

  private val graftAdoptDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftScanDir]], but a SECOND same-tables dir — a re-keyed slice
    * of the corpus (docs with id % 7 == 2, re-keyed to id + 2*10^12),
    * encoded through the SHARED symbol tables — is merged in through
    * [[graft.pipeline.Maintenance.adopt]], the zero-recode merge. The
    * adopted blocks cross dirs as verbatim bytes (no decode, no re-encode),
    * so q_adopt_scan's point reads of both original and adopted docs pin
    * the whole chain (second encode → layout validation → distributed copy
    * → manifest rows → files_added snapshot commit → DSv2 decode of the
    * adopted blocks) under the hard DuckDB oracle.
    */
  private def graftAdoptDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftAdoptDirCache, s, dir, "graft-dsv2-adopt", withLineage = true) {
      (out, ec) =>
        import s.implicits._
        val srcRows = ec.rows
          .where($"doc_id".cast("long") % 7 === 2)
          .withColumn("doc_id", ($"doc_id".cast("long") + 2000000000000L).cast("string"))
          .as[TokenRow]
        val src = java.nio.file.Files.createTempDirectory("graft-dsv2-adopt-src").toString
        graft.pipeline.EncodeJob
          .saveTables(s, src, ec.tables.value, pipelineCfg.contextModel, layout = Some(pipelineCfg))
        GraftPipeline
          .encode(srcRows, ec.tables, pipelineCfg)
          .write.mode("overwrite").parquet(s"$src/blocks")
        val snapDir = java.nio.file.Paths.get(src, "_snapshots")
        java.nio.file.Files.createDirectories(snapDir)
        java.nio.file.Files.write(
          snapDir.resolve("snap-0.json"),
          s"""{"snapshot_id":0,"parent_id":-1,"bins_added":[${(0 until pipelineCfg.numBins).mkString(",")}]}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ): Unit
        graft.pipeline.EncodeJob
          .appendManifest(s, src, (0 until pipelineCfg.numBins).toSet, snapshotId = 0L)
        val res = graft.pipeline.Maintenance.adopt(s, src, out)
        require(res.exists(_.filesAdopted > 0), s"adopt under test did not engage ($src -> $out)")
        deleteDir(src) // adopt copied the bytes; the source fixture is done
    }

  private val graftDeleteDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()
  private val graftPurgeDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** EncodeJob-layout dir with snapshot lineage, shared by the delete
    * queries: lays the corpus down, then commits an equality DELETE of
    * every doc with id % 13 == 5 through [[graft.pipeline.Deletes]]. The
    * delete stays merge-on-read (`purge = false`) or is additionally
    * purged physically + vacuumed (`purge = true`) — the two dirs put both
    * halves of the delete lifecycle under the hard DuckDB oracle.
    */
  private def graftDeletedDir(s: SparkSession, dir: String, purge: Boolean): String =
    cachedGraftDir(
      if (purge) graftPurgeDirCache else graftDeleteDirCache,
      s,
      dir,
      if (purge) "graft-dsv2-purge" else "graft-dsv2-delete",
      withLineage = true
    ) { (out, _) =>
      import s.implicits._
      // THE delete under test (same rule the DuckDB oracles re-apply)
      val ids = docTable(s, dir)
        .where($"doc_id" % 13 === 5)
        .select($"doc_id".cast("string"))
        .as[String]
      val res = graft.pipeline.Deletes.deleteDocs(s, out, ids)
      require(res.exists(_.idsRecorded > 0), s"delete under test recorded no ids on $out")
      if (purge) {
        val pr = graft.pipeline.Maintenance.purgeDeletes(s, out)
        require(pr.exists(_.idsApplied > 0), s"purge under test applied nothing on $out")
        graft.pipeline.Maintenance.vacuum(s, out, olderThanMs = 0L): Unit
      }
    }

  private val graftSqlDeleteDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftDeletedDir]] but the delete is issued through the SQL DML
    * surface — `DELETE FROM graft.\`dir\` WHERE doc_id IN (…)` resolved by
    * the TableCatalog into [[graft.sources.GraftTable]]'s SupportsDelete —
    * so the whole catalog+DML chain sits under the hard DuckDB oracle
    * (rule: doc_id % 19 == 7, distinct from the programmatic delete's
    * % 13 == 5 so the two fixtures cannot mask each other).
    */
  private def graftSqlDeletedDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftSqlDeleteDirCache, s, dir, "graft-dsv2-sqldel", withLineage = true) {
      (out, _) =>
        import s.implicits._
        s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
        val ids = docTable(s, dir)
          .where($"doc_id" % 19 === 7)
          .select($"doc_id".cast("string"))
          .as[String]
          .collect()
        require(ids.nonEmpty, s"sql-delete fixture selected no ids under $dir")
        s.sql(s"DELETE FROM graft.`$out` WHERE doc_id IN (${ids.map(i => s"'$i'").mkString(",")})")
          .collect(): Unit
    }

  private val graftReplaceDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftDeletedDir]], but the docs with id % 17 == 4 are REPLACED
    * (atomic upsert: equality delete + re-encoded new blocks in one
    * snapshot, [[graft.pipeline.Deletes.replaceDocs]]) with a deterministic
    * token transform the DuckDB oracle recomputes — sequence-scoped delete
    * application sits under the hard oracle: the replaced docs must decode
    * to the NEW tokens, everything else to the originals.
    */
  private def graftReplaceDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftReplaceDirCache, s, dir, "graft-dsv2-replace", withLineage = true) {
      (out, ec) =>
        import s.implicits._
        // THE upsert under test (the oracle re-applies the same transform)
        val replacements = ec.rows
          .where($"doc_id".cast("long") % 17 === 4)
          .withColumn(
            "tokens",
            expr("transform(tokens, t -> cast((cast(t as bigint) * 3) % 65536 as int))")
          )
          .as[graft.pipeline.TokenRow]
        val res = graft.pipeline.Deletes.replaceDocs(s, out, replacements)
        require(res.exists(_.nDocs > 0), s"replace under test touched no docs on $out")
    }

  private val graftDedupDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftAppendDir]], but the appended slice (id % 23 == 1, re-keyed
    * to id + 3·10^12) carries IDENTICAL token content — planted exact
    * duplicates — and then [[graft.pipeline.Maintenance.dedupExact]] runs:
    * per identical-token group only the lexicographically-smallest doc_id
    * survives (plain string order, so ids starting '1'/'2' keep the
    * original and ids starting '4'..'9' keep the '3…' copy — both keeper
    * directions occur). q_corpus_dedup reads the survivors back token-for-
    * token, so the whole chain (content hashing via the codegen'd
    * token_fold, the 124-bit group-by, the min-id keeper rule, the
    * equality-delete commit, and the scan's delete application) sits under
    * the hard DuckDB oracle, which recomputes the keeper set by grouping on
    * the token LISTS themselves — a degenerate hash (collisions) or a
    * wrong keeper rule fails the comparison.
    */
  private def graftDedupDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftDedupDirCache, s, dir, "graft-dsv2-dedup", withLineage = true) {
      (out, ec) =>
        import s.implicits._
        ec.rows
          .where($"doc_id".cast("long") % 23 === 1)
          .withColumn("doc_id", ($"doc_id".cast("long") + 3000000000000L).cast("string"))
          .write.format("graft").mode("append").save(out)
        val res = graft.pipeline.Maintenance.dedupExact(s, out)
        require(res.docsDeleted > 0, s"dedup under test deleted nothing on $out")
    }

  private val graftNearDupDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Like [[graftDedupDir]], but the planted copies are NEAR duplicates —
    * docs with id % 41 == 3 and n_tok >= 14, re-keyed to id + 4·10^12 with
    * the last TWO tokens dropped (token-shingle Jaccard ≈ (m-2)/m, above
    * the 0.7 threshold for these lengths) — and the verb under test is
    * [[graft.pipeline.Maintenance.dedupNear]]: MinHash+LSH over token
    * 4-gram shingles, exact-Jaccard verification, connected components,
    * min-doc_id keeper, one equality-delete snapshot. q_corpus_neardup
    * reads the survivors back token-for-token while the DuckDB oracle
    * recomputes the ENTIRE chain — gram shingles, every minhash
    * permutation, band buckets, the salt-capped candidate join (ordered
    * over VARCHAR ids, exactly the engine's string sort), exact
    * intersections, the 0.7 integer-threshold filter, and the transitive
    * closure's min-string-id keeper rule — so a drift anywhere in
    * signatures, banding, pairing, clustering, or delete application fails
    * the hash comparison.
    *
    * Oracle tractability bounds the FIXTURE, not the engine: the dir holds
    * a deterministic 1-in-5 corpus slice (id % 5 == 0) and the verb runs
    * with k=16 signatures in 4 bands — the same 4-row band width as the
    * production 64/16 defaults, ~12x fewer HUGEINT mix62 evaluations on
    * the DuckDB side (the sf0.01 full-corpus 64-permutation oracle
    * measured 8.7 min; this shape is seconds). Production-default
    * parameters stay covered by DedupNearSpec.
    */
  private def graftNearDupDir(s: SparkSession, dir: String): String =
    cachedGraftDir(
      graftNearDupDirCache,
      s,
      dir,
      "graft-dsv2-neardup",
      withLineage = true,
      blocksOf = ec => {
        import ec.rows.sparkSession.implicits._
        GraftPipeline.encode(
          ec.rows.where($"doc_id".cast("long") % 5 === 0),
          ec.tables,
          pipelineCfg
        )
      }
    ) { (out, ec) =>
      import s.implicits._
      ec.rows
        .where(
          $"doc_id".cast("long") % 5 === 0 &&
            $"doc_id".cast("long") % 41 === 3 && $"n_tok" >= 14
        )
        .withColumn("tokens", expr("slice(tokens, 1, n_tok - 2)"))
        .withColumn("n_tok", ($"n_tok" - 2).cast("int"))
        .withColumn("doc_id", ($"doc_id".cast("long") + 4000000000000L).cast("string"))
        .as[TokenRow]
        .write.format("graft").mode("append").save(out)
      val res = graft.pipeline.Maintenance
        .dedupNear(s, out, threshold = 0.7, k = 16, bands = 4)
      require(res.docsDeleted > 0, s"near-dedup under test deleted nothing on $out")
    }

  private val graftNllDirCache =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Corpus with the QUALITY screen applied:
    * [[graft.pipeline.Maintenance.filterNll]] deletes every doc whose
    * unigram log-loss exceeds 15.4 bits/token (ppm 15,400,000 — splits the
    * derived corpus's 10–17M range at both sf0.001 and sf0.01, so losers
    * AND survivors exist at either scale; min 0 keeps the low tail).
    * q_nll_filter_scan reads the survivors back token-for-token while
    * DuckDB recomputes the whole chain — corpus histogram, quantized
    * floor-log2 cost table, per-doc cost, the ppm threshold, and the
    * delete application — so the verb's composition (not just the metric,
    * which q_doc_nll pins) sits under the hard oracle.
    */
  private def graftNllDir(s: SparkSession, dir: String): String =
    cachedGraftDir(graftNllDirCache, s, dir, "graft-dsv2-nll", withLineage = true) {
      (out, _) =>
        val res = graft.pipeline.Maintenance
          .filterNll(s, out, minBptPpm = 0L, maxBptPpm = 15400000L, delete = true)
        require(res.docsDeleted > 0, s"nll filter under test deleted nothing on $out")
        require(res.flaggedLow == 0L, s"min 0 must not flag a low tail on $out")
    }

  /** Full encode->decode->verify of the derived token table; the engine's
    * flagship E2E path (analyze, broadcast tables, block encode with codec
    * auto-selection, parallel decode, join-verify).
    */
  def roundtrip(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val ec = encodedCorpus(s, dir)
    val summary = ec.blocks
      .groupBy($"codec")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum($"n_rows").cast("long").as("n_rows"),
        sum($"n_values").as("n_values"),
        sum($"payload_bits").as("payload_bits")
      )
      .withColumn("n_mismatches", lit(ec.mismatches))
      .orderBy($"codec")
    (summary, ec.blocks.toDF())
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    roundtrip(spark, "/root/testdata/sf0.001")._1

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O28-style scan + classic aggregate sanity check
    "q_lineitem_agg" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/lineitem.parquet")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // O27 stats surface: per-source token stream statistics
    "q_source_stats" -> ((s, dir) => {
      import s.implicits._
      tok(s, dir)
        .groupBy($"source")
        .agg(
          countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("total_tokens"),
          min($"token").as("min_token"),
          max($"token").as("max_token"),
          sum($"token").as("sum_token")
        )
        .orderBy($"source")
    }),

    // O1+O3: hybrid-token histogram via the codegen'd Catalyst expression
    "q_token_histogram" -> ((s, dir) => {
      import s.implicits._
      tok(s, dir)
        .withColumn("hybrid_token", graft.functions.HieToken.hie_token($"token").cast("long"))
        .groupBy($"hybrid_token")
        .agg(count(lit(1)).as("freq"))
        .orderBy($"hybrid_token")
    }),

    // O11+O3/O4: per-(context, token) histogram, context = token of the
    // previous value in the doc, clamped to 64 contexts
    "q_context_histogram" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      tok(s, dir)
        .withColumn("prev", lag($"token", 1).over(w))
        .withColumn(
          "ctx",
          least(
            graft.functions.HieToken.hie_token(coalesce($"prev", lit(0L))).cast("long"),
            lit(63L)
          )
        )
        .withColumn("hybrid_token", graft.functions.HieToken.hie_token($"token").cast("long"))
        .groupBy($"ctx", $"hybrid_token")
        .agg(count(lit(1)).as("freq"))
        .orderBy($"ctx", $"hybrid_token")
    }),

    // O11 full: per-(context, token) histogram under the ZUCKERLI stateful
    // model (first value keyed by the row-length token, rest by the
    // prev-value token), computed by the PRODUCTION analyze pass
    "q_zuckerli_context_histogram" -> ((s, dir) => {
      import s.implicits._
      val zCfg = GraftPipeline.Config(
        numContexts = graft.core.ZuckerliContextModel.NumContexts,
        contextModel = "zuckerli"
      )
      val hist = GraftPipeline.analyze(tokenRows(s, dir), zCfg)
      val out = for {
        c <- 0 until hist.numContexts
        t <- 0 until hist.numSymbols
        if hist.counts(c)(t) > 0
      } yield (c.toLong, t.toLong, hist.counts(c)(t))
      s.createDataFrame(out).toDF("ctx", "hybrid_token", "freq")
        .orderBy($"ctx", $"hybrid_token")
    }),

    // O27 full: per-context bit accounting by the stats decoder over the
    // ONE shared compressed corpus — hybrid blocks measured via actual
    // bit-position deltas, lightweight-routed blocks decoded and walked
    // with the same context model (n_values/raw_bits are routing-
    // independent: raw width is a pure function of the value). The oracle
    // recomputes value counts and raw mantissa bits per context from the
    // raw derivation (code bits are Huffman-table-dependent — asserted
    // against payload_bits in the test suite instead)
    "q_context_bits" -> ((s, dir) => {
      import s.implicits._
      val ec = encodedCorpus(s, dir)
      GraftPipeline
        .measureStats(ec.blocks, ec.tables, pipelineCfg)
        .toDF("ctx", "n_values", "code_bits", "raw_bits")
        .select($"ctx".cast("long"), $"n_values", $"raw_bits")
        .orderBy($"ctx")
    }),

    // RLE estimator input: run counts per source
    "q_rle_runs" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      tok(s, dir)
        .withColumn("prev", lag($"token", 1).over(w))
        .withColumn("chg", when($"prev".isNull || $"token" =!= $"prev", 1L).otherwise(0L))
        .groupBy($"source")
        .agg(sum($"chg").as("total_runs"), count(lit(1)).as("total_tokens"))
        .orderBy($"source")
    }),

    // O12/O13 generalized: per-doc codec auto-selection by exact size
    // estimates, via the production CodecSelector
    "q_codec_cost" -> ((s, dir) => {
      import s.implicits._
      docTable(s, dir)
        .withColumn("choice", codecChoiceUdf($"tokens".cast("array<long>")))
        .select($"source", $"choice._1".as("best_codec"), $"choice._2".as("est_bits"))
        .groupBy($"source", $"best_codec")
        .agg(count(lit(1)).as("n_docs"), sum($"est_bits").as("sum_est_bits"))
        .orderBy($"source", $"best_codec")
    }),

    // O24: running-sum offsets per source (exclusive prefix of n_tok)
    "q_offsets" -> ((s, dir) => {
      import s.implicits._
      val w = Window
        .partitionBy($"source")
        .orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docTable(s, dir)
        .select($"doc_id", $"source", $"n_tok")
        .withColumn("tok_offset", coalesce(sum($"n_tok").over(w), lit(0L)))
        .where($"doc_id" % 97 === 0)
        .orderBy($"source", $"doc_id")
    }),

    // Sequence packing (pretraining chunker): concat docs in doc_id order,
    // cut into 64-token examples, drop the tail — sampled examples exploded
    // to (example_id, off, token) so the oracle hashes every packed value
    "q_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      packed64(s, dir)
        .drop("spans")
        .where($"example_id" % 41 === 0)
        .select($"example_id", posexplode($"tokens").as(Seq("off", "token")))
        .select(
          $"example_id",
          $"off".cast("long").as("off"),
          $"token".cast("long").as("token")
        )
        .orderBy($"example_id", $"off")
    }),

    // Packing doc-boundary spans: each document's contiguous run inside an
    // example (the attention-mask metadata a trainer consumes) — the oracle
    // recomputes every sampled example's (doc, off, len) tiling from the
    // global token positions
    "q_pack_spans" -> ((s, dir) => {
      import s.implicits._
      packed64(s, dir)
        .where($"example_id" % 59 === 0)
        .select($"example_id", explode($"spans").as("s"))
        .select(
          $"example_id",
          $"s.doc_id".cast("long").as("doc_id"),
          $"s.off".cast("long").as("off"),
          $"s.len".cast("long").as("len")
        )
        .orderBy($"example_id", $"off")
    }),

    // EPOCH SHUFFLING: packing in the seeded hash permutation
    // (orderSeed) — the per-epoch document reorder a trainer wants without
    // materializing a shuffled corpus copy. The oracle recomputes the SAME
    // 62-bit cross-engine permutation (the sampling hash chain) in DuckDB
    // and re-derives every sampled example position from it, so a drift in
    // either the hash or the pack order fails the comparison.
    "q_pack_epoch" -> ((s, dir) => {
      import s.implicits._
      val (packed, release) = graft.ops.Packing.packSequencesWithHandle(
        docTable(s, dir), seqLen = 48, orderSeed = Some(3L))
      trackPackHandle(s, release)
      packed
        .where($"example_id" % 37 === 0)
        .select($"example_id", posexplode($"tokens").as(Seq("off", "token")))
        .select(
          $"example_id",
          $"off".cast("long").as("off"),
          $"token".cast("long").as("token")
        )
        .orderBy($"example_id", $"off")
    }),

    // THE full training-mix recipe as ONE oracled chain: deterministic 5%
    // sample + per-doc 8-token prefix truncation + seeded-epoch packing
    // with a separator — every stage evaluated AT THE SOURCE (sample
    // membership on the doc_id metadata stream, prefix by per-row seek,
    // permutation by the cross-engine hash), and DuckDB recomputes the
    // whole composition from the raw derivation. A drift in any stage or
    // in how they compose fails the position-exact comparison.
    "q_pack_recipe" -> ((s, dir) => {
      import s.implicits._
      val (packed, release) = graft.ops.Packing.packSequencesWithHandle(
        s.read
          .format("graft")
          .option("sampleDocs", "0.05")
          .option("sampleSeed", "7")
          .option("tokenPrefix", 8)
          .load(graftScanDir(s, dir))
          .select($"doc_id", $"tokens"),
        seqLen = 32, sepToken = Some(99991), orderSeed = Some(11L))
      trackPackHandle(s, release)
      packed
        .where($"example_id" % 13 === 0)
        .select($"example_id", posexplode($"tokens").as(Seq("off", "token")))
        .select(
          $"example_id",
          $"off".cast("long").as("off"),
          $"token".cast("long").as("token")
        )
        .orderBy($"example_id", $"off")
    }),

    // Packing with a document separator (EOS convention): whole-corpus
    // accounting — every packed token participates in the checksum, the
    // separator count pins the per-doc insertion rule
    "q_pack_stats" -> ((s, dir) => {
      import s.implicits._
      val (packed, release) = graft.ops.Packing
        .packSequencesWithHandle(docTable(s, dir), seqLen = 96, sepToken = Some(99991))
      trackPackHandle(s, release)
      packed
        .select($"example_id", posexplode($"tokens").as(Seq("off", "token")))
        .agg(
          countDistinct($"example_id").as("n_examples"),
          count(lit(1)).as("n_tokens"),
          sum($"token".cast("long") * ($"off" + 1)).as("checksum"),
          sum(when($"token" === 99991, 1L).otherwise(0L)).as("n_seps")
        )
    }),

    // O12: entropy cost model from the production Histograms.costModel
    "q_cost_model" -> ((s, dir) => {
      import s.implicits._
      val rows = docTable(s, dir)
        .select(
          $"doc_id".cast("string").as("doc_id"),
          $"tokens".cast("array<int>").as("tokens"),
          $"n_tok",
          $"source"
        )
        .as[TokenRow]
      val cfg1 = GraftPipeline.Config(numContexts = 1, maxBits = Hybrid.DefaultMaxBits)
      val hist = GraftPipeline.analyze(rows, cfg1)
      val costs = hist.costModel(0)
      val freqs = hist.counts(0)
      val out = (0 until 256).collect {
        case t if freqs(t) > 0 => (t.toLong, freqs(t), costs(t).toLong)
      }
      s.createDataFrame(out).toDF("hybrid_token", "freq", "cost_bits")
        .orderBy($"hybrid_token")
    }),

    // Training-data ops: exact dedup accounting on documents
    "q_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/documents.parquet")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"text").as("n_unique"),
          (count(lit(1)) - countDistinct($"text")).as("n_dupes")
        )
        .orderBy($"source")
    }),

    // The Dedup.exact OP itself (hash group-by with the CAPPED example
    // list) on a normalized key — first-3-words boilerplate prefix, the
    // shape that actually duplicates at corpus scale. The oracle groups by
    // the same normalized text (equivalent absent xxhash64 collisions) and
    // recomputes the cap rule: the 2 smallest doc_ids per group.
    "q_dedup_exact_op" -> ((s, dir) => {
      import s.implicits._
      val normalized = s.read
        .parquet(s"$dir/documents.parquet")
        .select($"doc_id", concat_ws(" ", slice(split($"text", " "), 1, 3)).as("text"))
      graft.ops.Dedup
        .exact(normalized, maxExamples = 2)
        .select(
          $"n_copies",
          $"keep_doc_id",
          // Serialized: the driver's pandas oracle harness hashes flat
          // columns only — an array<string> column is unhashable there.
          concat_ws(",", $"doc_ids").as("doc_ids")
        )
        .orderBy($"keep_doc_id")
    }),

    // Training-data ops: text statistics per language
    "q_text_stats" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/documents.parquet")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum(length($"text") - length(regexp_replace($"text", " ", "")) + 1)
            .as("total_words")
        )
        .orderBy($"lang")
    }),

    // Training-data ops: embedding table shape per label
    "q_embed_dims" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/embeddings.parquet")
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n_vecs"),
          min(size($"embedding")).cast("long").as("min_dim"),
          max(size($"embedding")).cast("long").as("max_dim")
        )
        .orderBy($"label")
    }),

    // O18: random-access point lookup — decode selected docs from the
    // COMPRESSED blocks and compare against DuckDB's recomputation of the
    // raw derivation (proves random access through the codec stack)
    "q_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val ec = encodedCorpus(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 1013 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
        .toSet
      GraftPipeline
        .lookupDocs(ec.blocks, ids, ec.tables, pipelineCfg)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // DSv2 source (O16/O17/O18 as a Catalyst relation): point-read selected
    // docs THROUGH spark.read.format("graft") — doc_id pushdown derives the
    // salted bins, parquet skips non-matching row groups, hybrid blocks
    // seek via the per-row bit index; values must match DuckDB's raw
    // recomputation
    "q_graft_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 997 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Attached aux column under the oracle: per-token logprob-ish values
    // (a deterministic function of each token the oracle recomputes) ride
    // the _column_ sidecar family — attach encodes per doc (LongCodecs),
    // read joins live docs; one value wrong anywhere in encode/decode/
    // liveness fails the hash
    "q_aux_column" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      val key = (System.identityHashCode(s), dir)
      auxAttachedOnce.getOrElseUpdate(key, {
        val vals = s.read
          .format("graft")
          .load(out)
          .select(
            $"doc_id",
            expr("transform(tokens, t -> CAST(-(t % 97) - 1 AS LONG))").as("values")
          )
        graft.sources.AuxColumn.attach(s, out, "logprobs", vals): Unit
        true
      })
      graft.sources.AuxColumn
        .readValues(s, out, "logprobs")
        .where($"doc_id".cast("long") % 499 === 0)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"values").as(Seq("pos0", "lp"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"lp")
        .orderBy($"doc_id", $"pos")
    }),

    // SQL bootstrap under the oracle: the corpus is CTAS'd into a FRESH dir
    // purely through SQL (CREATE TABLE graft.`out` AS SELECT … — catalog
    // createTable, staged raw rows, driver-coordinated two-pass EncodeJob,
    // snapshot commit), then point-read back token-for-token
    "q_ctas_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftCtasDir(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 991 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Deterministic corpus sampling at the source (option("sampleDocs")):
    // the reader decodes only the doc_id metadata stream, keeps the
    // hash-selected rows, and row-seeks just their payload — the
    // reproducible training-mix sample. token_sum proves the seeked payload
    // decode; DuckDB recomputes membership with the same 62-bit hash over
    // the decimal doc_id string
    "q_sample_scan" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .option("sampleDocs", "0.05")
        .option("sampleSeed", "7")
        .load(graftScanDir(s, dir))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          $"source",
          $"n_tok".cast("long").as("n_tok"),
          graft.functions.TokenSum.token_sum($"tokens").as("token_sum")
        )
        .orderBy($"doc_id")
    }),

    // Stratified per-source sampling (option("sampleBySource")): the
    // training-mix curation read — thin source A to 2%, N to 30%, keep the
    // rest whole, in one pass at the source. Same doc_id hash as
    // q_sample_scan, so rates nest; oracle recomputes the per-source
    // thresholds over the same hash chain
    "q_sample_mix" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .option("sampleBySource", "A:0.02,N:0.3")
        .option("sampleSeed", "11")
        .load(graftScanDir(s, dir))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok".cast("long")).as("sum_n_tok"),
          sum(graft.functions.TokenSum.token_sum($"tokens")).as("token_sum")
        )
        .orderBy($"source")
    }),

    // the codegen'd token-reduction kernel (graft_token_sum) over the full
    // decode scan: per-source totals of every token value, recomputed by
    // DuckDB from the raw derivation — pins the unboxed array loop (and the
    // columnar scan's element access under it) to exact arithmetic
    "q_token_sums" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .groupBy($"source")
        .agg(
          sum(graft.functions.TokenSum.token_sum($"tokens")).as("token_sum"),
          sum(size($"tokens").cast("long")).as("n_values")
        )
        .orderBy($"source")
    }),

    // the content-addressing hash (graft_token_fold, two seeds = the
    // 124-bit exact-dedup key) over the full decode scan for a sampled doc
    // set — DuckDB recomputes the unsigned-widened FNV chain + avalanche
    // finisher with list_reduce/HUGEINT arithmetic, pinning the codegen'd
    // fold value-for-value in the 62-bit cross-engine domain
    "q_token_fold" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .where($"doc_id".cast("long") % 97 === 0)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          graft.functions.TokenFold.token_fold($"tokens", 0L).as("h0"),
          graft.functions.TokenFold.token_fold($"tokens", 7L).as("h7")
        )
        .orderBy($"doc_id")
    }),

    // the persistent CONTENT INDEX end-to-end: ContentIndex.ensure decodes
    // the compressed block files themselves (embedded-table parse, string
    // doc_id stream, per-row fold) and publishes the per-doc 124-bit
    // exact-dedup key as a parquet sidecar; the read-back entries must equal
    // DuckDB's recomputation of the fold from the raw corpus derivation —
    // pinning the whole decode→fold→publish→read chain, not just the
    // graft_token_fold expression q_token_fold already covers
    "q_content_index" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      val live = graft.pipeline.Maintenance
        .liveBlockFiles(out, s.sparkContext.hadoopConfiguration)
        .map(_._1)
      val (entries, _) = graft.sources.ContentIndex.ensure(s, out, live)
      entries
        .where($"doc_id".cast("long") % 89 === 1)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          $"n_tok".cast("long").as("n_tok"),
          $"h1",
          $"h2"
        )
        .orderBy($"doc_id")
    }),

    // the SIGNATURE INDEX end-to-end: SignatureIndex.ensure decodes the
    // compressed blocks and publishes each doc's MinHash signature; the
    // read-back sidecar rows (sampled docs, exploded per permutation) must
    // equal DuckDB's recomputation of the token-shingle minhash chain from
    // the raw corpus derivation — the short-doc sentinel (all-Mask62)
    // included. Small config (k=8, 1-in-173 docs) keeps the HUGEINT mix62
    // oracle cheap; SignatureIndexSpec pins the production k=64 path equal
    // to the same query-side chain.
    "q_sig_index" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      val live = graft.pipeline.Maintenance
        .liveBlockFiles(out, s.sparkContext.hadoopConfiguration)
        .map(_._1)
      val (entries, _) =
        graft.sources.SignatureIndex.ensure(s, out, live, shingleN = 4, k = 8)
      entries
        .where($"doc_id".cast("long") % 173 === 5)
        .select($"doc_id".cast("long").as("doc_id"), posexplode($"minhash").as(Seq("i", "sig")))
        .select($"doc_id", $"i".cast("long").as("i"), $"sig")
        .orderBy($"doc_id", $"i")
    }),

    // exact corpus dedup end-to-end: planted duplicate docs (id % 23 == 1
    // re-keyed to id + 3e12, same tokens) are appended, then
    // CALL graft.system.dedup_exact-equivalent runs (content hash group-by,
    // min-doc_id keeper, ONE equality-delete snapshot) and the survivors are
    // read back token-for-token. DuckDB recomputes the keeper set by
    // grouping on the token LISTS themselves — hash collisions, a wrong
    // keeper rule, or a mis-applied delete all fail the hash comparison
    // NEAR-dup corpus dedup end-to-end: truncated near-copies are planted,
    // dedup_near runs (token-shingle MinHash+LSH -> exact Jaccard at 0.7 ->
    // components -> one equality-delete snapshot), and the survivors are
    // read back token-for-token against DuckDB's recomputation of the FULL
    // chain (shingles, 64 permutations, banding, salt caps over VARCHAR
    // order, exact intersections, transitive-closure keeper rule)
    "q_corpus_neardup" -> ((s, dir) => {
      import s.implicits._
      val out = graftNearDupDir(s, dir)
      s.read
        .format("graft")
        .load(out)
        .where(
          ($"doc_id".cast("long") % 4000000000000L) % 41 === 3 ||
            $"doc_id".cast("long") % 701 === 0
        )
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // quality-screen verb end-to-end: filter_nll deleted every doc above
    // 15.4 bits/token (unigram log-loss, corpus's own distribution) and the
    // survivors are read back token-for-token against DuckDB's recomputation
    // of histogram -> cost table -> per-doc cost -> threshold -> delete
    "q_nll_filter_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftNllDir(s, dir)
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".cast("long") % 97 === 2)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    "q_corpus_dedup" -> ((s, dir) => {
      import s.implicits._
      val out = graftDedupDir(s, dir)
      s.read
        .format("graft")
        .load(out)
        .where(
          ($"doc_id".cast("long") % 3000000000000L) % 23 === 1 ||
            $"doc_id".cast("long") % 599 === 0
        )
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Context-window truncation at the source (option("tokenPrefix", k)):
    // the tokens column is each row's first min(n_tok, k) values — seekable
    // blocks entropy-decode exactly k values per row and stop — while n_tok
    // keeps the stored FULL length. The per-source sums pin every row's
    // truncated content AND the full-length n_tok semantics; DuckDB
    // recomputes both from the raw derivation with pos <= k.
    "q_prefix_scan" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .option("tokenPrefix", 8)
        .load(graftScanDir(s, dir))
        .groupBy($"source")
        .agg(
          sum(graft.functions.TokenSum.token_sum($"tokens")).as("token_sum"),
          sum(size($"tokens").cast("long")).as("n_prefix_values"),
          sum($"n_tok".cast("long")).as("n_tok_total")
        )
        .orderBy($"source")
    }),

    // DSv2 source, metadata-only path: the aggregate needs no `tokens`, so
    // the scan never reads the entropy payload pages or runs the decoder
    // (column pruning through the blocks parquet) — totals must still match
    // DuckDB's recomputation of the raw derivation
    "q_graft_meta" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("total_toks")
        )
        .orderBy($"source")
    }),

    // DSv2 source under a pushed n_tok length filter (the training-pipeline
    // "long documents only" shape): the scan evaluates the range on each
    // block's n_toks metadata stream and row-seeks just the matching rows'
    // payload bits — full decode + token checksum keeps it under the hard
    // oracle
    "q_graft_lengths" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .where($"n_tok" >= 20 && $"n_tok" <= 22)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          $"n_tok",
          graft.functions.TokenSum.token_sum($"tokens").as("token_sum")
        )
        .orderBy($"doc_id")
    }),

    // DSv2 source, fully-pushed aggregate path: ungrouped and unfiltered,
    // so COUNT/SUM/MIN/MAX(n_tok) are all answered by the GraftAggReader
    // from block metadata + the small n_toks streams — the entropy payload
    // is never read (GraftSourceSpec pins BlocksDecoded == 0)
    "q_graft_agg" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok").cast("long").as("total_toks"),
          min($"n_tok").as("min_n_tok"),
          max($"n_tok").as("max_n_tok")
        )
    }),

    // Token data-skipping index under the oracle: build the _token_index
    // sidecar (per-block value range + bloom), then answer "which docs
    // contain token X" through option("containsToken", X) — blocks whose
    // bloom rejects X are never decoded; surviving rows are exactly those
    // whose tokens contain it. Full decode checksum per matching doc keeps
    // the whole chain (index build → block skip → exact row filter) under
    // the hard DuckDB oracle. The needle is data-derived identically in
    // both engines: the pos-1 token of the smallest doc_id.
    "q_token_search" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      graft.sources.TokenIndex.build(s, out): Unit // incremental no-op when covered
      val needle = TokenTables
        .tokExploded(s, dir)
        .where($"pos" === 1)
        .orderBy($"doc_id")
        .select($"token")
        .head()
        .getLong(0)
        .toInt
      s.read
        .format("graft")
        .option("containsToken", needle)
        .load(out)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          $"n_tok",
          graft.functions.TokenSum.token_sum($"tokens").as("token_sum")
        )
        .orderBy($"doc_id")
    }),

    // Multi-needle token screening (the banned-token curation shape):
    // containsAnyToken emits rows holding AT LEAST ONE of the needles —
    // needles derived identically in both engines as the pos-1 and pos-2
    // tokens of the smallest doc_id. Per-source counts of flagged docs
    // keep the ANY semantics (index skip + exact row filter) under the
    // hard DuckDB oracle.
    "q_token_screen" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      graft.sources.TokenIndex.build(s, out): Unit
      // restricted to the min doc FIRST (like the SQL twin) — a global
      // orderBy+take(2) would cross into a second document if the smallest
      // doc ever had a single token
      val tok = TokenTables.tokExploded(s, dir)
      val minDoc = tok.agg(min($"doc_id")).head().getLong(0)
      val first = tok
        .where($"doc_id" === minDoc && $"pos" <= 2)
        .orderBy($"pos")
        .select($"token")
        .collect()
        .map(_.getLong(0).toInt)
      s.read
        .format("graft")
        .option("containsAnyToken", first.mkString(","))
        .load(out)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("total_toks"))
        .orderBy($"source")
    }),

    // Token-sequence (bigram) screening — the n-gram contamination-check
    // shape: containsSeq emits only rows holding the needles CONSECUTIVELY
    // in order. Needles = the pos-1/pos-2 bigram of the smallest doc_id
    // (derived identically in DuckDB); the oracle recomputes adjacency via
    // a pos+1 self-join, so a row matched on mere co-occurrence (or a
    // dropped adjacent match) fails the hash.
    "q_token_bigram" -> ((s, dir) => {
      import s.implicits._
      val out = graftScanDir(s, dir)
      graft.sources.TokenIndex.build(s, out): Unit
      // min-doc-scoped like the SQL twin (see q_token_screen)
      val tok = TokenTables.tokExploded(s, dir)
      val minDoc = tok.agg(min($"doc_id")).head().getLong(0)
      val gram = tok
        .where($"doc_id" === minDoc && $"pos" <= 2)
        .orderBy($"pos")
        .select($"token")
        .collect()
        .map(_.getLong(0).toInt)
      s.read
        .format("graft")
        .option("containsSeq", gram.mkString(","))
        .load(out)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("total_toks"))
        .orderBy($"source")
    }),

    // Eval-set decontamination — the multi-needle contamination screen: every
    // 4-gram of the eval docs (doc_id % 211 = 3) is hashed into one broadcast
    // set and the WHOLE corpus is screened in one shuffle-free pass. The
    // oracle recomputes the identical 62-bit gram hashes per position on both
    // sides and re-derives every hit's window/distinct-gram/first-position
    // accounting, so a missed window, a phantom hit, or an off-by-one in the
    // rolling window all fail the hash.
    "q_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val docs = docTable(s, dir)
      val evalSeqs = docs.where($"doc_id" % 211 === 3 && $"n_tok" >= 4)
      graft.ops.Decontaminate.screen(docs, evalSeqs, n = 4).orderBy($"doc_id")
    }),

    // DSv2 source under a broadcast join (the runtime-filtering shape: the
    // dim side's doc_ids can be pushed into the scan at execution time);
    // per-source totals must match DuckDB's raw recomputation
    "q_graft_join" -> ((s, dir) => {
      import s.implicits._
      val dim = docTable(s, dir)
        .where($"n_tok" === 22)
        .select($"doc_id".cast("string").as("doc_id"))
      s.read
        .format("graft")
        .load(graftScanDir(s, dir))
        .join(broadcast(dim), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("total_toks"))
        .orderBy($"source")
    }),

    // Storage-partitioned join under the oracle: two same-layout graft dirs
    // (the shared scan dir × the merge-on-read DELETE dir) equi-join on
    // doc_id through the catalog with keyed bin planning ON — Spark
    // co-locates the bins and the join runs with ZERO join-side exchange
    // (required below: one exchange total, the groupBy's). Runs on a CLONED
    // session so the SPJ confs cannot leak into other queries' plans. The
    // oracle recomputes the join's semantics directly: the delete dir holds
    // exactly the docs with id % 13 != 5, so the join is a semijoin against
    // that rule.
    "q_spj_join" -> ((s, dir) => {
      val out = graftScanDir(s, dir)
      val del = graftDeletedDir(s, dir, purge = false)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      s2.conf.set("spark.graft.binPartitionedScan", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = s2.sql(
        s"""SELECT a.source, count(1) AS n_docs, CAST(sum(a.n_tok) AS BIGINT) AS total_toks
           |FROM graft.`$out` a JOIN graft.`$del` b ON a.doc_id = b.doc_id
           |GROUP BY a.source ORDER BY a.source""".stripMargin
      )
      // prove SPJ engaged (don't let a silent fallback pass as green): the
      // only exchanges allowed are the aggregate's, never the join's
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => shuffles(q.plan)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          val below = e.children.map(shuffles).sum
          (e.outputPartitioning match {
            // the groupBy/sort exchanges hash on source — those are fine
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
                if h.expressions.forall(_.references.forall(_.name != "doc_id")) => 0
            case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning => 0
            case _ => 1
          }) + below
        case other => other.children.map(shuffles).sum
      }
      val joinShuffles = shuffles(df.queryExecution.executedPlan)
      require(
        joinShuffles == 0,
        s"q_spj_join: expected a storage-partitioned join (no doc_id exchange), found $joinShuffles:\n" +
          df.queryExecution.executedPlan
      )
      df
    }),

    // Maintenance layer under the oracle: the corpus is scattered across
    // small block files, compacted (atomic marker commit) and vacuumed
    // (originals physically deleted) BEFORE this point read — values must
    // still match DuckDB's raw recomputation exactly
    "q_compact_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftCompactDir(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 991 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Rebin under the oracle: the dir was redistributed into a different
    // (num_bins, salt) layout — point reads resolve through the NEW routing
    // and the re-encoded blocks, and must still match DuckDB's raw
    // recomputation token-for-token
    "q_rebin_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftRebinDir(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 499 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // DSv2 WRITE path under the oracle: a derived corpus slice is appended
    // through df.write.format("graft").mode("append") (see graftAppendDir),
    // then original AND appended docs are point-read back — the appended
    // blocks must decode to DuckDB's recomputation of the same derivation
    "q_graft_append" -> ((s, dir) => {
      import s.implicits._
      val out = graftAppendDir(s, dir)
      val baseIds = docTable(s, dir)
        .where($"doc_id" % 997 === 0)
        .select($"doc_id".cast("string"))
      val appendedIds = docTable(s, dir)
        .where($"doc_id" % 7 === 3 && $"doc_id" % 997 === 3)
        .select(($"doc_id" + 1000000000000L).cast("string"))
      val ids = baseIds.union(appendedIds).collect().map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // DSv2 read AFTER a zero-recode merge (Maintenance.adopt): point reads
    // hit both original docs and docs whose blocks were adopted verbatim
    // from a second same-tables dir — a mis-copied byte, a wrong bin claim,
    // or a lineage slip in the files_added snapshot fails the hash
    "q_adopt_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftAdoptDir(s, dir)
      val baseIds = docTable(s, dir)
        .where($"doc_id" % 997 === 0)
        .select($"doc_id".cast("string"))
      val adoptedIds = docTable(s, dir)
        .where($"doc_id" % 7 === 2 && $"doc_id" % 997 === 2)
        .select(($"doc_id" + 2000000000000L).cast("string"))
      val ids = baseIds.union(adoptedIds).collect().map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Incremental batch read (Iceberg's incremental-scan shape): the same
    // appended dir, read with option("fromSnapshot", 0) — ONLY the rows the
    // append snapshot added, planned as file deltas by the shared
    // stream/batch delta planner. Full decode checksum of every emitted
    // token keeps the delta planning itself under the hard DuckDB oracle
    // (one bootstrap row leaking in, or one appended row dropped, fails
    // the hash).
    "q_incremental_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftAppendDir(s, dir)
      s.read
        .format("graft")
        .option("fromSnapshot", 0)
        .load(out)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Equality deletes, merge-on-read half: docs with id % 13 == 5 are
    // DELETED (Deletes.deleteDocs — one (bin,doc_id) parquet + one
    // snapshot, no data file moves), then a point read asks for ids
    // INCLUDING deleted ones — the scan's delete filter must hide exactly
    // the rows DuckDB's WHERE excludes, token-for-token
    "q_delete_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftDeletedDir(s, dir, purge = false)
      val ids = docTable(s, dir)
        .where($"doc_id" % 397 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Equality deletes, full-scan + metadata-trap half: an UNFILTERED
    // count/sum over the deleted dir. The block-metadata aggregate pushdown
    // must disable itself (it would over-count the hidden rows) and the
    // full decode scan must drop exactly the deleted docs
    "q_delete_meta" -> ((s, dir) => {
      import s.implicits._
      s.read
        .format("graft")
        .load(graftDeletedDir(s, dir, purge = false))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("total_toks"))
    }),

    // Equality deletes, physical half: the SAME delete is PURGED
    // (Maintenance.purgeDeletes rewrites every affected file through
    // decode->filter->re-encode, retires the delete file, vacuum reclaims
    // the originals) — the rewritten blocks must still decode to DuckDB's
    // filtered recomputation exactly
    "q_purge_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftDeletedDir(s, dir, purge = true)
      val ids = docTable(s, dir)
        .where($"doc_id" % 397 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // SQL DML end-to-end: the delete was committed by spark.sql
    // `DELETE FROM graft.`dir`` (TableCatalog -> SupportsDelete ->
    // equality-delete snapshot) and the read goes back through the same
    // catalog route — one mis-routed id anywhere in the chain fails the
    // hash against DuckDB's recomputation
    "q_sql_delete_scan" -> ((s, dir) => {
      val out = graftSqlDeletedDir(s, dir)
      s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      s.sql(
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, pos0 + 1 AS pos, CAST(token AS BIGINT) AS token
           |FROM graft.`$out` LATERAL VIEW posexplode(tokens) t AS pos0, token
           |WHERE CAST(doc_id AS BIGINT) % 397 = 0
           |ORDER BY doc_id, pos""".stripMargin
      )
    }),

    // Atomic upsert (replaceDocs): docs % 17 == 4 carry transformed tokens
    // committed as ONE delete+append snapshot — the point read must return
    // the NEW tokens for replaced docs and the originals for the rest,
    // exactly as DuckDB's CASE recomputation says
    "q_replace_scan" -> ((s, dir) => {
      import s.implicits._
      val out = graftReplaceDir(s, dir)
      val ids = docTable(s, dir)
        .where($"doc_id" % 397 === 0)
        .select($"doc_id".cast("string"))
        .collect()
        .map(_.getString(0))
      s.read
        .format("graft")
        .load(out)
        .where($"doc_id".isin(ids.toSeq: _*))
        .select(
          $"doc_id".cast("long").as("doc_id"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"token".cast("long").as("token"))
        .orderBy($"doc_id", $"pos")
    }),

    // Row-level CHANGE FEED over the replaced dir: changesBetween(0) must
    // emit exactly delete(old content) + insert(new content) for the
    // replaced ids — the changelog encoding of an upsert — with full token
    // checksums on BOTH images (a stale pre-image, a missed id, or a
    // double-emitted row all fail the hash)
    "q_change_feed" -> ((s, dir) => {
      import s.implicits._
      val out = graftReplaceDir(s, dir)
      graft.pipeline.ChangeFeed
        .changesBetween(s, out, 0)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          col(graft.pipeline.ChangeFeed.ChangeTypeCol).as("change_type"),
          posexplode($"tokens").as(Seq("pos0", "token"))
        )
        .select(
          $"doc_id",
          $"change_type",
          ($"pos0" + 1).as("pos"),
          $"token".cast("long").as("token")
        )
        .orderBy($"doc_id", $"change_type", $"pos")
    }),

    // Training-data ops: quality features per source (production
    // TextOps.withQualityFeatures, oracled by DuckDB arithmetic)
    "q_quality" -> ((s, dir) => {
      import s.implicits._
      graft.ops.TextOps
        .withQualityFeatures(s.read.parquet(s"$dir/documents.parquet"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"word_count").as("total_words"),
          sum($"chars_nospace").as("total_chars_nospace"),
          sum($"stopword_hits").as("total_stopword_hits"),
          sum(when($"mean_word_len_x100" > 500, 1L).otherwise(0L)).as("n_long_worded")
        )
        .orderBy($"source")
    }),

    // Gopher-style intra-document repetition accounting (duplicated words
    // / word bigrams): one corpus map, NO shuffle — the per-source rollup
    // is the screen's only aggregation
    "q_repetition" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Scoring
        .repetition(s.read.parquet(s"$dir/documents.parquet"), n = 2)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_words").as("total_words"),
          sum($"n_dup_words").as("total_dup_words"),
          sum($"n_grams").as("total_grams"),
          sum($"n_dup_grams").as("total_dup_grams"),
          max($"top_gram_cnt").as("max_top_gram")
        )
        .orderBy($"source")
    }),

    // The repetition screen itself: the 10 most internally-repetitive
    // documents (distributed TakeOrdered — no global sort materializes)
    "q_repetition_docs" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Scoring
        .repetition(s.read.parquet(s"$dir/documents.parquet"), n = 2)
        .select(
          $"doc_id".cast("long").as("doc_id"),
          $"n_grams",
          $"n_dup_grams",
          $"top_gram_cnt",
          $"dup_gram_ppm"
        )
        .orderBy($"dup_gram_ppm".desc, $"doc_id")
        .limit(10)
    }),

    // Compression cost as quality signal: per-doc quantized unigram
    // log-loss (bits-per-token under the corpus's own token distribution —
    // the estimator cost model the encoder runs anyway), rolled up per
    // source. One 256-cell histogram pass + one map; integer-exact.
    "q_doc_nll" -> ((s, dir) => {
      import s.implicits._
      val cfg1 = GraftPipeline.Config(numContexts = 1, maxBits = Hybrid.DefaultMaxBits)
      val costs = GraftPipeline.analyze(tokenRows(s, dir), cfg1).costModel(0)
      graft.ops.Scoring
        .unigramLogLoss(docTable(s, dir), costs, $"tokens")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"cost_bits").as("sum_cost_bits"),
          min($"bpt_ppm").as("min_bpt_ppm"),
          max($"bpt_ppm").as("max_bpt_ppm")
        )
        .orderBy($"source")
    }),

    // Both tails of the bits-per-token distribution — the curation screen:
    // LOW tail compresses suspiciously well (repetitive/templated), HIGH
    // tail doesn't fit the corpus (junk/wrong-language). Two distributed
    // TakeOrdered passes, never a single-partition global sort.
    "q_nll_outliers" -> ((s, dir) => {
      import s.implicits._
      val cfg1 = GraftPipeline.Config(numContexts = 1, maxBits = Hybrid.DefaultMaxBits)
      val costs = GraftPipeline.analyze(tokenRows(s, dir), cfg1).costModel(0)
      val scored = graft.ops.Scoring
        .unigramLogLoss(docTable(s, dir), costs, $"tokens")
        .select($"doc_id", $"n_tok".cast("long").as("n_tok"), $"cost_bits", $"bpt_ppm")
      val hi = scored.orderBy($"bpt_ppm".desc, $"doc_id".asc).limit(4).withColumn("tail", lit("high"))
      val lo = scored.orderBy($"bpt_ppm".asc, $"doc_id".asc).limit(4).withColumn("tail", lit("low"))
      hi.union(lo)
        .select($"tail", $"doc_id", $"n_tok", $"cost_bits", $"bpt_ppm")
        .orderBy($"tail", $"bpt_ppm", $"doc_id")
    }),

    // Training-data ops: BPE-ish subword token counting per language
    "q_subword_tokens" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/documents.parquet")
        .withColumn("subwords", graft.ops.TextOps.subwordCountUdf($"text"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"subwords").as("total_subwords"))
        .orderBy($"lang")
    }),

    // Self-oracle (rows-only): full E2E roundtrip + per-codec metrics.
    // Correctness asserted inside: n_mismatches column must be 0.
    "q_roundtrip_verify" -> ((s, dir) => roundtrip(s, dir)._1),

    // MinHash+LSH near-dups (production op: 64 minhashes over word 3-gram
    // shingles, 16 salt-split band buckets, exact Jaccard filter). The
    // DuckDB oracle recomputes the full signature/banding/salting/jaccard
    // chain in the cross-engine 62-bit hash domain; inter/uni are exact
    // set sizes.
    "q_minhash_neardups" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup
        .minhashNearDups(docs, threshold = 0.2)
        .select($"doc_a".cast("long"), $"doc_b".cast("long"), $"inter", $"uni")
        .orderBy($"doc_a", $"doc_b")
    }),

    // Duplicate-cluster resolution: connected components over the minhash
    // pairs (near-dup similarity is not transitive, so picking survivors
    // needs the component, not the pair list). The DuckDB oracle computes
    // the transitive closure with a recursive CTE; the engine's iterated
    // min-label propagation must reach the identical fixpoint.
    "q_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = graft.ops.Dedup.minhashNearDups(docs, threshold = 0.2)
      graft.ops.Dedup
        .resolveClusters(pairs)
        .select($"doc_id".cast("long").as("doc_id"), $"cluster".cast("long").as("cluster"))
        .orderBy($"doc_id")
    }),

    // SimHash near-dups (production op: 62-bit simhash, 4 salt-split
    // 16-bit band buckets, exact Hamming filter); fully oracle-recomputed.
    "q_simhash_neardups" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup
        .simhashNearDups(docs, maxHamming = 10)
        .select($"doc_a".cast("long"), $"doc_b".cast("long"), $"hamming".cast("long"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // N-gram Jaccard near-dups WITHOUT LSH: rare-shingle posting lists
    // (df <= 50 stop-shingle cap) generate candidates, exact Jaccard
    // filters; the oracle recomputes postings, cap, pairs and set sizes
    "q_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup
        .ngramJaccardPairs(docs, shingleN = 3, threshold = 0.2)
        .select($"doc_a".cast("long"), $"doc_b".cast("long"), $"inter", $"uni")
        .orderBy($"doc_a", $"doc_b")
    }),

    // Language-ID heuristic vs the labeled lang column (stopword argmax,
    // ties broken toward the lexicographically greatest language)
    "q_lang_id" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/documents.parquet")
        .withColumn("detected", graft.ops.TextOps.langIdUdf(graft.ops.TextOps.wordsCol($"text")))
        .groupBy($"lang", $"detected")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"detected")
    }),

    // Per-document rolling-hash fingerprints (62-bit FNV fold + mix)
    "q_fingerprints" -> ((s, dir) => {
      import s.implicits._
      s.read
        .parquet(s"$dir/documents.parquet")
        .withColumn("fp", graft.ops.TextOps.fingerprintUdf($"text"))
        .select($"doc_id", $"fp")
        .orderBy($"doc_id")
    }),

    // Brute-force cosine top-5 in the quantized integer-cosine domain —
    // the DuckDB oracle recomputes scores and the total (icos desc, vec_id)
    // ranking exactly
    "q_ann_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where($"vec_id" < 5)
      graft.ops.Ann.bruteForceTopK(emb, queries, k = 5)
    }),

    // Multimodal decode: synthesize real BMP/WAV/GFTV containers from the
    // documents table, PARSE them back (headers + padding-aware content
    // walks), and emit per-media features. The oracle recomputes every
    // feature closed-form (dims/rates from n_chars, content sums from the
    // XHash byte chain) — a wrong parser offset fails the compare.
    "q_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = graft.ops.BinaryOps.mediaFromDocuments(
        s.read.parquet(s"$dir/documents.parquet")
      )
      graft.ops.BinaryOps
        .extractFeatures(media)
        .select(
          $"media_id", $"kind", $"n_bytes", $"width", $"height",
          $"rate", $"n_units", $"frames_sampled", $"content_sum"
        )
        .orderBy($"media_id")
    }),

    // Embedding-cosine near-dups: salt-split random-hyperplane LSH
    // candidates + exact quantized-cosine filter; oracle recomputes
    // signatures, salt groups, candidate join and scores
    "q_cosine_neardups" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.ops.Ann.cosineNearDups(emb, threshold = 0.3)
    }),

    // IVF ANN: TRAINED coarse quantizer (deterministic farthest-point
    // seeding + 3 Lloyd rounds in the exact icos domain), nProbe-list
    // probe, exact icos top-5 — the partitioned-index scale path; the
    // oracle recomputes the full train→assign→probe→score→rank chain
    "q_ivf_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where($"vec_id" < 5)
      graft.ops.Ann.ivfTopK(emb, queries, k = 5, nLists = 8, nProbe = 2)
    }),

    // LSH ANN agreement with brute force (recall@5 as a count); the oracle
    // recomputes BOTH top-k sides and the semi-join count
    "q_ann_lsh_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where($"vec_id" < 5)
      val exact = graft.ops.Ann
        .bruteForceTopK(emb, queries, k = 5)
        .select($"query_id", $"neighbor_id")
      // bucket granularity ~ corpus_size / 2^nPlanes: 4 planes keeps
      // candidate sets large enough for useful recall on the testdata
      val approx = graft.ops.Ann
        .lshTopK(emb, queries, k = 5, nPlanes = 4, nTables = 8)
        .select($"query_id", $"neighbor_id")
      exact
        .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_recalled_of_25"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (q_roundtrip_verify) → driver records a weaker rows-only check.
    */
  /** The minhash near-dup oracle body, shared by q_minhash_neardups and
    * (as the pair-generating CTE) q_dedup_clusters.
    */
  private lazy val minhashNearDupsSql: String =
    s"""WITH $duckShinglesCte,
           |salts AS (SELECT i, ${X.sqlMix62("(24301 + i)")} AS salt FROM (SELECT unnest(generate_series(0, 63)) AS i)),
           |sigv AS (SELECT s.doc_id, t.i, min(${X.sqlMix62("xor(s.shingle, t.salt)")}) AS sig
           |         FROM shingles s, salts t GROUP BY 1, 2),
           |alldocs AS (SELECT DISTINCT doc_id FROM documents),
           |sigfull AS (SELECT d.doc_id, t.i, coalesce(v.sig, ${X.Mask62}) AS sig
           |            FROM alldocs d CROSS JOIN salts t
           |            LEFT JOIN sigv v ON v.doc_id = d.doc_id AND v.i = t.i),
           |buckets AS (
           |  SELECT doc_id, i // 4 AS band,
           |         list_reduce(list_prepend(xor(CAST(${X.FoldInit} AS BIGINT), i // 4), list(sig ORDER BY i)),
           |                     (h, v) -> ${X.sqlFoldStep("h", "v")}) AS bucket
           |  FROM sigfull GROUP BY doc_id, band
           |),
           |kept AS (SELECT *, (row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) - 1) // 1024 AS salt
           |         FROM buckets),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |         FROM kept a JOIN kept b USING (band, bucket, salt) WHERE a.doc_id < b.doc_id),
           |inters AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |           FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2)
           |SELECT c.doc_a, c.doc_b, CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
           |       CAST(coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0) - coalesce(i.inter, 0) AS BIGINT) AS uni
           |FROM cand c
           |LEFT JOIN inters i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
           |LEFT JOIN shsize sa ON sa.doc_id = c.doc_a
           |LEFT JOIN shsize sb ON sb.doc_id = c.doc_b
           |WHERE coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0) - coalesce(i.inter, 0) > 0
           |  AND coalesce(i.inter, 0) >= (coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0) - coalesce(i.inter, 0)) * 0.2
           |ORDER BY 1, 2""".stripMargin

  /** DuckDB twin of the full IVF chain (Ann.trainIvfCentroids + Ann.ivfTopK):
    * farthest-point seeding unrolled to `nLists` steps (running max-icos
    * column, picks by (msim asc, vec_id asc), picked ids excluded from the
    * remaining pool), `iters` unrolled Lloyd rounds (assignment by
    * row_number over (s desc, cid), per-dimension floor-mean update, empty
    * lists keep their centroid), then the assign→probe→score→rank chain —
    * every step exact integer/icos arithmetic, so the hash compare pins the
    * trainer itself, not just the search.
    */
  private def ivfOracleSql(nLists: Int, iters: Int, nProbe: Int, k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH qc AS MATERIALIZED (SELECT vec_id, $duckQuant AS qe FROM embeddings),\n"
    sb ++= "s1 AS MATERIALIZED (SELECT vec_id AS cid, qe AS cqe FROM qc ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"ms1 AS MATERIALIZED (SELECT q.vec_id, q.qe, ${duckIcos("q.qe", "s.cqe")} AS msim FROM qc q, s1 s WHERE q.vec_id != s.cid),\n"
    for (j <- 2 to nLists) {
      sb ++= s"p$j AS MATERIALIZED (SELECT vec_id AS cid, qe AS cqe FROM ms${j - 1} ORDER BY msim ASC, vec_id ASC LIMIT 1),\n"
      if (j < nLists)
        sb ++= s"ms$j AS MATERIALIZED (SELECT m.vec_id, m.qe, greatest(m.msim, ${duckIcos("m.qe", "p.cqe")}) AS msim FROM ms${j - 1} m, p$j p WHERE m.vec_id != p.cid),\n"
    }
    sb ++= (Seq("SELECT cid, cqe FROM s1") ++ (2 to nLists).map(j => s"SELECT cid, cqe FROM p$j"))
      .mkString("c0 AS MATERIALIZED (", " UNION ALL ", "),\n")
    for (i <- 1 to iters) {
      val prev = s"c${i - 1}"
      sb ++= s"a$i AS MATERIALIZED (SELECT q.vec_id, q.qe, c.cid, ${duckIcos("q.qe", "c.cqe")} AS s FROM qc q CROSS JOIN $prev c),\n"
      sb ++= s"l$i AS MATERIALIZED (SELECT vec_id, qe, cid FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM a$i) WHERE rn = 1),\n"
      sb ++= s"m$i AS MATERIALIZED (SELECT cid, unnest(generate_series(1, len(qe))) AS d, qe FROM l$i),\n"
      sb ++= s"g$i AS MATERIALIZED (SELECT cid, d, CAST(floor(CAST(sum(qe[d]) AS DOUBLE) / count(*)) AS BIGINT) AS v FROM m$i GROUP BY 1, 2),\n"
      sb ++= s"n$i AS MATERIALIZED (SELECT cid, list(v ORDER BY d) AS cqe FROM g$i GROUP BY 1),\n"
      sb ++= s"c$i AS MATERIALIZED (SELECT c.cid, coalesce(n$i.cqe, c.cqe) AS cqe FROM $prev c LEFT JOIN n$i ON n$i.cid = c.cid),\n"
    }
    sb ++= s"""ascore AS MATERIALIZED (SELECT q.vec_id, c.cid, ${duckIcos("q.qe", "c.cqe")} AS s
              |           FROM qc q CROSS JOIN c$iters c),
              |lists AS MATERIALIZED (SELECT vec_id, cid AS list_id FROM
              |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM ascore)
              |  WHERE rn = 1),
              |probes AS MATERIALIZED (SELECT vec_id AS query_id, cid AS list_id FROM
              |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
              |   FROM ascore WHERE vec_id < 5)
              |  WHERE rn <= $nProbe),
              |cand AS MATERIALIZED (SELECT DISTINCT p.query_id, l.vec_id
              |         FROM probes p JOIN lists l USING (list_id) WHERE l.vec_id != p.query_id),
              |scored AS MATERIALIZED (SELECT c.query_id, c.vec_id, ${duckIcos("a.qe", "b.qe")} AS icos
              |           FROM cand c JOIN qc a ON a.vec_id = c.vec_id JOIN qc b ON b.vec_id = c.query_id),
              |ranked AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY icos DESC, vec_id) AS rank
              |           FROM scored)
              |SELECT query_id, vec_id AS neighbor_id, icos, CAST(rank AS BIGINT) AS rank
              |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "q_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | sum(l_extendedprice) AS sum_price, count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_source_stats" ->
      s"""$CTE
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS total_tokens,
         | min(token) AS min_token, max(token) AS max_token,
         | CAST(sum(token) AS BIGINT) AS sum_token
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "q_token_histogram" ->
      s"""$CTE
         |SELECT ${duckHybridToken("token")} AS hybrid_token, count(*) AS freq
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_context_histogram" ->
      s"""$CTE, lagged AS (
         | SELECT token, lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok
         |), ctxed AS (
         | SELECT least(${duckHybridToken("coalesce(prev, 0)")}, 63) AS ctx,
         |        ${duckHybridToken("token")} AS hybrid_token
         | FROM lagged)
         |SELECT ctx, hybrid_token, count(*) AS freq
         |FROM ctxed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_zuckerli_context_histogram" ->
      s"""$CTE, lagged AS (
         | SELECT doc_id, pos, n_tok, token,
         |        lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok
         |), ctxed AS (
         | SELECT CAST(CASE WHEN pos = 1 THEN least(${duckHybridToken("n_tok")}, 15)
         |        ELSE 16 + least(${duckHybridToken("prev")}, 31) END AS BIGINT) AS ctx,
         |        ${duckHybridToken("token")} AS hybrid_token
         | FROM lagged)
         |SELECT ctx, hybrid_token, count(*) AS freq
         |FROM ctxed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_context_bits" ->
      s"""$CTE, lagged AS (
         | SELECT doc_id, pos, token,
         |        lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok
         |), ctxed AS (
         | SELECT CAST(CASE WHEN pos = 1 THEN 0
         |        ELSE least(${duckHybridToken("prev")}, 63) END AS BIGINT) AS ctx,
         |        CASE WHEN token < 16 THEN 0 ELSE length(bin(token)) - 4 END AS rb
         | FROM lagged)
         |SELECT ctx, count(*) AS n_values, CAST(sum(rb) AS BIGINT) AS raw_bits
         |FROM ctxed GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rle_runs" ->
      s"""$CTE, lagged AS (
         | SELECT source, token, lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok
         |)
         |SELECT source,
         | CAST(sum(CASE WHEN prev IS NULL OR token != prev THEN 1 ELSE 0 END) AS BIGINT) AS total_runs,
         | count(*) AS total_tokens
         |FROM lagged GROUP BY source ORDER BY source""".stripMargin,

    "q_codec_cost" ->
      s"""$CTE, t1 AS (
         | SELECT doc_id, source, pos, token,
         |  CASE WHEN lag(token) OVER (PARTITION BY doc_id ORDER BY pos) IS DISTINCT FROM token
         |       THEN 1 ELSE 0 END AS chg
         | FROM tok
         |), t2 AS (
         | SELECT doc_id, source, token,
         |  sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
         | FROM t1
         |), runlens AS (
         | SELECT doc_id, source, run_id, count(*) AS run_len FROM t2 GROUP BY 1, 2, 3
         |), docruns AS (
         | SELECT doc_id, source, count(*) AS n_runs, max(run_len) AS max_run FROM runlens GROUP BY 1, 2
         |), docstats AS (
         | SELECT doc_id, source, count(*) AS n, max(token) AS mx, min(token) AS mn,
         |        count(DISTINCT token) AS card
         | FROM tok GROUP BY 1, 2
         |), deltagroups AS (
         | SELECT doc_id, source, (pos - 1) // 128 AS grp, count(*) AS glen,
         |  max(CASE WHEN dlt >= 0 THEN 2*dlt ELSE -2*dlt - 1 END) AS max_zz
         | FROM (
         |  SELECT doc_id, source, pos,
         |   token - coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS dlt
         |  FROM tok
         | ) GROUP BY 1, 2, 3
         |), docdeltas AS (
         | SELECT doc_id, source,
         |  sum(6 + glen*${duckBitsFor("max_zz")}) AS delta_bits
         | FROM deltagroups GROUP BY 1, 2
         |), est AS (
         | SELECT d.source,
         |  32*n AS plain_bits,
         |  6 + n*${duckBitsFor("mx")} AS bitpack_bits,
         |  39 + n*${duckBitsFor("(mx-mn)")} AS for_bits,
         |  44 + n_runs*(${duckBitsFor("mx")} + ${duckBitsFor("(max_run-1)")}) AS rle_bits,
         |  38 + card*${duckBitsFor("mx")} + n*${duckBitsFor("(card-1)")} AS dict_bits,
         |  delta_bits
         | FROM docstats d JOIN docruns r USING (doc_id, source)
         |      JOIN docdeltas z USING (doc_id, source)
         |), chosen AS (
         | SELECT source,
         |  least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) AS m,
         |  CASE WHEN plain_bits = least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) THEN 'plain'
         |       WHEN bitpack_bits = least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) THEN 'bitpack'
         |       WHEN for_bits = least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) THEN 'for'
         |       WHEN rle_bits = least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) THEN 'rle'
         |       WHEN dict_bits = least(plain_bits, bitpack_bits, for_bits, rle_bits, dict_bits, delta_bits) THEN 'dict'
         |       ELSE 'delta' END AS best_codec
         | FROM est)
         |SELECT source, best_codec, count(*) AS n_docs, CAST(sum(m) AS BIGINT) AS sum_est_bits
         |FROM chosen GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_offsets" ->
      s"""$CTE, docs AS (
         | SELECT DISTINCT doc_id, source, n_tok FROM tok
         |)
         |SELECT doc_id, source, n_tok,
         | CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
         |FROM docs QUALIFY doc_id % 97 = 0 ORDER BY source, doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""$CTE, doclen AS (
         | SELECT DISTINCT doc_id, n_tok FROM tok
         |), docstart AS (
         | SELECT doc_id, COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dstart
         | FROM doclen
         |), gtok AS (
         | SELECT d.dstart + t.pos - 1 AS gpos, t.token
         | FROM tok t JOIN docstart d USING (doc_id)
         |)
         |SELECT CAST(gpos // 64 AS BIGINT) AS example_id,
         |       CAST(gpos % 64 AS BIGINT) AS off,
         |       CAST(token AS BIGINT) AS token
         |FROM gtok
         |WHERE (gpos // 64) % 41 = 0 AND gpos // 64 < (SELECT COUNT(*) FROM gtok) // 64
         |ORDER BY example_id, off""".stripMargin,

    "q_pack_epoch" -> {
      val ms = X.mix62(3L) // the packer's mixed seed for orderSeed = 3
      s"""$CTE, doclen AS (
         | SELECT DISTINCT doc_id, n_tok FROM tok
         |), dh AS (
         | SELECT doc_id, n_tok,
         |        ${X.sqlMix62(s"xor(${X.sqlMix62(X.sqlHashCharsRaw("CAST(doc_id AS VARCHAR)"))}, $ms)")} AS ord
         | FROM doclen
         |), docstart AS (
         | SELECT doc_id, COALESCE(SUM(n_tok) OVER (ORDER BY ord, doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dstart
         | FROM dh
         |), gtok AS (
         | SELECT d.dstart + t.pos - 1 AS gpos, t.token
         | FROM tok t JOIN docstart d USING (doc_id)
         |)
         |SELECT CAST(gpos // 48 AS BIGINT) AS example_id,
         |       CAST(gpos % 48 AS BIGINT) AS off,
         |       CAST(token AS BIGINT) AS token
         |FROM gtok
         |WHERE (gpos // 48) % 37 = 0 AND gpos // 48 < (SELECT COUNT(*) FROM gtok) // 48
         |ORDER BY example_id, off""".stripMargin
    },

    "q_pack_recipe" -> {
      val ms7 = X.mix62(7L)   // sampleSeed = 7 (DocSample's mixed seed)
      val ms11 = X.mix62(11L) // orderSeed = 11 (the packer's mixed seed)
      s"""$CTE, doclen AS (
         | SELECT DISTINCT doc_id, n_tok FROM tok
         |), dh AS (
         | SELECT doc_id, n_tok, LEAST(n_tok, 8) AS eff,
         |        ${X.sqlMix62(X.sqlHashCharsRaw("CAST(doc_id AS VARCHAR)"))} AS h
         | FROM doclen
         |), kept AS (
         | SELECT doc_id, eff, ${X.sqlMix62(s"xor(h, $ms11)")} AS ord
         | FROM dh
         | WHERE ${X.sqlMix62(s"xor(h, $ms7)")} % 1000000 < 50000
         |), docstart AS (
         | SELECT doc_id, eff, COALESCE(SUM(eff + 1) OVER (ORDER BY ord, doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dstart
         | FROM kept
         |), gtok AS (
         | SELECT d.dstart + t.pos - 1 AS gpos, t.token
         | FROM tok t JOIN docstart d USING (doc_id)
         | WHERE t.pos <= d.eff
         | UNION ALL
         | SELECT dstart + eff AS gpos, 99991 AS token FROM docstart
         |)
         |SELECT CAST(gpos // 32 AS BIGINT) AS example_id,
         |       CAST(gpos % 32 AS BIGINT) AS off,
         |       CAST(token AS BIGINT) AS token
         |FROM gtok
         |WHERE (gpos // 32) % 13 = 0 AND gpos // 32 < (SELECT COUNT(*) FROM gtok) // 32
         |ORDER BY example_id, off""".stripMargin
    },

    "q_pack_spans" ->
      s"""$CTE, doclen AS (
         | SELECT DISTINCT doc_id, n_tok FROM tok
         |), docstart AS (
         | SELECT doc_id, COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dstart
         | FROM doclen
         |), gtok AS (
         | SELECT t.doc_id, d.dstart + t.pos - 1 AS gpos
         | FROM tok t JOIN docstart d USING (doc_id)
         |), spans AS (
         | SELECT gpos // 64 AS example_id, doc_id,
         |        MIN(gpos % 64) AS off, COUNT(*) AS len
         | FROM gtok
         | WHERE gpos // 64 < (SELECT COUNT(*) FROM gtok) // 64
         | GROUP BY 1, 2
         |)
         |SELECT CAST(example_id AS BIGINT) AS example_id, CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(off AS BIGINT) AS off, CAST(len AS BIGINT) AS len
         |FROM spans WHERE example_id % 59 = 0 ORDER BY example_id, off""".stripMargin,

    // NOTE: docsep derives the separator rows from tok (one row per token),
    // which only works because the derived corpus guarantees n_tok >= 1
    // ((l_linenumber*7) % 23 + 1) — a zero-token document would get a
    // separator from Packing but none here. If the corpus derivation ever
    // admits empty docs, derive docsep from a DISTINCT doc list instead.
    "q_pack_stats" ->
      s"""$CTE, docsep AS (
         | SELECT doc_id, pos, token FROM tok
         | UNION ALL
         | SELECT DISTINCT doc_id, n_tok + 1 AS pos, 99991 AS token FROM tok
         |), doclen AS (
         | SELECT DISTINCT doc_id, n_tok + 1 AS len FROM tok
         |), docstart AS (
         | SELECT doc_id, COALESCE(SUM(len) OVER (ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dstart
         | FROM doclen
         |), gtok AS (
         | SELECT d.dstart + t.pos - 1 AS gpos, t.token
         | FROM docsep t JOIN docstart d USING (doc_id)
         |), full_ex AS (
         | SELECT gpos // 96 AS eid, gpos % 96 AS off, token FROM gtok
         | WHERE gpos // 96 < (SELECT COUNT(*) FROM gtok) // 96
         |)
         |SELECT CAST(COUNT(DISTINCT eid) AS BIGINT) AS n_examples,
         |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(token * (off + 1)) AS BIGINT) AS checksum,
         |       CAST(SUM(CASE WHEN token = 99991 THEN 1 ELSE 0 END) AS BIGINT) AS n_seps
         |FROM full_ex""".stripMargin,

    "q_cost_model" ->
      s"""$CTE, hist AS (
         | SELECT ${duckHybridToken("token")} AS hybrid_token, count(*) AS freq FROM tok GROUP BY 1
         |), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM hist)
         |SELECT hybrid_token, freq,
         | CAST(length(bin(greatest(CAST(floor(total / freq) AS BIGINT), 2))) - 1 AS BIGINT) AS cost_bits
         |FROM hist, tot ORDER BY hybrid_token""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
        | count(*) - count(DISTINCT text) AS n_dupes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_exact_op" ->
      """SELECT count(*) AS n_copies, min(doc_id) AS keep_doc_id,
        | array_to_string((list(doc_id ORDER BY doc_id))[1:2], ',') AS doc_ids
        |FROM (SELECT doc_id, array_to_string(string_split(text, ' ')[1:3], ' ') AS k FROM documents)
        |GROUP BY k HAVING count(*) > 1 ORDER BY keep_doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_words
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_embed_dims" ->
      """SELECT label, count(*) AS n_vecs, CAST(min(len(embedding)) AS BIGINT) AS min_dim,
        | CAST(max(len(embedding)) AS BIGINT) AS max_dim
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q_point_lookup" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 1013 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_graft_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 997 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_ctas_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 991 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_aux_column" ->
      s"""$CTE
         |SELECT doc_id, pos, CAST(-(token % 97) - 1 AS BIGINT) AS lp FROM tok
         |WHERE doc_id % 499 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_token_sums" ->
      s"""$CTE
         |SELECT source, CAST(sum(token) AS BIGINT) AS token_sum, count(*) AS n_values
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "q_token_fold" -> {
      import graft.functions.TokenFold
      s"""$CTE
         |, docs AS (
         |  SELECT doc_id, list(token ORDER BY pos) AS toks
         |  FROM tok WHERE doc_id % 97 = 0 GROUP BY doc_id
         |), raws AS (
         |  SELECT doc_id,
         |         ${TokenFold.oracleSqlRawExpr("toks", 0L)} AS r0,
         |         ${TokenFold.oracleSqlRawExpr("toks", 7L)} AS r7
         |  FROM docs
         |)
         |SELECT doc_id, ${graft.ops.XHash.sqlMix62("r0")} AS h0,
         |       ${graft.ops.XHash.sqlMix62("r7")} AS h7
         |FROM raws ORDER BY doc_id""".stripMargin
    },

    "q_content_index" -> {
      import graft.functions.TokenFold
      s"""$CTE
         |, docs AS (
         |  SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
         |         list(token ORDER BY pos) AS toks
         |  FROM tok WHERE doc_id % 89 = 1 GROUP BY doc_id
         |), raws AS (
         |  SELECT doc_id, n_tok,
         |         ${TokenFold.oracleSqlRawExpr("toks", 0L)} AS r1,
         |         ${TokenFold.oracleSqlRawExpr("toks", 1L)} AS r2
         |  FROM docs
         |)
         |SELECT doc_id, n_tok, ${graft.ops.XHash.sqlMix62("r1")} AS h1,
         |       ${graft.ops.XHash.sqlMix62("r2")} AS h2
         |FROM raws ORDER BY doc_id""".stripMargin
    },

    "q_sig_index" -> {
      // token 4-gram shingles (the gramHash twin) -> 8 seeded permutations
      // (salt_i = mix62(0x5eed + i), the Dedup.minhashSalt rule) -> min per
      // (doc, i); docs shorter than 4 tokens get the all-Mask62 sentinel
      s"""$CTE
         |, docs AS (
         |  SELECT doc_id, list(token ORDER BY pos) AS toks
         |  FROM tok WHERE doc_id % 173 = 5 GROUP BY doc_id
         |), grams AS (
         |  SELECT doc_id, unnest(generate_series(1, len(toks) - 3)) AS p, toks
         |  FROM docs WHERE len(toks) >= 4
         |), shingles AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(list_reduce(list_prepend(CAST(${X.FoldInit} AS BIGINT), toks[p:p+3]),
         |                     (h, v) -> ${X.sqlFoldStep("h", "v")}) AS BIGINT) AS shingle
         |  FROM grams
         |), salts AS (
         |  SELECT i, ${X.sqlMix62("(24301 + i)")} AS salt
         |  FROM (SELECT unnest(generate_series(0, 7)) AS i)
         |), sigv AS (
         |  SELECT s.doc_id, t.i, min(${X.sqlMix62("xor(s.shingle, t.salt)")}) AS m
         |  FROM shingles s CROSS JOIN salts t GROUP BY s.doc_id, t.i
         |)
         |SELECT d.doc_id, CAST(t.i AS BIGINT) AS i,
         |       CAST(COALESCE(v.m, ${X.Mask62}) AS BIGINT) AS sig
         |FROM docs d CROSS JOIN salts t
         |LEFT JOIN sigv v ON v.doc_id = d.doc_id AND v.i = t.i
         |ORDER BY d.doc_id, t.i""".stripMargin
    },

    "q_corpus_neardup" -> {
      // the token 4-gram hash (Decontaminate.gramHash twin, as in
      // q_decontaminate) over each doc's token list
      val gh =
        s"CAST(list_reduce(list_prepend(CAST(${X.FoldInit} AS BIGINT), toks[p:p+3]), " +
          s"(h, v) -> ${X.sqlFoldStep("h", "v")}) AS BIGINT)"
      s"""WITH RECURSIVE ${CTE.stripPrefix("WITH ")}
         |, uni AS (
         |  SELECT doc_id, pos, token, n_tok FROM tok WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000000000 AS doc_id, pos, token, n_tok - 2 AS n_tok
         |  FROM tok
         |  WHERE doc_id % 5 = 0 AND doc_id % 41 = 3 AND n_tok >= 14 AND pos <= n_tok - 2
         |), docsl AS (
         |  SELECT doc_id, n_tok, list(token ORDER BY pos) AS toks
         |  FROM uni GROUP BY doc_id, n_tok
         |), gpos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, n_tok - 3)) AS p
         |  FROM docsl WHERE n_tok >= 4
         |), shingles AS (SELECT DISTINCT doc_id, $gh AS shingle FROM gpos),
         |shsize AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
         |salts AS (SELECT i, ${X.sqlMix62("(24301 + i)")} AS salt FROM (SELECT unnest(generate_series(0, 15)) AS i)),
         |sigv AS (SELECT s.doc_id, t.i, min(${X.sqlMix62("xor(s.shingle, t.salt)")}) AS sig
         |         FROM shingles s, salts t GROUP BY 1, 2),
         |alldocs AS (SELECT DISTINCT doc_id FROM uni),
         |sigfull AS (SELECT d.doc_id, t.i, coalesce(v.sig, ${X.Mask62}) AS sig
         |            FROM alldocs d CROSS JOIN salts t
         |            LEFT JOIN sigv v ON v.doc_id = d.doc_id AND v.i = t.i),
         |buckets AS (
         |  SELECT doc_id, i // 4 AS band,
         |         list_reduce(list_prepend(xor(CAST(${X.FoldInit} AS BIGINT), i // 4), list(sig ORDER BY i)),
         |                     (h, v) -> ${X.sqlFoldStep("h", "v")}) AS bucket
         |  FROM sigfull GROUP BY doc_id, band
         |),
         |kept AS (SELECT *, (row_number() OVER (PARTITION BY band, bucket ORDER BY CAST(doc_id AS VARCHAR)) - 1) // 1024 AS salt
         |         FROM buckets),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM kept a JOIN kept b USING (band, bucket, salt) WHERE a.doc_id < b.doc_id),
         |inters AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |           FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b FROM cand c
         |  LEFT JOIN inters i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  LEFT JOIN shsize sa ON sa.doc_id = c.doc_a
         |  LEFT JOIN shsize sb ON sb.doc_id = c.doc_b
         |  WHERE coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0) - coalesce(i.inter, 0) > 0
         |    AND coalesce(i.inter, 0) >= (coalesce(sa.n_sh, 0) + coalesce(sb.n_sh, 0) - coalesce(i.inter, 0)) * 0.7
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |losers AS (SELECT DISTINCT a AS doc_id FROM reach
         |           WHERE CAST(b AS VARCHAR) < CAST(a AS VARCHAR))
         |SELECT doc_id, pos, token FROM uni
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND ((doc_id % 4000000000000) % 41 = 3 OR doc_id % 701 = 0)
         |ORDER BY doc_id, pos""".stripMargin
    },

    "q_corpus_dedup" ->
      s"""$CTE
         |, uni AS (
         |  SELECT doc_id, pos, token, n_tok FROM tok
         |  UNION ALL
         |  SELECT doc_id + 3000000000000 AS doc_id, pos, token, n_tok
         |  FROM tok WHERE doc_id % 23 = 1
         |), docs AS (
         |  SELECT doc_id, n_tok, list(token ORDER BY pos) AS toks
         |  FROM uni GROUP BY doc_id, n_tok
         |), keepers AS (
         |  SELECT min(CAST(doc_id AS VARCHAR)) AS keeper
         |  FROM docs GROUP BY toks, n_tok
         |)
         |SELECT doc_id, pos, token FROM uni
         |WHERE CAST(doc_id AS VARCHAR) IN (SELECT keeper FROM keepers)
         |  AND ((doc_id % 3000000000000) % 23 = 1 OR doc_id % 599 = 0)
         |ORDER BY doc_id, pos""".stripMargin,

    "q_prefix_scan" ->
      s"""$CTE, pd AS (
         |  SELECT doc_id, min(source) AS source, CAST(min(n_tok) AS BIGINT) AS n_tok,
         |         CAST(sum(CASE WHEN pos <= 8 THEN token ELSE 0 END) AS BIGINT) AS ptoken_sum,
         |         CAST(sum(CASE WHEN pos <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix
         |  FROM tok GROUP BY doc_id
         |)
         |SELECT source, CAST(sum(ptoken_sum) AS BIGINT) AS token_sum,
         |       CAST(sum(n_prefix) AS BIGINT) AS n_prefix_values,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tok_total
         |FROM pd GROUP BY source ORDER BY source""".stripMargin,

    "q_sample_scan" -> {
      // same mixed seed the reader bakes in (DocSample: mix62(seed))
      val mixedSeed = X.mix62(7L)
      s"""$CTE, ids AS (
         | SELECT doc_id, min(source) AS source, CAST(min(n_tok) AS BIGINT) AS n_tok,
         |        CAST(sum(token) AS BIGINT) AS token_sum
         | FROM tok GROUP BY doc_id
         |), hraw AS (
         | SELECT *, ${X.sqlHashCharsRaw("CAST(doc_id AS VARCHAR)")} AS hr FROM ids
         |), h1 AS (
         | SELECT *, ${X.sqlMix62("hr")} AS h FROM hraw
         |), h2 AS (
         | SELECT *, ${X.sqlMix62(s"xor(h, $mixedSeed)")} AS hs FROM h1
         |)
         |SELECT doc_id, source, n_tok, token_sum
         |FROM h2 WHERE hs % 1000000 < 50000 ORDER BY doc_id""".stripMargin
    },

    "q_sample_mix" -> {
      val mixedSeed = X.mix62(11L)
      s"""$CTE, ids AS (
         | SELECT doc_id, min(source) AS source, CAST(min(n_tok) AS BIGINT) AS n_tok,
         |        CAST(sum(token) AS BIGINT) AS tsum
         | FROM tok GROUP BY doc_id
         |), hraw AS (
         | SELECT *, ${X.sqlHashCharsRaw("CAST(doc_id AS VARCHAR)")} AS hr FROM ids
         |), h1 AS (
         | SELECT *, ${X.sqlMix62("hr")} AS h FROM hraw
         |), h2 AS (
         | SELECT *, ${X.sqlMix62(s"xor(h, $mixedSeed)")} AS hs FROM h1
         |), kept AS (
         | SELECT * FROM h2
         | WHERE hs % 1000000 <
         |   CASE source WHEN 'A' THEN 20000 WHEN 'N' THEN 300000 ELSE 1000000 END
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
         |       CAST(sum(tsum) AS BIGINT) AS token_sum
         |FROM kept GROUP BY source ORDER BY source""".stripMargin
    },

    "q_graft_meta" ->
      s"""$CTE
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, source, n_tok FROM tok)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_graft_lengths" ->
      s"""$CTE
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tok AS INTEGER) AS n_tok,
         |       CAST(sum(token) AS BIGINT) AS token_sum
         |FROM tok WHERE n_tok BETWEEN 20 AND 22
         |GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin,

    "q_graft_agg" ->
      s"""$CTE
         |SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks,
         |       CAST(min(n_tok) AS INTEGER) AS min_n_tok,
         |       CAST(max(n_tok) AS INTEGER) AS max_n_tok
         |FROM (SELECT DISTINCT doc_id, n_tok FROM tok)""".stripMargin,

    "q_graft_join" ->
      s"""$CTE
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, source, n_tok FROM tok)
         |WHERE n_tok = 22
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_token_screen" ->
      s"""$CTE, needles AS (
         |  SELECT token FROM tok
         |  WHERE doc_id = (SELECT min(doc_id) FROM tok) AND pos <= 2
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, source, n_tok FROM tok
         |      WHERE doc_id IN (SELECT DISTINCT doc_id FROM tok
         |                       WHERE token IN (SELECT token FROM needles)))
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_token_bigram" ->
      s"""$CTE, gram AS (
         |  SELECT max(CASE WHEN pos = 1 THEN token END) AS a,
         |         max(CASE WHEN pos = 2 THEN token END) AS b
         |  FROM tok WHERE doc_id = (SELECT min(doc_id) FROM tok) AND pos <= 2
         |), matches AS (
         |  SELECT DISTINCT t1.doc_id
         |  FROM tok t1 JOIN tok t2
         |    ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |  WHERE t1.token = (SELECT a FROM gram) AND t2.token = (SELECT b FROM gram)
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, source, n_tok FROM tok
         |      WHERE doc_id IN (SELECT doc_id FROM matches))
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_decontaminate" -> {
      // the 62-bit gram hash of toks[p..p+3] — the exact twin of
      // Decontaminate.gramHash (XHash.fold over raw token values)
      val gh =
        s"CAST(list_reduce(list_prepend(CAST(${X.FoldInit} AS BIGINT), toks[p:p+3]), " +
          s"(h, v) -> ${X.sqlFoldStep("h", "v")}) AS BIGINT)"
      s"""$CTE, docs AS (
         |  SELECT doc_id, n_tok, list(token ORDER BY pos) AS toks
         |  FROM tok GROUP BY doc_id, n_tok
         |), evalpos AS (
         |  SELECT toks, unnest(generate_series(1, n_tok - 3)) AS p
         |  FROM docs WHERE n_tok >= 4 AND doc_id % 211 = 3
         |), eval_grams AS (
         |  SELECT DISTINCT $gh AS g FROM evalpos
         |), cpos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, n_tok - 3)) AS p
         |  FROM docs WHERE n_tok >= 4
         |), cgrams AS (
         |  SELECT doc_id, p, $gh AS g FROM cpos
         |)
         |SELECT c.doc_id AS doc_id,
         |       count(*) AS n_hit_windows,
         |       CAST(count(DISTINCT c.g) AS BIGINT) AS n_hit_grams,
         |       CAST(min(c.p) AS BIGINT) AS first_pos
         |FROM cgrams c JOIN eval_grams e ON c.g = e.g
         |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin
    },

    "q_token_search" ->
      s"""$CTE
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tok AS INTEGER) AS n_tok,
         |       CAST(sum(token) AS BIGINT) AS token_sum
         |FROM tok
         |WHERE doc_id IN (
         |  SELECT DISTINCT doc_id FROM tok
         |  WHERE token = (SELECT token FROM tok
         |                 WHERE doc_id = (SELECT min(doc_id) FROM tok) AND pos = 1))
         |GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin,

    "q_spj_join" ->
      s"""$CTE
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, source, n_tok FROM tok)
         |WHERE doc_id % 13 <> 5
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_compact_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 991 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_rebin_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 499 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_graft_append" ->
      s"""$CTE
         |, uni AS (
         |  SELECT doc_id, pos, token FROM tok WHERE doc_id % 997 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000000 AS doc_id, pos, token FROM tok
         |  WHERE doc_id % 7 = 3 AND doc_id % 997 = 3
         |)
         |SELECT doc_id, pos, token FROM uni ORDER BY doc_id, pos""".stripMargin,

    "q_adopt_scan" ->
      s"""$CTE
         |, uni AS (
         |  SELECT doc_id, pos, token FROM tok WHERE doc_id % 997 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000000000 AS doc_id, pos, token FROM tok
         |  WHERE doc_id % 7 = 2 AND doc_id % 997 = 2
         |)
         |SELECT doc_id, pos, token FROM uni ORDER BY doc_id, pos""".stripMargin,

    "q_incremental_scan" ->
      s"""$CTE
         |SELECT doc_id + 1000000000000 AS doc_id, pos, token FROM tok
         |WHERE doc_id % 7 = 3 ORDER BY doc_id, pos""".stripMargin,

    "q_delete_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 397 = 0 AND doc_id % 13 <> 5 ORDER BY doc_id, pos""".stripMargin,

    "q_delete_meta" ->
      s"""$CTE
         |SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_toks
         |FROM (SELECT DISTINCT doc_id, n_tok FROM tok)
         |WHERE doc_id % 13 <> 5""".stripMargin,

    "q_purge_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 397 = 0 AND doc_id % 13 <> 5 ORDER BY doc_id, pos""".stripMargin,

    "q_sql_delete_scan" ->
      s"""$CTE
         |SELECT doc_id, pos, token FROM tok
         |WHERE doc_id % 397 = 0 AND doc_id % 19 <> 7 ORDER BY doc_id, pos""".stripMargin,

    "q_replace_scan" ->
      s"""$CTE
         |SELECT doc_id, pos,
         |       CASE WHEN doc_id % 17 = 4 THEN (token * 3) % 65536 ELSE token END AS token
         |FROM tok WHERE doc_id % 397 = 0 ORDER BY doc_id, pos""".stripMargin,

    "q_change_feed" ->
      s"""$CTE
         |, ch AS (
         |  SELECT doc_id, 'delete' AS change_type, pos, token
         |  FROM tok WHERE doc_id % 17 = 4
         |  UNION ALL
         |  SELECT doc_id, 'insert' AS change_type, pos, (token * 3) % 65536 AS token
         |  FROM tok WHERE doc_id % 17 = 4
         |)
         |SELECT doc_id, change_type, pos, CAST(token AS BIGINT) AS token
         |FROM ch ORDER BY doc_id, change_type, pos""".stripMargin,

    "q_quality" ->
      """WITH w AS (
        |  SELECT doc_id, source, text,
        |         length(text) - length(replace(text, ' ', '')) + 1 AS word_count,
        |         length(replace(text, ' ', '')) AS chars_nospace
        |  FROM documents
        |), sw AS (
        |  SELECT doc_id,
        |         count(*) FILTER (x.w IN ('the','a','of','and','to','in','is','on')) AS stopword_hits
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) x
        |  GROUP BY doc_id
        |)
        |SELECT w.source, count(*) AS n_docs,
        |  CAST(sum(w.word_count) AS BIGINT) AS total_words,
        |  CAST(sum(w.chars_nospace) AS BIGINT) AS total_chars_nospace,
        |  CAST(sum(coalesce(sw.stopword_hits, 0)) AS BIGINT) AS total_stopword_hits,
        |  CAST(sum(CASE WHEN w.chars_nospace * 100 // w.word_count > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_worded
        |FROM w LEFT JOIN sw USING (doc_id)
        |GROUP BY w.source ORDER BY w.source""".stripMargin,

    "q_repetition" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |wstat AS (
        |  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(len(ws) - len(list_distinct(ws)) AS BIGINT) AS n_dup_words
        |  FROM w
        |), g AS (
        |  SELECT doc_id, ws[j] || ' ' || ws[j+1] AS gram
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS j FROM w)
        |), gcnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gdoc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |         CAST(sum(c) - count(*) AS BIGINT) AS n_dup_grams,
        |         CAST(max(c) AS BIGINT) AS top FROM gcnt GROUP BY 1
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(sum(n_dup_words) AS BIGINT) AS total_dup_words,
        |  CAST(sum(coalesce(n_grams, 0)) AS BIGINT) AS total_grams,
        |  CAST(sum(coalesce(n_dup_grams, 0)) AS BIGINT) AS total_dup_grams,
        |  CAST(max(coalesce(top, 0)) AS BIGINT) AS max_top_gram
        |FROM wstat LEFT JOIN gdoc USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_repetition_docs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, ws[j] || ' ' || ws[j+1] AS gram
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS j FROM w)
        |), gcnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gdoc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |         CAST(sum(c) - count(*) AS BIGINT) AS n_dup_grams,
        |         CAST(max(c) AS BIGINT) AS top FROM gcnt GROUP BY 1
        |)
        |SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |  CAST(coalesce(top, 0) AS BIGINT) AS top_gram_cnt,
        |  CAST(CASE WHEN coalesce(n_grams, 0) > 0 THEN n_dup_grams * 1000000 // n_grams ELSE 0 END AS BIGINT) AS dup_gram_ppm
        |FROM w LEFT JOIN gdoc ON w.doc_id = gdoc.doc_id
        |ORDER BY dup_gram_ppm DESC, doc_id LIMIT 10""".stripMargin,

    "q_doc_nll" ->
      s"""$CTE, hist AS (
         | SELECT ${duckHybridToken("token")} AS ht, count(*) AS freq FROM tok GROUP BY 1
         |), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM hist),
         |costs AS (
         | SELECT ht, CAST(length(bin(greatest(CAST(floor(total / freq) AS BIGINT), 2))) - 1 AS BIGINT) AS cb
         | FROM hist, tot
         |), doc AS (
         | SELECT t.doc_id, t.source, CAST(max(t.n_tok) AS BIGINT) AS n_tok,
         |  CAST(sum(c.cb + CASE WHEN t.token < 16 THEN 0 ELSE length(bin(t.token)) - 4 END) AS BIGINT) AS cost_bits
         | FROM tok t JOIN costs c ON ${duckHybridToken("t.token")} = c.ht
         | GROUP BY 1, 2
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(cost_bits) AS BIGINT) AS sum_cost_bits,
         | CAST(min(cost_bits * 1000000 // n_tok) AS BIGINT) AS min_bpt_ppm,
         | CAST(max(cost_bits * 1000000 // n_tok) AS BIGINT) AS max_bpt_ppm
         |FROM doc GROUP BY source ORDER BY source""".stripMargin,

    "q_nll_filter_scan" ->
      s"""$CTE, hist AS (
         | SELECT ${duckHybridToken("token")} AS ht, count(*) AS freq FROM tok GROUP BY 1
         |), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM hist),
         |costs AS (
         | SELECT ht, CAST(length(bin(greatest(CAST(floor(total / freq) AS BIGINT), 2))) - 1 AS BIGINT) AS cb
         | FROM hist, tot
         |), doc AS (
         | SELECT t.doc_id, CAST(max(t.n_tok) AS BIGINT) AS n_tok,
         |  CAST(sum(c.cb + CASE WHEN t.token < 16 THEN 0 ELSE length(bin(t.token)) - 4 END) AS BIGINT) AS cost_bits
         | FROM tok t JOIN costs c ON ${duckHybridToken("t.token")} = c.ht
         | GROUP BY 1
         |), survivors AS (
         | SELECT doc_id FROM doc WHERE cost_bits * 1000000 // n_tok <= 15400000
         |)
         |SELECT t.doc_id, t.pos, t.token FROM tok t
         |WHERE t.doc_id IN (SELECT doc_id FROM survivors) AND t.doc_id % 97 = 2
         |ORDER BY doc_id, pos""".stripMargin,

    "q_nll_outliers" ->
      s"""$CTE, hist AS (
         | SELECT ${duckHybridToken("token")} AS ht, count(*) AS freq FROM tok GROUP BY 1
         |), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM hist),
         |costs AS (
         | SELECT ht, CAST(length(bin(greatest(CAST(floor(total / freq) AS BIGINT), 2))) - 1 AS BIGINT) AS cb
         | FROM hist, tot
         |), doc AS (
         | SELECT t.doc_id, CAST(max(t.n_tok) AS BIGINT) AS n_tok,
         |  CAST(sum(c.cb + CASE WHEN t.token < 16 THEN 0 ELSE length(bin(t.token)) - 4 END) AS BIGINT) AS cost_bits
         | FROM tok t JOIN costs c ON ${duckHybridToken("t.token")} = c.ht
         | GROUP BY 1
         |), scored AS (
         | SELECT doc_id, n_tok, cost_bits,
         |        CAST(cost_bits * 1000000 // n_tok AS BIGINT) AS bpt_ppm FROM doc
         |), hi AS (
         | SELECT 'high' AS tail, doc_id, n_tok, cost_bits, bpt_ppm,
         |        row_number() OVER (ORDER BY bpt_ppm DESC, doc_id) AS r FROM scored
         |), lo AS (
         | SELECT 'low' AS tail, doc_id, n_tok, cost_bits, bpt_ppm,
         |        row_number() OVER (ORDER BY bpt_ppm ASC, doc_id) AS r FROM scored
         |)
         |SELECT tail, doc_id, n_tok, cost_bits, bpt_ppm FROM hi WHERE r <= 4
         |UNION ALL
         |SELECT tail, doc_id, n_tok, cost_bits, bpt_ppm FROM lo WHERE r <= 4
         |ORDER BY tail, bpt_ppm, doc_id""".stripMargin,

    "q_fingerprints" ->
      s"""WITH fr AS (SELECT doc_id, ${X.sqlHashCharsRaw("text")} AS hr FROM documents)
         |SELECT doc_id, ${X.sqlMix62("hr")} AS fp FROM fr ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      def inList(lang: String): String =
        graft.ops.TextOps.stopwords(lang).toSeq.sorted.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd FROM documents),
         |c AS (SELECT doc_id, lang,
         |  sum(CASE WHEN wd IN (${inList("en")}) THEN 1 ELSE 0 END) AS c_en,
         |  sum(CASE WHEN wd IN (${inList("es")}) THEN 1 ELSE 0 END) AS c_es,
         |  sum(CASE WHEN wd IN (${inList("de")}) THEN 1 ELSE 0 END) AS c_de,
         |  sum(CASE WHEN wd IN (${inList("fr")}) THEN 1 ELSE 0 END) AS c_fr
         |  FROM w GROUP BY 1, 2),
         |d AS (SELECT lang, CASE WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'en'
         |  WHEN c_fr = greatest(c_en, c_es, c_de, c_fr) THEN 'fr'
         |  WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
         |  WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
         |  ELSE 'de' END AS detected FROM c)
         |SELECT lang, detected, count(*) AS n_docs FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_simhash_neardups" ->
      s"""WITH $duckWordHashCte,
         |bits AS (
         |  SELECT doc_id, b, sum(CASE WHEN (word_hash >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM wh, (SELECT unnest(generate_series(0, 61)) AS b) bs GROUP BY 1, 2
         |),
         |sig AS (SELECT doc_id,
         |        CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |        FROM bits GROUP BY 1),
         |banded AS (SELECT doc_id, band, (simhash >> (band * 16)) & 65535 AS bucket
         |           FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) bd),
         |kept AS (SELECT *, (row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) - 1) // 1024 AS salt
         |         FROM banded),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM kept a JOIN kept b USING (band, bucket, salt) WHERE a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 10
         |ORDER BY 1, 2""".stripMargin,

    "q_minhash_neardups" -> minhashNearDupsSql,

    // connected components over the minhash pairs: the oracle computes the
    // transitive closure with a recursive CTE and labels each doc with the
    // minimum reachable doc_id — must equal the engine's iterated
    // min-label-propagation fixpoint exactly
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashNearDupsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
         |SELECT doc_id, cluster FROM lbl ORDER BY doc_id""".stripMargin,

    "q_ann_topk" ->
      s"""WITH qc AS (SELECT vec_id, $duckQuant AS qe FROM embeddings),
         |qq AS (SELECT vec_id AS query_id, qe AS query_qe FROM qc WHERE vec_id < 5),
         |icosed AS (SELECT query_id, vec_id, ${duckIcos("c.qe", "q.query_qe")} AS icos
         |           FROM qc c, qq q WHERE c.vec_id != q.query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY icos DESC, vec_id) AS rank FROM icosed)
         |SELECT query_id, vec_id AS neighbor_id, icos, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_cosine_neardups" -> {
      val minIcos = (0.3 * graft.ops.Ann.IcosScale).toLong // same rounding as the op
      s"""WITH qc AS (SELECT vec_id, $duckQuant AS qe FROM embeddings),
         |${duckSigCte(nPlanes = 8, nTables = 6)},
         |kept AS (SELECT *, (row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) - 1) // 1024 AS salt
         |         FROM sigs),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM kept a JOIN kept b USING (t, bucket, salt) WHERE a.vec_id < b.vec_id),
         |icosed AS (SELECT c.vec_a, c.vec_b, ${duckIcos("ea.qe", "eb.qe")} AS icos
         |           FROM cand c JOIN qc ea ON ea.vec_id = c.vec_a JOIN qc eb ON eb.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, icos, CAST(icos AS DOUBLE) / 1000000.0 AS cosine
         |FROM icosed WHERE icos >= $minIcos ORDER BY 1, 2""".stripMargin
    },

    "q_ivf_topk" -> ivfOracleSql(nLists = 8, iters = 3, nProbe = 2, k = 5),

    "q_ann_lsh_recall" ->
      s"""WITH qc AS (SELECT vec_id, $duckQuant AS qe FROM embeddings),
         |qq AS (SELECT vec_id AS query_id, qe AS query_qe FROM qc WHERE vec_id < 5),
         |exact_icos AS (SELECT query_id, vec_id, ${duckIcos("c.qe", "q.query_qe")} AS icos
         |               FROM qc c, qq q WHERE c.vec_id != q.query_id),
         |exact AS (SELECT query_id, vec_id AS neighbor_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY icos DESC, vec_id) AS rank FROM exact_icos)
         |  WHERE rank <= 5),
         |${duckSigCte(nPlanes = 4, nTables = 8)},
         |kept AS (SELECT * FROM sigs QUALIFY row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) <= 4096),
         |qsig AS (SELECT vec_id AS query_id, t, bucket FROM sigs WHERE vec_id < 5),
         |cands AS (SELECT DISTINCT q.query_id, k.vec_id
         |          FROM qsig q JOIN kept k USING (t, bucket) WHERE k.vec_id != q.query_id),
         |aicos AS (SELECT c.query_id, c.vec_id, ${duckIcos("ea.qe", "eq.qe")} AS icos
         |          FROM cands c JOIN qc ea ON ea.vec_id = c.vec_id JOIN qc eq ON eq.vec_id = c.query_id),
         |approx AS (SELECT query_id, vec_id AS neighbor_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY icos DESC, vec_id) AS rank FROM aicos)
         |  WHERE rank <= 5)
         |SELECT count(*) AS n_recalled_of_25 FROM exact e SEMI JOIN approx a
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id""".stripMargin,

    "q_multimodal_features" ->
      s"""WITH m AS (
         |  SELECT doc_id, n_chars, doc_id % 3 AS k, ${X.sqlMix62("doc_id")} AS dseed FROM documents
         |),
         |img AS (SELECT doc_id, dseed, 4 + n_chars % 29 AS w, 3 + n_chars % 17 AS h FROM m WHERE k = 0),
         |img_sum AS (
         |  SELECT doc_id, CAST(sum(${X.sqlMix62("xor(dseed, i)")} & 255) AS BIGINT) AS cs
         |  FROM (SELECT doc_id, dseed, unnest(generate_series(0, w*3*h - 1)) AS i FROM img) GROUP BY 1
         |),
         |img_f AS (
         |  SELECT i.doc_id AS media_id, 'image' AS kind,
         |    CAST(54 + ((w*3 + 3) // 4 * 4) * h AS BIGINT) AS n_bytes,
         |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |    CAST(24 AS BIGINT) AS rate, CAST(h AS BIGINT) AS n_units,
         |    CAST((h + 3) // 4 AS BIGINT) AS frames_sampled, s.cs AS content_sum
         |  FROM img i JOIN img_sum s ON s.doc_id = i.doc_id
         |),
         |aud AS (SELECT doc_id, dseed, 8000 + (n_chars % 5) * 4000 AS sr, 64 + n_chars % 200 AS ns FROM m WHERE k = 1),
         |aud_sum AS (
         |  SELECT doc_id, CAST(sum(abs((${X.sqlMix62("xor(dseed, i)")} & 65535) - 32768)) AS BIGINT) AS cs
         |  FROM (SELECT doc_id, dseed, unnest(generate_series(0, ns - 1)) AS i FROM aud) GROUP BY 1
         |),
         |aud_f AS (
         |  SELECT a.doc_id AS media_id, 'audio' AS kind,
         |    CAST(44 + 2*ns AS BIGINT) AS n_bytes, CAST(0 AS BIGINT) AS width, CAST(0 AS BIGINT) AS height,
         |    CAST(sr AS BIGINT) AS rate, CAST(ns AS BIGINT) AS n_units,
         |    CAST((ns + 3) // 4 AS BIGINT) AS frames_sampled, s.cs AS content_sum
         |  FROM aud a JOIN aud_sum s ON s.doc_id = a.doc_id
         |),
         |vid AS (SELECT doc_id, dseed, 8 + n_chars % 8 AS w, 6 + n_chars % 6 AS h,
         |               12 + (n_chars % 2) * 12 AS fps, 4 + n_chars % 12 AS nf FROM m WHERE k = 2),
         |vid_sum AS (
         |  SELECT doc_id, CAST(sum(${X.sqlMix62("xor(dseed, i)")} & 255) AS BIGINT) AS cs
         |  FROM (SELECT doc_id, dseed, unnest(generate_series(0, nf*w*h - 1)) AS i FROM vid) GROUP BY 1
         |),
         |vid_f AS (
         |  SELECT v.doc_id AS media_id, 'video' AS kind,
         |    CAST(20 + nf*w*h AS BIGINT) AS n_bytes, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |    CAST(fps AS BIGINT) AS rate, CAST(nf AS BIGINT) AS n_units,
         |    CAST((nf + 3) // 4 AS BIGINT) AS frames_sampled, s.cs AS content_sum
         |  FROM vid v JOIN vid_sum s ON s.doc_id = v.doc_id
         |)
         |SELECT * FROM img_f UNION ALL SELECT * FROM aud_f UNION ALL SELECT * FROM vid_f
         |ORDER BY media_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $duckShinglesCte,
         |rare AS (SELECT doc_id, shingle FROM shingles
         |         QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id),
         |inters AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |           FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |res AS (
         |  SELECT c.doc_a, c.doc_b, i.inter AS inter,
         |         sa.n_sh + sb.n_sh - i.inter AS uni
         |  FROM cand c
         |  JOIN inters i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN shsize sa ON sa.doc_id = c.doc_a
         |  JOIN shsize sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
         |FROM res WHERE CAST(inter AS DOUBLE) / uni >= 0.2
         |ORDER BY 1, 2""".stripMargin,

    "q_subword_tokens" ->
      """WITH words AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
        |), per_doc AS (
        |  SELECT doc_id, lang, CAST(sum((length(w) + 3) // 4) AS BIGINT) AS subwords
        |  FROM words GROUP BY doc_id, lang
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(subwords) AS BIGINT) AS total_subwords
        |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin
  )
}
