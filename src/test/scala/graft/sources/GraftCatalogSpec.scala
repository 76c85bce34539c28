package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenRow, TokenTables}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The SQL procedure surface: `CALL graft.system.<proc>(...)` must run the
  * same maintenance the programmatic API runs, return its result as a row,
  * and leave decoded content bit-identical.
  */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestBase.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 128, maxBlockValues = 32768)
  lazy val input = TokenTables.synthetic(spark, 600L, seed = 31L).cache()

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-catalog").toString
    // three incremental runs -> several small block files to maintain
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(3, 4, 5)))
    EncodeJob.run(input, d, cfg)
    d
  }

  private def lossless(dir: String): Unit = {
    import spark.implicits._
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)
  }

  test("CALL compact + vacuum: one rewritten file, dead inputs reclaimed, content intact") {
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Maintenance.liveBlockFiles(dir, conf).length
    assert(before >= 3)

    val row = spark
      .sql(s"CALL graft.system.compact(path => '$dir', small_file_bytes => ${Long.MaxValue / 2}, " +
        s"target_file_bytes => ${Long.MaxValue / 2})")
      .head()
    assert(row.getAs[Int]("files_removed") == before)
    assert(row.getAs[Int]("files_added") == 1)
    assert(row.getAs[Int]("bins_remapped") == cfg.numBins)
    lossless(dir)

    val vac = spark.sql(s"CALL graft.system.vacuum(path => '$dir')").head()
    assert(vac.getAs[Int]("data_files_deleted") == before)
    assert(Maintenance.liveBlockFiles(dir, conf).length == 1)
    lossless(dir)

    // second compact is a no-op below min_input_files: null id, zero counts
    val noop = spark.sql(s"CALL graft.system.compact(path => '$dir')").head()
    assert(noop.isNullAt(noop.fieldIndex("compaction_id")) && noop.getAs[Int]("files_removed") == 0)
  }

  test("CALL expire_snapshots + rewrite_manifests report the fold and consolidation") {
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(EncodeJob.listSnapshotIds(dir, conf) == Seq(0L, 1L, 2L))

    val exp = spark.sql(s"CALL graft.system.expire_snapshots(path => '$dir', keep_last => 1)").head()
    assert(exp.getAs[Int]("snapshots_expired") == 2)
    assert(exp.getAs[Long]("oldest_expired") == 0L)
    assert(exp.getAs[Long]("rebased_into") == 2L)
    assert(EncodeJob.listSnapshotIds(dir, conf) == Seq(2L))
    lossless(dir)

    val rw = spark.sql(s"CALL graft.system.rewrite_manifests(path => '$dir')").head()
    assert(rw.getAs[Int]("files_before") >= 3 && rw.getAs[Int]("files_after") == 1)
    assert(rw.getAs[Long]("bins") == cfg.numBins.toLong)
    lossless(dir)
  }

  test("CALL delete_docs + purge_deletes: SQL-only delete lifecycle, content filtered") {
    import spark.implicits._
    val dir = freshDir()
    val victims = input.limit(7).select($"doc_id").as[String].collect()
    val idsSql = victims.map(v => s"'$v'").mkString("array(", ", ", ")")

    val del = spark
      .sql(s"CALL graft.system.delete_docs(path => '$dir', doc_ids => $idsSql)")
      .head()
    assert(del.getAs[Long]("ids_recorded") == victims.length.toLong)
    val want = input.where(!$"doc_id".isin(victims.toSeq: _*))
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)

    val purge = spark.sql(s"CALL graft.system.purge_deletes(path => '$dir')").head()
    assert(purge.getAs[Long]("ids_applied") == victims.length.toLong)
    assert(purge.getAs[Int]("delete_files_applied") == 1)
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)

    // nothing left to purge: null compaction id
    val noop = spark.sql(s"CALL graft.system.purge_deletes(path => '$dir')").head()
    assert(noop.isNullAt(noop.fieldIndex("compaction_id")))
  }

  test("CALL rebin: SQL-only redistribution into a new layout, content intact") {
    import spark.implicits._
    val dir = freshDir()
    val row = spark
      .sql(s"CALL graft.system.rebin(path => '$dir', num_bins => 17, salt => 77)")
      .head()
    assert(row.getAs[Int]("num_bins_before") == cfg.numBins)
    assert(row.getAs[Int]("num_bins_after") == 17)
    assert(row.getAs[Long]("base_snapshot") == 3L) // snapshots 0..2 folded
    lossless(dir)
    // routing flipped: the _bin metadata column agrees with the new layout
    val bins = spark.read
      .format("graft")
      .load(dir)
      .select($"doc_id", org.apache.spark.sql.functions.col("_bin"))
      .collect()
    assert(bins.forall(r => r.getInt(1) == GraftDataSource.binOf(r.getString(0), 17, 77L)))
    // same-layout call is a reported no-op (null id)
    val noop = spark
      .sql(s"CALL graft.system.rebin(path => '$dir', num_bins => 17, salt => 77)")
      .head()
    assert(noop.isNullAt(noop.fieldIndex("compaction_id")))
  }

  test("CALL files lists live block files with claims and attribution") {
    import spark.implicits._
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = spark.sql(s"CALL graft.system.files(path => '$dir')").collect()
    val live = Maintenance.liveBlockFiles(dir, conf)
    assert(rows.length == live.length && rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("bytes")).sum == live.map(_._2).sum)
    // bootstrap files: no snapshot attribution, not compacted; data-bearing
    // files are claimed (zero-row shuffle part files legitimately are not —
    // the unclaimed-file report is one of the things this procedure is FOR)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("commit_snapshot"))))
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("bins_claimed")) && r.getAs[Int]("bins_claimed") > 0))
    assert(rows.forall(r => !r.getAs[Boolean]("compacted")))

    // an appended file shows its commit snapshot; a compacted one the flag
    input.limit(5)
      .withColumn("doc_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("f-"), $"doc_id"))
      .as[TokenRow].toDF()
      .write.format("graft").mode("append").save(dir)
    val rows2 = spark.sql(s"CALL graft.system.files(path => '$dir')").collect()
    assert(rows2.exists(r => !r.isNullAt(r.fieldIndex("commit_snapshot"))))
    spark.sql(s"CALL graft.system.compact(path => '$dir', small_file_bytes => ${Long.MaxValue / 2}, " +
      s"target_file_bytes => ${Long.MaxValue / 2})").collect()
    val rows3 = spark.sql(s"CALL graft.system.files(path => '$dir')").collect()
    assert(rows3.forall(_.getAs[Boolean]("compacted")))
    lossless0(dir, expectExtra = 5)
  }

  /** [[lossless]] tolerating `expectExtra` appended rows. */
  private def lossless0(dir: String, expectExtra: Long): Unit = {
    val n = spark.read.format("graft").load(dir).count()
    assert(n == input.count() + expectExtra)
  }

  test("CALL codec_stats reports the per-codec mix and totals reconcile") {
    import spark.implicits._
    val dir = freshDir()
    val rows = spark
      .sql(s"CALL graft.system.codec_stats(path => '$dir')")
      .collect()
    assert(rows.nonEmpty)
    val totalValues = rows.map(_.getAs[Long]("n_values")).sum
    val totalRows = rows.map(_.getAs[Long]("n_rows")).sum
    assert(totalValues == input.map(_.n_tok.toLong).reduce(_ + _))
    assert(totalRows == input.count())
    // ordered by payload share, bits_per_value consistent per row
    val bits = rows.map(_.getAs[Long]("payload_bits"))
    assert(bits.sameElements(bits.sorted.reverse))
    rows.foreach { r =>
      assert(math.abs(
        r.getAs[Double]("bits_per_value") -
          r.getAs[Long]("payload_bits").toDouble / r.getAs[Long]("n_values")) < 1e-9)
    }
  }

  test("CALL token_stats reports index coverage and flags unindexed files") {
    import spark.implicits._
    val dir = freshDir()
    // no index yet: every live file present, none indexed
    val before = spark.sql(s"CALL graft.system.token_stats(path => '$dir')").collect()
    assert(before.nonEmpty && before.forall(!_.getAs[Boolean]("indexed")))
    spark.sql(s"CALL graft.system.build_token_index(path => '$dir')").collect()
    val after = spark.sql(s"CALL graft.system.token_stats(path => '$dir')").collect()
    assert(after.length == before.length)
    assert(after.forall(_.getAs[Boolean]("indexed")), "all live files must be covered")
    input.toDF.createOrReplaceTempView("__cat_input")
    // corpus vocab range from the per-file summaries matches the data
    val lo = after.map(_.getAs[Int]("tok_min")).min
    val hi = after.map(_.getAs[Int]("tok_max")).max
    val (wantLo, wantHi) = {
      val m = spark
        .sql("SELECT min(array_min(tokens)), max(array_max(tokens)) FROM __cat_input")
        .head()
      (m.getInt(0), m.getInt(1))
    }
    assert(lo == wantLo && hi == wantHi, s"vocab range ($lo,$hi) != ($wantLo,$wantHi)")
  }

  test("CALL snapshots lists the lineage with per-snapshot deltas and commit clocks") {
    import spark.implicits._
    val dir = freshDir() // snapshots 0,1,2 (three incremental EncodeJob runs)
    val doomed = input.orderBy($"doc_id").limit(2).select($"doc_id").as[String]
    graft.pipeline.Deletes.deleteDocs(spark, dir, doomed): Unit // snapshot 3

    val rows = spark.sql(s"CALL graft.system.snapshots(path => '$dir')").collect()
    assert(rows.map(_.getAs[Long]("snapshot_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("parent_id")).toSeq == Seq(-1L, 0L, 1L, 2L))
    // the three EncodeJob runs cover all 8 bins between them; the delete adds none
    assert(rows.map(_.getAs[Int]("n_bins_added")).sum == cfg.numBins)
    assert(rows.last.getAs[Int]("n_bins_added") == 0)
    assert(rows.last.getAs[Int]("n_delete_files") == 1)
    assert(rows.last.getAs[Long]("n_ids_deleted") == 2L)
    // commit clocks: present and monotone non-decreasing (same mtimes
    // TIMESTAMP AS OF resolves against)
    val ts = rows.map(_.getAs[Long]("committed_at_ms"))
    assert(ts.forall(_ > 0L))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("CALL build_token_index: SQL-only index build drives containsToken skipping") {
    import spark.implicits._
    val dir = freshDir()
    val row = spark.sql(s"CALL graft.system.build_token_index(path => '$dir')").head()
    assert(row.getAs[Int]("files_indexed") > 0)
    assert(row.getAs[Long]("blocks_indexed") > 0L)
    assert(row.getAs[Long]("index_bytes") > 0L)
    // incremental: a second call covers nothing new
    val again = spark.sql(s"CALL graft.system.build_token_index(path => '$dir')").head()
    assert(again.getAs[Int]("files_indexed") == 0)
    assert(again.getAs[Int]("files_skipped") == row.getAs[Int]("files_indexed"))
    // the indexed dir answers a needle search exactly (vs the raw input)
    val needle = input.head().tokens.head
    val got = spark.read
      .format("graft")
      .option("containsToken", needle)
      .load(dir)
      .select("doc_id")
      .as[String]
      .collect()
      .toSet
    val want = input.filter(_.tokens.contains(needle)).map(_.doc_id).collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("listProcedures enumerates the system namespace (no SHOW PROCEDURES in this Spark)") {
    spark.sql("SELECT 1").collect() // force catalog registration path
    val cat = spark.sessionState.catalogManager
      .catalog("graft")
      .asInstanceOf[GraftCatalog]
    assert(cat.listProcedures(Array("system")).map(_.name()).sorted.toSeq ==
      Seq("adopt", "attach_column", "audit", "build_content_index", "build_sig_index",
        "build_token_index", "codec_stats", "columns", "compact", "create_tag",
        "decontaminate", "dedup_exact", "dedup_near", "delete_docs", "drop_tag",
        "expire_snapshots", "files", "filter_nll",
        "pack", "purge_deletes", "rebin", "recompress", "replace_docs",
        "rewrite_manifests", "snapshots", "tags", "token_stats", "vacuum"))
    assert(cat.listProcedures(Array("nope")).isEmpty)
  }

  test("unknown procedure and bad namespace fail with a named error") {
    val e = intercept[Exception](spark.sql("CALL graft.system.frobnicate(path => '/x')").collect())
    assert(e.getMessage.contains("frobnicate"))
    // Spark wraps the catalog's IllegalArgumentException into its generic
    // FAILED_TO_LOAD_ROUTINE error naming the full routine path
    val ns = intercept[Exception](spark.sql("CALL graft.other.compact(path => '/x')").collect())
    assert(ns.getMessage.contains("`graft`.`other`.`compact`"))
  }

  test("TableCatalog: path identifiers resolve encode dirs; SELECT + VERSION AS OF; DDL refused") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    // catalog-route read equals the format-route read
    val viaCatalog = spark.sql(s"SELECT count(*) n, sum(n_tok) t FROM graft.`$dir`").head()
    val viaFormat = spark.read.format("graft").load(dir)
      .agg(count(lit(1)), sum(col("n_tok"))).head()
    assert(viaCatalog.getLong(0) == viaFormat.getLong(0))
    assert(viaCatalog.getLong(1) == viaFormat.getLong(1))

    // VERSION AS OF pins the scan to a lineage snapshot (bins 0-2 only)
    val asOf0 = spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 0").head().getLong(0)
    val opt0 = spark.read.format("graft").option("snapshot", 0).load(dir).count()
    assert(asOf0 == opt0 && asOf0 < viaCatalog.getLong(0))

    // existence checks: a non-encode dir is NOT a table
    val cat = spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    assert(cat.tableExists(Identifier.of(Array.empty, dir)))
    assert(!cat.tableExists(Identifier.of(Array.empty, "/tmp")))
    // a non-encode dir: the catalog reports NoSuchTable, after which Spark
    // retries the identifier as direct-file SQL (graft is ALSO a
    // DataSourceRegister name) and fails there — either way, loudly
    val missing = intercept[Exception](
      spark.sql("SELECT * FROM graft.`/tmp/definitely-not-a-graft-dir`").collect()
    )
    val msg = missing.getMessage.toLowerCase
    assert(msg.contains("table") || msg.contains("direct query"), missing.getMessage)

    // DDL is not this catalog's job
    intercept[UnsupportedOperationException](
      cat.renameTable(Identifier.of(Array.empty, dir), Identifier.of(Array.empty, "/tmp/x"))
    )
    assert(!cat.dropTable(Identifier.of(Array.empty, dir)))

    // DESCRIBE TABLE EXTENDED surfaces the dir's layout properties
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED graft.`$dir`")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("num_bins") && desc.contains(cfg.numBins.toString), desc)
    lossless(dir) // nothing above mutated the dir
  }

  test("CALL replace_docs: SQL-only atomic upsert from a named view") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = freshDir()
    val updates = input
      .where(expr("cast(substring(doc_id, -10, 10) as long)") % 11 === 3)
      .withColumn("tokens", expr("transform(tokens, t -> cast(t + 5 as int))"))
      .withColumn("source", lit("sql-upsert"))
    assert(updates.count() > 0)
    updates.createOrReplaceTempView("graft_upserts")

    val row = spark
      .sql(s"CALL graft.system.replace_docs(path => '$dir', source_view => 'graft_upserts')")
      .head()
    assert(row.getLong(row.fieldIndex("n_docs")) == updates.count())
    assert(!row.isNullAt(row.fieldIndex("snapshot_id")))

    val want = input
      .where(expr("cast(substring(doc_id, -10, 10) as long)") % 11 =!= 3)
      .toDF()
      .unionByName(updates.toDF())
      .as[TokenRow]
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(want, decoded) == 0L)
    assert(decoded.toDF().where($"source" === "sql-upsert").count() == updates.count())
  }

  test("CALL pack: SQL-only epoch prep — packed examples land as a fresh graft corpus") {
    import spark.implicits._
    val dir = freshDir()
    val out = Files.createTempDirectory("graft-catalog-pack").toString
    val row = spark
      .sql(s"CALL graft.system.pack(path => '$dir', out => '$out', seq_len => 32, " +
        "sep_token => 0, order_seed => 5)")
      .head()
    val nEx = row.getAs[Long]("n_examples")
    assert(nEx > 0 && row.getAs[Long]("n_tokens") == nEx * 32)

    // the written corpus decodes to exactly the packer's output in the
    // seeded epoch order (recompute the reference through the Scala face)
    val (want, release) = graft.ops.Packing.packSequencesWithHandle(
      spark.read.format("graft").load(dir).select($"doc_id", $"tokens"),
      seqLen = 32, sepToken = Some(0), orderSeed = Some(5L))
    val expected = want.collect()
      .map(r => f"ex-${r.getLong(0)}%012d" -> r.getSeq[Int](1)).toMap
    release()
    val got = spark.read.format("graft").load(out)
      .select($"doc_id", $"tokens", $"n_tok", $"source").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
    assert(got.length.toLong == nEx && expected.size.toLong == nEx)
    got.foreach { case (id, toks, n, src) =>
      assert(n == 32 && src == "packed", id)
      assert(expected(id) == toks, s"example $id content drifted")
    }

    // guards: refuse self-pack and a non-empty output dir
    val e1 = intercept[Exception] {
      spark.sql(s"CALL graft.system.pack(path => '$dir', out => '$dir')").head()
    }
    assert(e1.getMessage.contains("over itself"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.pack(path => '$dir', out => '$out')").head()
    }
    assert(e2.getMessage.contains("not empty"), e2.getMessage)
  }

  test("CALL adopt: zero-recode merge of a same-layout dir through SQL") {
    val dst = freshDir()
    val src = freshDir() // same input + cfg -> identical tables/layout
    val srcFiles = Maintenance
      .liveBlockFiles(src, spark.sparkContext.hadoopConfiguration)
      .length
    val row = spark
      .sql(s"CALL graft.system.adopt(path => '$dst', source => '$src')")
      .head()
    assert(!row.isNullAt(0)) // snapshot committed
    assert(row.getInt(1) == srcFiles)
    assert(row.getLong(3) == 600L)
    assert(spark.read.format("graft").load(dst).count() == 1200L)
    // the adopted union still decodes losslessly: distinct rows = the corpus
    import spark.implicits._
    val distinctRows = spark.read
      .format("graft")
      .load(dst)
      .select("doc_id", "tokens", "n_tok", "source")
      .distinct()
      .as[TokenRow]
    assert(GraftPipeline.verify(input, distinctRows) == 0L)
  }

  test("graft_bin SQL function matches the writer's routing and the _bin metadata column") {
    val dir = freshDir()
    // every row: the catalog function recomputes the bin the writer chose
    val mismatches = spark.sql(
      s"""SELECT count(*) FROM (
         |  SELECT _bin, graft.system.graft_bin(doc_id, ${cfg.numBins}, ${cfg.salt}L) AS b
         |  FROM graft.`$dir`
         |) WHERE _bin <> b""".stripMargin
    ).head().getLong(0)
    assert(mismatches == 0L)
    // scalar form + listing
    assert(spark.sql(s"SELECT graft.system.graft_bin('doc-x', 8, ${cfg.salt}L)").head().getInt(0)
      == GraftDataSource.binOf("doc-x", 8, cfg.salt))
    val fns = spark.sql("SHOW FUNCTIONS IN graft.system").collect().map(_.getString(0))
    assert(fns.exists(_.endsWith("graft_bin")), fns.mkString(","))
  }

  test("catalog-route SQL keeps ScanBuilder pushdown: point read decodes only the hit row") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = freshDir()
    val someId = input.head().doc_id
    val nTok = input.head().n_tok
    // the SQL identifier resolves through GraftCatalog.loadTable — the
    // resulting relation must get the SAME doc_id pushdown the
    // format-route DataFrame read gets (a catalog that dropped the
    // ScanBuilder options/filters would full-scan silently)
    val df = spark.sql(s"SELECT doc_id, n_tok, tokens FROM graft.`$dir` WHERE doc_id = '$someId'")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getString(0) == someId)

    def findScan(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec                                  => findScan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScan(q.plan)
      case b: BatchScanExec                                          => Seq(b)
      case other                                                     => other.children.flatMap(findScan)
    }
    val scan = findScan(df.queryExecution.executedPlan).headOption
      .getOrElse(fail(s"no BatchScanExec in:\n${df.queryExecution.executedPlan}"))
    val decoded = scan.metrics.collectFirst {
      case (k, m) if k == GraftMetrics.TokenValuesDecoded => m.value
    }.getOrElse(fail(s"metric absent; have ${scan.metrics.keys.mkString(",")}"))
    // only the hit row's values decoded — the filter reached the readers
    assert(decoded == nTok.toLong, s"decoded $decoded values for one $nTok-token doc")
  }

  test("catalog-route INSERT INTO clusters the append by bin: disjoint file claims") {
    import spark.implicits._
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    input.createOrReplaceTempView("cat_append_src")
    // re-keyed ids (no collision with the base corpus), all 8 bins covered
    spark.sql(
      s"INSERT INTO graft.`$dir` SELECT concat(doc_id, '-a') AS doc_id, tokens, n_tok, source " +
        "FROM cat_append_src"
    )

    val recs = EncodeJob.loadSnapshotRecords(dir, conf)
    val appended = recs.last.filesAdded
    assert(recs.last.binsAdded.isEmpty && appended.nonEmpty)
    // the clustered write puts WHOLE bins in each task: no bin is split
    // across appended files, so a point read opens exactly one of them —
    // the property that dies when task-shaped appends claim every bin
    val claims = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get.fileBins
    val perFile = appended.map(f => claims(f).toSet)
    val all = perFile.flatten
    assert(all.size == all.toSet.size, s"a bin is split across appended files: $perFile")
    assert(all.toSet == (0 until cfg.numBins).toSet, s"bins covered: ${all.toSet}")

    // content is exact through the read path
    val n = spark.sql(s"SELECT count(*) FROM graft.`$dir`").head().getLong(0)
    assert(n == input.count() * 2)
    val hit = spark.sql(
      s"SELECT n_tok FROM graft.`$dir` WHERE doc_id = concat('${input.head().doc_id}', '-a')"
    )
    assert(hit.head().getInt(0) == input.head().n_tok)
  }

  test("TIMESTAMP AS OF resolves the snapshot live at that wall-clock instant") {
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val times = EncodeJob.listSnapshotTimes(dir, conf)
    assert(times.map(_._1) == Seq(0L, 1L, 2L))
    // each encode run spans well over a millisecond, so commit times are
    // strictly increasing and the boundaries below are unambiguous
    assert(times(0)._2 < times(1)._2 && times(1)._2 < times(2)._2, times.toString)
    def cnt(q: String): Long = spark.sql(q).head().getLong(0)
    // a STRING timestamp literal (session tz is UTC here): an expression
    // like timestamp_millis(...) resolves too late — ResolveSQLOnFile
    // claims the still-unresolved relation first and fails the analysis
    def tsLit(ms: Long): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))

    val want0 = cnt(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 0")
    val between01 = times(1)._2 - 1 // strictly before snapshot 1's commit
    assert(
      cnt(s"SELECT count(*) FROM graft.`$dir` TIMESTAMP AS OF '${tsLit(between01)}'")
        == want0
    )
    // at (or after) the last commit: the full corpus
    assert(
      cnt(s"SELECT count(*) FROM graft.`$dir` TIMESTAMP AS OF '${tsLit(times(2)._2)}'")
        == input.count()
    )
    // before the first commit: a loud, named error
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val early = intercept[Throwable](
      cnt(s"SELECT count(*) FROM graft.`$dir` TIMESTAMP AS OF '${tsLit(times(0)._2 - 60000)}'")
    )
    assert(messages(early).contains("no snapshot committed"), messages(early))

    // the DataFrame option face resolves identically...
    assert(
      spark.read.format("graft").option("timestampAsOf", between01.toString).load(dir).count()
        == want0
    )
    // ...and refuses an ambiguous double pin
    val both = intercept[Throwable](
      spark.read
        .format("graft")
        .option("timestampAsOf", times(2)._2.toString)
        .option("snapshot", "0")
        .load(dir)
        .count()
    )
    assert(messages(both).contains("mutually exclusive"), messages(both))
  }

  test("CTAS: CREATE TABLE graft.`dir` AS SELECT bootstraps a queryable corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = freshDir()
    val out = Files.createTempDirectory("graft-ctas").toString + "/t"

    // a corpus created PURELY through SQL: decode source dir -> CTAS target
    spark.sql(
      s"CREATE TABLE graft.`$out` AS SELECT doc_id, tokens, n_tok, source FROM graft.`$src`"
    )

    // the created table answers through the catalog AND the format route
    val got = spark.sql(s"SELECT count(*) n, sum(n_tok) t FROM graft.`$out`").head()
    val want = spark.read.format("graft").load(src)
      .agg(count(lit(1)), sum(col("n_tok"))).head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1))
    assert(GraftPipeline.verify(input, spark.read.format("graft").load(out).as[TokenRow]) == 0L)

    // fully operational: INSERT INTO appends, the pending marker is gone
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_BOOTSTRAP_PENDING")))
    spark.sql(
      s"INSERT INTO graft.`$out` SELECT 'ctas-extra-1' doc_id, array(1,2,3) tokens, " +
        "3 n_tok, 'ctas' source"
    )
    assert(
      spark.sql(s"SELECT count(*) FROM graft.`$out`").head().getLong(0) == want.getLong(0) + 1
    )

    // CTAS over an existing table refuses; over a non-empty foreign dir refuses
    val exists = intercept[Exception](
      spark.sql(s"CREATE TABLE graft.`$out` AS SELECT * FROM graft.`$src`")
    )
    assert(exists.getMessage.toLowerCase.contains("already exists"), exists.getMessage)
    val foreign = Files.createTempDirectory("graft-ctas-foreign").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(foreign, "junk.txt"), "x".getBytes)
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE graft.`$foreign` AS SELECT * FROM graft.`$src`")
    )
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("foreign data"), messages(e))

    // a FAILED CTAS cleans up: zero-row query -> commit refuses -> Spark
    // drops the pending dir (marker-gated; real corpora are never droppable)
    val failed = Files.createTempDirectory("graft-ctas-fail").toString + "/t"
    val e2 = intercept[Exception](
      spark.sql(
        s"CREATE TABLE graft.`$failed` AS SELECT * FROM graft.`$src` WHERE n_tok < 0"
      )
    )
    assert(messages(e2).contains("zero rows"), messages(e2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(failed)), "failed CTAS must drop the pending dir")
  }
}
