package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{Deletes, EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenRow, TokenTables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Row-level equality deletes ([[graft.pipeline.Deletes]]): merge-on-read
  * application in the DSv2 scan (readers stream the applicable delete
  * files), metadata aggregate gating, snapshot time travel, the physical
  * purge + retirement lifecycle, vacuum reclamation, lineage folding
  * through expiry, and the streaming read.
  */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)

  lazy val all = TokenTables.synthetic(spark, 640L, seed = 33L).cache()
  private def idx = expr("cast(substring(doc_id, -10, 10) as long)")
  lazy val doomed = all.where(idx % 5 === 2)
  lazy val kept = all.where(idx % 5 =!= 2)

  private def freshDeletedDir(tag: String): String = {
    import spark.implicits._
    val d = Files.createTempDirectory(s"graft-del-$tag").toString
    EncodeJob.run(all, d, cfg) // snapshot 0
    val res = Deletes.deleteDocs(spark, d, doomed.select($"doc_id").as[String]) // snapshot 1
    assert(res.exists(r => r.idsRecorded == doomed.count() && r.snapshotId == 1L))
    d
  }

  test("SQL DELETE FROM commits an equality delete; non-doc_id predicates are refused loudly") {
    import spark.implicits._
    // DELETE reaches the table through the catalog route (TableCatalog);
    // Spark's format.`path` file-resolution rule covers only v1 FileFormats
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("graft-del-sql").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    val victims = doomed.select($"doc_id").orderBy($"doc_id").limit(3).as[String].collect()

    // IN-list delete through the SQL surface (SupportsDelete on the table)
    spark.sql(
      s"DELETE FROM graft.`$dir` WHERE doc_id IN (${victims.map(v => s"'$v'").mkString(",")})"
    )
    // exactly one equality-delete snapshot committed, merge-on-read
    val recs = EncodeJob.loadSnapshotRecords(dir, conf)
    assert(recs.map(_.id) == Seq(0L, 1L))
    assert(recs(1).deletesAdded.map(_._2) == Seq(3L))
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all.where(!$"doc_id".isin(victims.toSeq: _*)), decoded) == 0L)

    // single-equality delete also works; deleting a gone id is a legal no-op commit
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id = '${victims.head}'")
    assert(spark.read.format("graft").load(dir).where($"doc_id" === victims.head).count() == 0L)

    // anything but doc_id =/IN must fail Spark's analysis loudly, not guess
    val e = intercept[Exception](spark.sql(s"DELETE FROM graft.`$dir` WHERE n_tok > 5"))
    assert(e.getMessage.toLowerCase.contains("delete"), e.getMessage)
    // unconditioned DELETE would be a truncate — refused the same way
    val e2 = intercept[Exception](spark.sql(s"DELETE FROM graft.`$dir`"))
    assert(e2.getMessage.toLowerCase.contains("delete") || e2.getMessage.toLowerCase.contains("truncate"), e2.getMessage)

    // a condition that folds to FALSE is a legal zero-row delete (no new
    // snapshot), not an unsupported predicate
    val snapsBefore = EncodeJob.loadSnapshotRecords(dir, conf).size
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id = 'x' AND 1 = 0")
    assert(EncodeJob.loadSnapshotRecords(dir, conf).size == snapsBefore)

    // TRUNCATE must refuse loudly — the inherited default would report
    // success while deleting nothing
    val t = intercept[Exception](spark.sql(s"TRUNCATE TABLE graft.`$dir`"))
    assert(t.getMessage.contains("TRUNCATE"), t.getMessage)

    // catalog reads: current state vs VERSION AS OF (snapshot pin via SQL)
    val total = all.count()
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").head().getLong(0) == total - 3)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 0").head().getLong(0) == total)

    // SQL INSERT through the same catalog route lands on the DSv2 writer
    spark.sql(
      s"INSERT INTO graft.`$dir` " +
        "SELECT 'sql-ins-1' AS doc_id, array(7, 11, 13) AS tokens, 3 AS n_tok, 'sqlins' AS source"
    )
    val ins = spark.read.format("graft").load(dir).where($"doc_id" === "sql-ins-1").as[TokenRow].head()
    assert(ins.tokens.toSeq == Seq(7, 11, 13) && ins.source == "sqlins")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").head().getLong(0) == total - 3 + 1)
  }

  test("merge-on-read: batch scan, point reads, and counts hide exactly the deleted docs") {
    import spark.implicits._
    val dir = freshDeletedDir("mor")

    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(kept, decoded) == 0L)

    // point read of a deleted doc: bins are planned, rows are hidden
    val dead = doomed.select($"doc_id").orderBy($"doc_id").head().getString(0)
    assert(spark.read.format("graft").load(dir).where($"doc_id" === dead).count() == 0L)
    val live = kept.select($"doc_id").orderBy($"doc_id").head().getString(0)
    val hit = spark.read.format("graft").load(dir).where($"doc_id" === live).as[TokenRow]
    assert(GraftPipeline.verify(kept.where($"doc_id" === live), hit) == 0L)

    // the metadata aggregate pushdown must disable itself: counts are the
    // FILTERED totals, and the plan carries a real Aggregate (not a pushed
    // one over block metadata)
    val agg = spark.read.format("graft").load(dir).agg(count(lit(1)), sum($"n_tok")).head()
    assert(agg.getLong(0) == kept.count())
    assert(agg.getLong(1) == kept.agg(sum($"n_tok")).head().getLong(0))
    val plan = spark.read.format("graft").load(dir).agg(count(lit(1))).queryExecution
      .executedPlan.toString
    assert(!plan.contains("pushedAggregates=["), s"aggregate was pushed under live deletes:\n$plan")

    // sequence scoping: a re-append AFTER the delete postdates it, so the
    // doc_id is visible again with the new row (Iceberg's equality-delete
    // rule — replace = delete + append)
    doomed.where($"doc_id" === dead).toDF().write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).where($"doc_id" === dead).count() == 1L)
  }

  test("five append→delete rounds: scans, point reads and snapshots match the model") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-rounds").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    val base = (0L until 640L).map(TokenTables.syntheticRow(33L, _))
    var model: Map[String, TokenRow] = base.map(r => r.doc_id -> r).toMap
    val models = scala.collection.mutable.LinkedHashMap[Long, Map[String, TokenRow]](0L -> model)
    var deleted = Vector.empty[String]
    var reappended = Vector.empty[String]
    def snapId: Long = EncodeJob.loadSnapshotRecords(dir, conf).map(_.id).max
    def check(ds: org.apache.spark.sql.Dataset[TokenRow], want: Iterable[TokenRow]): Unit =
      assert(GraftPipeline.verify(want.toSeq.toDS(), ds) == 0L)
    def scan = spark.read.format("graft").load(dir)

    var prevNew = Seq.empty[TokenRow]
    var prevBaseVictim: Option[TokenRow] = None
    for (k <- 1 to 5) {
      // append: fresh docs plus the previous round's deleted base doc with
      // new content — files committed this round see only deletes from
      // this round on, so each round adds a distinct applicable delete set
      val fresh = (0L until 12L).map { i =>
        val r = TokenTables.syntheticRow(100L + k, i)
        r.copy(doc_id = s"r$k-${r.doc_id}")
      }
      val back = prevBaseVictim.map(r => r.copy(tokens = r.tokens.map(t => (t * 7 + k) & 0x7fff))).toSeq
      (fresh ++ back).toDS().toDF().write.format("graft").mode("append").save(dir)
      model ++= (fresh ++ back).map(r => r.doc_id -> r)
      reappended ++= back.map(_.doc_id)
      models(snapId) = model

      // delete: two base docs, one doc appended last round, one appended now
      val baseVictims = Seq(base(k * 7), base(k * 7 + 300))
      val victims = (baseVictims ++ prevNew.take(1) :+ fresh.head).map(_.doc_id)
      Deletes.deleteDocs(spark, dir, victims.toDS())
      model --= victims
      deleted ++= victims
      models(snapId) = model
      prevNew = fresh
      prevBaseVictim = Some(baseVictims.head)

      check(scan.as[TokenRow], model.values)
      (deleted ++ reappended).distinct.foreach { id =>
        check(scan.where($"doc_id" === id).as[TokenRow], model.get(id))
      }
    }
    // the rounds left the table's partitions with ≥5 distinct applicable
    // delete-file lists (what the per-file reader cache must absorb)
    val gscan = new GraftTable(dir)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build()
      .asInstanceOf[GraftScan]
    val deleteFiles = gscan.createReaderFactory().asInstanceOf[GraftReaderFactory].deleteFiles
    val lists = gscan.planInputPartitions().map { p =>
      val snap = p.asInstanceOf[GraftInputPartition].fileCommitSnap
      deleteFiles.collect { case (f, s) if s > snap => f }.toSeq
    }
    assert(lists.distinct.length >= 5, lists.distinct.mkString("\n"))
    assert(models.size == 11)
    models.foreach { case (s, m) =>
      check(spark.read.format("graft").option("snapshot", s.toString).load(dir).as[TokenRow], m.values)
    }
  }

  test("time travel: deletes apply only at snapshots >= their commit; purge coarsens history") {
    import spark.implicits._
    val dir = freshDeletedDir("travel")

    // snapshot 0 predates the delete — the full corpus is visible
    val snap0 = spark.read.format("graft").option("snapshot", "0").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, snap0) == 0L)
    // snapshot 1 is the delete commit — filtered
    val snap1 = spark.read.format("graft").option("snapshot", "1").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(kept, snap1) == 0L)

    assert(Maintenance.purgeDeletes(spark, dir).exists(_.idsApplied == doomed.count()))
    // current read: unchanged
    assert(GraftPipeline.verify(kept, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    // pre-delete history is physically gone — loud failure, not silent rows
    val err = intercept[Exception] {
      spark.read.format("graft").option("snapshot", "0").load(dir).count()
    }
    assert(err.getMessage.contains("coarsened"), err.getMessage)
  }

  test("purge rewrites physically, retires the delete, vacuum reclaims, re-append resurrects") {
    import spark.implicits._
    val dir = freshDeletedDir("purge")
    val delName = Deletes.allDeletes(dir, conf).head.name

    val pr = Maintenance.purgeDeletes(spark, dir).get
    assert(pr.deleteFilesApplied == 1 && pr.idsApplied == doomed.count())
    assert(Maintenance.appliedDeleteNames(dir, conf) == Set(delName))
    assert(Deletes.liveDeletes(dir, conf, None).isEmpty)

    // decoded content is the filtered corpus, now with ZERO merge overhead
    assert(GraftPipeline.verify(kept, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)

    // metadata aggregate pushdown is legal again and counts the purged state
    val df = spark.read.format("graft").load(dir).agg(count(lit(1)))
    assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates=["))
    assert(df.head().getLong(0) == kept.count())

    // vacuum reclaims the tombstoned originals AND the retired delete file
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_deletes/$delName")))

    // purge-then-append: the doc_id is live again
    val doc = doomed.orderBy($"doc_id").limit(1)
    doc.toDF().write.format("graft").mode("append").save(dir)
    val id = doc.head().doc_id
    val back = spark.read.format("graft").load(dir).where($"doc_id" === id).as[TokenRow]
    assert(GraftPipeline.verify(doomed.where($"doc_id" === id), back) == 0L)
  }

  test("purging every doc of a bin leaves no live claim on it (numRows stays exact)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-empty").toString
    EncodeJob.run(all, dir, cfg)
    val binDocs = all
      .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
      .where($"bin" === 3)
      .select($"doc_id".as[String])
    val nBin = binDocs.count()
    assert(nBin > 0)
    assert(Deletes.deleteDocs(spark, dir, binDocs).isDefined)
    Maintenance.purgeDeletes(spark, dir)

    val survivors = all
      .withColumn("bin", GraftPipeline.binCol(cfg.numBins, cfg.salt))
      .where($"bin" =!= 3)
      .drop("bin")
      .as[TokenRow]
    assert(GraftPipeline.verify(survivors, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    // the purged files' rows stop counting: no live file claims the bin
    val ix = GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get
    assert(ix.numRows.contains(all.count() - nBin), s"manifest numRows ${ix.numRows}")
    assert(!ix.fileBins.valuesIterator.exists(_.contains(3)))
  }

  test("replaceDocs: atomic upsert — one snapshot, new content current, old content at earlier snapshots") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replace").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    val newRows = doomed
      .map(r => TokenRow(r.doc_id, r.tokens.map(t => (t * 3) & 0x7fff), r.n_tok, r.source))
    val res = Deletes.replaceDocs(spark, dir, newRows).get // snapshot 1
    assert(res.nDocs == doomed.count() && res.filesAdded.nonEmpty)

    // ONE snapshot carries both the delete and the new files
    val recs = EncodeJob.loadSnapshotRecords(dir, conf)
    assert(recs.map(_.id) == Seq(0L, 1L))
    assert(recs(1).filesAdded.nonEmpty && recs(1).deletesAdded.nonEmpty)

    // current read: originals for untouched docs, NEW content for replaced
    val want = kept.union(newRows)
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)

    // time travel to snapshot 0: the pre-replace originals
    val snap0 = spark.read.format("graft").option("snapshot", "0").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, snap0) == 0L)

    // purge materializes the delete (only pre-replace files rewritten; the
    // replace's own blocks are untouched), then compaction is legal again
    assert(Maintenance.purgeDeletes(spark, dir).exists(_.idsApplied == doomed.count()))
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    assert(
      Maintenance
        .compact(spark, dir, smallFileBytes = Long.MaxValue / 2, targetFileBytes = Long.MaxValue / 2)
        .isDefined
    )
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }

  test("replaceDocs into an embedded-table dir keeps its blocks self-describing") {
    import spark.implicits._
    val ecfg = cfg.copy(autoSelect = false, embedTables = true)
    val dir = Files.createTempDirectory("graft-replace-embed").toString
    EncodeJob.run(all, dir, ecfg) // snapshot 0
    // new content from the corpus's own token distribution, so the
    // replace's blocks can pick the hybrid codec
    val newRows = doomed.map(r => TokenRow(r.doc_id, r.tokens.reverse, r.n_tok, r.source))
    assert(Deletes.replaceDocs(spark, dir, newRows).isDefined) // snapshot 1
    assert(EncodeJob.readBlocks(spark, dir).where($"codec" === "hybrid" && !$"embedded_tables").isEmpty)
    // the purge drops the replaced originals physically (it leaves the
    // replace's own blocks as written); every block must then decode with
    // no external tables
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    val decoded = GraftPipeline.decodeSelfDescribing(EncodeJob.readBlocks(spark, dir), ecfg)
    assert(GraftPipeline.verify(kept.union(newRows), decoded) == 0L)
  }

  test("compact refuses while deletes are live (per-file scoping cannot survive a merge)") {
    val dir = freshDeletedDir("compactgate")
    val e = intercept[IllegalArgumentException] {
      Maintenance.compact(spark, dir, smallFileBytes = Long.MaxValue / 2, targetFileBytes = Long.MaxValue / 2)
    }
    assert(e.getMessage.contains("purge"), e.getMessage)
  }

  test("purging a delete of EVERY doc empties the table with counts and reads intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-all").toString
    EncodeJob.run(all, dir, cfg)
    assert(Deletes.deleteDocs(spark, dir, all.select($"doc_id".as[String])).isDefined)
    val pr = Maintenance.purgeDeletes(spark, dir).get
    assert(pr.idsApplied == all.count())

    // every live file was tombstoned; reads, counts, and the manifest index
    // must all see an EMPTY table, not crash on the empty live set
    assert(spark.read.format("graft").load(dir).count() == 0L)
    assert(GraftScan.manifestIndex(dir, conf, Maintenance.liveBlockFiles(dir, conf)).get.numRows.contains(0L))
    // a fresh append into the emptied table works (tables are still there)
    all.limit(3).toDF().write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 3L)
  }

  test("an orphan delete file (no lineage) is inert and vacuumed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-orphan").toString
    EncodeJob.run(all, dir, cfg)
    // a crashed deleteDocs: file renamed, snapshot never written
    val stray = doomed
      .limit(5)
      .select(GraftPipeline.binCol(cfg.numBins, cfg.salt).as("bin"), $"doc_id")
    val tmp = Files.createTempDirectory("graft-del-stray").toString
    stray.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .head
      .getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_deletes"))
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/_deletes/del-orphan.parquet")
    assert(fs.rename(part, orphan))

    // readers never apply it (not in any snapshot's deletes_added)
    assert(GraftPipeline.verify(all, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    // vacuum's strict-gated sweep reclaims it
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(!fs.exists(orphan))
  }

  test("an empty delete set commits nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-none").toString
    EncodeJob.run(all, dir, cfg)
    val before = EncodeJob.listSnapshotIds(dir, conf)
    assert(Deletes.deleteDocs(spark, dir, spark.emptyDataset[String]).isEmpty)
    assert(EncodeJob.listSnapshotIds(dir, conf) == before)
  }

  test("snapshot expiry folds delete lineage forward; vacuum keeps the folded file") {
    import spark.implicits._
    val dir = freshDeletedDir("expire")
    // snapshot 2: an unrelated append so the delete snapshot can expire
    val extra = TokenTables.synthetic(spark, 8L, seed = 77L)
      .withColumn("doc_id", concat(lit("x-"), $"doc_id"))
      .as[TokenRow]
    extra.toDF().write.format("graft").mode("append").save(dir)

    val r = Maintenance.expireSnapshots(spark, dir, keepLast = 1)
    assert(r.snapshotsExpired == Seq(0L, 1L))
    // the folded lineage still applies the delete
    assert(Deletes.allDeletes(dir, conf).size == 1)
    val want = kept.union(extra)
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    // vacuum must NOT reclaim a folded (still-live) delete file
    val delName = Deletes.allDeletes(dir, conf).head.name
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_deletes/$delName")))
  }

  test("plan audit: point read over a deleted dir keeps O(hit-bins) planning") {
    import spark.implicits._
    val dir = freshDeletedDir("plan")
    val id = kept.select($"doc_id").orderBy($"doc_id").head().getString(0)
    val builder = new GraftTable(dir).newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    )
    builder
      .asInstanceOf[GraftScanBuilder]
      .pushFilters(Array(org.apache.spark.sql.sources.EqualTo("doc_id", id)))
    val parts = builder.build().asInstanceOf[GraftScan].planInputPartitions()
    val total = GraftMeta.listBlockFiles(dir, conf).length
    assert(parts.length < total, s"deletes broke pruning: planned ${parts.length} of $total files")
  }

  test("expiry refuses to fold away delete/file ordering; purge-then-expire works") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-expire-order").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    // snapshot 1: appended docs (file lineage)
    val extra = TokenTables.synthetic(spark, 10L, seed = 91L)
      .withColumn("doc_id", concat(lit("y-"), $"doc_id"))
      .as[TokenRow]
      .cache()
    extra.toDF().write.format("graft").mode("append").save(dir)
    // snapshot 2: delete ONE appended doc — the delete postdates the file
    val dead = extra.select($"doc_id").orderBy($"doc_id").head().getString(0)
    assert(Deletes.deleteDocs(spark, dir, Seq(dead).toDS()).isDefined)
    assert(spark.read.format("graft").load(dir).where($"doc_id" === dead).count() == 0L)

    // folding snap 1 and snap 2 into one id would erase the ordering the
    // delete's scoping depends on — the deleted doc would resurrect
    val e = intercept[IllegalArgumentException](Maintenance.expireSnapshots(spark, dir, keepLast = 1))
    assert(e.getMessage.contains("purge"), e.getMessage)

    // purge retires the delete; expiry is then legal and the doc stays gone
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    assert(Maintenance.expireSnapshots(spark, dir, keepLast = 1).rebasedInto.isDefined)
    assert(spark.read.format("graft").load(dir).where($"doc_id" === dead).count() == 0L)
    val want = all.union(extra.where($"doc_id" =!= dead))
    assert(GraftPipeline.verify(want, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }

  test("a fresh stream over a deleted table emits only surviving docs") {
    import spark.implicits._
    val dir = freshDeletedDir("stream")
    val ckpt = Files.createTempDirectory("graft-del-ckpt").toString
    val q = spark.readStream
      .format("graft")
      .load(dir)
      .writeStream
      .format("memory")
      .queryName("graft_del_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_del_stream").count()
      assert(got == kept.count(), s"stream emitted $got rows, want ${kept.count()}")
    } finally q.stop()
  }

  test("streams across a replace snapshot: file deltas dodge their own delete, bin replays honor it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replace-stream").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    val newRows = doomed
      .withColumn("tokens", expr("transform(tokens, t -> cast(t + 1 as int))"))
      .withColumn("source", lit("recrawl"))
      .as[TokenRow]
    assert(Deletes.replaceDocs(spark, dir, newRows).isDefined) // snapshot 1

    // FRESH stream (full replay, one batch): the bin replay hides the old
    // content of the replaced docs (the delete applies — bootstrap bins
    // predate it) while the file-delta partitions carry the replace's own
    // commit snapshot, so the SAME delete must NOT hide the new content.
    def runStream(name: String): Long = {
      val ckpt = Files.createTempDirectory(s"graft-rep-ckpt-$name").toString
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try { q.processAllAvailable(); spark.table(name).count() }
      finally q.stop()
    }
    assert(runStream("graft_rep_fresh") == all.count())
    val fresh = spark.table("graft_rep_fresh")
    val want = kept.toDF().unionByName(newRows.toDF()).as[TokenRow]
    assert(GraftPipeline.verify(want, fresh.as[TokenRow]) == 0L)
    // specifically: every replaced doc streams with its NEW tokens/source
    assert(fresh.where($"source" === "recrawl").count() == doomed.count())

    // CATCH-UP stream bounded to one snapshot per batch: the delete was
    // already live at stream start, so EVERY batch applies it — batch 1
    // (snapshot 0 bin replay) emits only the kept originals, batch 2 (the
    // replace's file delta) exactly the new content. Stepped output must
    // equal the fresh full-replay stream, row for row.
    val ckpt2 = Files.createTempDirectory("graft-rep-ckpt-steps").toString
    val q2 = spark.readStream.format("graft").option("maxSnapshotsPerBatch", 1).load(dir)
      .writeStream.format("memory").queryName("graft_rep_steps")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      val steps = spark.table("graft_rep_steps")
      assert(steps.where($"source" === "recrawl").count() == doomed.count())
      assert(GraftPipeline.verify(want, steps.as[TokenRow]) == 0L)
    } finally q2.stop()
  }

  test("a large delete shards into bin-ranged parts under ONE snapshot; reads/purge unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-del-sharded").toString
    EncodeJob.run(all, dir, cfg) // snapshot 0
    // force the dedup-scale path: ~128 ids with a 40-id/file target
    val res = Deletes
      .deleteDocs(spark, dir, doomed.select($"doc_id").as[String], idsPerFile = 40L)
      .get
    assert(res.snapshotId == 1L)
    assert(res.idsRecorded == doomed.count())
    assert(res.fileNames.size >= 3, s"expected sharded delete files, got ${res.fileNames}")

    // ONE snapshot records every part with exact per-file counts
    val recs = EncodeJob.loadSnapshotRecords(dir, conf)
    assert(recs.map(_.id) == Seq(0L, 1L))
    assert(recs(1).deletesAdded.map(_._1).toSet == res.fileNames.toSet)
    assert(recs(1).deletesAdded.map(_._2).sum == res.idsRecorded)
    // every part is non-empty and bin-sorted on disk
    recs(1).deletesAdded.foreach { case (_, n) => assert(n > 0L) }
    res.fileNames.foreach { name =>
      val part = spark.read.parquet(s"$dir/_deletes/$name")
      val rows = part.select($"bin", $"doc_id").collect().map(r => (r.getInt(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)), s"$name not (bin, doc_id)-sorted")
    }

    // merge-on-read application is part-count-independent
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(kept, decoded) == 0L)

    // purge applies ALL parts physically and retires each
    val pr = Maintenance.purgeDeletes(spark, dir).get
    assert(pr.deleteFilesApplied == res.fileNames.size)
    assert(pr.idsApplied == res.idsRecorded)
    assert(GraftPipeline.verify(kept, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }
}
