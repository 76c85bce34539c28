package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{Deletes, EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenTables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** In-place bin-layout change ([[Maintenance.rebin]]): decoded content must
  * be bit-identical under the new routing, every read surface must key off
  * the NEW layout and the folded lineage from the marker commit onward (the
  * marker is the rebin's only commit), and pre-rebin history must refuse
  * loudly everywhere a bin-delta would be reinterpreted in the new bin
  * space.
  */
class RebinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)
  lazy val input = TokenTables.synthetic(spark, 600L, seed = 31L).cache()

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Two incremental commits → a dir with real multi-snapshot history. */
  private def encodedDir(): String = {
    val d = freshDir("graft-rebin")
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input, d, cfg)
    d
  }

  test("rebin grows the layout; scans, point reads and routing follow it") {
    import spark.implicits._
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val res = Maintenance.rebin(spark, d, newNumBins = 20, newSalt = Some(0xabcL))
    assert(res.isDefined)
    val r = res.get
    assert(r.numBinsBefore == 8 && r.numBinsAfter == 20)
    assert(r.baseSnapshot == 2L) // snapshots 0,1 existed → base = 2

    // full-scan parity: every row decodes identically under the new layout
    val decoded = spark.read.format("graft").load(d).as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)

    // layout truth flipped everywhere: meta loader, DSv2 _bin column
    import graft.core.MiniJson.ObjOps
    val meta = EncodeJob.loadMeta(spark, d).get
    assert(meta.long("num_bins") == 20L && meta.long("salt") == 0xabcL)
    val binRows = spark.read
      .format("graft")
      .load(d)
      .select($"doc_id", col("_bin"))
      .collect()
    assert(binRows.forall { row =>
      row.getInt(1) == GraftDataSource.binOf(row.getString(0), 20, 0xabcL)
    })

    // point read: planned from the post-rebin manifest claims, exact bins
    val someId = input.head().doc_id
    val bin = GraftDataSource.binOf(someId, 20, 0xabcL)
    val live = GraftMeta.listBlockFiles(d, conf)
    assert(live.forall(_._1.contains("/_compacted/")), "old files still live")
    val planned = GraftScan.planFiles(d, live, Some(Set(bin)), conf)
    assert(planned.nonEmpty && planned.forall(_._2.isDefined))
    val row = spark.read.format("graft").load(d).where($"doc_id" === someId).collect()
    assert(row.length == 1)

    // manifest numRows stays exact (the tombstoned old-layout files no longer count)
    val idx = GraftScan.manifestIndex(d, conf, Maintenance.liveBlockFiles(d, conf))
    assert(idx.isDefined && idx.get.numRows.contains(input.count()))
  }

  test("rebin folds history: old ids refuse, base replays the full corpus") {
    import spark.implicits._
    val d = encodedDir()
    val base = Maintenance.rebin(spark, d, newNumBins = 5).get.baseSnapshot

    // the folded base snapshot is the whole table
    val atBase =
      spark.read.format("graft").option("snapshot", base).load(d).count()
    assert(atBase == input.count())

    // pre-rebin ids refuse loudly (the guard names the rebin; the snapshot
    // files themselves are gone after the heal)
    val e1 = intercept[Exception] {
      spark.read.format("graft").option("snapshot", "0").load(d).count()
    }
    assert(e1.getMessage.contains("predates the rebin"))

    // incremental full replay works and equals the corpus; a pre-rebin
    // fromSnapshot refuses (id folded away)
    val replay = spark.read.format("graft").option("fromSnapshot", "-1").load(d).count()
    assert(replay == input.count())
    val e2 = intercept[Exception] {
      spark.read.format("graft").option("fromSnapshot", "0").load(d).count()
    }
    assert(e2.getMessage.contains("not found") || e2.getMessage.contains("rebin"))

    // appends after the rebin: snapshot travel to base excludes them,
    // current reads include them, routing uses the NEW layout
    val extra = TokenTables.synthetic(spark, 40L, seed = 99L)
      .withColumn("doc_id", concat(lit("re-"), $"doc_id"))
      .as[graft.pipeline.TokenRow]
    extra.toDF().write.format("graft").mode("append").save(d)
    val now = spark.read.format("graft").load(d).count()
    assert(now == input.count() + 40L)
    assert(
      spark.read.format("graft").option("snapshot", base).load(d).count() == input.count()
    )
    val appended = spark.read
      .format("graft")
      .load(d)
      .where($"doc_id".startsWith("re-"))
      .select($"doc_id", col("_bin"))
      .collect()
    assert(appended.length == 40)
    import graft.core.MiniJson.ObjOps
    val meta = EncodeJob.loadMeta(spark, d).get
    assert(appended.forall { row =>
      row.getInt(1) ==
        GraftDataSource.binOf(row.getString(0), meta.long("num_bins").toInt, meta.long("salt"))
    })
  }

  test("marker alone: reads verify, old ids refuse, replay reads each row once") {
    import spark.implicits._
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    val res = Maintenance.rebin(spark, d, newNumBins = 13).get
    // nothing ran after the marker: the pre-rebin snapshot files are still
    // on disk and meta.json keeps its bootstrap layout
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/_snapshots/snap-0.json")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d/_snapshots/snap-${res.baseSnapshot}.json")))

    val decoded = spark.read.format("graft").load(d).as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)
    val someId = input.head().doc_id
    assert(spark.read.format("graft").load(d).where($"doc_id" === someId).count() == 1L)

    val e1 = intercept[Exception] {
      spark.read.format("graft").option("snapshot", "0").load(d).count()
    }
    assert(e1.getMessage.contains("predates the rebin"))

    // the lineage is the base record alone; base and a full replay each
    // read every row once
    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(res.baseSnapshot))
    assert(EncodeJob.loadSnapshotRecords(d, conf).head.binsAdded == (0 until 13))
    val atBase = spark.read.format("graft").option("snapshot", res.baseSnapshot).load(d)
    assert(atBase.count() == input.count())
    val replay = spark.read.format("graft").option("fromSnapshot", "-1").load(d)
    assert(replay.count() == input.count())
    assert(replay.select($"doc_id").distinct().count() == input.count())
    val idx = GraftScan.manifestIndex(d, conf, Maintenance.liveBlockFiles(d, conf))
    assert(idx.isDefined && idx.get.numRows.contains(input.count()))

    // vacuum deletes the folded snapshot files as garbage; reads unchanged
    Maintenance.vacuum(spark, d, olderThanMs = 0L)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$d/_snapshots")).isEmpty)
    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(res.baseSnapshot))
    assert(
      spark.read.format("graft").option("fromSnapshot", "-1").load(d).count() == input.count()
    )
  }

  test("marker alone: appends, deletes and replaces commit above the base id") {
    import spark.implicits._
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val res = Maintenance.rebin(spark, d, newNumBins = 9).get
    val base = res.baseSnapshot

    // the base id is reserved although no snap-<base>.json exists
    assert(EncodeJob.nextSnapshotId(spark, d)._1 == base + 1)

    val extra = TokenTables.synthetic(spark, 10L, seed = 7L)
      .withColumn("doc_id", concat(lit("cw-"), $"doc_id"))
      .as[graft.pipeline.TokenRow]
    extra.toDF().write.format("graft").mode("append").save(d)
    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(base, base + 1))
    assert(spark.read.format("graft").load(d).count() == input.count() + 10)
    assert(
      spark.read.format("graft").option("fromSnapshot", "-1").load(d).count() ==
        input.count() + 10
    )

    val rows = input.take(4)
    val victim = rows.head.doc_id
    val del = Deletes.deleteDocs(spark, d, Seq(victim).toDS()).get
    assert(del.snapshotId == base + 2)
    val updated = rows.tail.map(_.copy(tokens = Array(1, 2), n_tok = 2))
    val rep = Deletes.replaceDocs(spark, d, updated.toSeq.toDS()).get
    assert(rep.snapshotId == base + 3)
    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(base, base + 1, base + 2, base + 3))
    val now = spark.read.format("graft").load(d)
    assert(now.count() == input.count() + 10 - 1)
    val replaced = now.where($"doc_id".isin(updated.map(_.doc_id): _*)).select($"n_tok").as[Int].collect()
    assert(replaced.toSeq == Seq(2, 2, 2))
    assert(spark.read.format("graft").option("snapshot", base).load(d).count() == input.count())
  }

  test("marker alone: adopt and EncodeJob.run read the rebinned layout") {
    val src = encodedDir()
    val dst = encodedDir()
    Maintenance.rebin(spark, src, newNumBins = 10, newSalt = Some(5L)).get
    val dstBase = Maintenance.rebin(spark, dst, newNumBins = 10, newSalt = Some(5L)).get.baseSnapshot
    val r = Maintenance.adopt(spark, src, dst).get
    assert(r.snapshotId == dstBase + 1)
    assert(spark.read.format("graft").load(dst).count() == 2 * input.count())
    // every bin is committed under the new layout, so a resume encodes none
    val ok = EncodeJob.run(input, src, cfg.copy(numBins = 10, salt = 5L))
    assert(ok.binsEncoded.isEmpty)
    assert(spark.read.format("graft").load(src).count() == input.count())
  }

  test("expireSnapshots(keepLast = 1) after a rebin and two appends leaves one lineage record") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val base = Maintenance.rebin(spark, d, newNumBins = 7).get.baseSnapshot
    Seq("a1-", "a2-").zipWithIndex.foreach { case (prefix, i) =>
      TokenTables.synthetic(spark, 20L, seed = 40L + i)
        .withColumn("doc_id", concat(lit(prefix), $"doc_id"))
        .write.format("graft").mode("append").save(d)
    }
    val total = input.count() + 40
    val exp = Maintenance.expireSnapshots(spark, d, keepLast = 1)
    assert(exp.snapshotsExpired == Seq(base, base + 1))
    val fold = base + 2
    assert(exp.rebasedInto.contains(fold))

    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(fold))
    assert(EncodeJob.loadSnapshotRecords(d, conf).map(_.id) == Seq(fold))
    val replay = spark.read.format("graft").option("fromSnapshot", "-1").load(d)
    assert(replay.count() == total)
    assert(replay.select($"doc_id").distinct().count() == total)
    val listed = spark.sql(s"CALL graft.system.snapshots(path => '$d')").collect().map(_.getLong(0))
    assert(listed.toSeq == Seq(fold))
  }

  test("a dir whose rebin was healed on disk (snap-<base>, rewritten meta.json) reads unchanged") {
    import spark.implicits._
    import graft.core.MiniJson
    import graft.core.MiniJson.ObjOps
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    val res = Maintenance.rebin(spark, d, newNumBins = 6, newSalt = Some(3L)).get
    val r = Maintenance.rebinState(d, conf).get
    // the heal an older engine ran after the marker: snap-<base> written
    // from the marker, the folded snapshots deleted, meta.json's layout
    // rewritten
    def write(path: String, text: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
      try out.write(text.getBytes("UTF-8"))
      finally out.close()
    }
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    write(
      s"$d/_snapshots/snap-${r.baseSnapshot}.json",
      s"""{"snapshot_id":${r.baseSnapshot},"parent_id":-1,"table_hash":${r.tableHash},""" +
        s""""num_bins":${r.numBins},"salt":${r.salt},"bins_added":${arr((0 until r.numBins).map(_.toString))},""" +
        s""""marked_writers":${arr(r.marks.map(m => MiniJson.render(MiniJson.JStr(m._1))))},""" +
        s""""marked_epochs":${arr(r.marks.map(_._2.toString))},""" +
        s""""deletes_added":${arr(r.deletes.map(x => MiniJson.render(MiniJson.JStr(x._1))))},""" +
        s""""deletes_counts":${arr(r.deletes.map(_._2.toString))},"rebased_from_rebin":${r.cid}}"""
    )
    (0L until r.baseSnapshot).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/_snapshots/snap-$id.json"), false)
    }
    val metaPath = s"$d/_tables/meta.json"
    val in = fs.open(new org.apache.hadoop.fs.Path(metaPath))
    val meta =
      try MiniJson.parseObject(new String(in.readAllBytes(), "UTF-8"), where = metaPath)
      finally in.close()
    write(
      metaPath,
      MiniJson.render(
        MiniJson.JObj(meta.v ++ Map("num_bins" -> MiniJson.JNum("6"), "salt" -> MiniJson.JNum("3")))
      )
    )

    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(res.baseSnapshot))
    assert(EncodeJob.loadMeta(spark, d).get.long("num_bins") == 6L)
    val decoded = spark.read.format("graft").load(d).as[graft.pipeline.TokenRow]
    assert(GraftPipeline.verify(input, decoded) == 0L)
    assert(
      spark.read.format("graft").option("snapshot", res.baseSnapshot).load(d).count() ==
        input.count()
    )
    assert(
      spark.read.format("graft").option("fromSnapshot", "-1").load(d).count() == input.count()
    )
    TokenTables.synthetic(spark, 5L, seed = 3L)
      .withColumn("doc_id", concat(lit("h-"), $"doc_id"))
      .write.format("graft").mode("append").save(d)
    assert(EncodeJob.listSnapshotIds(d, conf) == Seq(res.baseSnapshot, res.baseSnapshot + 1))
    assert(spark.read.format("graft").load(d).count() == input.count() + 5)
    Maintenance.vacuum(spark, d, olderThanMs = 0L)
    assert(spark.read.format("graft").load(d).count() == input.count() + 5)
  }

  test("rebin refuses under live deletes; retired delete names fold forward") {
    import spark.implicits._
    val d = encodedDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val victim = input.take(3).map(_.doc_id).toSeq
    Deletes.deleteDocs(spark, d, victim.toDS())
    val e = intercept[IllegalArgumentException] {
      Maintenance.rebin(spark, d, newNumBins = 16)
    }
    assert(e.getMessage.contains("purgeDeletes"))

    // purge retires the delete; rebin then folds the retired name forward so
    // vacuum keeps telling the delete file apart from orphan debris
    Maintenance.purgeDeletes(spark, d)
    val res = Maintenance.rebin(spark, d, newNumBins = 16)
    assert(res.isDefined)
    val recs = EncodeJob.loadSnapshotRecords(d, conf)
    assert(recs.map(_.id) == Seq(res.get.baseSnapshot))
    assert(recs.head.deletesAdded.map(_._1).nonEmpty)
    // and the deleted docs stay deleted through the redistribution
    val ids = spark.read.format("graft").load(d).select($"doc_id").as[String].collect().toSet
    assert(victim.forall(v => !ids.contains(v)))
    assert(ids.size == input.count() - victim.size)
  }

  test("a stream checkpointed before a rebin refuses at restart; a fresh one replays once") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-rebin-stream").toString
    EncodeJob.run(input, d, cfg, onlyBins = Some(Set(0, 1))) // snapshot 0
    val out = Files.createTempDirectory("graft-rebin-sink").toString
    val ckpt = Files.createTempDirectory("graft-rebin-ckpt").toString
    def start(cp: String) = spark.readStream
      .format("graft")
      .load(d)
      .select($"doc_id", $"n_tok")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .start()

    val q1 = start(ckpt)
    try q1.processAllAvailable()
    finally q1.stop()
    val first = spark.read.parquet(out).count()
    assert(first > 0 && first < input.count())

    EncodeJob.run(input, d, cfg) // snapshot 1: the rest
    val base = Maintenance.rebin(spark, d, newNumBins = 14).get.baseSnapshot
    assert(base == 2L)

    // the old checkpoint's offset (snapshot 0) predates the fold — the
    // restarted stream must fail loudly, never re-read bins reinterpreted
    // in the new layout
    val q2 = start(ckpt)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(60000L)
    }
    q2.stop()
    assert(
      err.getMessage.contains("rebin") || Option(err.getCause).exists(_.getMessage.contains("rebin")),
      s"unexpected stream failure: ${err.getMessage}"
    )

    // a FRESH checkpoint replays the folded corpus exactly once
    val out2 = Files.createTempDirectory("graft-rebin-sink2").toString
    val q3 = spark.readStream
      .format("graft")
      .load(d)
      .select($"doc_id", $"n_tok")
      .writeStream
      .format("parquet")
      .option("path", out2)
      .option("checkpointLocation", Files.createTempDirectory("graft-rebin-ckpt2").toString)
      .outputMode("append")
      .start()
    try q3.processAllAvailable()
    finally q3.stop()
    assert(spark.read.parquet(out2).count() == input.count())
    assert(
      spark.read.parquet(out2).select($"doc_id").distinct().count() == input.count()
    )
  }

  test("same-layout rebin is a no-op; later encodes resume under the new layout") {
    import spark.implicits._
    val d = encodedDir()
    assert(Maintenance.rebin(spark, d, newNumBins = cfg.numBins).isEmpty)

    val res = Maintenance.rebin(spark, d, newNumBins = 11)
    assert(res.isDefined)
    // resuming with the OLD layout fails loudly; the new layout no-ops
    // cleanly (all bins committed) and commits an empty follow-up snapshot
    val bad = intercept[IllegalArgumentException] {
      EncodeJob.run(input, d, cfg)
    }
    assert(bad.getMessage.contains("num_bins"))
    val ok = EncodeJob.run(input, d, cfg.copy(numBins = 11))
    assert(ok.binsEncoded.isEmpty || ok.binsEncoded.forall(_ < 11))
    assert(GraftPipeline.verify(input, spark.read.format("graft").load(d).as[graft.pipeline.TokenRow]) == 0L)
  }
}
