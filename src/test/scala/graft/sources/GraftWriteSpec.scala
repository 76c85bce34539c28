package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenRow, TokenTables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The DSv2 WRITE surface: `df.write.format("graft").mode("append")` and the
  * streaming sink over an existing EncodeJob dir — append visibility, snapshot
  * file-lineage (time travel + streaming deltas), schema validation, epoch
  * idempotence, and the maintenance interplay (compaction coarsens history).
  */
class GraftWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)

  // one deterministic corpus split into the bootstrap set and the append set
  // (two synthetic() calls with different seeds could collide on doc_id)
  lazy val all = TokenTables.synthetic(spark, 640L, seed = 21L).cache()
  private def idx = expr("cast(substring(doc_id, -10, 10) as long)")
  lazy val base = all.where(idx < 500)
  lazy val extra = all.where(idx >= 500)

  /** A commit message for a staged file holding one row of bin 0. */
  private def message(name: String, nValues: Long): GraftCommitMessage =
    GraftCommitMessage(name, Array(EncodeJob.BinManifest(0, 1L, 1L, nValues, 0L, 0L, 0L, name)))

  private def freshEncodedDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-write-$tag").toString
    EncodeJob.run(base, d, cfg)
    d
  }

  test("batch append: union is exact, time travel reads the pre-append state") {
    import spark.implicits._
    val dir = freshEncodedDir("batch")
    // reordered columns: the builder resolves by NAME (ACCEPT_ANY_SCHEMA
    // skips Spark's check, so this is the builder's own resolution)
    extra.toDF().select($"source", $"doc_id", $"n_tok", $"tokens")
      .write.format("graft").mode("append").save(dir)

    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, decoded) == 0L)

    // snapshot 0 = the EncodeJob state; the appended files are excluded
    val snap0 = spark.read.format("graft").option("snapshot", "0").load(dir)
    assert(GraftPipeline.verify(base, snap0.as[TokenRow]) == 0L)

    // metadata aggregate counts the appended rows (and respects time travel)
    val agg = spark.read.format("graft").load(dir).agg(count(lit(1)), sum($"n_tok")).head()
    assert(agg.getLong(0) == all.count())
    assert(agg.getLong(1) == all.agg(sum($"n_tok")).head().getLong(0))
    val agg0 = snap0.agg(count(lit(1))).head()
    assert(agg0.getLong(0) == base.count())

    // point read of an appended doc goes through doc_id pushdown + bin claims
    val doc = extra.select($"doc_id").orderBy($"doc_id").head().getString(0)
    val hit = spark.read.format("graft").load(dir).where($"doc_id" === doc).as[TokenRow]
    assert(GraftPipeline.verify(extra.where($"doc_id" === doc), hit) == 0L)

    // the append's snapshot carries file-level lineage
    val recs = EncodeJob.loadSnapshotRecords(dir, spark.sparkContext.hadoopConfiguration)
    assert(recs.map(_.id) == Seq(0L, 1L))
    assert(recs(1).binsAdded.isEmpty && recs(1).filesAdded.nonEmpty)
  }

  test("incremental batch read: file deltas from an append, replace contributes new content") {
    import spark.implicits._
    val dir = freshEncodedDir("incr")
    extra.toDF().write.format("graft").mode("append").save(dir) // snapshot 1

    // (0, latest]: exactly the appended docs, via file-delta partitions
    val delta = spark.read.format("graft").option("fromSnapshot", 0).load(dir)
    assert(GraftPipeline.verify(extra.as[TokenRow], delta.as[TokenRow]) == 0L)

    // replace 3 existing docs (snapshot 2): the incremental range spanning
    // it emits their NEW content exactly once — the replace's own delete is
    // sequence-scoped past its own files, and hides the same ids in the
    // earlier append's files
    val victims = extra.orderBy($"doc_id").limit(3).as[TokenRow].collect()
    val replaced = victims.map(r =>
      r.copy(tokens = r.tokens.map(_ + 1), source = r.source))
    val res = graft.pipeline.Deletes.replaceDocs(
      spark, dir, spark.createDataset(replaced.toIndexedSeq))
    assert(res.nonEmpty)

    val delta2 = spark.read.format("graft").option("fromSnapshot", 1).load(dir)
    val got = delta2.as[TokenRow].collect().sortBy(_.doc_id)
    assert(got.map(_.doc_id).toSeq == replaced.map(_.doc_id).toSeq.sorted)
    got.zip(replaced.sortBy(_.doc_id)).foreach { case (g, w) =>
      assert(g.tokens.toSeq == w.tokens.toSeq, g.doc_id)
    }

    // the wider range (0, latest] emits the appended docs with the replaced
    // ones at their NEW content, none duplicated
    val wide = spark.read.format("graft").option("fromSnapshot", 0).load(dir).as[TokenRow]
    val wideRows = wide.collect()
    assert(wideRows.map(_.doc_id).distinct.length == wideRows.length, "duplicated doc_ids")
    val wantWide = (extra.as[TokenRow].collect().filterNot(r =>
      replaced.exists(_.doc_id == r.doc_id)) ++ replaced).sortBy(_.doc_id)
    assert(wideRows.sortBy(_.doc_id).map(_.doc_id).toSeq == wantWide.map(_.doc_id).toSeq)
    wideRows.sortBy(_.doc_id).zip(wantWide).foreach { case (g, w) =>
      assert(g.tokens.toSeq == w.tokens.toSeq, g.doc_id)
    }
  }

  test("append under memory pressure (tiny maxBufferedValues) stays lossless") {
    import spark.implicits._
    val dir = freshEncodedDir("smallbuf")
    extra.toDF().write.format("graft").mode("append")
      .option("maxBufferedValues", "2000") // forces flushLargestHalf constantly
      .save(dir)
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, decoded) == 0L)
  }

  test("snapshot id claim is exclusive: a taken id is skipped, never overwritten") {
    val scratch = Files.createTempDirectory("graft-cas").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    val taken = new org.apache.hadoop.fs.Path(s"$scratch/_snapshots/snap-7.json")
    fs.mkdirs(taken.getParent)
    val out = fs.create(taken, true)
    out.write("""{"snapshot_id":7}""".getBytes("UTF-8")); out.close()
    // a racing writer with a stale id source proposes the taken id first
    val ids = Iterator((7L, 6L), (8L, 7L))
    val (id, _) = EncodeJob.casWriteSnapshot(
      spark, scratch, () => ids.next(), (i, p) => s"""{"snapshot_id":$i,"parent_id":$p}""")
    assert(id == 8L)
    // the original claimant's content is untouched (posix rename would have replaced it)
    val in = fs.open(taken)
    assert(new String(in.readAllBytes(), "UTF-8").contains("\"snapshot_id\":7"))
    in.close()
    // a single-shot claim (precomputed-id callers) fails loudly on collision
    val ids2 = Iterator((8L, 7L))
    intercept[IllegalStateException] {
      EncodeJob.casWriteSnapshot(spark, scratch, () => ids2.next(), (_, _) => "{}", maxAttempts = 1)
    }
  }

  test("snapshot claim is kernel-arbitrated: N simultaneous claimants of ONE id, one winner") {
    // Hadoop's RawLocalFileSystem.create(overwrite=false) is exists-check
    // then FileOutputStream (check-THEN-act), so under it two racers could
    // both "win" and the second would truncate the first's committed
    // content. The local-FS claim is java.nio CREATE_NEW (O_EXCL); this
    // pins exactly-one-winner and that the winner's content survives.
    val scratch = Files.createTempDirectory("graft-cas-race").toString
    val n = 16
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { k =>
      val t = new Thread(() =>
        try {
          gate.await()
          EncodeJob.casWriteSnapshot(
            spark, scratch, () => (42L, 41L), (_, _) => s"""{"snapshot_id":42,"writer":$k}""",
            maxAttempts = 1)
          wins.incrementAndGet(): Unit
        } catch {
          case _: IllegalStateException => losses.incrementAndGet(): Unit
          case e: Throwable             => errs.add(e): Unit
        }
      )
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"unexpected claim failure: ${Option(errs.peek()).map(_.toString)}")
    assert(wins.get() == 1, s"exactly one claimant must win, got ${wins.get()}")
    assert(losses.get() == n - 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$scratch/_snapshots/snap-42.json"))
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(txt.contains("\"snapshot_id\":42") && txt.contains("\"writer\":"), txt)
  }

  test("two concurrent batch appends both commit, under distinct snapshot ids") {
    import spark.implicits._
    val dir = freshEncodedDir("race")
    val halves = Seq(extra.where(idx % 2 === 0), extra.where(idx % 2 === 1))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = halves.map { df =>
      val t = new Thread(() =>
        try { gate.await(); df.toDF().write.format("graft").mode("append").save(dir) }
        catch { case e: Throwable => errs.add(e): Unit }
      )
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join(600000))
    assert(errs.isEmpty, s"a concurrent append failed: ${Option(errs.peek()).map(_.toString)}")
    val recs = EncodeJob.loadSnapshotRecords(dir, spark.sparkContext.hadoopConfiguration)
    assert(recs.map(_.id) == Seq(0L, 1L, 2L), "both appends must commit under distinct ids")
    assert(recs(1).filesAdded.toSet.intersect(recs(2).filesAdded.toSet).isEmpty)
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, decoded) == 0L)
  }

  test("vacuum reclaims a dead zero-length snapshot claim after the grace window") {
    val dir = freshEncodedDir("deadclaim")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val dead = new org.apache.hadoop.fs.Path(s"$dir/_snapshots/snap-9.json")
    fs.create(dead, true).close() // claim with no content: a crashed writer
    Maintenance.vacuum(spark, dir, olderThanMs = 0L)
    assert(!fs.exists(dead), "out-of-grace dead claim must be reclaimed")
    fs.create(dead, true).close()
    Maintenance.vacuum(spark, dir, olderThanMs = 3600000L)
    assert(fs.exists(dead), "in-grace claim must be spared (its writer may be mid-commit)")
    fs.delete(dead, false)
  }

  test("append validation fails loudly before any task runs") {
    import spark.implicits._
    val dir = freshEncodedDir("valid")
    def msgOf(t: Throwable): String = {
      var cur = t; var m = Option(cur.getMessage).getOrElse("")
      while (cur.getCause != null) { cur = cur.getCause; m += " | " + Option(cur.getMessage).getOrElse("") }
      m
    }
    val missing = intercept[Exception] {
      extra.toDF().drop("source").write.format("graft").mode("append").save(dir)
    }
    assert(msgOf(missing).contains("missing required column `source`"))
    val badType = intercept[Exception] {
      extra.toDF().withColumn("n_tok", $"n_tok".cast("long"))
        .write.format("graft").mode("append").save(dir)
    }
    assert(msgOf(badType).contains("expected int"))
    val extraCol = intercept[Exception] {
      extra.toDF().withColumn("junk", lit(1)).write.format("graft").mode("append").save(dir)
    }
    assert(msgOf(extraCol).contains("unexpected columns junk"))
    // an EMPTY dir now bootstraps (see the bootstrap tests) — the refusal
    // case is a non-empty dir that is not a graft table
    val notEncoded = intercept[Exception] {
      val foreign = Files.createTempDirectory("graft-write-notdir").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(foreign, "data.bin"), Array[Byte](1))
      extra.toDF().write.format("graft").mode("append").save(foreign)
    }
    assert(msgOf(notEncoded).contains("foreign data"))
    // nothing above may have mutated the dir
    assert(GraftPipeline.verify(base, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }

  test("streaming read plans an append as its own file-level delta batch") {
    import spark.implicits._
    val dir = freshEncodedDir("stream-read")
    val ckpt = Files.createTempDirectory("graft-write-sr-ckpt").toString
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_append_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_append_stream").count() == base.count())

      extra.toDF().write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("graft_append_stream").count() == all.count())
      val distinct = spark
        .sql("SELECT count(DISTINCT doc_id) FROM graft_append_stream").head().getLong(0)
      assert(distinct == all.count()) // bin replay excluded the appended files
    } finally q.stop()

    // a FRESH stream spans both snapshots in one batch — still no duplicates
    val ckpt2 = Files.createTempDirectory("graft-write-sr-ckpt2").toString
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_append_stream2")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_append_stream2").count() == all.count())
      assert(spark.sql("SELECT count(DISTINCT doc_id) FROM graft_append_stream2")
        .head().getLong(0) == all.count())
    } finally q2.stop()
  }

  test("streaming write sink appends one snapshot per epoch, exactly-once") {
    import spark.implicits._
    val dir = freshEncodedDir("stream-write")
    val ckpt = Files.createTempDirectory("graft-write-sw-ckpt").toString
    val ex = extra.orderBy($"doc_id").collect()
    val (e1, e2) = ex.splitAt(ex.length / 2)

    val ms = MemoryStream[TokenRow](spark)
    val q = ms.toDS().writeStream.format("graft")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      ms.addData(e1.toIndexedSeq); q.processAllAvailable()
      ms.addData(e2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, decoded) == 0L)

    val recs = EncodeJob.loadSnapshotRecords(dir, spark.sparkContext.hadoopConfiguration)
    val appends = recs.filter(_.filesAdded.nonEmpty)
    assert(appends.size == 2)
    assert(appends.forall(r => r.writerId.isDefined && r.writerEpoch.isDefined))
    assert(appends.map(_.writerEpoch.get).distinct.size == 2)
  }

  test("a retried streaming epoch commit is a no-op (idempotent by writer/epoch)") {
    val conf = spark.sparkContext.hadoopConfiguration
    val scratch = Files.createTempDirectory("graft-write-idem").toString
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$scratch/blocks"))
    val staging = s"$scratch/_write_staging/q1"

    def stage(name: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, name), true)
      try out.write(Array[Byte](1, 2, 3))
      finally out.close()
    }
    def snapCount =
      EncodeJob.loadSnapshotRecords(scratch, conf).count(r => r.writerEpoch.contains(5L))
    def blockCount =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$scratch/blocks")).count(_.isFile)

    stage("w-q1-e5-p00000-t0.parquet")
    val msg = message("w-q1-e5-p00000-t0.parquet", nValues = 3L)
    GraftAppendCommit.commit(scratch, staging, Array(msg), "q1", Some(5L))
    assert(snapCount == 1 && blockCount == 1)

    // the retry: same (writer, epoch), freshly staged file — must clean and
    // return. Clear the driver cache so the no-op decision rides the
    // cold-start lineage scan (the cross-restart path), not warm memory.
    GraftAppendCommit.resetWriterCacheForTesting()
    stage("w-q1-e5-p00000-t1.parquet")
    val retry = message("w-q1-e5-p00000-t1.parquet", nValues = 3L)
    GraftAppendCommit.commit(scratch, staging, Array(retry), "q1", Some(5L))
    assert(snapCount == 1, "retried epoch must not commit a second snapshot")
    assert(blockCount == 1, "retried epoch must not publish its staged files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging, "w-q1-e5-p00000-t1.parquet")))
  }

  test("vacuum reclaims crashed append staging dirs, spares in-grace ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = freshEncodedDir("vacuum")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def mkStaging(q: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_write_staging/$q")
      fs.mkdirs(p)
      val out = fs.create(new org.apache.hadoop.fs.Path(p, "w-p00000-t0.parquet"), true)
      try out.write(Array[Byte](1))
      finally out.close()
      p
    }
    val dead = mkStaging("crashed-query")
    val live = mkStaging("live-query")
    fs.setTimes(dead, System.currentTimeMillis() - 120000L, -1)

    val res = Maintenance.vacuum(spark, dir, olderThanMs = 60000L)
    assert(res.dirsDeleted >= 1)
    assert(!fs.exists(dead), "crashed staging past the grace window must be reclaimed")
    assert(fs.exists(live), "a staging dir inside the grace window must survive")
    assert(GraftPipeline.verify(base, spark.read.format("graft").load(dir).as(
      org.apache.spark.sql.Encoders.product[TokenRow])) == 0L)
  }

  private def chain(t: Throwable): String = {
    var cur = t; var m = Option(cur.getMessage).getOrElse("")
    while (cur.getCause != null) { cur = cur.getCause; m += " | " + Option(cur.getMessage).getOrElse("") }
    m
  }

  test("compaction folds appended files: full replays stay exact, partial ones fail loudly") {
    import spark.implicits._
    val dir = freshEncodedDir("compact")

    // a stream that only saw the pre-append state, then stops (file sink:
    // the one that supports checkpoint recovery)
    val ckpt = Files.createTempDirectory("graft-write-cmp-ckpt").toString
    val sink = Files.createTempDirectory("graft-write-cmp-sink").toString
    def startStream() = spark.readStream.format("graft").load(dir)
      .select($"doc_id", $"n_tok")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q0 = startStream()
    try { q0.processAllAvailable() } finally q0.stop()
    assert(spark.read.parquet(sink).count() == base.count())

    extra.toDF().write.format("graft").mode("append").save(dir)
    val res = Maintenance.compact(spark, dir, smallFileBytes = Long.MaxValue)
    assert(res.nonEmpty, "everything qualified — compaction must run")

    // the current state survives the rewrite exactly
    val decoded = spark.read.format("graft").load(dir).as[TokenRow]
    assert(GraftPipeline.verify(all, decoded) == 0L)

    // file-granularity history is gone: as-of 0 cannot exclude the
    // appended rows any more, so it must refuse rather than lie
    val e = intercept[Exception] {
      spark.read.format("graft").option("snapshot", "0").load(dir).collect()
    }
    assert(chain(e).contains("compacted or vacuumed"))

    // the checkpointed stream resumes mid-history: its delta can neither
    // exclude nor reach the folded rows — loud refusal
    val q1 = startStream()
    val se = intercept[Exception] { try q1.processAllAvailable() finally q1.stop() }
    assert(chain(se).contains("compacted into rewritten files"))

    // a FRESH stream is a full replay — the folded rows ride the bin
    // replay, so it reads the exact post-compaction state
    val ckpt2 = Files.createTempDirectory("graft-write-cmp-ckpt2").toString
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_compacted_fresh")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.table("graft_compacted_fresh").count() == all.count())
    assert(spark.sql("SELECT count(DISTINCT doc_id) FROM graft_compacted_fresh")
      .head().getLong(0) == all.count())
  }

  test("vacuum reclaims orphaned append block files (publish-then-crash debris)") {
    import spark.implicits._
    val dir = freshEncodedDir("orphan")
    extra.toDF().write.format("graft").mode("append").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

    // simulate a crash between publish and snapshot: a REAL appended block
    // file, present in blocks/ but in no snapshot's files_added
    val committed = EncodeJob.loadSnapshotRecords(dir, conf).flatMap(_.filesAdded).head
    val orphanName = "w-deadbeef-dead-dead-dead-deaddeadbeef-p00000-t9.parquet"
    val src = new org.apache.hadoop.fs.Path(s"$dir/blocks", committed)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/blocks", orphanName)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, orphan, false, conf)
    fs.setTimes(orphan, System.currentTimeMillis() - 120000L, -1)
    // the committed file is aged past the cutoff too, so surviving the
    // sweep proves lineage membership (not just freshness)
    fs.setTimes(src, System.currentTimeMillis() - 120000L, -1)

    // the orphan double-counts until reclaimed (that's the bug being healed)
    assert(spark.read.format("graft").load(dir).count() > all.count())

    val res = Maintenance.vacuum(spark, dir, olderThanMs = 60000L)
    assert(res.dataFilesDeleted >= 1)
    assert(!fs.exists(orphan), "orphan append file must be reclaimed")
    assert(fs.exists(src), "committed append file must survive")
    assert(GraftPipeline.verify(all, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }

  test("writer/epoch idempotence survives snapshot expiry (marks on the rebased base)") {
    val conf = spark.sparkContext.hadoopConfiguration
    val scratch = Files.createTempDirectory("graft-write-expire").toString
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$scratch/blocks"))
    val staging = s"$scratch/_write_staging/q2"
    def stage(name: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, name), true)
      try out.write(Array[Byte](1))
      finally out.close()
    }
    def commitEpoch(e: Long): Unit = {
      val name = s"w-q2-e$e-p00000-t$e.parquet"
      stage(name)
      GraftAppendCommit.commit(
        scratch, staging, Array(message(name, nValues = 1L)), "writer-y", Some(e))
    }
    commitEpoch(5L) // snap 0
    commitEpoch(6L) // snap 1
    Maintenance.expireSnapshots(spark, scratch, keepLast = 1)
    val recs = EncodeJob.loadSnapshotRecords(scratch, conf)
    assert(recs.size == 1)
    assert(recs.head.writerMarks.contains(("writer-y", 5L)) || recs.head.writerEpoch.contains(6L))
    // epoch 5's snapshot is gone, but the retry must STILL be a no-op —
    // clear the driver cache so this exercises the cold-start lineage scan
    // (the restart path), where only the expiry-carried mark proves epoch 5
    GraftAppendCommit.resetWriterCacheForTesting()
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(s"$scratch/blocks")).length
    commitEpoch(5L)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(s"$scratch/blocks")).length
    assert(after == before, "retried epoch after expiry must not re-append")
    assert(EncodeJob.loadSnapshotRecords(scratch, conf).size == 1)
    // expiry also folded the expired snapshot's files into the base, so
    // vacuum cannot mistake the committed file for an orphan
    assert(EncodeJob.loadSnapshotRecords(scratch, conf).head.filesAdded
      .contains("w-q2-e5-p00000-t5.parquet"))
  }

  test("an id held by an interrupted rebase is never reallocated to a new append") {
    val conf = spark.sparkContext.hadoopConfiguration
    val scratch = Files.createTempDirectory("graft-write-reuse").toString
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$scratch/blocks"))
    def put(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$scratch/_snapshots", name), true)
      try out.write(content.getBytes("UTF-8"))
      finally out.close()
    }
    // crash window of expireSnapshots: snap-1 deleted, merged content only
    // in the tmp — snapshot id 1 is still TAKEN
    put("snap-0.json", """{"snapshot_id":0,"parent_id":-1,"bins_added":[0]}""")
    put(
      ".tmp-rebase-1.json",
      """{"snapshot_id":1,"parent_id":-1,"bins_added":[0],"files_added":["w-held.parquet"]}"""
    )
    val staging = s"$scratch/_write_staging/qx"
    val out = fs.create(new org.apache.hadoop.fs.Path(staging, "w-qx-p00000-t0.parquet"), true)
    try out.write(Array[Byte](1))
    finally out.close()
    GraftAppendCommit.commit(
      scratch, staging,
      Array(message("w-qx-p00000-t0.parquet", nValues = 1L)), "qx", None)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$scratch/_snapshots/snap-1.json")),
      "the new append must not claim the in-flight rebase's id")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$scratch/_snapshots/snap-2.json")))
    // completing the swap restores the original lineage entry intact
    Maintenance.repairRebase(fs, scratch)
    val rec1 = EncodeJob.loadSnapshotRecords(scratch, conf).find(_.id == 1L)
    assert(rec1.exists(_.filesAdded == Seq("w-held.parquet")))
  }

  test("cleanStaging epoch match survives an -e<digits>- group inside the query UUID") {
    val conf = spark.sparkContext.hadoopConfiguration
    val scratch = Files.createTempDirectory("graft-write-uuid").toString
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    // a legal UUID whose 2nd group is e427 — every staged name of this
    // query contains the literal "-e427-" independent of its epoch
    val qid = "1f3a0c2e-e427-4b9a-9c51-2d7f03b8a661"
    val staging = s"$scratch/_write_staging/$qid"
    def stage(name: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, name), true)
      try out.write(Array[Byte](1))
      finally out.close()
    }
    stage(s"w-$qid-e427-p00000-t1.parquet") // epoch 427, being cleaned
    stage(s"w-$qid-e428-p00000-t2.parquet") // next epoch, already staging
    GraftAppendCommit.cleanStaging(scratch, staging, Some(427L))
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(staging)).map(_.getPath.getName)
    assert(left.toSeq == Seq(s"w-$qid-e428-p00000-t2.parquet"),
      "cleaning epoch 427 must not touch epoch 428's in-flight staged file")
  }

  test("vacuum refuses the orphan sweep on unreadable lineage; repairs an interrupted rebase") {
    import spark.implicits._
    val dir = freshEncodedDir("strict")
    extra.toDF().write.format("graft").mode("append").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val committed = EncodeJob.loadSnapshotRecords(dir, conf).flatMap(_.filesAdded).head
    val committedPath = new org.apache.hadoop.fs.Path(s"$dir/blocks", committed)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/blocks", "w-feedface-p00000-t3.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, committedPath, fs, orphan, false, conf)
    fs.setTimes(orphan, System.currentTimeMillis() - 120000L, -1)
    // age the committed file PAST the grace cutoff too: its survival below
    // must be earned by lineage membership, not by being too fresh to sweep
    fs.setTimes(committedPath, System.currentTimeMillis() - 120000L, -1)

    // an unreadable snapshot hides its files_added — deleting "orphans"
    // off that partial view could reclaim committed data, so the sweep
    // must not run at all
    val corrupt = new org.apache.hadoop.fs.Path(s"$dir/_snapshots/snap-99.json")
    val out = fs.create(corrupt, true)
    try out.write("{not json".getBytes("UTF-8"))
    finally out.close()
    Maintenance.vacuum(spark, dir, olderThanMs = 60000L)
    assert(fs.exists(orphan), "sweep must be skipped while a snapshot is unreadable")
    fs.delete(corrupt, false)

    // a crash between expiry's delete-base and rename leaves the lineage
    // content only in .tmp-rebase-* — vacuum completes the swap before
    // trusting the lineage, so the sweep still runs and stays exact
    val snaps = EncodeJob.listSnapshotIds(dir, conf)
    val baseId = snaps.max
    val basePath = new org.apache.hadoop.fs.Path(s"$dir/_snapshots/snap-$baseId.json")
    val tmpPath = new org.apache.hadoop.fs.Path(s"$dir/_snapshots/.tmp-rebase-$baseId.json")
    require(fs.rename(basePath, tmpPath))
    val res = Maintenance.vacuum(spark, dir, olderThanMs = 60000L)
    assert(fs.exists(basePath), "interrupted rebase must be completed")
    assert(!fs.exists(tmpPath))
    assert(res.dataFilesDeleted >= 1 && !fs.exists(orphan), "sweep runs after repair")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/blocks", committed)))
    assert(GraftPipeline.verify(all, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
  }

  test("bootstrap: a write to a FRESH dir runs the two-pass encode, then appends work") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bootstrap").toString + "/t"
    // reordered columns: the bootstrap resolves by NAME like the append
    base.toDF().select($"source", $"doc_id", $"n_tok", $"tokens")
      .write.format("graft").option("numBins", 8).mode("append").save(dir)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_tables/meta.json")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_bootstrap_staging")),
      "staging must be cleaned after the encode")
    assert(GraftPipeline.verify(base, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)

    // the bootstrapped dir is a normal table: DSv2 append + time travel work
    extra.toDF().write.format("graft").mode("append").save(dir)
    assert(GraftPipeline.verify(all, spark.read.format("graft").load(dir).as[TokenRow]) == 0L)
    val snap0 = spark.read.format("graft").option("snapshot", "0").load(dir)
    assert(snap0.count() == base.count())
  }

  test("bootstrap refuses foreign non-empty dirs and zero-row input") {
    import spark.implicits._
    val foreign = Files.createTempDirectory("graft-foreign").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(foreign, "junk.txt"), "x".getBytes)
    val e = intercept[Exception] {
      base.limit(1).toDF().write.format("graft").mode("append").save(foreign)
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(messages(e).exists(_.contains("foreign data")), s"got: ${messages(e)}")

    val empty = Files.createTempDirectory("graft-emptyboot").toString + "/t"
    val e2 = intercept[Exception] {
      base.limit(0).toDF().write.format("graft").mode("append").save(empty)
    }
    assert(messages(e2).exists(_.contains("zero rows")), s"got: ${messages(e2)}")
    // a failed bootstrap leaves no table identity — the dir stays fresh
    val fs = new org.apache.hadoop.fs.Path(empty)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$empty/_tables/meta.json")))
  }
}
