package graft.sources

import graft.pipeline.EncodeJob.BinManifest
import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{Deletes, EncodeJob, GraftPipeline, Maintenance, SparkTestBase, TokenRow, TokenTables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The one block-file writer ([[graft.pipeline.BlockParquet.stage]]) under
  * every engine writer: no writer publishes an empty or unclaimed block
  * file, the manifest's row count stays exact, and the manifest rows the
  * maintenance rewrites leave are exactly what the live blocks derive; a
  * manifest commit published late never outranks a later commit's rows.
  */
class BlockWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64)

  private def name(file: String): String = new Path(file).getName

  private def footerCount(file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getRecordCount
    finally r.close()
  }

  /** Every live file holds rows and is claimed by the manifest, whose row
    * count equals the decoded physical rows.
    */
  private def checkFiles(dir: String, step: String): Unit = {
    val live = Maintenance.liveBlockFiles(dir, conf).map(_._1)
    assert(live.nonEmpty, step)
    live.foreach(f => assert(footerCount(f) > 0L, s"$step: ${name(f)} holds no rows"))
    val ix = GraftScan.manifestIndex(dir, conf).get
    val unclaimed = live.map(name).filterNot(ix.fileBins.contains)
    assert(unclaimed.isEmpty, s"$step: unclaimed ${unclaimed.mkString(", ")}")
    val tables = spark.sparkContext.broadcast(EncodeJob.loadTables(spark, dir).get)
    val decoded = GraftPipeline.decode(EncodeJob.readBlocks(spark, dir), tables, cfg).count()
    assert(ix.numRows == decoded, s"$step: manifest numRows ${ix.numRows} != decoded $decoded")
  }

  test("no writer leaves an empty or unclaimed block file; manifest numRows stays exact") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 300L, seed = 43L).cache()
    val dir = Files.createTempDirectory("graft-writers").toString
    // hybrid-only blocks, so recompress has a smaller selection to commit
    val cfg0 = cfg.copy(autoSelect = false)
    EncodeJob.run(input, dir, cfg0, onlyBins = Some(Set(0, 1, 2)))
    EncodeJob.run(input, dir, cfg0)
    checkFiles(dir, "encode")

    // recompress before compact: its per-bin files must undercut the
    // encode's file count, not one merged file's footer overhead
    assert(Maintenance.recompress(spark, dir).isDefined)
    checkFiles(dir, "recompress")
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)
    checkFiles(dir, "compact")
    // 300 rows over 64 hash partitions: some stage partitions are empty
    assert(Maintenance.rebin(spark, dir, newNumBins = 64).isDefined)
    checkFiles(dir, "rebin")

    val doomed = input.limit(20).select($"doc_id").as[String]
    assert(Deletes.deleteDocs(spark, dir, doomed).isDefined)
    assert(Maintenance.purgeDeletes(spark, dir).isDefined)
    checkFiles(dir, "purge")

    val ups = input
      .orderBy($"doc_id".desc)
      .limit(5)
      .map(r => TokenRow(r.doc_id, r.tokens.map(t => (t * 3) & 0x7fff), r.n_tok, r.source))
    assert(Deletes.replaceDocs(spark, dir, ups).isDefined)
    checkFiles(dir, "replaceDocs")
  }

  /** Per bin, the winning manifest row. */
  private def latestRows(dir: String): Map[Int, BinManifest] = {
    import spark.implicits._
    spark.read
      .parquet(s"$dir/_manifest")
      .as[BinManifest]
      .collect()
      .groupBy(_.bin)
      .map { case (b, rows) => b -> rows.maxBy(r => Maintenance.manifestRank(r.snapshot_id)) }
  }

  /** Per bin of `bins`, the row the live blocks derive (appendManifest's
    * aggregation, computed on the driver), with the snapshot id zeroed: a
    * zero row when no live block holds the bin.
    */
  private def derivedRows(dir: String, bins: Set[Int]): Map[Int, BinManifest] = {
    import spark.implicits._
    val tableHash = EncodeJob.loadTables(spark, dir).get.tableHash
    val blocks = EncodeJob
      .readBlocks(spark, dir)
      .toDF()
      .select(
        $"bin", $"n_rows".cast("long"), $"n_values", (length($"payload") + $"meta_bytes").as("bytes"),
        $"payload_bits", $"table_hash", element_at(split(input_file_name(), "/"), -1)
      )
      .as[(Int, Long, Long, Long, Long, Long, String)]
      .collect()
    bins.iterator.map { b =>
      val in = blocks.filter(_._1 == b)
      b -> BinManifest(
        0L, b, in.length.toLong, in.map(_._2).sum, in.map(_._3).sum, in.map(_._4).sum, in.map(_._5).sum,
        in.headOption.fold(tableHash)(_._6), in.map(_._7).distinct.sorted.mkString(",")
      )
    }.toMap
  }

  /** Every manifested bin's winning row equals the live derivation (the
    * snapshot id aside); the bins in `epochBins` carry compaction `cid`'s
    * maintenance epoch id, keyed by the newest snapshot.
    */
  private def checkManifest(dir: String, step: String, cid: Long, epochBins: Set[Int]): Unit = {
    val latest = latestRows(dir)
    val want = derivedRows(dir, latest.keySet)
    latest.foreach { case (b, row) =>
      assert(row.copy(snapshot_id = 0L) == want(b), s"$step: bin $b")
    }
    val epochId = Maintenance.maintenanceManifestId(EncodeJob.nextSnapshotId(spark, dir)._2, cid)
    epochBins.foreach { b =>
      assert(latest(b).snapshot_id == epochId, s"$step: bin $b")
    }
  }

  test("after compact, purge and rebin the newest manifest rows equal the live blocks' derivation") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 400L, seed = 47L).cache()
    val dir = Files.createTempDirectory("graft-writers-manifest").toString
    EncodeJob.run(input, dir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input, dir, cfg)

    val c = Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).get
    checkManifest(dir, "compact", c.cid, (0 until cfg.numBins).toSet)

    // every doc of bin 3 plus a few others: the purge empties bin 3
    val binOf = GraftPipeline.binCol(cfg.numBins, cfg.salt)
    val doomed = input
      .where(binOf === 3 || substring($"doc_id", -1, 1) === "7")
      .select($"doc_id")
      .as[String]
    assert(Deletes.deleteDocs(spark, dir, doomed).isDefined)
    val p = Maintenance.purgeDeletes(spark, dir).get
    assert(latestRows(dir)(3).n_rows == 0L)
    checkManifest(dir, "purge", p.cid, Set(3))

    // shrinking rebin: old-layout bins 3..7 get zero rows
    val r = Maintenance.rebin(spark, dir, newNumBins = 3).get
    assert((3 until cfg.numBins).forall(b => latestRows(dir)(b).n_rows == 0L))
    checkManifest(dir, "rebin", r.cid, (0 until cfg.numBins).toSet)
  }

  test("a manifest commit that lands late never shadows a later commit's claims") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, 400L, seed = 53L).cache()
    val idx = expr("cast(substring(doc_id, -10, 10) as long)")
    val dir = Files.createTempDirectory("graft-writers-late").toString
    EncodeJob.run(input.where(idx < 300), dir, cfg, onlyBins = Some(Set(0, 1, 2, 3)))
    EncodeJob.run(input.where(idx < 300), dir, cfg)
    // maintenance rows in the manifest: the appends below follow a compaction
    assert(Maintenance.compact(spark, dir, Long.MaxValue / 2, Long.MaxValue / 2).isDefined)

    // append A holds bin 1; append B holds bins 1 and 2 in ONE file, which
    // stays claimed (by bin 2) even where bin 1's winning row omits it
    val binOf = GraftPipeline.binCol(cfg.numBins, cfg.salt)
    val extra = input.where(idx >= 300)
    val bin1 = extra.where(binOf === 1).orderBy($"doc_id").collect().toSeq
    assert(bin1.length > 2)
    val (a, b) = (bin1.take(2), bin1.drop(2) ++ extra.where(binOf === 2).collect())
    val fs = new Path(dir).getFileSystem(conf)
    val manifestDir = new Path(s"$dir/_manifest")
    def manifestFiles = fs.listStatus(manifestDir).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet

    // two appends racing: A commits its snapshot and derives its rows before
    // B's file lands, but A's manifest publish lands only after B's whole
    // commit — under the name that sorts first, whatever the tie rule
    val beforeA = manifestFiles
    a.toDS().coalesce(1).write.format("graft").mode("append").save(dir)
    val heldName = (manifestFiles -- beforeA).toSeq match { case Seq(n) => n }
    val held = new Path(dir, heldName)
    assert(fs.rename(new Path(manifestDir, heldName), held))
    b.toDS().coalesce(1).write.format("graft").mode("append").save(dir)
    assert(fs.rename(held, new Path(manifestDir, "manifest-00000000-0000-0000-0000-000000000000.parquet")))

    // a bin-1 point read returns both appends' rows
    val ids = bin1.map(_.doc_id)
    assert(spark.read.format("graft").load(dir).where($"doc_id".isin(ids: _*)).count() == ids.length)
    checkFiles(dir, "appends")
  }
}
