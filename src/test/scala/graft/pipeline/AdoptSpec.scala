package graft.pipeline

import graft.pipeline.GraftPipeline.Config
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[Maintenance.adopt]] — the zero-recode merge of two same-layout encode
  * dirs. The merge must be pure metadata + byte movement: counts add, every
  * reader sees the union, pre-adopt time travel excludes the adopted files,
  * and any layout/table/delete mismatch refuses before a byte moves.
  */
class AdoptSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 128, maxBlockValues = 32768)
  lazy val input = TokenTables.synthetic(spark, 600L, seed = 11L).cache()

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def encode(prefix: String): String = {
    val dir = freshDir(prefix)
    EncodeJob.run(input, dir, cfg)
    dir
  }

  test("adopt merges a same-layout dir: counts add, union readable, lineage exact") {
    val dst = encode("graft-adopt-dst")
    val src = encode("graft-adopt-src") // same input + cfg -> identical tables
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFiles = Maintenance.liveBlockFiles(src, conf)
    val preSnap = EncodeJob.loadSnapshots(dst, conf).map(_._1).max
    val nToks = input.collect().map(_.n_tok.toLong).sum

    val r = Maintenance.adopt(spark, src, dst).get
    assert(r.filesAdopted == srcFiles.length)
    assert(r.rowsAdopted == 600L)
    assert(r.valuesAdopted == nToks)

    val merged = spark.read.format("graft").load(dst)
    assert(merged.count() == 1200L)
    assert(merged.agg(sum(size(col("tokens")))).head().getLong(0) == 2L * nToks)
    // every doc is present exactly twice, and the distinct rows are the corpus
    assert(merged.groupBy(col("doc_id")).count().where(col("count") =!= 2).isEmpty)
    assert(merged.select(col("doc_id"), col("tokens"), col("n_tok"), col("source")).distinct().count() == 600L)

    // a point read through the pushdown path sees both copies
    val someDoc = input.head().doc_id
    assert(merged.where(col("doc_id") === someDoc).count() == 2L)

    // pre-adopt time travel excludes the adopted files; the incremental
    // range (preSnap, latest] is exactly the adopted delta
    val asOf = spark.read.format("graft").option("snapshot", preSnap).load(dst)
    assert(asOf.count() == 600L)
    val delta = spark.read
      .format("graft")
      .option("fromSnapshot", preSnap)
      .load(dst)
    assert(delta.count() == 600L)

    // the source dir is untouched
    assert(Maintenance.liveBlockFiles(src, conf).map(_._1).toSet == srcFiles.map(_._1).toSet)
    assert(spark.read.format("graft").load(src).count() == 600L)
  }

  test("adopt refuses mismatched tables, layouts, live source deletes, and self-adopt") {
    val dst = encode("graft-adopt-ref-dst")

    // different corpus -> different symbol tables
    val other = freshDir("graft-adopt-ref-other")
    EncodeJob.run(TokenTables.synthetic(spark, 200L, seed = 99L), other, cfg)
    val eTables = intercept[IllegalArgumentException](Maintenance.adopt(spark, other, dst))
    assert(eTables.getMessage.contains("table_hash"))

    // same corpus, different bin layout
    val rebinned = freshDir("graft-adopt-ref-bins")
    EncodeJob.run(input, rebinned, cfg.copy(numBins = 4))
    val eBins = intercept[IllegalArgumentException](Maintenance.adopt(spark, rebinned, dst))
    assert(eBins.getMessage.contains("num_bins"))

    // live deletes in the source must refuse (adopting would resurrect them)
    import spark.implicits._
    val delSrc = encode("graft-adopt-ref-del")
    val victim = input.head().doc_id
    assert(Deletes.deleteDocs(spark, delSrc, Seq(victim).toDS()).nonEmpty)
    val eDel = intercept[IllegalArgumentException](Maintenance.adopt(spark, delSrc, dst))
    assert(eDel.getMessage.contains("purge_deletes"))

    // self-adopt
    val eSelf = intercept[IllegalArgumentException](Maintenance.adopt(spark, dst, dst))
    assert(eSelf.getMessage.contains("same dir"))

    // nothing committed by any refusal: dst still reads as the original corpus
    assert(spark.read.format("graft").load(dst).count() == 600L)
    assert(EncodeJob.loadSnapshots(dst, spark.sparkContext.hadoopConfiguration).size == 1)
  }

  test("adopted docs are deletable in the destination afterwards") {
    import spark.implicits._
    val dst = encode("graft-adopt-del-dst")
    val src = encode("graft-adopt-del-src")
    Maintenance.adopt(spark, src, dst).get: Unit
    val victim = input.head().doc_id
    // the delete postdates the adopt snapshot, so it hides BOTH copies
    assert(Deletes.deleteDocs(spark, dst, Seq(victim).toDS()).nonEmpty)
    val merged = spark.read.format("graft").load(dst)
    assert(merged.where(col("doc_id") === victim).isEmpty)
    assert(merged.count() == 1198L)
  }

  test("an overlapping adopt reports its doc_id overlap in the result and the CALL row") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    val dst = encode("graft-adopt-ovl-dst")
    // 5 ids deleted in the destination are not live there, so they do not overlap
    val victims = input.take(5).map(_.doc_id).toSeq
    assert(Deletes.deleteDocs(spark, dst, victims.toDS()).nonEmpty)
    val row = spark
      .sql(s"CALL graft.system.adopt(path => '$dst', source => '${encode("graft-adopt-ovl-src1")}')")
      .head()
    assert(row.getAs[Long]("doc_id_overlap") == 595L)
    // the first adopt made every id live in the destination
    val r = Maintenance.adopt(spark, encode("graft-adopt-ovl-src2"), dst).get
    assert(r.docIdOverlap == 600L)
    assert(spark.read.format("graft").load(dst).count() == 595L + 600L + 600L)
  }
}
