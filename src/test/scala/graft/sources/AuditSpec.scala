package graft.sources

import graft.pipeline.GraftPipeline.Config
import graft.pipeline.{BlockParquet, EncodeJob, Maintenance, SparkTestBase, TokenTables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** [[Audit.audit]] — the decode-verify fsck over live block files. */
class AuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val cfg = Config(numContexts = 16, numBins = 8, maxBlockRows = 64, maxBlockValues = 32768)

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("healthy dir: every file ok, totals equal the corpus") {
    val input = TokenTables.synthetic(spark, 300L, seed = 77L).cache()
    val dir = freshDir("graft-audit")
    EncodeJob.run(input, dir, cfg)
    val rows = Audit.audit(spark, dir)
    val live = Maintenance
      .liveBlockFiles(dir, spark.sparkContext.hadoopConfiguration)
    assert(rows.size == live.length)
    assert(rows.forall(_.ok) && rows.forall(_.error.isEmpty))
    assert(rows.map(_.nRows).sum == 300L)
    assert(rows.map(_.nValues).sum == input.collect().map(_.n_tok.toLong).sum)
    // every block writer skips empty partitions: no live file is 0-block
    assert(rows.forall(_.nBlocks > 0L))
    // the payload columns are written without statistics or a column
    // index, and the audit above accepted them; bin keeps both
    val r = BlockParquet.openFile(new org.apache.hadoop.fs.Path(live.head._1), spark.sparkContext.hadoopConfiguration)
    try {
      val cols = r.getFooter.getBlocks.get(0).getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(cols("bin").getStatistics.hasNonNullValue && r.readColumnIndex(cols("bin")) != null)
      for (c <- Seq("doc_ids_payload", "sources_payload", "n_toks_payload", "row_bits_payload", "payload")) {
        assert(!cols(c).getStatistics.hasNonNullValue, c)
        assert(r.readColumnIndex(cols(c)) == null, c)
      }
    } finally r.close()
  }

  test("a corrupted payload is attributed to its file; the rest still report ok") {
    val input = TokenTables.synthetic(spark, 300L, seed = 99L)
    val dir = freshDir("graft-audit-bad")
    EncodeJob.run(input, dir, cfg)
    val live = Maintenance
      .liveBlockFiles(dir, spark.sparkContext.hadoopConfiguration)
      .map(_._1)
      .sorted
    assert(live.length >= 2)
    // flip bytes in the middle of one parquet file (inside a page, past the
    // header): decode or footer read must fail for THAT file only
    val victim = live.head
    val p = Paths.get(new java.net.URI(victim).getPath match {
      case null => victim.stripPrefix("file:")
      case s    => s
    })
    val bytes = Files.readAllBytes(p)
    val mid = bytes.length / 2
    (0 until 64).foreach(i => bytes(mid + i) = (~bytes(mid + i)).toByte)
    Files.write(p, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    // drop the checksummed local FS's sidecar, so the flipped bytes reach
    // parquet and the decoder instead of failing Hadoop's checksum check
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))

    val rows = Audit.audit(spark, dir)
    val name = new org.apache.hadoop.fs.Path(victim).getName
    val bad = rows.filter(!_.ok)
    assert(bad.map(_.file) == Seq(name), s"expected exactly $name flagged, got $bad")
    assert(bad.head.error.nonEmpty)
    assert(rows.filter(_.ok).size == rows.size - 1)

    // one bit inside a second file's `payload` page: the page's CRC names it
    val second = live(1)
    val p2 = Paths.get(new java.net.URI(second).getPath)
    val chunk = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(second), spark.sparkContext.hadoopConfiguration)
      )
      try r.getFooter.getBlocks.get(0).getColumns.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
        .find(_.getPath.toDotString == "payload").get
      finally r.close()
    }
    val bytes2 = Files.readAllBytes(p2)
    val at = (chunk.getStartingPos + chunk.getTotalSize / 2).toInt
    bytes2(at) = (bytes2(at) ^ 1).toByte
    Files.write(p2, bytes2, StandardOpenOption.TRUNCATE_EXISTING)
    Files.deleteIfExists(p2.resolveSibling(s".${p2.getFileName}.crc"))
    val bad2 = Audit.audit(spark, dir).filter(!_.ok)
    assert(bad2.map(_.file).toSet == Set(name, new org.apache.hadoop.fs.Path(second).getName))
    assert(bad2.exists(_.error.exists(_.contains("CRC"))), s"no page-CRC failure in $bad2")
  }

  test("CALL graft.system.audit returns the same rows through SQL") {
    val input = TokenTables.synthetic(spark, 200L, seed = 11L)
    val dir = freshDir("graft-audit-sql")
    EncodeJob.run(input, dir, cfg)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val df = spark.sql(s"CALL graft.system.audit(path => '$dir')")
    assert(df.columns.toSeq ==
      Seq("file", "bytes", "n_blocks", "n_rows", "n_values", "ok", "error"))
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(5)))
    assert(rows.map(_.getLong(3)).sum == 200L)
  }
}
