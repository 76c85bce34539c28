package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Per-run state shared by the workloads: the session, the tracer, the
  * op and correctness counters, and the samples the metrics are made of.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val work: String,
    val state: String,
    val build: String,
    var tr: Tracer
) {
  var attempted = 0L
  var failed = 0L
  /** Latency samples in ms, per op kind. */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** DSv2 query stats with the token values each query returned. */
  val queries = mutable.ArrayBuffer.empty[(QueryStats, Long)]
  /** Table state (live files, snapshots, delete files) after each op. */
  val states = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** Named per-layer samples (durations, counts) collected along the run. */
  val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var rawBytesIn = 0L
  var bytesWritten = 0L

  /** Drops the samples of an earlier loop; op and gate counts are kept. */
  def resetSamples(): Unit = {
    samples.clear(); queries.clear(); states.clear(); layer.clear()
    rawBytesIn = 0L; bytesWritten = 0L
  }

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One timed operation. Only `call` is timed; `ok` checks its result
    * afterwards. An exception or a failed check counts the op as failed.
    */
  def op[A](kind: String)(call: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(tr.op(kind)(call))
      catch { case e: Exception => e.printStackTrace(); None }
    sample(kind, (System.nanoTime() - t0) / 1e6)
    val good =
      try res.exists(ok)
      catch { case e: Exception => e.printStackTrace(); false }
    if (!good) {
      failed += 1
      System.err.println(s"perfbench: op $kind failed its check")
    }
    res
  }

  /** An untimed correctness gate, counted like an op. */
  def gate(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good =
      try ok
      catch { case e: Exception => e.printStackTrace(); false }
    if (!good) {
      failed += 1
      System.err.println(s"perfbench: gate $name failed")
    }
  }

  def table(dir: String): DataFrame = spark.read.format("graft").load(dir)

  /** Row count, token count and an order-independent content checksum,
    * computed with Spark built-ins only so both sides of a comparison
    * share no engine code.
    */
  def contentStats(df: DataFrame): (Long, Long, Long) = {
    val r = df
      .agg(
        count(lit(1)),
        coalesce(sum(size(col("tokens")).cast("long")), lit(0L)),
        coalesce(sum(pmod(xxhash64(col("doc_id"), col("tokens")), lit(2147483647L))), lit(0L))
      )
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def wipe(dir: String): Unit = {
    val p = new java.io.File(dir)
    if (p.exists()) org.apache.commons.io.FileUtils.deleteDirectory(p)
  }
}
