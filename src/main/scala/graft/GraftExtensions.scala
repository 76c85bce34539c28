package graft

import graft.functions.{HieToken, PackVarInt, SampleDoc, TokenFold, TokenSum}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

/** The engine's SQL function surface, registered either at session build
  * time (`--conf spark.sql.extensions=graft.GraftExtensions`, the
  * spark-submit path) or into a live session
  * (`GraftExtensions.register(spark)`). Both paths consume the same builder
  * list, so testing one tests the other's builders.
  *
  *   - `hie_token(v)`        — the hybrid split's entropy-coded token
  *                             (reference encode split, common.rs:38-53),
  *                             codegen'd; argument widened to BIGINT.
  *   - `graft_pack_varint(a)`— varint-pack an array<int> to binary (the
  *                             codec the routing exchange packs tokens with).
  *   - `graft_token_sum(a)`  — sum an array<int> to bigint (nulls ignored,
  *                             DuckDB list_sum semantics), codegen'd: the
  *                             unboxed form of
  *                             `aggregate(a, 0L, (s, x) -> s + x)`.
  *   - `graft_token_fold(a[, seed])` — 62-bit content hash of an array<int>
  *                             (FNV-1a chain + avalanche in the XHash
  *                             cross-engine domain), codegen'd: the
  *                             content-addressing key behind exact corpus
  *                             dedup; two seeds give a 124-bit key.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (id, info, builder) => ext.injectFunction((id, info, builder)) }
}

object GraftExtensions {
  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name expects exactly 1 argument, got ${args.length}")
    args.head
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("hie_token"),
      new ExpressionInfo(classOf[HieToken].getName, "hie_token"),
      (args: Seq[Expression]) => HieToken(Cast(one(args, "hie_token"), LongType))
    ),
    (
      FunctionIdentifier("graft_pack_varint"),
      new ExpressionInfo(classOf[PackVarInt].getName, "graft_pack_varint"),
      (args: Seq[Expression]) => PackVarInt(one(args, "graft_pack_varint"))
    ),
    (
      FunctionIdentifier("graft_token_sum"),
      new ExpressionInfo(classOf[TokenSum].getName, "graft_token_sum"),
      (args: Seq[Expression]) => TokenSum(one(args, "graft_token_sum"))
    ),
    (
      FunctionIdentifier("graft_token_fold"),
      new ExpressionInfo(classOf[TokenFold].getName, "graft_token_fold"),
      (args: Seq[Expression]) => {
        require(
          args.length == 1 || args.length == 2,
          s"graft_token_fold expects (tokens[, seed]), got ${args.length} arguments"
        )
        val seed =
          if (args.length == 2)
            Cast(args(1), LongType)
          else org.apache.spark.sql.catalyst.expressions.Literal(0L)
        TokenFold(args.head, seed)
      }
    ),
    (
      FunctionIdentifier("graft_sample"),
      new ExpressionInfo(classOf[SampleDoc].getName, "graft_sample"),
      (args: Seq[Expression]) => {
        require(
          args.length == 2 || args.length == 3,
          s"graft_sample expects (doc_id, fraction[, seed]), got ${args.length} arguments"
        )
        val seed =
          if (args.length == 3) args(2)
          else org.apache.spark.sql.catalyst.expressions.Literal(0L)
        SampleDoc(Cast(args.head, org.apache.spark.sql.types.StringType), args(1), seed)
      }
    )
  )

  /** Register all functions into a live session's registry. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      GraftSqlBridge.registerFunction(spark, id, info, builder)
    }
}
