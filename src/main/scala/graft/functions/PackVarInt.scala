package graft.functions

import graft.codec.VarInt
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}

/** Catalyst expression packing an array<int> column to LEB128 varint bytes
  * ([[graft.codec.VarInt]]), the `graft_pack_varint` SQL function
  * ([[graft.GraftExtensions]]). A native expression rather than a typed
  * map: a projection that packs stays inside one whole-stage-codegen span
  * instead of paying a DeserializeToObject/SerializeFromObject boundary
  * that re-materializes every row's strings around the pack call.
  */
case class PackVarInt(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack_varint expects ARRAY<INT>, got ${other.catalogString}"
        )
    }
  }

  override protected def nullSafeEval(value: Any): Any =
    VarInt.pack(value.asInstanceOf[ArrayData].toIntArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // VarInt is a top-level Scala object, so the static forwarder
    // graft.codec.VarInt.pack(int[]) is callable from generated Java
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.codec.VarInt.pack($v.toIntArray());")

  override protected def withNewChildInternal(newChild: Expression): PackVarInt =
    copy(child = newChild)
}

