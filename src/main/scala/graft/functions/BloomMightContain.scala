package graft.functions

import graft.core.BloomFilter
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Native Catalyst predicate: membership test of a LONG key against a
  * broadcast [[graft.core.BloomFilter]].
  *
  * Replaces the Scala-UDF membership filters on the engine's hottest
  * streams (capture instances, shingle hashes). Versus a UDF this
  * (a) stays inside whole-stage codegen — `doGenCode` emits a direct
  * virtual call, no boxing, no Option wrapper — and (b) ships the filter
  * bits ONCE per executor through the existing `Broadcast` instead of
  * re-serializing them into every task closure (the expression holds only
  * the broadcast handle; `.value` resolves executor-locally).
  */
case class BloomMightContain(child: Expression, bf: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case LongType => TypeCheckSuccess
      case other => TypeCheckFailure(s"bloom_might_contain needs LONG keys, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    bf.value.mightContain(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcast = ctx.addReferenceObj("bloomBcast", bf, classOf[Broadcast[_]].getName)
    val filter = ctx.addMutableState(classOf[BloomFilter].getName, "bloomFilter",
      v => s"$v = (${classOf[BloomFilter].getName}) $bcast.value();")
    defineCodeGen(ctx, ev, c => s"$filter.mightContain($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
