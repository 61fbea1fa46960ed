package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructType}

/** Native Catalyst expression encoding an ARRAY<STRUCT<code INT, v1 STRING,
  * v2 STRING>> of captures into the ARRAY<LONG> of their dictionary IDs,
  * dropping captures absent from the dictionary (= infrequent ones).
  *
  * This is the map-side half of the join-line encoding: the frequent-capture
  * dictionary is small by construction (it already gets collected for
  * broadcast joins elsewhere), so shipping it once per executor as a hash
  * map turns the encode step from a shuffle join over the exploded
  * (capture, join value) stream into a per-row array rewrite — the grouped
  * lines never leave their partitions. Codegen'd: `doGenCode` emits one
  * static call, keeping the rewrite inside whole-stage codegen.
  */
case class DictEncodeIds(child: Expression,
    dict: Broadcast[java.util.HashMap[String, java.lang.Long]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dict_encode_ids"

  /** Declared non-deterministic only so the optimizer cannot copy the call
    * (the `asNondeterministic` UDF idiom): as a deterministic expression it
    * was inlined into every filter pushed below its projection — the
    * lines' `size(ids) > 0` and both [[graft.cind.PairCounts]] branches'
    * width filters — and a line was encoded six times. A non-deterministic
    * projection is evaluated once per row, with the filters kept above it.
    * The encode itself is a pure function of the line and the dictionary. */
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 &&
        s(0).dataType == IntegerType && s(1).dataType == StringType &&
        s(2).dataType == StringType => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"dict_encode_ids needs ARRAY<STRUCT<INT,STRING,STRING>>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    DictEncodeIds.encode(dict.value, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcast = ctx.addReferenceObj("dictBcast", dict, classOf[Broadcast[_]].getName)
    val map = ctx.addMutableState("java.util.HashMap<String, Long>", "dictMap",
      v => s"$v = (java.util.HashMap<String, Long>) $bcast.value();")
    defineCodeGen(ctx, ev, c => s"graft.functions.DictEncodeIds.encode($map, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DictEncodeIds =
    copy(child = newChild)
}

object DictEncodeIds {
  /** NUL as the field separator: unlike a space (which URIs and literals
    * contain freely) it cannot make two distinct (code, v1, v2) captures
    * collide unless a value itself embeds NUL — and a wrong dictionary hit
    * here would be a correctness bug, not an admit-only Bloom false
    * positive. */
  def key(code: Int, v1: String, v2: String): String =
    code.toString + "\u0000" + v1 + "\u0000" + v2

  /** Static kernel shared by eval and generated code. */
  def encode(m: java.util.HashMap[String, java.lang.Long], arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      val id = m.get(key(row.getInt(0), row.getUTF8String(1).toString,
        row.getUTF8String(2).toString))
      if (id != null) { out(k) = id.longValue(); k += 1 }
      i += 1
    }
    // unsafe, not generic: GenericArrayData boxes every id of a long[]
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }
}
