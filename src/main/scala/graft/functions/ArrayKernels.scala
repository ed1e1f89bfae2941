package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, LongType}

/** Native Catalyst expressions (with codegen) for the two array kernels on
  * the similarity hot paths (SURVEY.md §4.2: upgrade UDF-ish array exprs to
  * codegen'd Expressions only where benchmarks demand — these two are the
  * per-pair inner loops of q41/q44/q46/q48, executed millions of times).
  *
  * Why not the built-ins/HOFs they replace:
  *  - `size(array_intersect(a, b))` allocates a hash set + result array per
  *    call; for pre-sorted inputs a merge walk does it allocation-free;
  *  - `aggregate(zip_with(a, b, _*_), 0, _+_)` builds an intermediate array
  *    and evaluates interpreted lambda closures per element; a fused loop is
  *    one codegen'd multiply-add per element.
  * Each kernel's loop is written once, as `compute` on its companion
  * object: `nullSafeEval` calls it when Spark evaluates without generated
  * code, and `doGenCode` emits one call of it inside whole-stage codegen.
  */
object ArrayKernels {

  /** |a ∩ b| for two SORTED, duplicate-free ARRAY<LONG> columns.
    * Precondition is the caller's: build inputs with
    * `array_sort(array_distinct(...))`. Null array → null. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ a(i)·b(i) over the common prefix of two ARRAY<LONG> columns. */
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ a(i)·b(i) over the common prefix of two ARRAY<TINYINT> columns
    * (int8-quantized embeddings: 8× less memory traffic than the long
    * form — the byte array IS the storage format, not a cast-up copy). */
  def dotByte(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductByte(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.arrays(this, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedLongIntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  /** Merge walk over two sorted, duplicate-free arrays. */
  def compute(x: ArrayData, y: ArrayData): Long = {
    var i = 0; var j = 0; var cnt = 0L
    val na = x.numElements(); val nb = y.numElements()
    while (i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { cnt += 1; i += 1; j += 1 }
    }
    cnt
  }
}

case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.arrays(this, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProductLong.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }
}

case class DotProductByte(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeChecks.arrays(this, ByteType)
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_int8"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductByte.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProductByte.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductByte =
    copy(left = newLeft, right = newRight)
}

object DotProductByte {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i); i += 1 }
    s
  }
}
