package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Shared input-type validation (ExpectsInputTypes is private[sql]). An
  * array input matches whatever its element nullability. */
private[functions] object GraftTypeChecks {
  /** `e` takes the one input `in`, of type `want`. */
  def one(e: Expression, in: Expression, want: DataType): TypeCheckResult =
    if (accepts(want, in.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires ${want.sql}, got ${in.dataType.simpleString}")

  /** `e` takes two arrays of `elem`. */
  def arrays(e: BinaryExpression, elem: DataType): TypeCheckResult =
    if (accepts(ArrayType(elem), e.left.dataType) && accepts(ArrayType(elem), e.right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires two ${ArrayType(elem).sql} arguments, got " +
        s"(${e.left.dataType.simpleString}, ${e.right.dataType.simpleString})")

  private def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => w == g
    case _ => want == got
  }
}
