package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types._

/** Dense Gram-matrix (Xᵀ·X) aggregation over integer vectors — the one-pass
  * second-moment statistic behind covariance estimation, whitening and PCA
  * of an embedding space (SURVEY §2.12 similarity tier).
  *
  * The aggregation state is the full d×d long matrix, updated in place per
  * row (one fused outer-product accumulate, no allocation) and merged
  * map-side — each partition contributes ONE d²-long buffer to the
  * exchange, regardless of row count. The declarative alternative
  * (unnest-with-ordinality, self-join on the row id, group by (i, j) — the
  * oracle's formulation) multiplies every input row by d² before the
  * shuffle: at 100 TB that is the difference between shuffling
  * `d² × partitions` longs and `d² × rows`.
  *
  * Inputs are integer-quantized vectors (q70's scheme), so every
  * accumulation is exact and the DuckDB oracle hash-gates the full matrix.
  * Overflow headroom: |q| ≤ 127, so each row adds ≤ 127² per cell and
  * Long overflows only past ~5.7e14 rows per group.
  */
object GramMatrix {
  /** Column API: `gram_long(vec)` aggregates ARRAY<BIGINT> vectors of
    * fixed dimension `d` into the flattened row-major d×d Gram matrix. */
  def gramLong(vec: Column, d: Int): Column =
    ColumnBridge.column(LongGram(ColumnBridge.expression(vec), d)
      .toAggregateExpression())
}

/** Mutable aggregation state: flattened row-major d×d accumulator. */
final class GramBuffer(val d: Int) {
  val s = new Array[Long](d * d)

  def add(v: Array[Long]): Unit = {
    var i = 0
    while (i < d) {
      val vi = v(i)
      if (vi != 0) { // quantized vectors are sparse-ish in zero cells
        val base = i * d
        var j = 0
        while (j < d) { s(base + j) += vi * v(j); j += 1 }
      }
      i += 1
    }
  }

  def mergeFrom(o: GramBuffer): Unit = {
    var i = 0
    while (i < s.length) { s(i) += o.s(i); i += 1 }
  }
}

case class LongGram(
    vecExpr: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramBuffer] {

  require(d > 0, s"gram matrix requires d > 0, got $d")

  override def children: Seq[Expression] = Seq(vecExpr)
  override def nullable: Boolean = false
  override def prettyName: String = "gram_long"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.one(this, vecExpr, ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): GramBuffer = new GramBuffer(d)

  override def update(buf: GramBuffer, input: InternalRow): GramBuffer = {
    val v = vecExpr.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData].toLongArray()
      require(arr.length == d,
        s"$prettyName: expected dimension $d, got ${arr.length}")
      buf.add(arr)
    }
    buf
  }

  override def merge(buf: GramBuffer, other: GramBuffer): GramBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: GramBuffer): Any = new GenericArrayData(buf.s)

  override def serialize(buf: GramBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * d * d)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.s.length) { out.writeLong(buf.s(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new GramBuffer(d)
    var i = 0
    while (i < buf.s.length) { buf.s(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LongGram =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LongGram =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): LongGram =
    copy(vecExpr = newChildren(0))
}
