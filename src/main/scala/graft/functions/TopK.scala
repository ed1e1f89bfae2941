package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregation (SURVEY §2.12 top-k, the scale path): each
  * group keeps a k-element buffer, merged map-side, so a group's top-3
  * never sorts — or even shuffles — more than k rows per partition. The
  * window form (`row_number().over(partitionBy(g).orderBy(score))`) sorts
  * EVERY group member through the exchange; the aggregate form carries
  * k·partitions rows. For k=3 over millions of members per group that is
  * the difference between a straggler and a no-op.
  *
  * Implemented as a [[TypedImperativeAggregate]] over two primitive-ish
  * arrays (Decimal[] scores + long[] ids, insertion-sorted, fixed size k).
  * The buffer must stay plain JVM arrays: a typed `Aggregator` whose
  * buffer is a Scala collection of boxed BigDecimals round-trips it
  * through an ExpressionEncoder on every reduce/merge, which made q51 10×
  * slower than its window twin q07. Update/merge touch only the arrays;
  * (de)serialization happens only at the map/reduce boundary and writes k
  * compact (unscaledBytes, id) entries.
  *
  * Scores are Decimal so ordering matches the exact-decimal revenue
  * aggregates (double collisions could permute near-equal ranks vs the
  * oracle). Ties break on the ascending id — the same total order as the
  * window/oracle formulation. Output: ARRAY<STRUCT<score, id>> in rank
  * order (element 0 = rank 1).
  */
object TopK {
  /** Column API: top-k (score desc, id asc) pairs per group. */
  def decimalTopK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(DecimalTopK(
      ColumnBridge.expression(score), ColumnBridge.expression(id), k)
      .toAggregateExpression())
}

/** Mutable aggregation state: parallel arrays sorted by (score desc, id
  * asc), at most k live entries. */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Decimal](k)
  val ids = new Array[Long](k)
  var n = 0

  @inline private def ranksBefore(s: Decimal, id: Long, s2: Decimal, id2: Long): Boolean = {
    val c = s.compare(s2)
    c > 0 || (c == 0 && id < id2)
  }

  def insert(score: Decimal, id: Long): Unit = {
    if (n == k && !ranksBefore(score, id, scores(n - 1), ids(n - 1))) return
    var pos = if (n < k) n else k - 1
    while (pos > 0 && ranksBefore(score, id, scores(pos - 1), ids(pos - 1))) {
      if (pos < k) { scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1) }
      pos -= 1
    }
    scores(pos) = score
    ids(pos) = id
    if (n < k) n += 1
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { insert(other.scores(i), other.ids(i)); i += 1 }
  }
}

case class DecimalTopK(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"top-k requires k > 0, got $k")

  private lazy val scoreType: DecimalType = scoreExpr.dataType.asInstanceOf[DecimalType]

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def prettyName: String = "decimal_top_k"

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType) match {
      case (_: DecimalType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (DECIMAL, BIGINT), got (${s.simpleString}, ${i.simpleString})")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", scoreType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    if (s != null) {
      val id = idExpr.eval(input)
      if (id != null) buf.insert(s.asInstanceOf[Decimal], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.n)
    var i = 0
    while (i < buf.n) {
      out.writeLong(buf.ids(i))
      val unscaled = buf.scores(i).toJavaBigDecimal.unscaledValue.toByteArray
      out.writeInt(buf.scores(i).scale)
      out.writeInt(unscaled.length)
      out.write(unscaled)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val id = in.readLong()
      val scale = in.readInt()
      val unscaled = new Array[Byte](in.readInt())
      in.readFully(unscaled)
      val jbd = new java.math.BigDecimal(new java.math.BigInteger(unscaled), scale)
      // entries arrive already rank-ordered, so insert() appends in O(1)
      buf.insert(Decimal(jbd, scoreType.precision, scoreType.scale), id)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DecimalTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecimalTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DecimalTopK =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}
