package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.PriorityQueue

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `exact_topk(value, k)` → `ARRAY<DOUBLE>` sorted descending: EXACT
  * top-k values per group via a bounded min-heap — the
  * [[TypedImperativeAggregate]] tier of the operator ladder (an
  * arbitrary-JVM-object aggregation buffer with explicit
  * serialize/merge, the API a sketch/digest aggregate would use, here
  * with an exactly-verifiable contract: ≡ `ORDER BY v DESC LIMIT k`
  * per group).
  *
  * Scale shape: the buffer is O(k) regardless of group size, updates
  * are O(log k), and `merge` makes it map-side combinable — each
  * partition sends at most k doubles per group across the shuffle,
  * vs the full value stream a window-rank formulation shuffles.
  */
case class ExactTopK(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[java.lang.Double]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def prettyName: String = "exact_topk"

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def intish(dt: DataType) = dt == IntegerType || dt == LongType
    if (child.dataType == DoubleType && intish(kExpr.dataType) && kExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_topk expects (double, foldable int), got " +
        s"(${child.dataType.sql}, ${kExpr.dataType.sql})")
  }

  override def createAggregationBuffer(): PriorityQueue[java.lang.Double] =
    new PriorityQueue[java.lang.Double](math.max(k, 1) + 1)

  override def update(buffer: PriorityQueue[java.lang.Double], input: InternalRow)
      : PriorityQueue[java.lang.Double] = {
    val v = child.eval(input)
    if (v != null) {
      buffer.add(v.asInstanceOf[Double])
      if (buffer.size() > k) buffer.poll() // drop current min
    }
    buffer
  }

  override def merge(b1: PriorityQueue[java.lang.Double], b2: PriorityQueue[java.lang.Double])
      : PriorityQueue[java.lang.Double] = {
    val it = b2.iterator()
    while (it.hasNext) {
      b1.add(it.next())
      if (b1.size() > k) b1.poll()
    }
    b1
  }

  override def eval(buffer: PriorityQueue[java.lang.Double]): Any = {
    val out = new Array[Double](buffer.size())
    var i = 0
    val it = buffer.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    // descending
    var l = 0; var r = out.length - 1
    while (l < r) { val t = out(l); out(l) = out(r); out(r) = t; l += 1; r -= 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: PriorityQueue[java.lang.Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size())
    val it = buffer.iterator()
    while (it.hasNext) out.writeDouble(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[java.lang.Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val pq = new PriorityQueue[java.lang.Double](math.max(n, 1))
    var i = 0
    while (i < n) { pq.add(in.readDouble()); i += 1 }
    pq
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactTopK =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): ExactTopK =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object ExactTopK {
  /** The analyzer wraps the built AggregateFunction in an AggregateExpression. */
  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("exact_topk", classOf[ExactTopK])(exprs => ExactTopK(exprs(0), exprs(1))))
}
