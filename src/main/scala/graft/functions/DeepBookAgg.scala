package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the deep-book one-pass metric bundle
  * (the custom-`Expression` tier of the operator ladder — SURVEY §7.4.11,
  * builder brief "custom operators (b)"): given
  * `bids/asks ARRAY<STRUCT<price:DOUBLE,size:DOUBLE>>` and a walk qty, it
  * computes depth imbalance, per-side notional + OLS book slope, and the
  * skip-blank ladder walk in ONE compiled loop per side.
  *
  * Why an Expression and not HOFs: Spark evaluates lambda functions
  * (`transform`/`filter`/`aggregate`) interpretively — per element, per
  * lambda, a full expression-tree walk. At K = 100 that interpretive
  * constant dominates (q50 spent ~90 s at sf0.1). `doGenCode` here emits
  * a single static call into [[DeepBookAgg.compute]] — a tight JVM loop
  * that whole-stage codegen inlines into the produce/consume pipeline, so
  * the per-level cost is a few flops, not a tree walk.
  *
  * FP LOCK-STEP: `compute` performs the SAME double operations in the
  * SAME order as the HOF folds it replaces (BookQueries.q50's sideAgg /
  * Impact.walkArray / BookMetrics.imbalanceDepthKArray), which the DuckDB
  * oracle mirrors with ordered `list_reduce` folds. Each accumulator is
  * independent, so results are bit-identical across all three paths —
  * asserted by DeepBookAggSpec and the q50 oracle gate.
  */
case class DeepBookAgg(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def prettyName: String = "deep_book_agg"

  override def dataType: DataType = DeepBookAgg.outType

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def sideOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(Array(p, s)), _) =>
        p.dataType == DoubleType && s.dataType == DoubleType
      case _ => false
    }
    if (sideOk(first.dataType) && sideOk(second.dataType) &&
      third.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"deep_book_agg expects (array<struct<double,double>>, same, double), " +
          s"got (${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }

  override protected def nullSafeEval(bids: Any, asks: Any, qty: Any): Any =
    DeepBookAgg.compute(bids.asInstanceOf[ArrayData], asks.asInstanceOf[ArrayData],
      qty.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, a, q) =>
      s"graft.functions.DeepBookAgg.compute($b, $a, $q)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DeepBookAgg {

  val outType: StructType = StructType(Seq(
    StructField("imbalance_k", DoubleType),
    StructField("notional_bid_k", DoubleType),
    StructField("notional_ask_k", DoubleType),
    StructField("slope_bid", DoubleType),
    StructField("slope_ask", DoubleType),
    StructField("walk_filled", DoubleType, nullable = false),
    StructField("walk_cost", DoubleType, nullable = false),
    StructField("walk_touched", IntegerType, nullable = false)))

  /** One-pass-per-side metric kernel; see the class doc for the FP
    * lock-step contract with the HOF folds and the DuckDB oracle.
    */
  def compute(bids: ArrayData, asks: ArrayData, qty: Double): InternalRow = {
    // coalesce(size, 0) running sums — adding 0.0 is an IEEE identity for
    // the non-negative accumulator, matching the HOF fold bit-for-bit
    def sizeSum(arr: ArrayData): Double = {
      var s = 0.0
      var i = 0
      val m = arr.numElements()
      while (i < m) {
        if (!arr.isNullAt(i)) {
          val r = arr.getStruct(i, 2)
          if (!r.isNullAt(1)) s += r.getDouble(1)
        }
        i += 1
      }
      s
    }
    // valid-levels fold: slope sums + notional, first valid price as x0
    // (same op order as BookQueries.q50 sideAgg)
    def sideAgg(arr: ArrayData): (Int, Double, Double, Double, Double, Double) = {
      var n = 0
      var p0 = 0.0
      var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var nt = 0.0; var cum = 0.0
      var i = 0
      val m = arr.numElements()
      while (i < m) {
        if (!arr.isNullAt(i)) {
          val r = arr.getStruct(i, 2)
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val p = r.getDouble(0)
            val s = r.getDouble(1)
            if (n == 0) p0 = p
            val xi = math.abs(p - p0)
            val yi = cum + s
            sx += xi; sy += yi; sxy += xi * yi; sxx += xi * xi; nt += p * s
            cum = yi
            n += 1
          }
        }
        i += 1
      }
      (n, sx, sy, sxy, sxx, nt)
    }
    // skip-blank ladder walk (Impact.walkArray op order)
    var rem = qty; var cost = 0.0; var tch = 0
    var i = 0
    val ma = asks.numElements()
    while (i < ma) {
      if (!asks.isNullAt(i)) {
        val r = asks.getStruct(i, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1) && rem > 0) {
          val p = r.getDouble(0)
          val s = r.getDouble(1)
          val take = math.min(rem, math.max(0.0, s))
          if (take > 0) { cost += p * take; tch += 1 }
          rem -= take
        }
      }
      i += 1
    }

    val b = sizeSum(bids)
    val a = sizeSum(asks)
    val (nb, sxB, syB, sxyB, sxxB, ntB) = sideAgg(bids)
    val (na, sxA, syA, sxyA, sxxA, ntA) = sideAgg(asks)

    def slope(n: Int, sx: Double, sy: Double, sxy: Double, sxx: Double): Any = {
      val nd = n.toDouble
      val den = sxx - sx * sx / nd
      if (n >= 2 && den > 0) (sxy - sx * sy / nd) / den else null
    }

    val out = new GenericInternalRow(8)
    out.update(0, if (b + a > 0) b / (b + a) else null)
    out.update(1, if (nb > 0) ntB else null)
    out.update(2, if (na > 0) ntA else null)
    out.update(3, slope(nb, sxB, syB, sxyB, sxxB))
    out.update(4, slope(na, sxA, syA, sxyA, sxxA))
    out.update(5, qty - rem)
    out.update(6, cost)
    out.update(7, tch)
    out
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("deep_book_agg", classOf[DeepBookAgg])(
      exprs => DeepBookAgg(exprs(0), exprs(1), exprs(2))))
}
