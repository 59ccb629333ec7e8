package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native builder for the synthetic deep-book ladder
  * (`synth_ladder(seq, best, width, side)` →
  * `ARRAY<STRUCT<price: DOUBLE, size: DOUBLE>>`, side 0 = bid /
  * 1 = ask): the exact per-level formulas of
  * [[graft.book.SyntheticBook.fromEvents]] generalized to K levels, in
  * one compiled loop per row.
  *
  * Why: q50 builds 2 × 100-level arrays per row; the
  * `transform(sequence(1, K), k -> named_struct(...))` formulation
  * walks an interpreted expression tree per LEVEL (~85% of the query's
  * wall at sf0.1 — the deep_book_agg consumer itself is compiled). This
  * expression emits the identical arrays (same IEEE ops in the same
  * order, same modular NULL patterns, price NULL when `best` is NULL —
  * matching `best ± 0.01·(k−1)` null propagation) from a tight JVM
  * loop that whole-stage codegen inlines. Real deployments read array
  * ladders straight from parquet; this keeps the synthetic-input path
  * from dominating the kernel benchmark.
  */
case class SynthLadder(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def prettyName: String = "synth_ladder"

  override def dataType: DataType = SynthLadder.outType

  // NOT null-safe on `best` (second): a NULL best yields an array with
  // NULL prices, mirroring the column formulation's null propagation
  override def nullable: Boolean = first.nullable || third.nullable || fourth.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    def intish(dt: DataType) = dt == IntegerType || dt == LongType
    if (intish(first.dataType) && second.dataType == DoubleType &&
      intish(third.dataType) && intish(fourth.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"synth_ladder expects (int, double, int, int), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}, ${fourth.dataType.sql})")
  }

  override def eval(input: InternalRow): Any = {
    val sv = first.eval(input)
    val wv = third.eval(input)
    val dv = fourth.eval(input)
    if (sv == null || wv == null || dv == null) null
    else {
      val bv = second.eval(input)
      SynthLadder.compute(sv.asInstanceOf[Number].longValue(), bv == null,
        if (bv == null) 0.0 else bv.asInstanceOf[Number].doubleValue(),
        wv.asInstanceOf[Number].intValue(), dv.asInstanceOf[Number].intValue())
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sG = first.genCode(ctx)
    val bG = second.genCode(ctx)
    val wG = third.genCode(ctx)
    val dG = fourth.genCode(ctx)
    val resultCode =
      code"""
         |${sG.code}
         |${bG.code}
         |${wG.code}
         |${dG.code}
         |boolean ${ev.isNull} = ${sG.isNull} || ${wG.isNull} || ${dG.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.SynthLadder.compute(
         |    (long)(${sG.value}), ${bG.isNull},
         |    ${bG.isNull} ? 0.0 : ${bG.value},
         |    (int)(${wG.value}), (int)(${dG.value}));
         |}
       """.stripMargin
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object SynthLadder {

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("price", DoubleType), StructField("size", DoubleType))),
    containsNull = false)

  /** Level formulas in lock-step with SyntheticBook.fromEvents /
    * BookQueries.q50's transform — edit together.
    */
  def compute(seq: Long, bestNull: Boolean, best: Double,
              width: Int, side: Int): ArrayData = {
    val out = new Array[Any](width)
    var k = 1
    while (k <= width) {
      val row = new GenericInternalRow(2)
      if (side == 0) {
        if (bestNull || (seq + 7L * k) % 31 == 0) row.update(0, null)
        else row.update(0, best - 0.01 * (k - 1))
        if ((seq + 3L * k) % 29 == 0) row.update(1, null)
        else row.update(1, (1L + (seq + k) % 7).toDouble)
      } else {
        if (bestNull || (seq + 5L * k) % 37 == 0) row.update(0, null)
        else row.update(0, best + 0.01 * (k - 1))
        if ((seq + 2L * k) % 23 == 0) row.update(1, null)
        else row.update(1, (1L + (seq + 2L * k) % 5).toDouble)
      }
      out(k - 1) = row
      k += 1
    }
    new GenericArrayData(out)
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("synth_ladder", classOf[SynthLadder])(
      exprs => SynthLadder(exprs(0), exprs(1), exprs(2), exprs(3))))
}
