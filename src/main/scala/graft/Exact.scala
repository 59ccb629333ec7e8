package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic float aggregation.
  *
  * Problem: a double SUM is order-dependent, and shuffle/merge order
  * differs run-to-run and engine-to-engine, so raw double aggregates can
  * never hash-match an oracle. Casting straight to DECIMAL is *also* not
  * portable: engines disagree at ~1 ulp of the scaled value when rounding
  * arbitrary binary fractions to a decimal scale.
  *
  * Recipe used by every float aggregate in this engine:
  *   1. `round(term, s)` in double — both engines round the same IEEE
  *      value at a grid coarse enough that last-ulp noise can't flip it;
  *   2. cast to DECIMAL(38,s) — now exact (the value sits on the grid);
  *   3. SUM in decimal — exact and order-independent (shuffle-safe);
  *   4. cast to double — exact for |sum|·10^s < 2^53.
  * Pick `s` so both the grid is fine enough for the data and the scaled
  * sum stays under 2^53. This is also the right pattern for a 1000-node
  * cluster: decimal partial aggregates make results reproducible across
  * any partitioning.
  *
  * Each helper has a `...Sql` twin producing the equivalent DuckDB text;
  * keep them in lock-step.
  */
object Exact {

  def sumExact(term: Column, scale: Int): Column =
    sum(round(term, scale).cast(DecimalType(38, scale))).cast("double")

  def sumExactSql(term: String, scale: Int): String =
    s"CAST(SUM(CAST(ROUND($term, $scale) AS DECIMAL(38,$scale))) AS DOUBLE)"

  /** Two-scale variant for computed terms: `termScale` must cover the
    * term's TRUE decimal digits (e.g. 4 for a 2dp×2dp product — rounding
    * at the exact scale has no half-way ties, which is where engines
    * disagree), `outScale` shrinks the exact decimal sum so that
    * |sum|·10^outScale < 2^53 and the final double conversion is exact.
    * Rounding the exact decimal sum is itself deterministic in both
    * engines (integer math).
    */
  def sumExactR(term: Column, termScale: Int, outScale: Int): Column =
    round(sum(round(term, termScale).cast(DecimalType(38, termScale))), outScale).cast("double")

  def sumExactRSql(term: String, termScale: Int, outScale: Int): String =
    s"CAST(ROUND(SUM(CAST(ROUND($term, $termScale) AS DECIMAL(38,$termScale))), $outScale) AS DOUBLE)"

  /** Mean = exact sum / count — avoids engine-specific AVG(decimal)
    * precision rules; the final double division is IEEE-identical.
    */
  def avgExact(term: Column, scale: Int): Column =
    sumExact(term, scale) / count(term)

  def avgExactSql(term: String, scale: Int): String =
    s"(${sumExactSql(term, scale)} / COUNT($term))"

  // ------------------------------------------------------ compiled twins
  // Same recipe, carried as unscaled longs through a primitive SUM(LONG)
  // hash aggregate instead of Decimal boxing (graft.functions.DecSum) —
  // bit-identical while |Σ|·10^s < 2⁶³, loud ANSI overflow beyond. The
  // session must hold the kernels (`functions.Kernels.register`, which
  // `Tables` runs on every session it builds or loads into). Oracle SQL
  // is unchanged: the DuckDB mirror stays the decimal formulation.

  def sumExactFast(term: Column, scale: Int): Column =
    call_function("unscaled_dbl",
      sum(call_function("dec_unscaled", term, lit(scale))), lit(scale), lit(scale))

  def sumExactRFast(term: Column, termScale: Int, outScale: Int): Column =
    call_function("unscaled_dbl",
      sum(call_function("dec_unscaled", term, lit(termScale))),
      lit(termScale), lit(outScale))

  def avgExactFast(term: Column, scale: Int): Column =
    sumExactFast(term, scale) / count(term)
}
