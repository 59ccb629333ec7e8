package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a Spark program plus (when the semantics are
  * ANSI-SQL-expressible) its DuckDB oracle mirror. The program is either
  * DataFrame code or the entry's [[graft.sql.SqlSurface]] text (see
  * [[Q.sql]]). Every float the query emits must be
  * cross-engine-deterministic (see [[Exact]]).
  *
  * @param headline included in the Bench headline set
  */
case class Q(name: String,
             run: (SparkSession, String) => DataFrame,
             oracle: Option[String],
             headline: Boolean = false) {

  /** True when this entry's program is its SqlSurface text. */
  def isText: Boolean = run.isInstanceOf[Q.Text]
}

object Q {

  /** The program of an entry that *is* its SqlSurface text. */
  final case class Text(name: String) extends ((SparkSession, String) => DataFrame) {
    def apply(spark: SparkSession, sfDir: String): DataFrame =
      graft.sql.SqlSurface.run(spark, sfDir, name)
  }

  /** A catalog entry whose Spark program is its SqlSurface text: where
    * the text and a DataFrame spelling plan the same optimized and
    * physical plan, Catalyst sees one program, so it is written once.
    */
  def sql(name: String, oracle: String, headline: Boolean = false): Q =
    Q(name, Text(name), Some(oracle), headline)

  /** Deterministic presentation sort over an EXPENSIVE computed result.
    *
    * A trailing global `orderBy` range-samples its child. Under AQE the
    * shuffle stages below have already run when the sampler starts, so
    * the sample re-runs the stage above the last exchange — for these
    * pipelines the window stage — and the output pass runs it again.
    * Caching the computed result first means the sampling pass populates
    * the cache and the output pass reads it: one execution of that stage
    * plus one in-memory write/read of the (already reduced) result.
    * Measured at sf0.1, `local[4]`, min of 3 reps, median of 4 alternating
    * pairs, cache vs a plain `orderBy`: q17 1.45 vs 2.15 s, q18 1.28 vs
    * 1.74 s, q19 1.77 vs 2.49 s. A plain `orderBy` would let only q07,
    * q17, q18, q82 and q146 plan like their SQL texts, so the cache
    * stays. The harness (Bench/Verify) clears the cache after every
    * query, so nothing leaks across measurements; on a real cluster the
    * presentation sort itself is the thing you'd drop — results this
    * shape are written partitioned, not totally ordered.
    */
  def presentSorted(df: DataFrame, keys: String*): DataFrame =
    df.cache().orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
}
