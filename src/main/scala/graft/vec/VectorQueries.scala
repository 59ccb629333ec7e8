package graft.vec

import graft.{Exact, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding/similarity layer over `embeddings` (ARRAY<FLOAT>, 64-dim):
  * per-vector stats, label centroids, brute-force cosine top-k, and
  * random-hyperplane LSH bucketing (the ANN scale path: candidates meet
  * only within a bucket).
  *
  * All dot products / norms fold per-row via higher-order functions with
  * DECIMAL accumulators — no shuffle for the pairwise math, and the
  * decimal sums are order-independent, so results are identical under any
  * partitioning (and to DuckDB's list_sum mirror).
  *
  * Scale notes: brute-force top-k is O(Q·N·d) with the tiny query side
  * broadcast; at 100 TB the LSH variant (q37) bounds candidates per
  * bucket, and the same `Exact` folds keep results reproducible.
  */
object VectorQueries {

  /** Max members of an LSH (band, code) bucket that participate in the
    * q39 candidate self-join — bounds per-bucket fan-out at CAP²/2 under
    * degenerate skew (thousands of identical vectors). sf0.1's largest
    * bucket is 112, so normal corpora are unaffected.
    */
  private[graft] val HotBucketCap = 256

  /** Exact decimal dot product of two float-array columns (double math
    * per term, rounded at 8dp, decimal-summed) — the native dec_dot8
    * kernel (functions.DecDot8), compiled twin of the `graft.Exact`
    * fold; resolved by name from the session's kernels
    * ([[graft.functions.Kernels.register]]).
    */
  private def dotExpr(a: String, b: String): String = s"dec_dot8($a, $b)"

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> " +
      "CAST(round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE), 8) AS DECIMAL(38,8)))) AS DOUBLE)"

  private def norm2Expr(a: String): String = s"dec_dot8($a, $a)"

  private def norm2Sql(a: String): String =
    s"CAST(list_sum(list_transform($a, x -> " +
      "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 8) AS DECIMAL(38,8)))) AS DOUBLE)"

  // ---- ordered-double folds: plain double math, left fold. Bit-exact
  // across engines because the DuckDB mirror (list_reduce over a
  // prepended zero) performs the SAME adds in the SAME order — ~10× less
  // CPU than the decimal recipe as an HOF, another ~10× as the compiled
  // ord_dot kernel (functions.OrdDot — identical IEEE add sequence,
  // registered by Tables()). Used on the hot pairwise paths (q39, q160).
  private[vec] def dotOrdExpr(a: String, b: String): String =
    s"ord_dot($a, $b)"

  private def dotOrdSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b), p -> " +
      "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"

  private[vec] def norm2OrdExpr(a: String): String =
    s"ord_dot($a, $a)"

  private def norm2OrdSql(a: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform($a, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x)"

  // ---------------------------------------------------------------- q34
  val q34 = Q.sql("q34_embedding_stats",
    s"""WITH n AS (
      SELECT vec_id, label,
        CAST(len(embedding) AS BIGINT) AS dim,
        ${norm2Sql("embedding")} AS norm2,
        CAST(list_sum(list_transform(embedding, x ->
          CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(38,8)))) AS DOUBLE) AS comp_sum,
        CAST(list_min(embedding) AS DOUBLE) AS comp_min,
        CAST(list_max(embedding) AS DOUBLE) AS comp_max
      FROM embeddings
    )
    SELECT vec_id, label, dim, norm2, sqrt(norm2) AS norm, comp_sum, comp_min, comp_max
    FROM n ORDER BY vec_id""")

  // ---------------------------------------------------------------- q35
  val q35 = Q.sql("q35_label_centroids",
    s"""SELECT label, pos, COUNT(*) AS n,
      (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS centroid
    FROM (SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
    GROUP BY label, pos ORDER BY label, pos""")

  // ---------------------------------------------------------------- q36
  val q36 = Q("q36_knn_bruteforce",
    (s, dir) => {
      val en = Tables(s, dir, "embeddings", spreadOk = true)
        .withColumn("n2", expr(norm2Expr("embedding")))
      val q = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val c = en.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("n2").as("cn2"))
      val dot = expr(dotExpr("qe", "ce"))
      val cos = when(col("qn2") > 0 && col("cn2") > 0,
        col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col("c_id"))
      broadcast(q).join(c, col("c_id") =!= col("q_id"))
        .withColumn("dot", dot)
        .withColumn("cos_sim", cos)
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "c_id", "cos_sim")
        .transform(graft.Q.presentSorted(_, "q_id", "rnk"))
    },
    Some(s"""WITH en AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings
    ), p AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
        ${dotSql("q.embedding", "c.embedding")} AS dot
      FROM en q JOIN en c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), sc AS (
      SELECT q_id, c_id,
        CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
      FROM p
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM sc
    )
    SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""),
    headline = true)

  // ---------------------------------------------------------------- q37
  /** Random-hyperplane LSH: 8 deterministic integer hyperplanes
    * w(i,j) = ((i·64 + j)·2654435761) % 2001 − 1000; bucket bit i is the
    * sign of the exact decimal dot product with plane i.
    */
  val q37 = Q("q37_lsh_buckets",
    (s, dir) => {
      def plane(i: Int): Column = expr(
        s"CAST(aggregate(transform(sequence(1, size(embedding)), j -> " +
          s"CAST(round(CAST((($i * 64 + j) * 2654435761) % 2001 - 1000 AS DOUBLE) * " +
          s"CAST(element_at(embedding, j) AS DOUBLE), 6) AS DECIMAL(30,6))), " +
          s"CAST(0 AS DECIMAL(30,6)), (acc, v) -> CAST(acc + v AS DECIMAL(30,6))) AS DOUBLE)")
      val withPlanes = (0 to 7).foldLeft(Tables(s, dir, "embeddings", spreadOk = true)) { (d, i) =>
        d.withColumn(s"h$i", plane(i))
      }
      val bucket = (0 to 7).map(i =>
        when(col(s"h$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
      withPlanes
        .withColumn("bucket", bucket)
        .withColumn("n_in_bucket", count(lit(1)).over(Window.partitionBy("bucket")))
        .select("vec_id", "label", "bucket", "n_in_bucket")
        .transform(graft.Q.presentSorted(_, "vec_id"))
    },
    Some {
      def planeSql(i: Int) =
        s"CAST(list_sum(list_transform(generate_series(1, len(embedding)), j -> " +
          s"CAST(round(CAST((($i * 64 + j) * 2654435761) % 2001 - 1000 AS DOUBLE) * " +
          s"CAST(embedding[j] AS DOUBLE), 6) AS DECIMAL(38,6)))) AS DOUBLE) AS h$i"
      val bucket = (0 to 7).map(i => s"CASE WHEN h$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      s"""WITH h AS (
      SELECT vec_id, label,
        ${(0 to 7).map(planeSql).mkString(",\n        ")}
      FROM embeddings
    ), b AS (
      SELECT vec_id, label, CAST($bucket AS BIGINT) AS bucket FROM h
    )
    SELECT vec_id, label, bucket, COUNT(*) OVER (PARTITION BY bucket) AS n_in_bucket
    FROM b ORDER BY vec_id"""
    })

  // ---------------------------------------------------------------- q39
  /** Embedding-cosine near-duplicate detection, banded-LSH bounded:
    * 32 deterministic hyperplanes grouped into 4 bands of 8 sign bits;
    * a pair is a candidate when ANY band's 8-bit code collides (multi-
    * probe recall: P = 1−(1−p⁸)⁴ instead of the single-code p¹⁰ cliff),
    * then exact cosine verifies at the threshold. This is the 100 TB
    * dedup shape twice over: per-band equi-joins shard the shuffle by
    * (band, code), and no all-pairs product ever forms. Pair dedup
    * across bands + the matching-band count come from one groupBy.
    */
  val q39 = Q("q39_embedding_neardup",
    (s, dir) => {
      // all 32 hyperplane signs → 4 band codes in ONE compiled loop per
      // vector (native lsh_band_codes kernel; ordered accumulation keeps
      // every sign bit-identical to the HOF fold / DuckDB list_reduce
      // mirror) — the 32 interpreted aggregate(transform(...)) folds
      // this replaces were ~70% of the query's wall
      // cached: both join sides and the verify join reuse the codes;
      // the harness clears it after the query
      val eb = Tables(s, dir, "embeddings")
        .withColumn("n2", expr(norm2OrdExpr("embedding")))
        .withColumn("codes", expr("lsh_band_codes(embedding, 4, 8)"))
        .select(col("vec_id") +: col("embedding") +: col("n2") +:
          (0 to 3).map(b => element_at(col("codes"), b + 1).as(s"code$b")): _*)
        .cache()
      // HOT-BUCKET GUARD: only the first HotBucketCap members (by vec_id)
      // of a (band, code) bucket join — candidate fan-out per bucket is
      // bounded by CAP²/2 regardless of skew. sf0.1's largest bucket is
      // 112, so normal corpora are untouched; what a degenerate corpus
      // loses is logged, never silent.
      val wB = Window.partitionBy("band_idx", "code").orderBy("vec_id")
      val bands = eb.select(col("vec_id"),
        posexplode(array((0 to 3).map(b => col(s"code$b")): _*)))
        .toDF("vec_id", "band_idx", "code")
        .withColumn("bn", row_number().over(wB))
      val nOver = bands.filter(col("bn") > HotBucketCap).count()
      if (nOver > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft.neardup] $nOver band-membership row(s) beyond the " +
            s"$HotBucketCap-member bucket cap excluded from candidate generation")
      val kept = bands.filter(col("bn") <= HotBucketCap)
      val cand = kept.as("a")
        .join(kept.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.code") === col("b.code") &&
            col("a.vec_id") < col("b.vec_id"))
        .groupBy(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .agg(count(lit(1)).as("n_bands"))
      cand
        .join(eb.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("n2").as("na")), "id_a")
        .join(eb.select(col("vec_id").as("id_b"), col("embedding").as("eb2"),
          col("n2").as("nb")), "id_b")
        .withColumn("dot", expr(dotOrdExpr("ea", "eb2")))
        .withColumn("cos_sim", when(col("na") > 0 && col("nb") > 0,
          col("dot") / (sqrt(col("na")) * sqrt(col("nb")))))
        .filter(col("cos_sim") > 0.15)
        .select("id_a", "id_b", "n_bands", "cos_sim")
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    Some {
      def planeSql(i: Int) =
        s"list_reduce(list_prepend(0.0::DOUBLE, " +
          s"list_transform(generate_series(1, len(embedding)), j -> " +
          s"CAST((($i * 64 + j) * 2654435761) % 2001 - 1000 AS DOUBLE) * " +
          s"CAST(embedding[j] AS DOUBLE))), (acc, x) -> acc + x) AS h$i"
      def bandSql(b: Int) = (0 to 7)
        .map(i => s"CASE WHEN h${8 * b + i} > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      val bandRows = (0 to 3).map(b =>
        s"SELECT vec_id, $b AS band_idx, CAST(${bandSql(b)} AS BIGINT) AS code FROM h")
        .mkString("\n      UNION ALL ")
      s"""WITH h AS (
      SELECT vec_id, embedding,
        ${(0 to 31).map(planeSql).mkString(",\n        ")}
      FROM embeddings
    ), en AS (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM h
    ), bands AS (
      $bandRows
    ), bandrk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
      FROM bands
    ), cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
      FROM bandrk a JOIN bandrk b
        ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
       AND a.bn <= $HotBucketCap AND b.bn <= $HotBucketCap
      GROUP BY 1, 2
    ), scored AS (
      SELECT c.id_a, c.id_b, c.n_bands,
        CASE WHEN x.n2 > 0 AND y.n2 > 0
             THEN ${dotOrdSql("x.embedding", "y.embedding")} / (sqrt(x.n2) * sqrt(y.n2)) END AS cos_sim
      FROM cand c JOIN en x ON x.vec_id = c.id_a JOIN en y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, n_bands, cos_sim FROM scored
    WHERE cos_sim > 0.15 ORDER BY id_a, id_b"""
    })

  // ---------------------------------------------------------------- q72
  /** q39 at the FLEET-SCALE band width: 4 bands × 16 sign bits (64
    * hyperplanes) instead of 4 × 8. Expected (band, code) occupancy is
    * O(N/2¹⁶) — at 10× corpus the 8-bit codes go quadratic in candidate
    * pairs (measured 15.7× wall in ScaleBench, N²/2⁸ exactly as theory
    * predicts) while these stay ~linear. Same verify (ordered-double
    * cosine > 0.15), same hot-bucket guard; the operating-point trade
    * is recall at small N (fewer sign-agreements required at 8 bits) vs
    * candidate volume at large N — which is why BOTH widths are catalog
    * entries.
    *
    * PLANE FAMILY (round 17): the md5-derived independent family
    * ([[graft.functions.LshBandCodesMd5]]). The LCG family q39 still
    * uses is period-5 DEGENERATE — wide codes carry only ~b/5 bits of
    * entropy, so at 2 M rows the 16-bit LCG codes went bucket-quadratic
    * (549 s wall with ~678 k silently cap-truncated rows per band,
    * receipts/adaptive_neardup_r16.json) — a scale-killer a catalog
    * user would have inherited. q39's 8-bit codes sit below the
    * degeneracy knee (8 < 2×5), so the LCG family stays there as the
    * documented exhibit; every ≥ 16-bit production surface (this query,
    * q184's width law) encodes with the independent family.
    */
  val q72 = Q("q72_embedding_neardup_wide",
    (s, dir) => {
      val eb = Tables(s, dir, "embeddings")
        .withColumn("n2", expr(norm2OrdExpr("embedding")))
        .withColumn("codes", expr("lsh_band_codes_md5(embedding, 4, 16)"))
        .select(col("vec_id") +: col("embedding") +: col("n2") +:
          (0 to 3).map(b => element_at(col("codes"), b + 1).as(s"code$b")): _*)
        .cache()
      val wB = Window.partitionBy("band_idx", "code").orderBy("vec_id")
      val bands = eb.select(col("vec_id"),
        posexplode(array((0 to 3).map(b => col(s"code$b")): _*)))
        .toDF("vec_id", "band_idx", "code")
        .withColumn("bn", row_number().over(wB))
      val kept = bands.filter(col("bn") <= HotBucketCap)
      val cand = kept.as("a")
        .join(kept.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.code") === col("b.code") &&
            col("a.vec_id") < col("b.vec_id"))
        .groupBy(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .agg(count(lit(1)).as("n_bands"))
      cand
        .join(eb.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("n2").as("na")), "id_a")
        .join(eb.select(col("vec_id").as("id_b"), col("embedding").as("eb2"),
          col("n2").as("nb")), "id_b")
        .withColumn("dot", expr(dotOrdExpr("ea", "eb2")))
        .withColumn("cos_sim", when(col("na") > 0 && col("nb") > 0,
          col("dot") / (sqrt(col("na")) * sqrt(col("nb")))))
        .filter(col("cos_sim") > 0.15)
        .select("id_a", "id_b", "n_bands", "cos_sim")
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    Some {
      // 48-bit md5 fold (the q182 hFold), reduced to the coefficient
      // domain [-1000, 1000] — bit-identical to LshBandCodesMd5.coef
      def hFold(arg: String) =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), hi -> " +
          s"CAST(strpos('0123456789abcdef', substr(md5($arg), hi, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def planeSql(i: Int) =
        s"list_reduce(list_prepend(0.0::DOUBLE, " +
          s"list_transform(list_zip(e.embedding, (SELECT cv FROM cw WHERE plane = $i)), " +
          "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x) AS h$i"
            .replace("$i", i.toString)
      def bandSql(b: Int) = (0 to 15)
        .map(i => s"CASE WHEN h${16 * b + i} > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      val bandRows = (0 to 3).map(b =>
        s"SELECT vec_id, $b AS band_idx, CAST(${bandSql(b)} AS BIGINT) AS code FROM h")
        .mkString("\n      UNION ALL ")
      s"""WITH dims AS (
      SELECT MAX(len(embedding)) AS d FROM embeddings
    ), cw AS (
      SELECT plane, list(coef ORDER BY j) AS cv FROM (
        SELECT p.plane, j.j,
          ${hFold("'lshp#' || CAST(p.plane AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)")} % 2001 - 1000 AS coef
        FROM (SELECT unnest(generate_series(0, 63)) AS plane) p
        CROSS JOIN (SELECT unnest(generate_series(1, (SELECT d FROM dims))) AS j) j
      ) GROUP BY plane
    ), h AS (
      SELECT e.vec_id, e.embedding,
        ${(0 to 63).map(planeSql).mkString(",\n        ")}
      FROM embeddings e
    ), en AS (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM h
    ), bands AS (
      $bandRows
    ), bandrk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
      FROM bands
    ), cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
      FROM bandrk a JOIN bandrk b
        ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
       AND a.bn <= $HotBucketCap AND b.bn <= $HotBucketCap
      GROUP BY 1, 2
    ), scored AS (
      SELECT c.id_a, c.id_b, c.n_bands,
        CASE WHEN x.n2 > 0 AND y.n2 > 0
             THEN ${dotOrdSql("x.embedding", "y.embedding")} / (sqrt(x.n2) * sqrt(y.n2)) END AS cos_sim
      FROM cand c JOIN en x ON x.vec_id = c.id_a JOIN en y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, n_bands, cos_sim FROM scored
    WHERE cos_sim > 0.15 ORDER BY id_a, id_b"""
    })

  // --------------------------------------------------------------- q184
  /** The WIDTH LAW, oracle-gated END-TO-END: [[adaptiveNearDup]] with
    * `bitsOverride = None`, so the gate exercises the full production
    * chain — corpus count → [[adaptiveBandBits]] (ceil log₂ N clamped
    * [8, 32]) → md5-family band codes at the derived width → banded
    * self-join → exact ordered-double cosine verify. The DuckDB mirror
    * derives the SAME width from COUNT(*) as
    * `LEAST(32, GREATEST(8, length(bin(cnt − 1))))` — the bit-length of
    * N−1 is exactly ceil(log₂ N), with no float-log precision edge at
    * powers of two — then builds the 4·bits hyperplanes ROW-WISE from
    * the portable h48 md5 coefficient fold (a width-agnostic shape: the
    * fixed-width mirrors unroll h0..h63 as columns, which a dynamic
    * width cannot) and re-assembles each band code as a bit-sum grouped
    * by (vec_id, plane div bits). The law's CHOICE of width, not just
    * the encoder, is pinned: `bits` rides every output row, so the
    * mirror must agree on the derivation before a single pair can
    * hash-match. (The round-16 gate ran this path only at a pinned
    * 16-bit width — q72 now owns that fixed-width row — and at the gate
    * SFs the law picks 9–11 bits, so this row genuinely gates the
    * derivation, not a constant.)
    */
  val q184 = Q("q184_embedding_neardup_indep",
    (s, dir) => {
      val (pairs, _, _, bits) = adaptiveNearDup(s, dir)
      pairs.withColumn("bits", lit(bits))
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    Some {
      // 48-bit md5 fold (the q182 hFold), reduced to the coefficient
      // domain [-1000, 1000] — bit-identical to LshBandCodesMd5.coef
      def hFold(arg: String) =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), hi -> " +
          s"CAST(strpos('0123456789abcdef', substr(md5($arg), hi, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      s"""WITH bw AS (
      SELECT LEAST(32, GREATEST(8, length(bin(COUNT(*) - 1)))) AS bits FROM embeddings
    ), dims AS (
      SELECT MAX(len(embedding)) AS d FROM embeddings
    ), cw AS (
      SELECT plane, list(coef ORDER BY j) AS cv FROM (
        SELECT p.plane, j.j,
          ${hFold("'lshp#' || CAST(p.plane AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)")} % 2001 - 1000 AS coef
        FROM (SELECT unnest(generate_series(0, 4 * (SELECT bits FROM bw) - 1)) AS plane) p
        CROSS JOIN (SELECT unnest(generate_series(1, (SELECT d FROM dims))) AS j) j
      ) GROUP BY plane
    ), h AS (
      SELECT e.vec_id, p.plane,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(list_zip(e.embedding, p.cv),
            q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))),
          (acc, x) -> acc + x) AS hv
      FROM embeddings e CROSS JOIN cw p
    ), bands AS (
      SELECT vec_id,
        CAST(plane // (SELECT bits FROM bw) AS INT) AS band_idx,
        CAST(SUM(CASE WHEN hv > 0
          THEN CAST(1 AS BIGINT) << CAST(plane % (SELECT bits FROM bw) AS INT)
          ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS code
      FROM h GROUP BY 1, 2
    ), en AS (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), bandrk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
      FROM bands
    ), cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
      FROM bandrk a JOIN bandrk b
        ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
       AND a.bn <= $HotBucketCap AND b.bn <= $HotBucketCap
      GROUP BY 1, 2
    ), scored AS (
      SELECT c.id_a, c.id_b, c.n_bands,
        CASE WHEN x.n2 > 0 AND y.n2 > 0
             THEN ${dotOrdSql("x.embedding", "y.embedding")} / (sqrt(x.n2) * sqrt(y.n2)) END AS cos_sim
      FROM cand c JOIN en x ON x.vec_id = c.id_a JOIN en y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, n_bands, cos_sim,
      (SELECT CAST(bits AS INT) FROM bw) AS bits FROM scored
    WHERE cos_sim > 0.15 ORDER BY id_a, id_b"""
    })

  /** Width law for [[adaptiveNearDup]], q72's production twin: band
    * code bits that hold expected (band, code) occupancy ≈ 1 as the
    * corpus grows — ceil(log₂ N), clamped to [8, 32]. At a FIXED width
    * the bucket population grows ∝ N and the exact-verify volume
    * ∝ N²/2^bits (the measured 454× step at 2 M / 16-bit,
    * receipts/scale1000_vec_r15.log); holding occupancy ≈ 1 keeps the
    * candidate volume ~linear, which is the whole point of banding.
    * 8-bit floor: below ~256 rows narrower codes only inflate
    * collisions; 32-bit ceiling: 4×32 = 128 hyperplanes is the
    * deterministic plane family's comfortable envelope and 2³² buckets
    * is past any realistic per-band population (10⁹ rows → occupancy
    * 0.25).
    */
  private[graft] def adaptiveBandBits(n: Long): Int = {
    require(n > 0, s"adaptiveBandBits needs a positive corpus size, got $n")
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(32, math.max(8, ceilLog2))
  }

  /** q72's PRODUCTION twin: the same 4-band signed-hyperplane near-dup
    * (same md5-derived plane family, same ordered-double cosine verify
    * at > 0.15, same hot-bucket star guard), with the band width
    * derived from the corpus size by [[adaptiveBandBits]] instead of
    * pinned at 16 — the scale lever PERF.md names (code width ∝ log₂ N,
    * 24–32 bits at 10⁷–10⁹ rows) actually computed, not just
    * documented. Catalog q72 keeps the fixed 16-bit width as the wide
    * catalog operating point; THIS path — including the width
    * derivation itself — is oracle-gated as catalog q184.
    *
    * NO SILENT CAPS: alongside the pairs the function returns the cap
    * audit — one row per band with the count of bucket members the
    * HotBucketCap guard excluded from pairing — so recall loss from a
    * hot bucket is a number in the run log, never an invisible
    * truncation. At the law's width the expected occupancy is ≈ 1 and
    * the audit reads empty; a nonzero count is the signal to widen.
    *
    * The encoder family defaults to `"md5"` ([[graft.functions.LshBandCodesMd5]]):
    * the LCG plane family (still used by the narrow catalog entries
    * q37/q39, whose 8-bit codes sit below the knee) is DEGENERATE past
    * ~5 bits per band (planes p and p+5 are near-duplicate hyperplanes
    * — see the kernel scaladoc), so on the LCG family no width restores
    * occupancy ≈ 1; the md5 family's planes are independent and the
    * width law works as designed. Pass `family = "lcg"` only to
    * reproduce the retired round-16 q72 encoder (the degeneracy
    * exhibit, receipts/adaptive_neardup_r16.json).
    *
    * @return (pairs, candidates(id_a, id_b, n_bands) — the pre-verify
    *         frame, so a probe can report precision = |pairs| / |cand|,
    *         capAudit(band_idx, rows_truncated), bits)
    */
  private[graft] def adaptiveNearDup(s: SparkSession, dir: String,
                                     bitsOverride: Option[Int] = None,
                                     cap: Int = HotBucketCap,
                                     family: String = "md5")
      : (DataFrame, DataFrame, DataFrame, Int) = {
    val enc = if (family == "md5") "lsh_band_codes_md5" else "lsh_band_codes"
    val bits = bitsOverride.getOrElse(
      adaptiveBandBits(Tables(s, dir, "embeddings").count()))
    val eb = Tables(s, dir, "embeddings")
      .withColumn("n2", expr(norm2OrdExpr("embedding")))
      .withColumn("codes", expr(s"$enc(embedding, 4, $bits)"))
      .select(col("vec_id") +: col("embedding") +: col("n2") +:
        (0 to 3).map(b => element_at(col("codes"), b + 1).as(s"code$b")): _*)
      .cache()
    val wB = Window.partitionBy("band_idx", "code").orderBy("vec_id")
    val bands = eb.select(col("vec_id"),
      posexplode(array((0 to 3).map(b => col(s"code$b")): _*)))
      .toDF("vec_id", "band_idx", "code")
      .withColumn("bn", row_number().over(wB))
    val capAudit = bands.filter(col("bn") > cap)
      .groupBy("band_idx").agg(count(lit(1)).as("rows_truncated"))
    val kept = bands.filter(col("bn") <= cap)
    val cand = kept.as("a")
      .join(kept.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
    val pairs = cand
      .join(eb.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("n2").as("na")), "id_a")
      .join(eb.select(col("vec_id").as("id_b"), col("embedding").as("eb2"),
        col("n2").as("nb")), "id_b")
      .withColumn("dot", expr(dotOrdExpr("ea", "eb2")))
      .withColumn("cos_sim", when(col("na") > 0 && col("nb") > 0,
        col("dot") / (sqrt(col("na")) * sqrt(col("nb")))))
      .filter(col("cos_sim") > 0.15)
      .select("id_a", "id_b", "n_bands", "cos_sim")
    (pairs, cand, capAudit, bits)
  }

  // ---- shared IVF assignment machinery (q44 / q52) ------------------
  private val cnorm2Expr = "dec_dot8(cvec, cvec)"

  private val xcDotExpr = "dec_dot8(embedding, cvec)"

  private[vec] def ensureCkptDir(s: SparkSession): Unit =
    graft.util.Ckpt.ensureDir(s.sparkContext)

  /** (vec_id, clabel, crn): every vector's per-label centroid cells
    * ranked by the exact-decimal distance d2 = ‖c‖² − 2·x·c (ties →
    * smaller label) — the shared IVF assignment subplan behind q44
    * (crn = 1) and q52's probes (crn ≤ 2). Memoized per (session, dir)
    * via [[graft.util.SessionMemo]] (stable sessionUUID key, dead-session
    * eviction) and reliably checkpointed (three scalars per vector×cell,
    * no embedding payload), so the expensive decimal dot products run
    * once per session even with cache-clearing between catalog queries.
    */
  private def cellRanks(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"ivf-cellranks:$dir") {
      val emb = Tables(s, dir, "embeddings")
      val perDim = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
        .groupBy(col("label"), (col("pos0") + lit(1)).cast("long").as("pos"))
        .agg((Exact.sumExactFast(col("x").cast("double"), 8) / count(lit(1))).as("c"))
      val cent = perDim.groupBy(col("label").as("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          t => t.getField("c")).as("cvec"))
        .withColumn("cnorm2", expr(cnorm2Expr))
      val wCell = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("clabel").asc)
      val ranked = emb.join(broadcast(cent))
        .withColumn("d2", col("cnorm2") - lit(2.0) * expr(xcDotExpr))
        .withColumn("crn", row_number().over(wCell))
        .select("vec_id", "clabel", "crn")
      ensureCkptDir(s)
      ranked.checkpoint()
    }

  // ---------------------------------------------------------------- q44
  /** IVF-style ANN (the other scale path besides LSH): build coarse
    * centroids (per-label exact-decimal means), assign every vector to
    * its nearest centroid cell (argmin of ‖c‖² − 2·x·c), then search
    * queries only within their own cell (nprobe = 1), exact cosine top-3.
    * Everything is decimal-exact so the cell assignment — and therefore
    * the candidate set — is identical across engines and partitionings.
    * (Learned k-means centroids: q54; these label-cells are the
    * deterministic fallback.)
    */
  val q44 = Q("q44_ivf_ann",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val assigned = emb
        .join(cellRanks(s, dir).filter(col("crn") === 1)
          .select(col("vec_id"), col("clabel").as("cell")), "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"),
          expr(norm2Expr("embedding")).as("n2"))
      // nprobe=1 search: candidates share the query's cell
      val qs = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("cell"), col("embedding").as("qe"),
          col("n2").as("qn2"))
      val cands = assigned.select(col("vec_id").as("c_id"), col("cell").as("cell_c"),
        col("embedding").as("ce"), col("n2").as("cn2"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col("c_id"))
      broadcast(qs).join(cands, col("cell") === col("cell_c") && col("c_id") =!= col("q_id"))
        .withColumn("dot", expr(dotExpr("qe", "ce")))
        .withColumn("cos_sim", when(col("qn2") > 0 && col("cn2") > 0,
          col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))))
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "cell", "rnk", "c_id", "cos_sim")
        .transform(graft.Q.presentSorted(_, "q_id", "rnk"))
    },
    Some(s"""WITH ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM (
        SELECT d.vec_id, d.label,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
        FROM dots d JOIN cn USING (label))
      WHERE crn = 1
    ), en AS (
      SELECT e.vec_id, a.cell, e.embedding, ${norm2Sql("e.embedding")} AS n2
      FROM embeddings e JOIN assigned a USING (vec_id)
    ), pairs AS (
      SELECT q.vec_id AS q_id, q.cell, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
        ${dotSql("q.embedding", "c.embedding")} AS dot
      FROM en q JOIN en c ON q.cell = c.cell AND c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), scored AS (
      SELECT q_id, cell, c_id,
        CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
      FROM pairs
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, cell, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- q52
  /** Multi-probe IVF ANN (nprobe = 2): queries search their TWO nearest
    * centroid cells instead of one — the standard recall lever when a
    * query lands near a cell boundary. Candidates stay assigned to one
    * cell (no index growth); only the probe fan-out changes, so the
    * search cost is nprobe × cell size per query and the shuffle is
    * still an equi-join on the cell key. Centroids/assignment reuse
    * q44's exact-decimal math, so the probed cells — and therefore the
    * candidate set — are engine- and partitioning-independent.
    */
  val q52 = Q("q52_ivf_multiprobe",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val ranked = cellRanks(s, dir)
      val assigned = emb
        .join(ranked.filter(col("crn") === 1)
          .select(col("vec_id"), col("clabel").as("cell")), "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"),
          expr(norm2Expr("embedding")).as("n2"))
      // queries probe their 2 nearest cells; candidates live in 1 cell
      val probes = ranked.filter(col("vec_id") < 8 && col("crn") <= 2)
        .select(col("vec_id").as("q_id"), col("clabel").as("pcell"),
          col("crn").cast("long").as("probe_rank"))
      val qs = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val cands = assigned.select(col("vec_id").as("c_id"), col("cell").as("cell_c"),
        col("embedding").as("ce"), col("n2").as("cn2"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col("c_id"))
      broadcast(probes.join(qs, "q_id"))
        .join(cands, col("pcell") === col("cell_c") && col("c_id") =!= col("q_id"))
        .withColumn("dot", expr(dotExpr("qe", "ce")))
        .withColumn("cos_sim", when(col("qn2") > 0 && col("cn2") > 0,
          col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))))
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "rnk", "c_id", "pcell", "probe_rank", "cos_sim")
        .transform(graft.Q.presentSorted(_, "q_id", "rnk"))
    },
    Some(s"""WITH ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), rankedA AS (
      SELECT d.vec_id, d.label,
        ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
      FROM dots d JOIN cn USING (label)
    ), assigned AS (
      SELECT vec_id, label AS cell FROM rankedA WHERE crn = 1
    ), probes AS (
      SELECT vec_id AS q_id, label AS pcell, CAST(crn AS BIGINT) AS probe_rank
      FROM rankedA WHERE crn <= 2 AND vec_id < 8
    ), en AS (
      SELECT e.vec_id, a.cell, e.embedding, ${norm2Sql("e.embedding")} AS n2
      FROM embeddings e JOIN assigned a USING (vec_id)
    ), pairs AS (
      SELECT p.q_id, p.pcell, p.probe_rank, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
        ${dotSql("q.embedding", "c.embedding")} AS dot
      FROM probes p
      JOIN en q ON q.vec_id = p.q_id
      JOIN en c ON c.cell = p.pcell AND c.vec_id != p.q_id
    ), scored AS (
      SELECT q_id, pcell, probe_rank, c_id,
        CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
      FROM pairs
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, rnk, c_id, pcell, probe_rank, cos_sim
    FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- q54
  private val KCells = 8
  private val LloydRounds = 2

  /** Append `cell` = nearest-centroid id (exact-decimal
    * d2 = ‖c‖² − 2·x·c, ties → smaller cid) as a PURE PROJECTION over
    * the input — all other columns retained.
    *
    * `cent` (cid, cvec, cnorm2) is ALWAYS driver-bounded here (K ≤ 8
    * k-means cells / 4 PQ codes), so it is collected and the argmin
    * compiled into `least` over K literal-centroid (d2, cid) structs —
    * the same lexicographic (d2 asc, cid asc) order the previous
    * min(struct) aggregation used, on the same kernel dots against the
    * same collected doubles, so assignments are bit-identical. What it
    * replaces (round 12): a broadcast K-way row fan-out + groupBy(vec_id)
    * exchange + (at every caller) a join back onto the input by vec_id —
    * two data-sized shuffles per assignment, per Lloyd round. Zero
    * shuffles now; each round's plan starts from literals, so the Lloyd
    * lineage never nests either.
    */
  private[graft] def withCell(emb: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.select("cid", "cvec", "cnorm2").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cs.nonEmpty, "withCell needs at least one centroid (empty codebook frame)")
    require(cs.length <= 256, s"withCell is for driver-bounded codebooks, got ${cs.length}")
    val cands = cs.map { case (cid, cvec, cn2) =>
      struct(
        (lit(cn2) - lit(2.0) * call_function("dec_dot8", col("embedding"),
          array(cvec.map(lit(_)): _*))).as("d2"),
        lit(cid).as("cid"))
    }
    // Spark's least() requires >= 2 args; a 1-centroid codebook assigns
    // every vector to that single cell directly
    val cell =
      if (cands.length == 1) lit(cs.head._1) else least(cands: _*).getField("cid")
    emb.withColumn("cell", cell)
  }

  /** (vec_id, cell) view of [[withCell]] — kept for callers that join
    * two assignment frames (q92's two-subspace encode).
    */
  private def assignCells(emb: DataFrame, cent: DataFrame): DataFrame =
    withCell(emb, cent).select("vec_id", "cell")

  /** One Lloyd update from a cell-assigned frame: per-cell per-dim
    * exact-decimal means as `dim` agg COLUMNS over one partial-aggregable
    * groupBy(cell) — K·dim decimal sums + one count cross the exchange,
    * never exploded rows. Values identical to the posexplode formulation
    * it replaced (same `round(x, 8)`-grid decimal sums over the same cast
    * doubles; the per-cell count equals the old per-(cell, pos) count on
    * fixed-width embeddings, which every corpus here has).
    */
  private[vec] def lloydMeans(assigned: DataFrame, dim: Int): DataFrame = {
    val aggs = (1 to dim).map { i =>
      (Exact.sumExactFast(element_at(col("embedding"), i).cast("double"), 8)
        / count(lit(1))).as(s"_c$i")
    }
    assigned.groupBy(col("cell").as("cid"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cid"),
        array((1 to dim).map(i => col(s"_c$i")): _*).as("cvec"))
      .withColumn("cnorm2", expr(cnorm2Expr))
  }

  /** IVF over LEARNED k-means centroids (q44/q52's per-label cells kept
    * as the deterministic fallback): seeded init — the K vectors with
    * smallest md5("seed#" ∥ vec_id), a distributed top-K (TakeOrdered),
    * no global shuffle — then [[LloydRounds]] Lloyd iterations. Every
    * step uses the exact-decimal recipe (assignment argmin, per-dim
    * means), so the learned cells — and therefore the candidate set —
    * are identical across engines and partitionings, and the fixed
    * iteration count makes the whole training loop DuckDB-mirrorable.
    * Search: queries probe their own learned cell, exact cosine top-3.
    * Scale shape: each round is one broadcast join + one partial-
    * aggregable per-dim mean; K stays driver-sized, vectors never
    * leave their partitions except the (cell, pos) mean shuffle.
    */
  val q54 = Q("q54_kmeans_ivf",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings", spreadOk = true).select(col("vec_id"), col("embedding"))
      val h = md5(concat(lit("seed#"), col("vec_id").cast("string")).cast("binary"))
      // seeds: distributed top-K by hash (the cluster sorts); cid = rank
      // within the K, assigned on the driver over the ≤ K collected rows
      // — bounded driver data, and no single-partition window anywhere
      // in the plan
      val seedVecs: Seq[(Long, Seq[Double])] = emb
        .withColumn("h", h).orderBy(col("h"), col("vec_id")).limit(KCells)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).collect()
        .toIndexedSeq.zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
      var cent = {
        val sess = s
        import sess.implicits._
        seedVecs.toDF("cid", "cvec").withColumn("cnorm2", expr(cnorm2Expr))
      }
      val dim = seedVecs.head._2.length
      for (_ <- 1 to LloydRounds) {
        // withCell is a projection, so the round is ONE partial-aggregable
        // groupBy(cell) exchange of K rows × dim decimal sums — no
        // assignment shuffle, no join-back, no posexplode row blow-up,
        // no second collect_list pass (round 12). Per-dim mean values are
        // unchanged: same decimal-exact sums over the same cast doubles,
        // same per-cell count (fixed-width embeddings).
        cent = lloydMeans(withCell(emb, cent), dim)
        // no cache needed: the next round COLLECTS cent (K rows) inside
        // withCell, so each round's plan starts from literals and the
        // Lloyd lineage cannot nest
      }
      val en = withCell(emb, cent)
        .withColumn("n2", expr(norm2Expr("embedding")))
        .cache() // read twice: probe side and candidate side of the cell join
      val qs = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("cell"), col("embedding").as("qe"),
          col("n2").as("qn2"))
      val cands = en.select(col("vec_id").as("c_id"), col("cell").as("cell_c"),
        col("embedding").as("ce"), col("n2").as("cn2"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col("c_id"))
      broadcast(qs).join(cands, col("cell") === col("cell_c") && col("c_id") =!= col("q_id"))
        .withColumn("dot", expr(dotExpr("qe", "ce")))
        .withColumn("cos_sim", when(col("qn2") > 0 && col("cn2") > 0,
          col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))))
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "cell", "rnk", "c_id", "cos_sim")
        .transform(graft.Q.presentSorted(_, "q_id", "rnk"))
    },
    Some {
      // fixed-iteration Lloyd unrolled as a WITH chain: cent_i/cn_i →
      // dots_i/asg_i → cent_{i+1} …  (same decimal recipe as q44)
      def cnSql(i: Int) =
        s"""cn_$i AS (
      SELECT cid, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent_$i GROUP BY cid
    )"""
      def asgSql(i: Int) =
        s"""dots_$i AS (
      SELECT u.vec_id, ct.cid,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM ux u JOIN cent_$i ct USING (pos) GROUP BY u.vec_id, ct.cid
    ), asg_$i AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT d.vec_id, d.cid, ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.cid ASC) AS crn
        FROM dots_$i d JOIN cn_$i cn USING (cid)) WHERE crn = 1
    )"""
      def centSql(i: Int) =
        s"""cent_$i AS (
      SELECT a.cell AS cid, u.pos, (${Exact.sumExactSql("u.x", 8)} / COUNT(*)) AS c
      FROM ux u JOIN asg_${i - 1} a USING (vec_id) GROUP BY a.cell, u.pos
    )"""
      val rounds = (1 to LloydRounds)
        .map(i => s"${centSql(i)}, ${cnSql(i)}, ${asgSql(i)}").mkString(", ")
      val last = s"asg_$LloydRounds"
      s"""WITH ux AS (
      SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), sd AS (
      SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY md5('seed#' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings
    ), cent_0 AS (
      SELECT CAST(s.cid AS BIGINT) AS cid, u.pos, u.x AS c
      FROM ux u JOIN sd s USING (vec_id) WHERE s.cid < $KCells
    ), ${cnSql(0)}, ${asgSql(0)}, $rounds, en AS (
      SELECT e.vec_id, a.cell, e.embedding, ${norm2Sql("e.embedding")} AS n2
      FROM embeddings e JOIN $last a USING (vec_id)
    ), pairs AS (
      SELECT q.vec_id AS q_id, q.cell, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
        ${dotSql("q.embedding", "c.embedding")} AS dot
      FROM en q JOIN en c ON q.cell = c.cell AND c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), scored AS (
      SELECT q_id, cell, c_id,
        CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
      FROM pairs
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
      FROM scored
    )
    SELECT q_id, cell, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""
    })

  // ---------------------------------------------------------------- q68
  /** INT8 embedding quantization + retrieval recall — the compression
    * every vector store applies before ANN (4× smaller than float32,
    * integer SIMD dots): per-vector symmetric scale q_i = ⌊x_i·127/max|x|
    * + ½⌋, candidate ranking by INTEGER dot product (exact — no float
    * accumulation at all), measured against the exact float cosine top-5
    * (the q36 ranking) as top-1 agreement and recall@5 per probe.
    *
    * Cross-engine exactness: the quantized values come from one double
    * multiply, divide, add, floor — identical IEEE ops in both engines —
    * and everything after is 64-bit integer math; the exact side reuses
    * the dec_dot8 kernel. At 100 TB the int8 codes are what actually
    * ships to executors: 64 B/vector instead of 256 B, and the dot is a
    * codegen'd long fold.
    */
  val q68 = Q("q68_int8_quant_recall",
    (s, dir) => {
      val en = Tables(s, dir, "embeddings", spreadOk = true)
        .withColumn("mx", expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"))
        .withColumn("qv", expr(
          "CASE WHEN mx > CAST(0 AS DOUBLE) THEN transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * CAST(127 AS DOUBLE) / mx + CAST(0.5 AS DOUBLE)) AS BIGINT)) " +
            "ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END"))
        .withColumn("qn2", expr(
          "aggregate(transform(qv, v -> v * v), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .withColumn("n2", expr(norm2Expr("embedding")))
      val q = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("qv").as("q_qv"),
          col("n2").as("q_n2"), col("qn2").as("q_qn2"))
      val c = en.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("qv").as("c_qv"),
        col("n2").as("c_n2"), col("qn2").as("c_qn2"))
      val wE = Window.partitionBy("q_id").orderBy(desc("cos_exact"), col("c_id"))
      val wQ = Window.partitionBy("q_id").orderBy(desc("cos_q"), col("c_id"))
      val ranked = broadcast(q).join(c, col("c_id") =!= col("q_id"))
        .withColumn("dot_exact", expr(dotExpr("qe", "ce")))
        .withColumn("cos_exact", when(col("q_n2") > 0 && col("c_n2") > 0,
          col("dot_exact") / (sqrt(col("q_n2")) * sqrt(col("c_n2")))))
        .withColumn("dot_q", expr(
          "aggregate(zip_with(q_qv, c_qv, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .withColumn("cos_q", when(col("q_qn2") > 0 && col("c_qn2") > 0,
          col("dot_q").cast("double") /
            (sqrt(col("q_qn2").cast("double")) * sqrt(col("c_qn2").cast("double")))))
        .withColumn("re", row_number().over(wE))
        .withColumn("rq", row_number().over(wQ))
        .filter(col("re") <= 5 || col("rq") <= 5)
        .select("q_id", "c_id", "re", "rq")
        .cache() // tiny (≤ 10 rows/probe); reused by 4 derivations below
      val e5 = ranked.filter(col("re") <= 5)
      val q5 = ranked.filter(col("rq") <= 5)
      val ov = e5.select("q_id", "c_id")
        .join(q5.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap5"))
      val e1 = e5.filter(col("re") === 1).select(col("q_id"), col("c_id").as("exact_top1"))
      val q1 = q5.filter(col("rq") === 1).select(col("q_id"), col("c_id").as("int8_top1"))
      e1.join(q1, "q_id").join(ov, "q_id")
        .select(col("q_id"), col("exact_top1"), col("int8_top1"),
          (col("exact_top1") === col("int8_top1")).cast("int").as("top1_match"),
          col("n_overlap5"),
          (col("n_overlap5").cast("double") / lit(5)).as("recall5"))
        .transform(graft.Q.presentSorted(_, "q_id"))
    },
    Some(s"""WITH en AS (
      SELECT vec_id, embedding,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))), (acc, x) -> greatest(acc, x)) AS mx,
        ${norm2Sql("embedding")} AS n2
      FROM embeddings
    ), qz AS (
      SELECT vec_id, embedding, n2,
        CASE WHEN mx > 0.0::DOUBLE
             THEN list_transform(embedding, x ->
                    CAST(floor(CAST(x AS DOUBLE) * CAST(127 AS DOUBLE) / mx + 0.5::DOUBLE) AS BIGINT))
             ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
      FROM en
    ), qn AS (
      SELECT vec_id, embedding, n2, qv,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(qv, v -> v * v)),
          (acc, v) -> acc + v) AS qn2
      FROM qz
    ), p AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        ${dotSql("q.embedding", "c.embedding")} AS dot_exact,
        q.n2 AS q_n2, c.n2 AS c_n2,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_zip(q.qv, c.qv), pr -> pr[1] * pr[2])),
          (acc, v) -> acc + v) AS dot_q,
        q.qn2 AS q_qn2, c.qn2 AS c_qn2
      FROM qn q JOIN qn c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), sc AS (
      SELECT q_id, c_id,
        CASE WHEN q_n2 > 0 AND c_n2 > 0
             THEN dot_exact / (sqrt(q_n2) * sqrt(c_n2)) END AS cos_exact,
        CASE WHEN q_qn2 > 0 AND c_qn2 > 0
             THEN CAST(dot_q AS DOUBLE) /
                  (sqrt(CAST(q_qn2 AS DOUBLE)) * sqrt(CAST(c_qn2 AS DOUBLE))) END AS cos_q
      FROM p
    ), r AS (
      SELECT q_id, c_id,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_exact DESC, c_id) AS re,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q DESC, c_id) AS rq
      FROM sc
    ), e5 AS (SELECT q_id, c_id, re FROM r WHERE re <= 5
    ), q5 AS (SELECT q_id, c_id, rq FROM r WHERE rq <= 5
    ), ov AS (
      SELECT e5.q_id, COUNT(*) AS n_overlap5
      FROM e5 JOIN q5 ON q5.q_id = e5.q_id AND q5.c_id = e5.c_id
      GROUP BY e5.q_id
    )
    SELECT e1.q_id, e1.c_id AS exact_top1, q1.c_id AS int8_top1,
      CAST(e1.c_id = q1.c_id AS INTEGER) AS top1_match,
      CAST(ov.n_overlap5 AS BIGINT) AS n_overlap5,
      CAST(ov.n_overlap5 AS DOUBLE) / 5 AS recall5
    FROM (SELECT q_id, c_id FROM e5 WHERE re = 1) e1
    JOIN (SELECT q_id, c_id FROM q5 WHERE rq = 1) q1 USING (q_id)
    JOIN ov USING (q_id)
    ORDER BY q_id"""))

  // ---------------------------------------------------------------- q77
  /** The q44 exact-decimal cell-assignment CTE chain (per-label centroid
    * means → ‖c‖² − 2·x·c argmin), shared verbatim by the q77 oracle.
    */
  private val ivfAssignSql: String =
    s"""ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM (
        SELECT d.vec_id, d.label,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
        FROM dots d JOIN cn USING (label))
      WHERE crn = 1
    )"""

  /** Semantic-dedup keep/drop policy: a vector is dropped iff a LOWER-id
    * vector in the same cell is within the cosine threshold.
    */
  private val SemDedupTau = 0.30

  /** Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540 — prune
    * embedding-space near-duplicates the text-level pipelines can't
    * see): cluster the corpus, form pairs only WITHIN a cell, and drop
    * every vector with a lower-id in-cell neighbor at cosine ≥ τ. The
    * clustering is what makes semantic dedup tractable: candidates are
    * bounded by cell size, never the corpus, and the shuffle key is the
    * cell. Cells reuse q44's exact-decimal assignment (memoized
    * [[cellRanks]], shared with q44/q52 in a catalog run); pair math
    * uses the ordered-double folds, bit-identical to the DuckDB mirror,
    * so the kept-set is engine-exact.
    *
    * Scale contract (paper §3): the cluster count must grow with the
    * corpus — k ∝ N keeps cell size (and the per-cell quadratic) flat.
    * These 10 fixed toy cells are the oracle-able stand-in; at fleet
    * scale the k-means path (q54) supplies k, not the label count.
    */
  val q77 = Q("q77_semantic_dedup",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // HOT-CELL GUARD (same family as q39/q48): the first HotBucketCap
      // members of a cell (by vec_id) form all pairs; members beyond the
      // cap compare ONLY against the cell's min-id exemplar (star
      // pairs) — fan-out ≤ CAP²/2 + |cell| under degenerate skew
      // (thousands of identical vectors), while dominance semantics for
      // the overflow rows stay correct for exactly that degenerate case
      // (an identical copy IS within τ of the exemplar). Largest real
      // cell here is ~200 members, so normal corpora take the exact
      // all-pairs path untouched.
      val wCell = Window.partitionBy("cell").orderBy("vec_id")
      // cached: both pair sides and the final left join reuse it; the
      // harness clears it after the query
      val en = emb
        .join(cellRanks(s, dir).filter(col("crn") === 1)
          .select(col("vec_id"), col("clabel").as("cell")), "vec_id")
        .select(col("vec_id"), col("cell"), col("embedding"),
          expr(norm2OrdExpr("embedding")).as("n2"))
        .withColumn("rn", row_number().over(wCell))
        .withColumn("cmin", min("vec_id").over(Window.partitionBy("cell")))
        .cache()
      val nOver = en.filter(col("rn") > HotBucketCap).count()
      if (nOver > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft.semdedup] $nOver vector(s) beyond the $HotBucketCap-member " +
            "cell cap compare only against their cell exemplar (star pairs)")
      val small = en.filter(col("rn") <= HotBucketCap)
      val allPairs = small.select(col("cell"), col("vec_id").as("dom"),
          col("embedding").as("ea"), col("n2").as("na"))
        .join(small.select(col("cell"), col("vec_id").as("vid"),
          col("embedding").as("eb2"), col("n2").as("nb")), Seq("cell"))
        .filter(col("dom") < col("vid"))
      val starPairs = en.filter(col("rn") > HotBucketCap && col("vec_id") =!= col("cmin"))
        .select(col("cell"), col("cmin").as("dom"), col("embedding").as("eb2"),
          col("n2").as("nb"), col("vec_id").as("vid"))
        .join(en.select(col("cell"), col("vec_id").as("dom"),
          col("embedding").as("ea"), col("n2").as("na")), Seq("cell", "dom"))
        .select(col("cell"), col("dom"), col("ea"), col("na"),
          col("vid"), col("eb2"), col("nb"))
      val pairs = allPairs
        .select("cell", "dom", "ea", "na", "vid", "eb2", "nb")
        .union(starPairs)
        .withColumn("cos_sim", when(col("na") > 0 && col("nb") > 0,
          expr(dotOrdExpr("ea", "eb2")) / (sqrt(col("na")) * sqrt(col("nb")))))
        .filter(col("cos_sim") >= SemDedupTau)
      val dom = pairs.groupBy(col("vid"))
        .agg(count(lit(1)).as("n_dom"), min(col("dom")).as("dom_min"))
      en.select("vec_id", "cell")
        .join(dom.withColumnRenamed("vid", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_dom"), lit(0L)).as("n_dom"), col("dom_min"),
          col("n_dom").isNull.cast("int").as("kept"))
        .transform(graft.Q.presentSorted(_, "vec_id"))
    },
    Some(s"""WITH $ivfAssignSql, en0 AS (
      SELECT e.vec_id, a.cell, e.embedding, ${norm2OrdSql("e.embedding")} AS n2
      FROM embeddings e JOIN assigned a USING (vec_id)
    ), en AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn,
             MIN(vec_id) OVER (PARTITION BY cell) AS cmin
      FROM en0
    ), p AS (
      SELECT a.vec_id AS dom, b.vec_id AS vid
      FROM en a JOIN en b ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND a.rn <= $HotBucketCap AND b.rn <= $HotBucketCap
      WHERE (CASE WHEN a.n2 > 0 AND b.n2 > 0
             THEN ${dotOrdSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2))
             END) >= $SemDedupTau
      UNION ALL
      SELECT a.vec_id, b.vec_id
      FROM en b JOIN en a ON a.cell = b.cell AND a.vec_id = b.cmin
      WHERE b.rn > $HotBucketCap AND b.vec_id != b.cmin
        AND (CASE WHEN a.n2 > 0 AND b.n2 > 0
             THEN ${dotOrdSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2))
             END) >= $SemDedupTau
    ), d AS (
      SELECT vid, COUNT(*) AS n_dom, MIN(dom) AS dom_min FROM p GROUP BY vid
    )
    SELECT e.vec_id, e.cell, COALESCE(d.n_dom, 0) AS n_dom, d.dom_min,
      CAST(d.vid IS NULL AS INTEGER) AS kept
    FROM en e LEFT JOIN d ON d.vid = e.vec_id
    ORDER BY e.vec_id"""))

  // ---------------------------------------------------------------- q92
  private val PqK = 4        // codes per subspace codebook
  private val PqRounds = 2   // Lloyd iterations per subspace
  private val SubDim = 32    // 64-dim embeddings → 2 subspaces of 32

  /** Seeded k-means codebook over a (vec_id, embedding) frame — q54's
    * recipe (md5-seeded init, exact-decimal Lloyd) parameterized so each
    * PQ subspace trains its own codebook. Returns (cid, cvec, cnorm2),
    * K rows, cached (the harness clears caches per query).
    */
  private def lloydCodebook(s: SparkSession, sub: DataFrame, seedTag: String,
                            k: Int, rounds: Int): DataFrame = {
    val h = md5(concat(lit(seedTag), col("vec_id").cast("string")).cast("binary"))
    val seedVecs: Seq[(Long, Seq[Double])] = sub
      .withColumn("h", h).orderBy(col("h"), col("vec_id")).limit(k)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).collect()
      .toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    var cent = {
      val sess = s
      import sess.implicits._
      seedVecs.toDF("cid", "cvec").withColumn("cnorm2", expr(cnorm2Expr))
    }
    val dim = seedVecs.head._2.length
    for (_ <- 1 to rounds) {
      // one groupBy(cell) exchange per round, per-dim decimal sums as agg
      // columns — see the q54 loop comment (round 12)
      cent = lloydMeans(withCell(sub, cent), dim)
    }
    // the FINAL codebook has two consumers (the encode collect inside
    // withCell and the per-query LUT crossJoin) — cache the K rows
    cent.cache()
  }

  /** Product quantization + asymmetric-distance recall audit (Jégou,
    * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): split each 64-dim vector into 2 subspaces of 32, train
    * a 4-code codebook per subspace (q54's seeded exact-decimal Lloyd,
    * independent seeds), encode every vector as 2 code ids — 2 bytes
    * instead of 256 — and rank candidates by ADC: the query stays full
    * precision, dist ≈ Σ_m (‖c_m‖² − 2·q_m·c_m) summed from a per-query
    * LOOKUP TABLE of K·M = 8 precomputed entries. The audit ranks the
    * same probes by exact squared L2 and reports top-1 agreement and
    * recall@5 — the compression-loss measurement (q68's int8 audit, one
    * rung further down the memory ladder).
    *
    * Scale shape: codebooks and LUTs are driver-/broadcast-sized (K·M
    * entries per query); encoding is the q54 argmin (map-side
    * combinable); candidate scoring touches only the 2-code rows plus
    * two broadcast joins — at 100 TB the codes are what ships, and the
    * scan reads 2 longs per vector instead of the float array.
    */
  val q92 = Q("q92_pq_adc_recall",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings", spreadOk = true).select(col("vec_id"), col("embedding"))
      // every Lloyd round re-reads its subspace frame twice (assignment +
      // the per-dim mean join), plus the seed scan, the encode pass, and
      // the LUT build — persist each slice so the scan + slice projection
      // run once per subspace, not ~2·rounds+3 times (at fleet scale this
      // is the training-matrix materialization every k-means job does;
      // the harness clears caches per query)
      val sub0 = emb.select(col("vec_id"), slice(col("embedding"), 1, SubDim).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sub1 = emb.select(col("vec_id"),
        slice(col("embedding"), SubDim + 1, SubDim).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the two subspace codebooks are independent iterative chains
      // (seed collect + Lloyd rounds, each a blocking action); train
      // them as CONCURRENT job groups so the barriers overlap — same
      // technique a cluster driver uses for independent index builds
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fut0 = Future(lloydCodebook(s, sub0, "pq0#", PqK, PqRounds))
      val fut1 = Future(lloydCodebook(s, sub1, "pq1#", PqK, PqRounds))
      val cent0 = Await.result(fut0, Duration.Inf)
      val cent1 = Await.result(fut1, Duration.Inf)
      val codes = assignCells(sub0, cent0).withColumnRenamed("cell", "code0")
        .join(assignCells(sub1, cent1).withColumnRenamed("cell", "code1"), "vec_id")
      def lut(sub: DataFrame, cent: DataFrame, m: Int): DataFrame =
        sub.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
          .crossJoin(cent)
          .withColumn(s"part$m", col("cnorm2") - lit(2.0) * expr(dotExpr("qe", "cvec")))
          .select(col("q_id"), col("cid").as(s"code$m"), col(s"part$m"))
      val adc = codes
        .join(broadcast(lut(sub0, cent0, 0)), "code0")
        .join(broadcast(lut(sub1, cent1, 1)), Seq("q_id", "code1"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          (col("part0") + col("part1")).as("adc_d2"))
      val en = emb.withColumn("n2", expr(norm2Expr("embedding")))
      val qex = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val exact = broadcast(qex)
        .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("n2").as("cn2")), col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          (col("qn2") + col("cn2") - lit(2.0) * expr(dotExpr("qe", "ce"))).as("d2_exact"))
      val wE = Window.partitionBy("q_id").orderBy(col("d2_exact"), col("c_id"))
      val wQ = Window.partitionBy("q_id").orderBy(col("adc_d2"), col("c_id"))
      val ranked = exact.join(adc, Seq("q_id", "c_id"))
        .withColumn("re", row_number().over(wE))
        .withColumn("rq", row_number().over(wQ))
        .filter(col("re") <= 5 || col("rq") <= 5)
        .cache() // ≤ 10 rows/probe; reused by the 4 derivations below
      val e5 = ranked.filter(col("re") <= 5)
      val q5 = ranked.filter(col("rq") <= 5)
      val ov = e5.select("q_id", "c_id")
        .join(q5.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap5"))
      val e1 = e5.filter(col("re") === 1).select(col("q_id"), col("c_id").as("exact_top1"))
      val q1 = q5.filter(col("rq") === 1).select(col("q_id"), col("c_id").as("pq_top1"))
      // LEFT join: a probe whose ADC top-5 misses the exact top-5
      // entirely must report recall 0, not vanish (4-code codebooks are
      // coarse — zero overlap is a legitimate measurement)
      e1.join(q1, "q_id").join(ov, Seq("q_id"), "left")
        .withColumn("n_overlap5", coalesce(col("n_overlap5"), lit(0L)))
        .select(col("q_id"), col("exact_top1"), col("pq_top1"),
          (col("exact_top1") === col("pq_top1")).cast("int").as("top1_match"),
          col("n_overlap5"),
          (col("n_overlap5").cast("double") / lit(5)).as("recall5"))
        .transform(graft.Q.presentSorted(_, "q_id"))
    },
    Some {
      // per-subspace Lloyd unrolled as a WITH chain, twice (q54's SQL
      // recipe parameterized by subspace slice + seed prefix)
      def chain(p: String, lo: Int): String = {
        def cn(i: Int) =
          s"""${p}cn_$i AS (
      SELECT cid, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM ${p}cent_$i GROUP BY cid
    )"""
        def asg(i: Int) =
          s"""${p}dots_$i AS (
      SELECT u.vec_id, ct.cid,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM ${p}ux u JOIN ${p}cent_$i ct USING (pos) GROUP BY u.vec_id, ct.cid
    ), ${p}asg_$i AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT d.vec_id, d.cid, ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.cid ASC) AS crn
        FROM ${p}dots_$i d JOIN ${p}cn_$i cn USING (cid)) WHERE crn = 1
    )"""
        def centn(i: Int) =
          s"""${p}cent_$i AS (
      SELECT a.cell AS cid, u.pos, (${Exact.sumExactSql("u.x", 8)} / COUNT(*)) AS c
      FROM ${p}ux u JOIN ${p}asg_${i - 1} a USING (vec_id) GROUP BY a.cell, u.pos
    )"""
        s"""${p}ux AS (
      SELECT vec_id, unnest(generate_series(1, $SubDim)) AS pos,
             CAST(unnest(embedding[$lo:${lo + SubDim - 1}]) AS DOUBLE) AS x
      FROM embeddings
    ), ${p}sd AS (
      SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY md5('$p#' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings
    ), ${p}cent_0 AS (
      SELECT CAST(s.cid AS BIGINT) AS cid, u.pos, u.x AS c
      FROM ${p}ux u JOIN ${p}sd s USING (vec_id) WHERE s.cid < $PqK
    ), ${cn(0)}, ${asg(0)}, """ +
          (1 to PqRounds).map(i => s"${centn(i)}, ${cn(i)}, ${asg(i)}").mkString(", ")
      }
      def lutSql(p: String, m: Int) =
        s"""lut$m AS (
      SELECT u.vec_id AS q_id, ct.cid AS code$m,
        cn.cnorm2 - 2.0::DOUBLE *
          CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS part$m
      FROM ${p}ux u JOIN ${p}cent_$PqRounds ct USING (pos)
      JOIN ${p}cn_$PqRounds cn ON cn.cid = ct.cid
      WHERE u.vec_id < 8 GROUP BY u.vec_id, ct.cid, cn.cnorm2
    )"""
      s"""WITH ${chain("pq0", 1)}, ${chain("pq1", SubDim + 1)}, codes AS (
      SELECT e.vec_id, a0.cell AS code0, a1.cell AS code1
      FROM embeddings e
      JOIN pq0asg_$PqRounds a0 USING (vec_id)
      JOIN pq1asg_$PqRounds a1 USING (vec_id)
    ), ${lutSql("pq0", 0)}, ${lutSql("pq1", 1)}, adc AS (
      SELECT l0.q_id, c.vec_id AS c_id, l0.part0 + l1.part1 AS adc_d2
      FROM codes c
      JOIN lut0 l0 ON l0.code0 = c.code0
      JOIN lut1 l1 ON l1.code1 = c.code1 AND l1.q_id = l0.q_id
      WHERE c.vec_id != l0.q_id
    ), en AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings
    ), exact AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        q.n2 + c.n2 - 2.0::DOUBLE * ${dotSql("q.embedding", "c.embedding")} AS d2_exact
      FROM en q JOIN en c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), rk AS (
      SELECT e.q_id, e.c_id,
        ROW_NUMBER() OVER (PARTITION BY e.q_id ORDER BY e.d2_exact, e.c_id) AS re,
        ROW_NUMBER() OVER (PARTITION BY e.q_id ORDER BY a.adc_d2, e.c_id) AS rq
      FROM exact e JOIN adc a ON a.q_id = e.q_id AND a.c_id = e.c_id
    ), ov AS (
      SELECT a.q_id, COUNT(*) AS n_overlap5
      FROM rk a JOIN rk b ON b.q_id = a.q_id AND b.c_id = a.c_id
      WHERE a.re <= 5 AND b.rq <= 5 GROUP BY a.q_id
    )
    SELECT e1.q_id, e1.c_id AS exact_top1, q1.c_id AS pq_top1,
      CAST(e1.c_id = q1.c_id AS INTEGER) AS top1_match,
      CAST(COALESCE(ov.n_overlap5, 0) AS BIGINT) AS n_overlap5,
      CAST(COALESCE(ov.n_overlap5, 0) AS DOUBLE) / 5 AS recall5
    FROM (SELECT q_id, c_id FROM rk WHERE re = 1) e1
    JOIN (SELECT q_id, c_id FROM rk WHERE rq = 1) q1 USING (q_id)
    LEFT JOIN ov USING (q_id)
    ORDER BY q_id"""
    })

  // ---------------------------------------------------------------- q94
  private val MmrK = 5        // diverse picks
  private val MmrCand = 12    // relevance candidate pool

  /** MMR diverse top-k (Carbonell & Goldstein, "The Use of MMR,
    * Diversity-Based Reranking", SIGIR'98): greedy selection of 5 from
    * the 12 most-relevant candidates to probe vec 0, maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with λ = 1/2 — the diversity
    * rerank a curation pipeline runs so its exemplars don't collapse
    * onto near-identical documents. The greedy loop is a FIXED-k
    * unroll (q54's fixed-iteration Lloyd philosophy): candidate
    * generation and all similarities are distributed exact-decimal
    * cosines; each of the k−1 argmax steps reduces a ≤(C−k)-row scored
    * frame, and the only driver data is the picked id per step —
    * bounded by k. Output re-derives rel / max-sim-to-previous /
    * mmr from the DataFrames (preceding-pick max is selection-time
    * exact because the preceding set is identical), so every reported
    * number is engine-exact.
    *
    * Scale shape: the candidate pool is top-C by relevance (a
    * distributed TakeOrdered), sims form only among the C picked rows
    * — C² tiny — and k is a constant; nothing grows with the corpus
    * but the initial relevance scan, which is q36's broadcast shape.
    */
  val q94 = Q("q94_mmr_diverse",
    (s, dir) => {
      // no spread: opted out round 18 — min-of-3 A/B in two windows was
      // noise-level (ON 1.09/1.32 vs OFF 1.25/1.20), and the floor's
      // extra exchange + CPU buys nothing for this broadcast-probe scan
      val en = Tables(s, dir, "embeddings")
        .withColumn("n2", expr(norm2Expr("embedding")))
        .filter(col("n2") > 0)
      val qv = en.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("n2").as("qn2"))
      val cand = en.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .withColumn("rel",
          expr(dotExpr("embedding", "qe")) / (sqrt(col("n2")) * sqrt(col("qn2"))))
        .orderBy(desc("rel"), col("vec_id"))
        .limit(MmrCand)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("n2").as("cn2"), col("rel"))
        .cache()
      val sims = cand.select(col("c_id").as("a_id"), col("ce").as("ae"), col("cn2").as("an2"))
        .crossJoin(cand.select(col("c_id").as("b_id"), col("ce").as("be"), col("cn2").as("bn2")))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("sim",
          expr(dotExpr("ae", "be")) / (sqrt(col("an2")) * sqrt(col("bn2"))))
        .select("a_id", "b_id", "sim")
        .cache()
      val picked = scala.collection.mutable.ArrayBuffer[Long]()
      // headOption like the greedy steps below: an EMPTY pool (no
      // embeddings, missing query vector, all-zero norms) yields an
      // empty pick list and an empty result frame — the oracle's
      // empty-stage behavior — instead of a NoSuchElementException.
      cand.orderBy(desc("rel"), col("c_id")).limit(1)
        .select("c_id").collect().headOption
        .foreach(r => picked += r.getLong(0))
      if (picked.nonEmpty) for (_ <- 2 to MmrK) {
        val ms = sims.filter(col("b_id").isInCollection(picked))
          .groupBy("a_id").agg(max("sim").as("ms"))
        // headOption: a pool smaller than k runs dry gracefully (the
        // oracle's empty stage yields the same shorter pick list)
        cand.filter(!col("c_id").isInCollection(picked))
          .join(ms, col("c_id") === col("a_id"))
          .withColumn("mmr", lit(0.5) * col("rel") - lit(0.5) * col("ms"))
          .orderBy(desc("mmr"), col("c_id")).limit(1)
          .select("c_id").collect().headOption
          .foreach(r => picked += r.getLong(0))
      }
      val sel = {
        val sess = s
        import sess.implicits._
        picked.toSeq.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
          .toDF("c_id", "pick_rank")
      }
      val msPrev = sims
        .join(broadcast(sel.select(col("c_id").as("b_id"), col("pick_rank").as("br"))), "b_id")
        .join(broadcast(sel.select(col("c_id").as("a_id"), col("pick_rank").as("ar"))), "a_id")
        .filter(col("br") < col("ar"))
        .groupBy("a_id").agg(max("sim").as("max_sim_prev"))
      broadcast(sel).join(cand, "c_id")
        .join(msPrev, col("c_id") === col("a_id"), "left")
        .withColumn("mmr", when(col("pick_rank") > 1,
          lit(0.5) * col("rel") - lit(0.5) * col("max_sim_prev")))
        .select("pick_rank", "c_id", "rel", "max_sim_prev", "mmr")
        .orderBy("pick_rank")
    },
    Some {
      def stage(i: Int) =
        s"""m$i AS (
      SELECT s.a_id, MAX(s.sim) AS ms
      FROM sims s JOIN selupto${i - 1} p ON p.c_id = s.b_id
      GROUP BY s.a_id
    ), s$i AS (
      SELECT c.c_id FROM cand c JOIN m$i mm ON mm.a_id = c.c_id
      WHERE c.c_id NOT IN (SELECT c_id FROM selupto${i - 1})
      ORDER BY 0.5::DOUBLE * c.rel - 0.5::DOUBLE * mm.ms DESC, c.c_id LIMIT 1
    ), selupto$i AS (
      SELECT c_id FROM selupto${i - 1} UNION ALL SELECT c_id FROM s$i
    )"""
      val stages = (2 to MmrK).map(stage).mkString(", ")
      val ranks = (1 to MmrK).map(i =>
        s"SELECT c_id, CAST($i AS BIGINT) AS pick_rank FROM s$i").mkString("\n      UNION ALL ")
      s"""WITH en AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings
    ), enp AS (
      SELECT * FROM en WHERE n2 > 0
    ), cand AS (
      SELECT c.vec_id AS c_id, c.embedding AS ce, c.n2 AS cn2,
        ${dotSql("c.embedding", "q.embedding")} / (sqrt(c.n2) * sqrt(q.n2)) AS rel
      FROM enp c, (SELECT embedding, n2 FROM enp WHERE vec_id = 0) q
      WHERE c.vec_id != 0
      ORDER BY rel DESC, c.vec_id LIMIT $MmrCand
    ), sims AS (
      SELECT a.c_id AS a_id, b.c_id AS b_id,
        ${dotSql("a.ce", "b.ce")} / (sqrt(a.cn2) * sqrt(b.cn2)) AS sim
      FROM cand a JOIN cand b ON a.c_id != b.c_id
    ), s1 AS (
      SELECT c_id FROM cand ORDER BY rel DESC, c_id LIMIT 1
    ), selupto1 AS (
      SELECT c_id FROM s1
    ), $stages, sel AS (
      $ranks
    ), msprev AS (
      SELECT sa.pick_rank AS ar, s.a_id, MAX(s.sim) AS max_sim_prev
      FROM sims s
      JOIN sel sb ON sb.c_id = s.b_id
      JOIN sel sa ON sa.c_id = s.a_id
      WHERE sb.pick_rank < sa.pick_rank
      GROUP BY sa.pick_rank, s.a_id
    )
    SELECT se.pick_rank, se.c_id, c.rel, m.max_sim_prev,
      CASE WHEN se.pick_rank > 1
           THEN 0.5::DOUBLE * c.rel - 0.5::DOUBLE * m.max_sim_prev END AS mmr
    FROM sel se JOIN cand c USING (c_id)
    LEFT JOIN msprev m ON m.a_id = se.c_id
    ORDER BY se.pick_rank"""
    })

  // ---------------------------------------------------------------- q99
  /** Embedding drift monitor — split each label's vectors into two
    * deterministic halves (vec_id parity — a stand-in for "last week's
    * batch vs this week's") and measure how far the per-label centroids
    * have moved: the cosine between the half-centroids. A healthy
    * embedding pipeline shows cos ≈ 1 per label; a drop flags encoder
    * drift or a population shift in that label before it poisons
    * downstream ANN indexes.
    *
    * Exactness: half-centroids are exact decimal sums / counts (the q35
    * recipe); the cosine folds the 64 products in pos order with a
    * prepended-zero left fold — identical adds in identical order in
    * both engines, so the doubles match bit-for-bit.
    *
    * Shape: one posexplode + (label, half, pos) partial agg — the only
    * shuffle keyed by a bounded dimension — then a label-keyed join of
    * two tiny centroid tables and a per-label 64-element fold. At
    * 100 TB the exploded agg is the classic map-side-combinable
    * component sum; nothing downstream touches raw vectors.
    */
  val q99 = Q("q99_centroid_drift",
    (s, dir) => {
      val cent = Tables(s, dir, "embeddings")
        .select(col("label"), expr("CAST(vec_id % 2 AS INT)").as("half"),
          posexplode(col("embedding")).as(Seq("pos0", "x")))
        .groupBy(col("label"), col("half"),
          (col("pos0") + lit(1)).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          (Exact.sumExactFast(col("x").cast("double"), 8) / count(lit(1))).as("c"))
        // two consumers (even / odd side of the join): materialize the
        // tiny centroid table instead of re-exploding the vectors
        .persist()
      val even = cent.filter(col("half") === 0)
        .select(col("label"), col("pos"), col("n").as("n_even"), col("c").as("ce"))
      val odd = cent.filter(col("half") === 1)
        .select(col("label"), col("pos"), col("n").as("n_odd"), col("c").as("co"))
      def fold(v: org.apache.spark.sql.Column) =
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), v.as("v")))),
            x => x.getField("v")),
          lit(0.0), (a, x) => a + x)
      even.join(odd, Seq("label", "pos"))
        .groupBy("label")
        .agg(max("n_even").as("n_even"), max("n_odd").as("n_odd"),
          fold(col("ce") * col("co")).as("dot"),
          fold(col("ce") * col("ce")).as("ee"),
          fold(col("co") * col("co")).as("oo"))
        .select(col("label"), col("n_even"), col("n_odd"), col("dot"),
          when(col("ee") > 0 && col("oo") > 0,
            col("dot") / (sqrt(col("ee")) * sqrt(col("oo")))).as("cos_drift"))
        .orderBy("label")
    },
    Some(s"""WITH x AS (
      SELECT label, vec_id,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, pos,
        CAST(COUNT(*) AS BIGINT) AS n,
        (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM x GROUP BY label, half, pos
    ), e AS (
      SELECT label, pos, n AS n_even, c AS ce FROM cent WHERE half = 0
    ), o AS (
      SELECT label, pos, n AS n_odd, c AS co FROM cent WHERE half = 1
    ), f AS (
      SELECT e.label, MAX(e.n_even) AS n_even, MAX(o.n_odd) AS n_odd,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(e.ce * o.co ORDER BY e.pos)), (a, v) -> a + v) AS dot,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(e.ce * e.ce ORDER BY e.pos)), (a, v) -> a + v) AS ee,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(o.co * o.co ORDER BY e.pos)), (a, v) -> a + v) AS oo
      FROM e JOIN o ON o.label = e.label AND o.pos = e.pos
      GROUP BY e.label
    )
    SELECT label, n_even, n_odd, dot,
      CASE WHEN ee > 0 AND oo > 0
           THEN dot / (sqrt(ee) * sqrt(oo)) END AS cos_drift
    FROM f ORDER BY label"""))

  // --------------------------------------------------------------- q100
  /** ANN tuning sweep — the operational table an index owner reads
    * before picking nprobe: for probe widths 1 / 2 / 4, each query's
    * candidate-set size and recall@10 against the exact cosine top-10.
    * One query answers "how much recall does each extra probe buy and
    * what does it cost in candidates scanned" — the q44/q52/q92/q68
    * family's missing tuning curve.
    *
    * Shape: rides the memoized [[cellRanks]] assignment (paid once per
    * session by the IVF family); the probe×level table is tiny and the
    * candidate join is the same in-cell equi-join as q44 — no level
    * re-runs the assignment. The exact side is the q36 brute-force
    * (8 probes × corpus, broadcast the probes). Recall counts are
    * integers; recall@10 is a single IEEE division.
    */
  val q100 = Q("q100_ann_tuning",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings", spreadOk = true)
      val ranked = cellRanks(s, dir)
      val assigned = emb
        .join(ranked.filter(col("crn") === 1)
          .select(col("vec_id"), col("clabel").as("cell")), "vec_id")
        .select(col("vec_id"), col("cell"))
      val probes = ranked.filter(col("vec_id") < 8 && col("crn") <= 4)
        .withColumn("nprobe", explode(array(lit(1L), lit(2L), lit(4L))))
        .filter(col("crn") <= col("nprobe"))
        .select(col("nprobe"), col("vec_id").as("q_id"), col("clabel").as("pcell"))
      val cand = probes
        .join(assigned.select(col("vec_id").as("c_id"), col("cell").as("pcell")),
          Seq("pcell"))
        .filter(col("c_id") =!= col("q_id"))
        .select("nprobe", "q_id", "c_id")
      val en = emb.select(col("vec_id"), col("embedding"),
        expr(norm2Expr("embedding")).as("n2"))
      val qs = en.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val wE = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col("c_id"))
      val exactTop = broadcast(qs)
        .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("n2").as("cn2")), col("c_id") =!= col("q_id"))
        .withColumn("dot", expr(dotExpr("qe", "ce")))
        .withColumn("cos_sim", when(col("qn2") > 0 && col("cn2") > 0,
          col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))))
        .withColumn("re", row_number().over(wE))
        .filter(col("re") <= 10)
        .select("q_id", "c_id")
      val stats = cand.groupBy("nprobe", "q_id").agg(count(lit(1)).as("n_cands"))
      val hits = cand.join(exactTop, Seq("q_id", "c_id"))
        .groupBy("nprobe", "q_id").agg(count(lit(1)).as("n_hit10"))
      stats.join(hits, Seq("nprobe", "q_id"), "left")
        .withColumn("n_hit10", coalesce(col("n_hit10"), lit(0L)))
        .withColumn("recall10", col("n_hit10").cast("double") / lit(10))
        .select("nprobe", "q_id", "n_cands", "n_hit10", "recall10")
        .transform(graft.Q.presentSorted(_, "nprobe", "q_id"))
    },
    Some(s"""WITH ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), rankedA AS (
      SELECT d.vec_id, d.label,
        ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
      FROM dots d JOIN cn USING (label)
    ), assigned AS (
      SELECT vec_id, label AS cell FROM rankedA WHERE crn = 1
    ), probes AS (
      SELECT np.nprobe, r.vec_id AS q_id, r.label AS pcell
      FROM rankedA r, (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe) np
      WHERE r.vec_id < 8 AND r.crn <= np.nprobe
    ), cand AS (
      SELECT p.nprobe, p.q_id, a.vec_id AS c_id
      FROM probes p JOIN assigned a ON a.cell = p.pcell AND a.vec_id != p.q_id
    ), en AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings
    ), exp AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        CASE WHEN q.n2 > 0 AND c.n2 > 0
             THEN ${dotSql("q.embedding", "c.embedding")} / (sqrt(q.n2) * sqrt(c.n2))
        END AS cos_sim
      FROM en q JOIN en c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
    ), ex AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS re
        FROM exp
      ) WHERE re <= 10
    ), st AS (
      SELECT nprobe, q_id, CAST(COUNT(*) AS BIGINT) AS n_cands
      FROM cand GROUP BY nprobe, q_id
    ), h AS (
      SELECT c.nprobe, c.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit10
      FROM cand c JOIN ex USING (q_id, c_id) GROUP BY c.nprobe, c.q_id
    )
    SELECT s.nprobe, s.q_id, s.n_cands,
      COALESCE(h.n_hit10, 0) AS n_hit10,
      CAST(COALESCE(h.n_hit10, 0) AS DOUBLE) / 10 AS recall10
    FROM st s LEFT JOIN h USING (nprobe, q_id)
    ORDER BY nprobe, q_id"""))

  // --------------------------------------------------------------- q130
  /** IVF index-balance audit — the health check an ANN index needs
    * before anyone trusts its latency: per-cell posting sizes from the
    * memoized assignment ([[cellRanks]], crn = 1), each cell's load
    * factor vs the perfectly-balanced ideal (1000 = ideal, 2000 = the
    * cell carries 2× its share), and the corpus-wide expected scan
    * fraction at nprobe = 1 (Σ szᵢ²/N² — queries distributed like the
    * data hit big cells more often, so imbalance hurts TWICE). All
    * integer; the rollup reduces a cells-count-sized frame.
    */
  val q130 = Q("q130_ivf_balance_audit",
    (s, dir) => {
      val sz = cellRanks(s, dir).filter(col("crn") === 1)
        .groupBy(col("clabel").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = sz.agg(sum("n_vecs").as("n_total"),
        count(lit(1)).as("n_cells"),
        sum(col("n_vecs") * col("n_vecs")).as("sum_sq"))
      sz.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 1000 div n_total").as("share_permille"),
          expr("n_vecs * n_cells * 1000 div n_total").as("load_permille"),
          expr("sum_sq * 1000 div (n_total * n_total)").as("scan_frac_permille"))
        .orderBy("cell")
    },
    Some(s"""WITH ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM (
        SELECT d.vec_id, d.label,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
        FROM dots d JOIN cn USING (label))
      WHERE crn = 1
    ), sz AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cell
    ), tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
        CAST(count(*) AS BIGINT) AS n_cells,
        CAST(SUM(n_vecs * n_vecs) AS BIGINT) AS sum_sq
      FROM sz
    )
    SELECT s.cell, s.n_vecs,
      s.n_vecs * 1000 // t.n_total AS share_permille,
      s.n_vecs * t.n_cells * 1000 // t.n_total AS load_permille,
      t.sum_sq * 1000 // (t.n_total * t.n_total) AS scan_frac_permille
    FROM sz s, tot t ORDER BY s.cell"""))

  // --------------------------------------------------------------- q131
  /** Johnson–Lindenstrauss distance-preservation audit: project the
    * 64-dim embeddings to 16 dims through a DETERMINISTIC ±1 sign
    * matrix (integer hash of (dim, out-dim) — no RNG), then measure
    * pairwise L2 distortion `(d²₁₆/16)/d²₆₄` (the ±1 matrix scales
    * expected squared norms by k, so /16 renormalizes) on the deterministic
    * stride-97 pair set. The distortion histogram (permille deciles)
    * is the evidence for how hard the 4× compression bends distances —
    * the measurement behind every "project then index" shortcut.
    *
    * Exactness: projections and distances are ORDERED double folds
    * (same adds, same order in both engines — the q39 recipe); the
    * distortion ratio is two single IEEE divisions and the decile
    * bucket an integer truncation of ratio·10.
    */
  val q131 = Q.sql("q131_jl_distortion_audit",
    """WITH proj AS (
      SELECT vec_id, embedding,
        list_transform(generate_series(1, 16), j ->
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(generate_series(1, len(embedding)), d ->
              CAST(embedding[d] AS DOUBLE) *
              (CASE WHEN (d * 31 + j * 131) % 97 % 2 = 0 THEN 1.0 ELSE -1.0 END))),
            (acc, v) -> acc + v)) AS y
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(list_zip(a.embedding, b.embedding), p ->
            (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
            (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
          (acc, v) -> acc + v) AS d64,
        ((a.y[1]-b.y[1])*(a.y[1]-b.y[1]) + (a.y[2]-b.y[2])*(a.y[2]-b.y[2]) +
         (a.y[3]-b.y[3])*(a.y[3]-b.y[3]) + (a.y[4]-b.y[4])*(a.y[4]-b.y[4]) +
         (a.y[5]-b.y[5])*(a.y[5]-b.y[5]) + (a.y[6]-b.y[6])*(a.y[6]-b.y[6]) +
         (a.y[7]-b.y[7])*(a.y[7]-b.y[7]) + (a.y[8]-b.y[8])*(a.y[8]-b.y[8]) +
         (a.y[9]-b.y[9])*(a.y[9]-b.y[9]) + (a.y[10]-b.y[10])*(a.y[10]-b.y[10]) +
         (a.y[11]-b.y[11])*(a.y[11]-b.y[11]) + (a.y[12]-b.y[12])*(a.y[12]-b.y[12]) +
         (a.y[13]-b.y[13])*(a.y[13]-b.y[13]) + (a.y[14]-b.y[14])*(a.y[14]-b.y[14]) +
         (a.y[15]-b.y[15])*(a.y[15]-b.y[15]) + (a.y[16]-b.y[16])*(a.y[16]-b.y[16])) AS d16
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 97
    )
    SELECT least(CAST(floor((d16 / 16) / d64 * 10) AS BIGINT), 30) AS decile,
      CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs WHERE d64 > 0
    GROUP BY 1 ORDER BY decile""")

  // --------------------------------------------------------------- q138
  /** Dimension-truncation recall sweep — q131's operational twin: keep
    * only the FIRST k dims (the Matryoshka-style prefix truncation
    * serving stacks use) for k ∈ {8, 16, 32} and measure recall@10 of
    * truncated cosine against the exact 64-dim top-10 for the 8
    * benchmark queries. Decimal-exact dots on the sliced arrays, rank
    * tie-break (sim DESC, id ASC) — the candidate sets are
    * engine-identical, so recall is an exact integer.
    */
  val q138 = Q("q138_dim_truncation_recall",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings", spreadOk = true)
      def topk(kDims: Int): org.apache.spark.sql.DataFrame = {
        val sliceA = if (kDims == 64) "qe" else s"slice(qe, 1, $kDims)"
        val sliceB = if (kDims == 64) "ce" else s"slice(ce, 1, $kDims)"
        val qs = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val cs = emb.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("c_id"))
        broadcast(qs).join(cs, col("c_id") =!= col("q_id"))
          .withColumn("dot", expr(dotExpr(sliceA, sliceB)))
          .withColumn("na", expr(norm2Expr(sliceA)))
          .withColumn("nb", expr(norm2Expr(sliceB)))
          .withColumn("sim", when(col("na") > 0 && col("nb") > 0,
            col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).otherwise(lit(-2.0)))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(lit(kDims.toLong).as("k"), col("q_id"), col("c_id"))
      }
      val truth = topk(64).select(col("q_id").as("tq"), col("c_id").as("tc"))
      Seq(8, 16, 32).map(topk).reduce(_.unionAll(_))
        .join(broadcast(truth), col("q_id") === col("tq") && col("c_id") === col("tc"),
          "left_semi")
        .groupBy("k", "q_id")
        .agg(count(lit(1)).as("n_hit10"))
        .withColumn("recall10", col("n_hit10").cast("double") / 10)
        .select("k", "q_id", "n_hit10", "recall10")
        .transform(graft.Q.presentSorted(_, "k", "q_id"))
    },
    Some {
      def cte(k: Int, nm: String) = {
        val ea = if (k == 64) "q.embedding" else s"q.embedding[1:$k]"
        val eb = if (k == 64) "c.embedding" else s"c.embedding[1:$k]"
        s"""$nm AS (
      SELECT $k AS k, q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            (CASE WHEN ${norm2Sql(ea)} > 0 AND ${norm2Sql(eb)} > 0
              THEN ${dotSql(ea, eb)} / (sqrt(${norm2Sql(ea)}) * sqrt(${norm2Sql(eb)}))
              ELSE -2.0 END) DESC, c.vec_id ASC) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 8)
      WHERE rnk <= 10)"""
      }
      s"""WITH ${cte(64, "truth")}, ${cte(8, "t8")}, ${cte(16, "t16")}, ${cte(32, "t32")},
    allk AS (
      SELECT * FROM t8 UNION ALL SELECT * FROM t16 UNION ALL SELECT * FROM t32
    )
    SELECT CAST(a.k AS BIGINT) AS k, a.q_id, CAST(count(*) AS BIGINT) AS n_hit10,
      CAST(count(*) AS DOUBLE) / 10 AS recall10
    FROM allk a
    WHERE EXISTS (SELECT 1 FROM truth t WHERE t.q_id = a.q_id AND t.c_id = a.c_id)
    GROUP BY a.k, a.q_id
    ORDER BY k, q_id"""
    })


  // --------------------------------------------------------------- q148
  /** Modality-coverage audit — the join-health check the 5000-doc /
    * 2000-embedding corpus makes mandatory: per (source, lang), how
    * many documents actually HAVE an embedding row (doc_id = vec_id),
    * coverage in integer permille, and the distinct label spread of
    * the covered slice. Every id join against `embeddings` in this
    * engine must be NULL-safe; this query measures the hole instead of
    * falling into it. One broadcast of the (vec_id, label) projection.
    */
  val q148 = Q("q148_embedding_coverage",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .join(broadcast(emb), col("doc_id") === col("vec_id"), "left")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_covered"),
          countDistinct(col("label")).as("n_labels"))
        .withColumn("coverage_permille", expr("n_covered * 1000 div n_docs"))
        .select("source", "lang", "n_docs", "n_covered", "coverage_permille", "n_labels")
        .transform(graft.Q.presentSorted(_, "source", "lang"))
    },
    Some("""SELECT d.source, d.lang,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000
        // CAST(count(*) AS BIGINT) AS coverage_permille,
      CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source, d.lang
    ORDER BY d.source, d.lang"""))


  // --------------------------------------------------------------- q147
  /** Cell-assignment ambiguity audit (silhouette-lite): for every
    * vector, the relative margin between its best and second-best
    * centroid distance, histogrammed — the clustering-quality signal
    * that predicts IVF recall BEFORE anyone runs queries (ambiguous
    * assignments are exactly the vectors multiprobe exists for).
    * Distances are full squared L2 (`‖x‖² + ‖c‖² − 2·x·c`,
    * decimal-exact dots, so the best/second ordering is
    * engine-identical); the margin ratio `(d₂−d₁)/d₂` uses
    * correctly-rounded sqrt and one division, bucketed with an
    * explicit floor (DuckDB CAST rounds). Buckets ≥ 5 collapse into
    * the "clear margin" overflow cell.
    */
  val q147 = Q("q147_assignment_margin_audit",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings", spreadOk = true)
      val perDim = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
        .groupBy(col("label"), (col("pos0") + lit(1)).cast("long").as("pos"))
        .agg((Exact.sumExactFast(col("x").cast("double"), 8) / count(lit(1))).as("c"))
      val cent = perDim.groupBy(col("label").as("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          t => t.getField("c")).as("cvec"))
        .withColumn("cnorm2", expr(cnorm2Expr))
      val wCell = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("clabel").asc)
      val ranked = emb.join(broadcast(cent))
        .withColumn("d2",
          expr(norm2Expr("embedding")) + col("cnorm2") - lit(2.0) * expr(xcDotExpr))
        .withColumn("crn", row_number().over(wCell))
        .filter(col("crn") <= 2)
      val margins = ranked.groupBy("vec_id")
        .agg(min(when(col("crn") === 1, col("d2"))).as("d1"),
          min(when(col("crn") === 2, col("d2"))).as("dd2"))
        .filter(col("dd2") > 0)
        .withColumn("bucket",
          least(expr("CAST(floor((sqrt(dd2) - sqrt(d1)) / sqrt(dd2) * 10) AS BIGINT)"),
            lit(5L)))
      margins.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        .select("bucket", "n_vecs")
        .orderBy("bucket")
    },
    Some(s"""WITH ux AS (
      SELECT vec_id, label,
        unnest(generate_series(1, len(embedding))) AS pos,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, pos, (${Exact.sumExactSql("x", 8)} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) u
      JOIN cent ct USING (pos)
      GROUP BY u.vec_id, ct.label
    ), n2 AS (
      SELECT vec_id, ${norm2Sql("embedding")} AS n2 FROM embeddings
    ), ranked AS (
      SELECT d.vec_id,
        n2.n2 + cn.cnorm2 - 2.0::DOUBLE * d.dot AS d2,
        ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY n2.n2 + cn.cnorm2 - 2.0::DOUBLE * d.dot ASC, d.label ASC) AS crn
      FROM dots d JOIN cn USING (label) JOIN n2 ON n2.vec_id = d.vec_id
    ), margins AS (
      SELECT vec_id,
        MIN(CASE WHEN crn = 1 THEN d2 END) AS d1,
        MIN(CASE WHEN crn = 2 THEN d2 END) AS dd2
      FROM ranked WHERE crn <= 2 GROUP BY vec_id
    )
    SELECT least(CAST(floor((sqrt(dd2) - sqrt(d1)) / sqrt(dd2) * 10) AS BIGINT), 5)
        AS bucket,
      CAST(count(*) AS BIGINT) AS n_vecs
    FROM margins WHERE dd2 > 0
    GROUP BY 1 ORDER BY bucket"""))

  // --------------------------------------------------------------- q160
  private val NdK = 6       // graph degree (neighbors kept per node)
  private[vec] val NdRounds = 2  // neighbor-of-neighbor refinement rounds
  private[vec] val NdProbes = 32 // audit probe set: vec_id < NdProbes

  /** Embeddings with their ordered-fold squared norms — the frame every
    * NN-descent stage (init, distances, audit, beam search) reads.
    * Ordered-double folds, not the decimal kernel: ~500k pairwise dots
    * flow through the build+audit, and the left-fold double recipe is
    * an order of magnitude cheaper while staying bit-exact vs DuckDB
    * (same adds, same order — see the fold helpers' contract). Repeated
    * calls persist the same logical plan; Spark's CacheManager dedupes.
    */
  private[vec] def ndEn(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"nd-en:$dir") {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("n2", expr(norm2OrdExpr("embedding")))
    // ONE memoized plan object (not one fresh plan per call): every
    // consumer's persist marks the same frame, so after a harness
    // clearCache the next query re-persists it exactly once instead of
    // registering a new identical plan per call site
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** NN-descent edge construction, rounds parameterized so the spec can
    * prove refinement monotonicity against the 0-round init. Returns
    * the directed (src, nbr, d2) graph, ≤ NdK out-edges per node.
    */
  private[graft] def buildNdEdges(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val en = ndEn(s, dir)
    // the only driver-side datum: the corpus cardinality (one scalar),
    // needed to wrap the 48-bit init hash onto valid node ids
    buildEdgesOver(en, en.count(), rounds)
  }

  /** NN-descent over an arbitrary node frame (vec_id contiguous in
    * [0, n)) — q160/q161/q165 build over the full corpus; q166 builds
    * over the base partition only (the pre-insert index).
    */
  /** Deterministic pseudo-random init pairs: neighbor j ∈ [1, k] of
    * node v is H(v, j) mod N, H = first 12 md5 hex digits as a 48-bit
    * int (the catalog's portable hash — same fold on the DuckDB side).
    * Self hits / duplicate draws drop out, so an init list may hold
    * < k neighbors: NN-descent needs a candidate pool, not an exact-k
    * start. Also reused VERBATIM as q168's long-range routing links —
    * random edges are what keep a clustered graph navigable ACROSS
    * clusters (the navigable-small-world ingredient HNSW bakes into
    * its upper layers), so serving unions them with the learned edges.
    */
  private[vec] def initPairsOver(en: DataFrame, n: Long, k: Int): DataFrame =
    en.select(col("vec_id").as("src"),
        explode(expr(s"transform(sequence(1, $k), j -> " +
          "CAST(conv(substr(md5(CAST(concat('nd#', CAST(vec_id AS STRING), '#', " +
          s"CAST(j AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % $n)")).as("nbr"))
      .filter(col("nbr") =!= col("src"))

  /** collect_set-then-explode dedupe rather than distinct(): one
    * shuffle keyed on src whose partitioning the downstream top-K
    * window (and every broadcast-preserved join between them) reuses —
    * a (src, nbr)-keyed distinct would add a second exchange.
    */
  private[vec] def dedupBySrc(pairs: DataFrame): DataFrame =
    pairs.groupBy("src").agg(collect_set(col("nbr")).as("ns"))
      .select(col("src"), explode(col("ns")).as("nbr"))

  private[vec] def buildEdgesOver(en: DataFrame, n: Long, rounds: Int,
                                  k: Int = NdK): DataFrame = {
    ensureCkptDir(en.sparkSession)
    val init = dedupBySrc(initPairsOver(en, n, k))
    // exact squared L2 for a (src, nbr) pair frame: two hash joins on
    // vec_id (linear shuffles); ordered-fold dots keep the ordering —
    // and therefore the whole graph — engine- and partitioning-
    // independent
    def withD2(pairs: DataFrame): DataFrame =
      pairs
        .join(en.select(col("vec_id").as("src"), col("embedding").as("ae"),
          col("n2").as("an2")), "src")
        .join(en.select(col("vec_id").as("nbr"), col("embedding").as("be"),
          col("n2").as("bn2")), "nbr")
        .select(col("src"), col("nbr"),
          (col("an2") + col("bn2") - lit(2.0) * expr(dotOrdExpr("ae", "be"))).as("d2"))
    val wK = Window.partitionBy("src").orderBy(col("d2"), col("nbr"))
    // every generation is RELIABLY CHECKPOINTED, not cached: the round
    // plan references `edges` several times (adjacency both ways +
    // candidate union), so an uncheckpointed loop's LOGICAL plan grows
    // ~5x per round and the per-action plan-description stringification
    // alone can pin the driver at high round counts (observed at the
    // 100x sweep). Checkpoints truncate lineage to a flat scan — the
    // ConnectedComponents pattern — and the frames are 3 scalars per
    // edge, so the write is small relative to the round's shuffles.
    var edges = withD2(init)
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k).drop("rn")
      .checkpoint()
    for (_ <- 1 to rounds) {
      // undirected adjacency: out-neighbors plus REVERSE neighbors —
      // the reverse direction is what lets a popular node propagate
      // into lists that don't yet point at it (the heart of NN-descent)
      val adj = edges.select("src", "nbr")
        .union(edges.select(col("nbr").as("src"), col("src").as("nbr")))
      // PIVOT-LOCAL scoring: attach each endpoint's embedding to the
      // adjacency ONCE (O(N·K) embedding-bearing rows), self-join on
      // the pivot, and project straight to (src, nbr, d2). The naive
      // alternative — materialize the O(N·K²) proposal pairs and join
      // embeddings onto THEM — shuffles the embedding payload through
      // the pair-sized exchange (measured 60+ GB of spill at the 100×
      // probe: 200M pairs × two 64-float vectors; this shape spills
      // ~5 GB). Candidates stay O(N·K²), never all-pairs; only d2
      // scalars ride the pair-sized shuffles.
      val adjE = adj.join(en.select(col("vec_id").as("nbr"),
        col("embedding").as("ne"), col("n2").as("nn2")), "nbr")
      val prop = adjE.as("x")
        .join(adjE.as("y"), col("x.src") === col("y.src") && col("x.nbr") =!= col("y.nbr"))
        .select(col("x.nbr").as("src"), col("y.nbr").as("nbr"),
          (col("x.nn2") + col("y.nn2") -
            lit(2.0) * expr(dotOrdExpr("x.ne", "y.ne"))).as("d2"))
        .filter(col("src") =!= col("nbr"))
      // current edges join the candidate pool with their KNOWN d2, so a
      // node's list never regresses; duplicate (src, nbr) draws carry
      // identical d2 — min() is pure dedup
      edges = prop.union(edges.select("src", "nbr", "d2"))
        .groupBy("src", "nbr").agg(min(col("d2")).as("d2"))
        .withColumn("rn", row_number().over(wK))
        .filter(col("rn") <= k).drop("rn")
        .checkpoint() // eager: materializes AND truncates the lineage
    }
    edges
  }

  /** The serving graph: NdRounds of NN-descent, memoized per
    * (session, dir) and checkpointed (3 scalars per edge, no embedding
    * payload) — q160's recall audit and q161's beam search read the
    * same structure, built once per session even with cache clears
    * between catalog queries (the cellRanks/dedupGroups memo pattern).
    */
  private[vec] def ndGraph(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"nd-graph:$dir") {
      // buildEdgesOver checkpoints every generation, so the returned
      // final round is already a reliable flat-scan frame
      buildNdEdges(s, dir, NdRounds)
    }

  /** Rounds-parameterized recall audit over a freshly-built graph —
    * the spec's entry point. See [[q160]].
    */
  private[graft] def nnDescentRecall(s: SparkSession, dir: String, rounds: Int): DataFrame =
    ndAudit(s, dir, buildNdEdges(s, dir, rounds))

  /** Recall@K + top-1 audit of an NN-descent edge frame vs brute force
    * on the ≤ NdProbes probe rows (broadcast — q36/q92's measurement
    * shape; the graph build is the scale path, the audit is the meter).
    */
  private def ndAudit(s: SparkSession, dir: String, edges: DataFrame): DataFrame = {
    val en = ndEn(s, dir)
    val wK = Window.partitionBy("src").orderBy(col("d2"), col("nbr"))
    val probes = en.filter(col("vec_id") < NdProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val exact = broadcast(probes)
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re",
        row_number().over(Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") <= NdK)
      // ≤ NdProbes·K rows feeding three consumers (hits/e1 and the
      // final join) — cache so the brute-force pass runs once
      .cache()
    val g = edges.filter(col("src") < NdProbes)
      .withColumn("rg", row_number().over(wK))
      .cache() // same: two consumers (hits, g1), ≤ NdProbes·K rows
    val hits = exact.select(col("q_id"), col("c_id"))
      .join(g.select(col("src").as("q_id"), col("nbr").as("c_id")), Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    val e1 = exact.filter(col("re") === 1)
      .select(col("q_id"), col("c_id").as("exact_top1"))
    val g1 = g.filter(col("rg") === 1)
      .select(col("src").as("q_id"), col("nbr").as("graph_top1"))
    // LEFT joins: a probe whose (degenerate) init lost every edge must
    // report recall 0, not vanish — same contract as q92's audit
    e1.join(g1, Seq("q_id"), "left").join(hits, Seq("q_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("q_id"), col("exact_top1"), col("graph_top1"),
        coalesce(col("graph_top1") === col("exact_top1"), lit(false))
          .cast("int").as("top1_match"),
        col("n_hit"),
        (col("n_hit").cast("double") / lit(NdK)).as("recall_k"))
      .transform(graft.Q.presentSorted(_, "q_id"))
  }

  /** NN-descent k-NN graph construction + recall audit (Dong, Moses,
    * Li, "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures", WWW 2011) — the GRAPH-based member of the
    * ANN family (brute q36, LSH q37/q39, IVF q44/q52/q54, PQ q92,
    * Matryoshka q138): build a degree-K graph by repeatedly proposing
    * neighbors-of-neighbors and keeping each node's K closest, then
    * audit recall@K and top-1 agreement against exact brute force on a
    * fixed probe set. The constructed graph is the serving structure
    * graph-ANN engines (HNSW layer 0, DiskANN) search over.
    *
    * Determinism: md5-derived init, ordered-double-fold distances
    * (left fold, so both engines perform the same IEEE adds in the
    * same order), id tie breaks — the graph is bit-identical across
    * engines and partitionings, which is what makes a recall AUDIT
    * oracle-able rather than a statistical claim.
    *
    * Scale shape: each round shuffles O(N·K) adjacency rows and
    * O(N·K²) bounded candidate pairs (pivot-local join — never
    * all-pairs), distances ride two linear hash joins on vec_id, and
    * the per-node top-K sorts bounded lists. The brute-force side
    * exists only under the ≤ 32-probe audit. No reference analog:
    * the reference toolkit (pandas microstructure metrics) has no
    * vector-similarity surface — this is the SURVEY.md LLM-pipeline
    * extension, the distributed graph-construction path a 100 TB
    * embedding corpus requires.
    */
  val q160 = Q("q160_nn_descent_recall",
    (s, dir) => ndAudit(s, dir, ndGraph(s, dir)),
    Some {
      val hashFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), i -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('nd#' || " +
          "CAST(e.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), i, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def dist(p: String) =
        s"""SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM $p p JOIN en a ON a.vec_id = p.src JOIN en b ON b.vec_id = p.nbr"""
      def round(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION SELECT nbr AS src, src AS nbr FROM $in
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM adj$r x JOIN adj$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      ${dist(s"cd$r")}
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $NdK
    )"""
      }
      s"""WITH en AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    init AS (
      SELECT e.vec_id AS src, ($hashFold % c.n) AS nbr
      FROM embeddings e CROSS JOIN cnt c
      CROSS JOIN (SELECT unnest(generate_series(1, $NdK)) AS j) js
    ), e0 AS (
      SELECT DISTINCT src, nbr FROM init WHERE nbr != src
    ), dd0 AS (
      ${dist("e0")}
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $NdK
    ), ${(1 to NdRounds).map(round).mkString(",\n    ")},
    exact AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2
      FROM en q JOIN en c ON c.vec_id != q.vec_id
      WHERE q.vec_id < $NdProbes
    ), ek AS (
      SELECT q_id, c_id, re FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS re FROM exact
      ) WHERE re <= $NdK
    ), g AS (
      SELECT src AS q_id, nbr AS c_id,
        ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rg
      FROM d$NdRounds WHERE src < $NdProbes
    ), hits AS (
      SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM ek e JOIN g ON g.q_id = e.q_id AND g.c_id = e.c_id
      GROUP BY e.q_id
    ), e1 AS (SELECT q_id, c_id AS exact_top1 FROM ek WHERE re = 1),
    g1 AS (SELECT q_id, c_id AS graph_top1 FROM g WHERE rg = 1)
    SELECT e1.q_id, exact_top1, graph_top1,
      CAST(COALESCE(graph_top1 = exact_top1, FALSE) AS INT) AS top1_match,
      COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
      CAST(COALESCE(n_hit, 0) AS DOUBLE) / $NdK AS recall_k
    FROM e1 LEFT JOIN g1 USING (q_id) LEFT JOIN hits USING (q_id)
    ORDER BY q_id"""
    })

  // --------------------------------------------------------------- q161
  private[vec] val BsBeam = 4 // beam width (candidates kept per probe per hop)
  private[vec] val BsHops = 3 // fixed hop count (oracle-unrollable)

  /** Greedy beam search over the NN-descent graph (q160's serving
    * structure — HNSW layer-0 / DiskANN-style traversal): every probe
    * starts at a fixed entry node (the smallest vec_id ≠ probe), and
    * each hop expands the current beam's out-neighbors, scores them
    * against the probe, and keeps the BsBeam closest of everything
    * visited. After BsHops hops the audit reports the searched top-1 vs
    * the exact brute-force top-1, the visited-node count (the meter
    * that shows graph search touches O(B·K·H) ≪ N nodes — the reason
    * graph ANN serves at 100 TB), and the permille distance ratio of
    * found vs true nearest.
    *
    * Scale shape: the graph is the memoized checkpointed q160 frame;
    * each hop joins the data-sized edge table against a ≤ NdProbes·B
    * row broadcast frontier (never the reverse), and every beam/visited
    * set is bounded by construction. Each hop is one checkpointed query
    * with one exchange on q_id ([[beamVisited]]); after the hops, one
    * aggregation exchanges the final generation on q_id once more for
    * both the top-1 and the visited count. A steady sf0.001 pass on
    * local[4] runs 27 stages, down from 29. Deterministic: fixed entry,
    * fixed hops, ordered-fold distances, id tie breaks — identical
    * traversal in both engines.
    */
  /** Greedy beam traversal shared by q161 (search) and q166 (insert):
    * for every probe row (q_id, qe, qn2) in `probeEmb`, start at entry
    * node e0 (e1 for the probe that IS e0), run [[BsHops]] hops of
    * expand-score-prune at beam [[BsBeam]] over `edges` whose node
    * embeddings come from `enGraph`, and return the full visited frame
    * (q_id, node, d2). Each hop joins the data-sized edge table against
    * a broadcast bounded frontier — never the reverse.
    *
    * One exchange per hop: the hop query repartitions the old
    * generation ∪ the scored expansion on q_id, and both the
    * (q_id, node) min and the beam rank `rb` over q_id run on that one
    * partitioning. `rb` is kept in the checkpoint, so the next frontier
    * is a filter on it. Expansion draws are not de-duplicated: a node
    * reached from two frontier nodes scores the same d2 twice, and the
    * min keeps one row. The repartition must sit inside the checkpointed
    * query: under AQE `Dataset.checkpoint()` records UnknownPartitioning
    * (see [[graft.util.Ckpt]]), so a window over a checkpoint of a
    * q_id-partitioned frame still exchanges it again.
    */
  private[vec] def beamVisited(probeEmb: DataFrame, enGraph: DataFrame,
                          edges: DataFrame, e0: Long, e1: Long,
                          beam: Int = BsBeam, hops: Int = BsHops): DataFrame = {
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(probeEmb.select(col("q_id"), col("qe"), col("qn2")), "q_id")
        .join(enGraph.select(col("vec_id").as("node"), col("embedding").as("ce"),
          col("n2").as("cn2")), "node")
        .select(col("q_id"), col("node"),
          (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    ensureCkptDir(enGraph.sparkSession)
    // every hop's visited set is RELIABLY CHECKPOINTED: the hop plan
    // references `visited` twice (the union and the frontier), so an
    // uncheckpointed loop's LOGICAL plan DOUBLES per hop — at a hops=10
    // sweep the 2^h-sized per-action plan-description stringification
    // alone pinned the driver. The frames are tiny (≤ probes·(1 +
    // B·deg·hops) rows of 4 scalars → KBs), so truncating lineage per
    // hop costs nothing and bounds plan depth at ANY hop count; no
    // cached generations remain afterwards.
    var visited = score(probeEmb.select(col("q_id")).withColumn("node",
        when(col("q_id") === e0, lit(e1)).otherwise(lit(e0))))
      .checkpoint()
    var frontier = visited
    for (_ <- 1 to hops) {
      val expand = edges
        .join(broadcast(frontier.select(col("q_id"), col("node").as("src"))), "src")
        .select(col("q_id"), col("nbr").as("node"))
        .filter(col("node") =!= col("q_id"))
      visited = visited.select("q_id", "node", "d2").union(score(expand))
        .repartition(col("q_id"))
        .groupBy("q_id", "node").agg(min(col("d2")).as("d2"))
        .withColumn("rb", row_number().over(wB))
        .checkpoint() // eager: materializes AND truncates per hop
      frontier = visited.filter(col("rb") <= beam)
    }
    visited.select("q_id", "node", "d2")
  }

  val q161 = Q("q161_graph_beam_search",
    (s, dir) => {
      val en = ndEn(s, dir)
      val edges = ndGraph(s, dir)
      // two smallest node ids — bounded driver data (2 rows): the fixed
      // entry point, with the runner-up for the probe that IS the entry
      val lo2 = en.select("vec_id").orderBy("vec_id").limit(2)
        .collect().map(_.getLong(0))
      require(lo2.length == 2,
        s"q161_graph_beam_search needs ≥2 embeddings (found ${lo2.length})")
      val probes = en.filter(col("vec_id") < NdProbes)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      // one aggregation gives both the visited count and the top-1:
      // nodes are unique per q_id, so min over (d2, node) is the first
      // row of the (d2, node) order
      val best = beamVisited(probes, en, edges, lo2(0), lo2(1))
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_visited"), min(struct(col("d2"), col("node"))).as("top"))
        .select(col("q_id"), col("top.node").as("beam_top1"), col("top.d2").as("beam_d2"),
          col("n_visited"))
      val qx = en.filter(col("vec_id") < NdProbes)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val exact1 = broadcast(qx)
        .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("n2").as("cn2")), col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"),
          (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
        .withColumn("re", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
        .filter(col("re") === 1)
        .select(col("q_id"), col("c_id").as("exact_top1"), col("d2").as("exact_d2"))
      exact1.join(best, "q_id")
        .select(col("q_id"), col("exact_top1"), col("beam_top1"),
          (col("beam_top1") === col("exact_top1")).cast("int").as("top1_match"),
          col("n_visited"),
          when(col("exact_d2") > 0,
            floor(col("beam_d2") / col("exact_d2") * lit(1000.0)).cast("long"))
            .as("dist_ratio_permille"))
        .transform(graft.Q.presentSorted(_, "q_id"))
    },
    Some {
      val hashFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), i -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('nd#' || " +
          "CAST(e.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), i, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def dist(p: String) =
        s"""SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM $p p JOIN en a ON a.vec_id = p.src JOIN en b ON b.vec_id = p.nbr"""
      def graphRound(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION SELECT nbr AS src, src AS nbr FROM $in
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM adj$r x JOIN adj$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      ${dist(s"cd$r")}
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $NdK
    )"""
      }
      def scoreSql(p: String) =
        s"""SELECT x.q_id, x.node,
        q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2
      FROM $p x JOIN en q ON q.vec_id = x.q_id JOIN en c ON c.vec_id = x.node"""
      def hop(h: Int): String = {
        val (vin, fin) = (s"v${h - 1}", s"f${h - 1}")
        s"""x$h AS (
      SELECT DISTINCT f.q_id, g.nbr AS node
      FROM $fin f JOIN d$NdRounds g ON g.src = f.node
      WHERE g.nbr != f.q_id
    ), s$h AS (
      ${scoreSql(s"x$h")}
    ), v$h AS MATERIALIZED (
      SELECT q_id, node, MIN(d2) AS d2 FROM (
        SELECT * FROM $vin UNION ALL SELECT * FROM s$h
      ) GROUP BY q_id, node
    ), f$h AS (
      SELECT q_id, node FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rb FROM v$h
      ) WHERE rb <= $BsBeam
    )"""
      }
      s"""WITH en AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    init AS (
      SELECT e.vec_id AS src, ($hashFold % c.n) AS nbr
      FROM embeddings e CROSS JOIN cnt c
      CROSS JOIN (SELECT unnest(generate_series(1, $NdK)) AS j) js
    ), e0g AS (
      SELECT DISTINCT src, nbr FROM init WHERE nbr != src
    ), dd0 AS (
      ${dist("e0g")}
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $NdK
    ), ${(1 to NdRounds).map(graphRound).mkString(",\n    ")},
    lo AS (
      SELECT MIN(vec_id) AS e0, MIN(CASE WHEN vec_id > (SELECT MIN(vec_id) FROM embeddings)
        THEN vec_id END) AS e1 FROM embeddings
    ), x0 AS (
      SELECT p.vec_id AS q_id,
        CASE WHEN p.vec_id = lo.e0 THEN lo.e1 ELSE lo.e0 END AS node
      FROM embeddings p CROSS JOIN lo WHERE p.vec_id < $NdProbes
    ), v0 AS (
      ${scoreSql("x0")}
    ), f0 AS (SELECT q_id, node FROM v0),
    ${(1 to BsHops).map(hop).mkString(",\n    ")},
    best AS (
      SELECT q_id, node AS beam_top1, d2 AS beam_d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rb FROM v$BsHops
      ) WHERE rb = 1
    ), nvis AS (
      SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_visited FROM v$BsHops GROUP BY q_id
    ), ex1 AS (
      SELECT q_id, c_id AS exact_top1, d2 AS exact_d2 FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")}, c.vec_id) AS re
        FROM en q JOIN en c ON c.vec_id != q.vec_id
        WHERE q.vec_id < $NdProbes
      ) WHERE re = 1
    )
    SELECT e.q_id, exact_top1, beam_top1,
      CAST(CASE WHEN beam_top1 = exact_top1 THEN 1 ELSE 0 END AS INT) AS top1_match,
      n_visited,
      CASE WHEN exact_d2 > 0
        THEN CAST(FLOOR(beam_d2 / exact_d2 * 1000.0) AS BIGINT) END AS dist_ratio_permille
    FROM ex1 e JOIN best USING (q_id) JOIN nvis USING (q_id)
    ORDER BY q_id"""
    })

  // --------------------------------------------------------------- q165
  private[vec] val LpRounds = 3 // synchronized label-propagation rounds

  /** [[LpRounds]] synchronized label-propagation rounds over the
    * undirected closure of `edges` (src, nbr), as (community, n_members,
    * min_node, max_node). Nodes without an edge drop out in round 1, as
    * they would under any round that counts neighbour votes.
    *
    * Round 1 is `min(nbr)` per node: every label still equals its node's
    * id and the adjacency is distinct, so each neighbour casts one vote
    * for itself, every count is 1 and the tie rule picks the smallest
    * id. Later rounds push labels instead of pulling them: a node sends
    * its label to every nbr of its src rows, and because the closure is
    * symmetric, what a node receives is exactly its neighbours' labels.
    * So the labels (partitioned by node) join the adjacency (partitioned
    * by src) on the key both are partitioned by, the votes are
    * repartitioned once on the receiving node, and both aggregations of
    * the round run on that partitioning: one exchange per round. The
    * adjacency exchange runs once and AQE reuses it in every round.
    * The rounds form one lazy plan and nothing is persisted, so the
    * caller is left with no cached frame.
    */
  private[vec] def lpCommunities(edges: DataFrame): DataFrame = {
    val adj = edges.select("src", "nbr")
      .union(edges.select(col("nbr").as("src"), col("src").as("nbr")))
      .repartition(col("src"))
      .distinct()
    var labels = adj.groupBy(col("src").as("node")).agg(min(col("nbr")).as("lbl"))
    for (_ <- 2 to LpRounds) {
      labels = labels.select(col("node").as("src"), col("lbl"))
        .join(adj, "src") // co-partitioned on src: no exchange
        .repartition(col("nbr"))
        .groupBy(col("nbr"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("nbr"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("nbr").as("node"), col("m.lbl").as("lbl"))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
  }

  /** Label-propagation communities over the NN-descent graph (Raghavan,
    * Albert, Kumara, "Near linear time algorithm to detect community
    * structures in large-scale networks", Phys. Rev. E 2007) — the
    * clustering leg of the graph stack (q160 builds, q161 searches,
    * q165 clusters): every node starts in its own community, and each
    * synchronized round adopts the most frequent label among its
    * undirected neighbors (ties → smallest label). Centroid-free
    * cluster structure for semantic grouping at corpus scale — the
    * alternative to q54's k-means when K is unknown.
    *
    * Determinism: fixed round count, synchronized updates (no
    * visit-order dependence — the asynchronous variant's
    * nondeterminism is exactly what a distributed engine must avoid),
    * argmax as one partial-aggregable min(struct(-count, label)).
    * Scale shape: the adjacency is the memoized checkpointed q160 frame,
    * exchanged once on src and reused by every round; each later round
    * joins it with the previous labels without an exchange and
    * exchanges the votes once on the receiving node, where both grouped
    * aggregations run — all linear in edges, no windows over node-sized
    * partitions, no persisted round. See [[lpCommunities]]. A steady
    * sf0.001 pass on local[4] runs 9 stages, down from 26.
    */
  val q165 = Q("q165_knn_label_propagation",
    (s, dir) => lpCommunities(ndGraph(s, dir))
      .transform(graft.Q.presentSorted(_, "community")),
    Some {
      val hashFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), i -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('nd#' || " +
          "CAST(e.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), i, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def dist(p: String) =
        s"""SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM $p p JOIN en a ON a.vec_id = p.src JOIN en b ON b.vec_id = p.nbr"""
      def graphRound(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION SELECT nbr AS src, src AS nbr FROM $in
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM adj$r x JOIN adj$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      ${dist(s"cd$r")}
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $NdK
    )"""
      }
      def lpRound(r: Int): String = {
        val in = if (r == 1) "l0" else s"l${r - 1}"
        s"""l$r AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT src AS node, lbl,
          ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
        FROM (
          SELECT a.src, l.lbl, COUNT(*) AS c
          FROM ua a JOIN $in l ON l.node = a.nbr
          GROUP BY a.src, l.lbl
        )
      ) WHERE rn = 1
    )"""
      }
      s"""WITH en AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    init AS (
      SELECT e.vec_id AS src, ($hashFold % c.n) AS nbr
      FROM embeddings e CROSS JOIN cnt c
      CROSS JOIN (SELECT unnest(generate_series(1, $NdK)) AS j) js
    ), e0g AS (
      SELECT DISTINCT src, nbr FROM init WHERE nbr != src
    ), dd0 AS (
      ${dist("e0g")}
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $NdK
    ), ${(1 to NdRounds).map(graphRound).mkString(",\n    ")},
    ua AS MATERIALIZED (
      SELECT DISTINCT src, nbr FROM (
        SELECT src, nbr FROM d$NdRounds
        UNION ALL SELECT nbr AS src, src AS nbr FROM d$NdRounds
      )
    ), l0 AS (
      SELECT vec_id AS node, vec_id AS lbl FROM embeddings
    ), ${(1 to LpRounds).map(lpRound).mkString(",\n    ")}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
      MIN(node) AS min_node, MAX(node) AS max_node
    FROM l$LpRounds GROUP BY lbl ORDER BY community"""
    })

  // --------------------------------------------------------------- q166
  private[vec] val InsB = 32 // audited insert batch size

  /** Incremental graph-index insertion audit — the MAINTENANCE leg of
    * the graph stack (q160 builds, q161 serves, q165 clusters, q166
    * grows): split the corpus 90/10 into a BASE partition (ids < ⌊9n/10⌋,
    * the pre-existing index) and an insert stream; build the NN-descent
    * graph over the base only; then discover each inserted node's
    * neighbors the way HNSW/DiskANN insertion does — a beam search from
    * the fixed entry point over the EXISTING graph, keeping the K
    * closest of everything visited as the new node's out-edges. The
    * audit scores those discovered edges against the exact top-K among
    * base nodes: recall@K, top-1 agreement, and the visited count
    * (insertion cost is O(B·K·H) scored nodes per new vector — the
    * reason graph indexes absorb inserts without a rebuild).
    *
    * Scale shape: the base graph is memoized + checkpointed; every
    * insert in the batch traverses CONCURRENTLY (one frame of probes
    * rides the same broadcast-frontier joins), and the exact-top-K leg
    * exists only for the ≤ [[InsB]] audited inserts.
    */
  val q166 = Q("q166_graph_insert_audit",
    (s, dir) => {
      val en = ndEn(s, dir)
      val n = en.count()
      val b = n * 9 / 10
      val baseEn = en.filter(col("vec_id") < b)
      val edges = graft.util.SessionMemo.getOrCompute(s, s"nd-graph-base:$dir") {
        buildEdgesOver(baseEn, b, NdRounds) // every generation checkpointed
      }
      val lo2 = baseEn.select("vec_id").orderBy("vec_id").limit(2)
        .collect().map(_.getLong(0))
      require(lo2.length == 2,
        s"q166_graph_insert_audit needs ≥2 base embeddings (found ${lo2.length})")
      val probes = en.filter(col("vec_id") >= b && col("vec_id") < b + InsB)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      val visited = beamVisited(probes, baseEn, edges, lo2(0), lo2(1))
      val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
      val chosen = visited
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= NdK)
        .cache() // ≤ InsB·K rows, three consumers
      val nvis = visited.groupBy("q_id").agg(count(lit(1)).as("n_visited"))
      val exact = broadcast(probes)
        .join(baseEn.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("n2").as("cn2")))
        .select(col("q_id"), col("c_id"),
          (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
        .withColumn("re", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
        .filter(col("re") <= NdK)
        .cache() // ≤ InsB·K rows, two consumers
      val hits = exact.select(col("q_id"), col("c_id"))
        .join(chosen.select(col("q_id"), col("node").as("c_id")), Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      val e1 = exact.filter(col("re") === 1)
        .select(col("q_id"), col("c_id").as("exact_top1"))
      val g1 = chosen.filter(col("rk") === 1)
        .select(col("q_id"), col("node").as("ins_top1"))
      e1.join(g1, "q_id").join(nvis, "q_id").join(hits, Seq("q_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .select(col("q_id"), col("exact_top1"), col("ins_top1"),
          (col("ins_top1") === col("exact_top1")).cast("int").as("top1_match"),
          col("n_hit"),
          (col("n_hit").cast("double") / lit(NdK)).as("recall_k"),
          col("n_visited"))
        .transform(graft.Q.presentSorted(_, "q_id"))
    },
    Some {
      val hashFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), i -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('nd#' || " +
          "CAST(e.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), i, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def dist(p: String) =
        s"""SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM $p p JOIN enb a ON a.vec_id = p.src JOIN enb b ON b.vec_id = p.nbr"""
      def graphRound(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION SELECT nbr AS src, src AS nbr FROM $in
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM adj$r x JOIN adj$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      ${dist(s"cd$r")}
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $NdK
    )"""
      }
      def scoreSql(p: String) =
        s"""SELECT x.q_id, x.node,
        q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2
      FROM $p x JOIN ena q ON q.vec_id = x.q_id JOIN enb c ON c.vec_id = x.node"""
      def hop(h: Int): String = {
        val (vin, fin) = (s"v${h - 1}", s"f${h - 1}")
        s"""x$h AS (
      SELECT DISTINCT f.q_id, g.nbr AS node
      FROM $fin f JOIN d$NdRounds g ON g.src = f.node
      WHERE g.nbr != f.q_id
    ), s$h AS (
      ${scoreSql(s"x$h")}
    ), v$h AS MATERIALIZED (
      SELECT q_id, node, MIN(d2) AS d2 FROM (
        SELECT * FROM $vin UNION ALL SELECT * FROM s$h
      ) GROUP BY q_id, node
    ), f$h AS (
      SELECT q_id, node FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rb FROM v$h
      ) WHERE rb <= $BsBeam
    )"""
      }
      s"""WITH ena AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), bb AS (SELECT CAST(COUNT(*) * 9 // 10 AS BIGINT) AS b FROM embeddings),
    enb AS MATERIALIZED (
      SELECT e.* FROM ena e CROSS JOIN bb WHERE e.vec_id < bb.b
    ), init AS (
      SELECT e.vec_id AS src, ($hashFold % c.b) AS nbr
      FROM embeddings e CROSS JOIN bb c
      CROSS JOIN (SELECT unnest(generate_series(1, $NdK)) AS j) js
      WHERE e.vec_id < c.b
    ), e0g AS (
      SELECT DISTINCT src, nbr FROM init WHERE nbr != src
    ), dd0 AS (
      ${dist("e0g")}
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $NdK
    ), ${(1 to NdRounds).map(graphRound).mkString(",\n    ")},
    lo AS (
      SELECT MIN(vec_id) AS e0,
        MIN(CASE WHEN vec_id > (SELECT MIN(vec_id) FROM enb) THEN vec_id END) AS e1
      FROM enb
    ), x0 AS (
      SELECT p.vec_id AS q_id,
        CASE WHEN p.vec_id = lo.e0 THEN lo.e1 ELSE lo.e0 END AS node
      FROM embeddings p CROSS JOIN lo CROSS JOIN bb
      WHERE p.vec_id >= bb.b AND p.vec_id < bb.b + $InsB
    ), v0 AS (
      ${scoreSql("x0")}
    ), f0 AS (SELECT q_id, node FROM v0),
    ${(1 to BsHops).map(hop).mkString(",\n    ")},
    chosen AS (
      SELECT q_id, node, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rk
        FROM v$BsHops
      ) WHERE rk <= $NdK
    ), nvis AS (
      SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_visited FROM v$BsHops GROUP BY q_id
    ), exacts AS (
      SELECT q_id, c_id, re FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")}, c.vec_id) AS re
        FROM ena q CROSS JOIN bb JOIN enb c ON true
        WHERE q.vec_id >= bb.b AND q.vec_id < bb.b + $InsB
      ) WHERE re <= $NdK
    ), hits AS (
      SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM exacts e JOIN chosen g ON g.q_id = e.q_id AND g.node = e.c_id
      GROUP BY e.q_id
    ), e1 AS (SELECT q_id, c_id AS exact_top1 FROM exacts WHERE re = 1),
    g1 AS (SELECT q_id, node AS ins_top1 FROM chosen WHERE rk = 1)
    SELECT e1.q_id, exact_top1, ins_top1,
      CAST(CASE WHEN ins_top1 = exact_top1 THEN 1 ELSE 0 END AS INT) AS top1_match,
      COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
      CAST(COALESCE(n_hit, 0) AS DOUBLE) / $NdK AS recall_k,
      n_visited
    FROM e1 JOIN g1 USING (q_id) JOIN nvis USING (q_id)
    LEFT JOIN hits USING (q_id)
    ORDER BY q_id"""
    })

  // --------------------------------------------------------------- q167
  private val KcK = 8 // coreset size (greedy k-center rounds)

  /** Greedy k-center coreset selection (Gonzalez, "Clustering to
    * minimize the maximum intercluster distance", TCS 1985 — the
    * 2-approximation farthest-point traversal, the standard diversity
    * selector for training-data pruning / active-learning seeding):
    * seed with the smallest vec_id, then [[KcK]]−1 rounds of "add the
    * point farthest from its nearest selected center" (squared-L2,
    * ties → smallest id). Emits the selection ORDER with each pick's
    * coverage radius — the decreasing radius sequence IS the coreset
    * quality curve — plus a final row carrying the residual radius
    * after all K picks (what an additional center would cover).
    *
    * Scale shape: the ONLY loop state is the ≤ [[KcK]] selected centers
    * held on the driver (the q54-seed bound) — each pick's embedding and
    * norm ride back into the next round as array/double LITERALS, so a
    * round is one narrow scan-and-LEAST-fold over the cached corpus plus
    * a distributed TakeOrdered(1) argmax: zero shuffles, zero persisted
    * per-round frames (the round-8 shape persisted an embedding-bearing
    * min-distance generation per pick and never dropped them). The
    * recompute prices at r compiled ord_dot folds per point in round r
    * — O(K²) per point over the loop, the right trade for coreset-sized
    * K; a K in the thousands would flip to the stateful (vec_id, md)
    * carry with one co-partitioned join per round. Engine-mirrorable
    * because every distance is an ordered-double fold, literals
    * round-trip doubles exactly, and every argmax has a deterministic
    * id tie-break.
    */
  val q167 = Q("q167_kcenter_coreset",
    (s, dir) => {
      val en = ndEn(s, dir)
      // (embedding vector, its n2, id) of one selected center, collected
      case class Ctr(id: Long, e: Seq[Float], n2: Double)
      val seed = en.orderBy("vec_id")
        .select(col("vec_id"), col("embedding"), col("n2")).limit(1).collect()
      require(seed.nonEmpty, "q167_kcenter_coreset: embeddings table is empty")
      def ctrOf(r: org.apache.spark.sql.Row) =
        Ctr(r.getLong(0), r.getSeq[Float](1), r.getDouble(2))
      var centers = List(ctrOf(seed(0)))
      // min distance to the selected centers: the same left-nested
      // least(least(d1, d2), d3)… chain the incremental carry produced,
      // with each center's embedding/n2 as exact literals
      def mdCol: org.apache.spark.sql.Column =
        centers.map(c => col("n2") + lit(c.n2) - lit(2.0) *
            call_function("ord_dot", col("embedding"), typedLit(c.e)))
          .reduceLeft(least(_, _))
      val picks = scala.collection.mutable.ArrayBuffer[(Long, java.lang.Long, java.lang.Double)](
        (1L, java.lang.Long.valueOf(centers.head.id), null))
      for (r <- 2 to KcK) {
        val top = en.select(col("vec_id"), col("embedding"), col("n2"), mdCol.as("md"))
          .orderBy(desc("md"), col("vec_id")).limit(1).first()
        picks += ((r.toLong, java.lang.Long.valueOf(top.getLong(0)),
          java.lang.Double.valueOf(top.getDouble(3))))
        centers = centers :+ ctrOf(top)
      }
      val residual = en.select(mdCol.as("md"), col("vec_id"))
        .orderBy(desc("md"), col("vec_id")).limit(1).first().getDouble(0)
      picks += ((KcK + 1L, null, java.lang.Double.valueOf(residual)))
      val sess = s
      import sess.implicits._
      picks.toSeq.toDF("round", "center_id", "radius2").orderBy("round")
    },
    Some {
      def dotC(p: String, c: String) = dotOrdSql(s"$p.embedding", s"$c.embedding")
      // each center is materialized as its ONE row and cross-joined:
      // a scalar subquery inside the join condition makes DuckDB
      // nested-loop over all candidates evaluating the dot per (p, c)
      // pair — measured 247 s at sf0.1 vs ~2 s with the 1-row cross join
      def mRound(r: Int): String = {
        val (mPrev, t) = (s"m${r - 1}", s"t$r")
        s"""$t AS (
      SELECT vec_id AS cid, md FROM m${r - 1} ORDER BY md DESC, vec_id LIMIT 1
    ), ct$r AS MATERIALIZED (
      SELECT c.* FROM en c WHERE c.vec_id = (SELECT cid FROM $t)
    ), m$r AS MATERIALIZED (
      SELECT m.vec_id, LEAST(m.md,
        p.n2 + c.n2 - 2.0::DOUBLE * ${dotC("p", "c")}) AS md
      FROM $mPrev m
      JOIN en p ON p.vec_id = m.vec_id
      CROSS JOIN ct$r c
    )"""
      }
      s"""WITH en AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), c1 AS (SELECT MIN(vec_id) AS cid FROM en),
    ct1 AS MATERIALIZED (
      SELECT c.* FROM en c WHERE c.vec_id = (SELECT cid FROM c1)
    ), m1 AS MATERIALIZED (
      SELECT p.vec_id,
        p.n2 + c.n2 - 2.0::DOUBLE * ${dotC("p", "c")} AS md
      FROM en p CROSS JOIN ct1 c
    ), ${(2 to KcK).map(mRound).mkString(",\n    ")},
    tR AS (
      SELECT md FROM m$KcK ORDER BY md DESC, vec_id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS round, (SELECT cid FROM c1) AS center_id,
      CAST(NULL AS DOUBLE) AS radius2
    ${(2 to KcK).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), (SELECT cid FROM t$r), (SELECT md FROM t$r)")
        .mkString("\n    ")}
    UNION ALL SELECT CAST(${KcK + 1} AS BIGINT), CAST(NULL AS BIGINT),
      (SELECT md FROM tR)
    ORDER BY round"""
    })

  // --------------------------------------------------------------- q168
  // Operating point fixed by a measured sweep at sf0.1 (N=2000, PERF.md
  // round 9): k=16/1 round/beam 12/4 hops → recall@6 0.948, top-1 1.00,
  // ~690 nodes visited. Runners-up: (12,2,8,4) 0.786, (8,2,16,5) 0.901,
  // (16,2,12,4) 0.948 at 2× the build cost of rounds=1.
  private val ClK = 16     // learned out-degree of the clustered graph
  private val ClRounds = 1 // NN-descent refinement rounds over it
  private[vec] val ClBeam = 12  // serving beam width
  private[vec] val ClHops = 4   // serving hop count
  private val ClRK = 6     // audited recall depth (recall@ClRK)

  /** One graph-ANN operating point: build degree, NN-descent refinement
    * rounds, serving beam width, serving hop count.
    */
  private[graft] case class ClConfig(degree: Int, rounds: Int, beam: Int, hops: Int)

  /** Measured operating-point anchors (the PERF.md round-9 sweep):
    * per-label cell size → the config that restored recall@6 ≥ 0.83 at
    * that scale with visited fraction FALLING (34 % → 10.7 % → 5.3 %).
    */
  private val clAnchors: Seq[(Double, ClConfig)] = Seq(
    200.0 -> ClConfig(16, 1, 12, 4),
    2000.0 -> ClConfig(24, 2, 16, 5),
    20000.0 -> ClConfig(32, 2, 48, 10))

  /** The measured re-tune as a FUNCTION — what a fleet user applies when
    * the corpus grows instead of re-running the sweep: interpolate the
    * [[clAnchors]] in log10(cell size), the textbook law (degree ∝ log
    * cell size; beam·hops is the efSearch-style serving-exploration
    * knob, which the sweep showed must grow FASTER than degree on
    * uniform in-cell geometry). Below the first anchor the gate config
    * is already past its recall ceiling, so it clamps; above the last
    * anchor the final segment's slope extends (each further 10× of cell
    * size adds the 10×→100× increments).
    *
    * PREMISE (measured, round 15): the law presumes neighborhoods with
    * internal contrast — cells whose exact top-k stand out from the
    * rest of the cell. On CONCENTRATED in-cell geometry (iid-uniform
    * cells at ≥ ~10³ points in 64 dims: the shared-label 1000× corpus,
    * and even the tight 200-point percopy clusters) graph recall is
    * bounded near degree/cell-size REGARDLESS of build quality or
    * init granularity — receipts/lsh_graph_percopy_2m_r15.json and
    * PERF.md r15 measure the ceiling three ways. There the serving
    * answer is the IVF cell scan ([[graft.vec.IvfServe]], recall 1.0
    * at < 1 % scored), not a larger beam: extrapolating THIS law into
    * that regime buys exploration that cannot help.
    */
  private[graft] def tunedConfig(n: Long, cells: Int): ClConfig = {
    val cell = math.max(1.0, n.toDouble / math.max(1, cells))
    val x = math.log10(cell)
    val xs = clAnchors.map(a => math.log10(a._1))
    def interp(f: ClConfig => Int): Int = {
      val ys = clAnchors.map(a => f(a._2).toDouble)
      val v =
        if (x <= xs.head) ys.head
        else {
          val i = math.min(xs.length - 2, math.max(0, xs.lastIndexWhere(_ <= x)))
          ys(i) + (ys(i + 1) - ys(i)) * (x - xs(i)) / (xs(i + 1) - xs(i))
        }
      math.round(v).toInt
    }
    ClConfig(interp(_.degree), interp(_.rounds), interp(_.beam), interp(_.hops))
  }

  /** Clustered corpus derived DETERMINISTICALLY from the embeddings
    * table: v′ = 0.25·v + offset(label, dim), where offset is the
    * corpus's portable 48-bit md5 hash of (label, 1-based dim index)
    * scaled to [0, 1). Ten labels → ten well-separated Gaussian-like
    * cells whose diameter (0.25 × the uniform spread) is ≪ the
    * inter-offset distance — i.e. the geometry real embedding corpora
    * have and the uniform q160 corpus deliberately lacks. Pure
    * per-row math (no shuffle), bit-mirrorable: both engines CAST the
    * float element to double, multiply by 0.25 and add the identically
    * derived offset.
    */
  private[graft] def clEn(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"cl-en:$dir") {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, (x, i) -> 0.25D * CAST(x AS DOUBLE) + " +
            "CAST(conv(substr(md5(CAST(concat('oc#', CAST(label AS STRING), '#', " +
            "CAST(i + 1 AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % 1000 / 1000.0)")
            .as("embedding"))
        .withColumn("n2", expr(norm2OrdExpr("embedding")))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** q168's serving graph: NN-descent refined edges (local precision)
    * UNIONED with the deterministic random init pairs (long-range
    * routing). On clustered data the refined K-NN graph is close to
    * DISCONNECTED across clusters — a beam from one fixed entry could
    * never leave the entry's cluster — and the random links are what
    * keep it navigable (the small-world ingredient HNSW's upper layers
    * provide). Degree ≤ 2·[[ClK]]; memoized + checkpointed like the
    * q160 graph.
    */
  private[graft] def clGraphTuned(s: SparkSession, dir: String,
                                  k: Int, rounds: Int): DataFrame = {
    ensureCkptDir(s)
    val cl = clEn(s, dir)
    val n = cl.count()
    val refined = buildEdgesOver(cl, n, rounds, k) // checkpointed
    dedupBySrc(refined.select("src", "nbr")
      .union(initPairsOver(cl, n, k)))
      .checkpoint()
  }

  private[vec] def clGraph(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"cl-graph:$dir") {
      ensureCkptDir(s)
      clGraphTuned(s, dir, ClK, ClRounds)
    }

  /** Beam-serving recall audit over an arbitrary (src, nbr) graph on
    * the clustered corpus — parameterized so the spec (and the tuning
    * sweep that fixed the q168 operating point) can probe other
    * beam/hop/depth configurations.
    */
  private[graft] def clAudit(s: SparkSession, dir: String, edges: DataFrame,
                             beam: Int, hops: Int, rk: Int): DataFrame = {
    val cl = clEn(s, dir)
    val lo2 = cl.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    require(lo2.length == 2,
      s"q168_graph_ann_clustered needs ≥2 embeddings (found ${lo2.length})")
    val probes = cl.filter(col("vec_id") < NdProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val visited = beamVisited(probes, cl, edges, lo2(0), lo2(1), beam, hops)
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    val chosen = visited
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= rk)
      .cache() // ≤ probes·rk rows, three consumers
    val nvis = visited.groupBy("q_id").agg(count(lit(1)).as("n_visited"))
    val exact = broadcast(probes)
      .join(cl.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") <= rk)
      .cache() // ≤ probes·rk rows, two consumers
    val hits = exact.select(col("q_id"), col("c_id"))
      .join(chosen.select(col("q_id"), col("node").as("c_id")), Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    val e1 = exact.filter(col("re") === 1)
      .select(col("q_id"), col("c_id").as("exact_top1"))
    val g1 = chosen.filter(col("rk") === 1)
      .select(col("q_id"), col("node").as("beam_top1"))
    e1.join(g1, "q_id").join(nvis, "q_id").join(hits, Seq("q_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("q_id"), col("exact_top1"), col("beam_top1"),
        (col("beam_top1") === col("exact_top1")).cast("int").as("top1_match"),
        col("n_hit"),
        (col("n_hit").cast("double") / lit(rk)).as("recall_k"),
        col("n_visited"))
      .transform(graft.Q.presentSorted(_, "q_id"))
  }

  /** Serving-THROUGHPUT leg for the tuned-config receipts: beam-serve a
    * query load of `nQ` probes (vec_id < nQ) over `edges` and return
    * per-query visited counts — no exact brute-force leg, because at
    * fleet-scale query loads the O(queries × corpus) exact audit would
    * dwarf the serving cost it is auditing. Recall stays audited by
    * [[clAudit]] on its fixed probe set; this measures what the SERVER
    * pays per query (visited nodes) and how long the load takes
    * (ClServeProbe times it).
    */
  private[graft] def clServeLoad(s: SparkSession, dir: String, edges: DataFrame,
                                 beam: Int, hops: Int, nQ: Long): DataFrame = {
    val cl = clEn(s, dir)
    val lo2 = cl.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    require(lo2.length == 2, "serve load needs ≥2 embeddings")
    val probes = cl.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    beamVisited(probes, cl, edges, lo2(0), lo2(1), beam, hops)
      .groupBy("q_id").agg(count(lit(1)).as("n_visited"))
  }

  /** Graph ANN at a USEFUL operating point (the q160/q161 machinery
    * demonstrated honest-but-low recall ≈ 0.1 on the deliberately
    * structureless uniform corpus): same NN-descent build + beam
    * serving, run on the clustered corpus [[clEn]] with the
    * learned-∪-random serving graph [[clGraph]], beam [[ClBeam]] ×
    * [[ClHops]] hops, audited recall@[[ClRK]] per probe against exact
    * brute force. The three columns that justify the index: recall_k
    * (the quality actually served), n_visited (≪ N nodes scored per
    * query — the serving cost that stays bounded as the corpus grows),
    * top1_match.
    */
  val q168 = Q("q168_graph_ann_clustered",
    (s, dir) => clAudit(s, dir, clGraph(s, dir), ClBeam, ClHops, ClRK),
    Some {
      // per-(label, 1-based dim) offset hash — inner fold variable is g,
      // NOT i, to avoid capturing the dim index js.i
      val offFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), g -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('oc#' || " +
          "CAST(e.label AS VARCHAR) || '#' || CAST(js.i AS VARCHAR)), g, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      val hashFold =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), g -> " +
          "CAST(strpos('0123456789abcdef', substr(md5('nd#' || " +
          "CAST(e.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)), g, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def dist(p: String) =
        s"""SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM $p p JOIN en a ON a.vec_id = p.src JOIN en b ON b.vec_id = p.nbr"""
      def graphRound(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION SELECT nbr AS src, src AS nbr FROM $in
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM adj$r x JOIN adj$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      ${dist(s"cd$r")}
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $ClK
    )"""
      }
      def scoreSql(p: String) =
        s"""SELECT x.q_id, x.node,
        q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2
      FROM $p x JOIN en q ON q.vec_id = x.q_id JOIN en c ON c.vec_id = x.node"""
      def hop(h: Int): String = {
        val (vin, fin) = (s"v${h - 1}", s"f${h - 1}")
        s"""x$h AS (
      SELECT DISTINCT f.q_id, g.nbr AS node
      FROM $fin f JOIN sg g ON g.src = f.node
      WHERE g.nbr != f.q_id
    ), s$h AS (
      ${scoreSql(s"x$h")}
    ), v$h AS MATERIALIZED (
      SELECT q_id, node, MIN(d2) AS d2 FROM (
        SELECT * FROM $vin UNION ALL SELECT * FROM s$h
      ) GROUP BY q_id, node
    ), f$h AS (
      SELECT q_id, node FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rb FROM v$h
      ) WHERE rb <= $ClBeam
    )"""
      }
      s"""WITH cl AS MATERIALIZED (
      SELECT e.vec_id,
        list(0.25*CAST(e.embedding[js.i] AS DOUBLE) + ($offFold % 1000)/1000.0
          ORDER BY js.i) AS embedding
      FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i) js
      GROUP BY e.vec_id
    ), en AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM cl
    ), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    init AS (
      SELECT e.vec_id AS src, ($hashFold % c.n) AS nbr
      FROM embeddings e CROSS JOIN cnt c
      CROSS JOIN (SELECT unnest(generate_series(1, $ClK)) AS j) js
    ), e0g AS (
      SELECT DISTINCT src, nbr FROM init WHERE nbr != src
    ), dd0 AS (
      ${dist("e0g")}
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $ClK
    ), ${(1 to ClRounds).map(graphRound).mkString(",\n    ")},
    sg AS MATERIALIZED (
      SELECT src, nbr FROM d$ClRounds UNION SELECT src, nbr FROM e0g
    ), lo AS (
      SELECT MIN(vec_id) AS e0, MIN(CASE WHEN vec_id > (SELECT MIN(vec_id) FROM embeddings)
        THEN vec_id END) AS e1 FROM embeddings
    ), x0 AS (
      SELECT p.vec_id AS q_id,
        CASE WHEN p.vec_id = lo.e0 THEN lo.e1 ELSE lo.e0 END AS node
      FROM embeddings p CROSS JOIN lo WHERE p.vec_id < $NdProbes
    ), v0 AS (
      ${scoreSql("x0")}
    ), f0 AS (SELECT q_id, node FROM v0),
    ${(1 to ClHops).map(hop).mkString(",\n    ")},
    chosen AS (
      SELECT q_id, node, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rk
        FROM v$ClHops
      ) WHERE rk <= $ClRK
    ), nvis AS (
      SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_visited FROM v$ClHops GROUP BY q_id
    ), exacts AS (
      SELECT q_id, c_id, re FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")} AS d2,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            q.n2 + c.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "c.embedding")}, c.vec_id) AS re
        FROM en q JOIN en c ON c.vec_id != q.vec_id
        WHERE q.vec_id < $NdProbes
      ) WHERE re <= $ClRK
    ), hits AS (
      SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM exacts e JOIN chosen g ON g.q_id = e.q_id AND g.node = e.c_id
      GROUP BY e.q_id
    ), e1 AS (SELECT q_id, c_id AS exact_top1 FROM exacts WHERE re = 1),
    g1 AS (SELECT q_id, node AS beam_top1 FROM chosen WHERE rk = 1)
    SELECT e1.q_id, exact_top1, beam_top1,
      CAST(CASE WHEN beam_top1 = exact_top1 THEN 1 ELSE 0 END AS INT) AS top1_match,
      COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
      CAST(COALESCE(n_hit, 0) AS DOUBLE) / $ClRK AS recall_k,
      n_visited
    FROM e1 JOIN g1 USING (q_id) JOIN nvis USING (q_id)
    LEFT JOIN hits USING (q_id)
    ORDER BY q_id"""
    })

  // --------------------------------------------------------------- q182
  private val SgCells = 4  // coarse codebook size at the gate scale
  private val SgLloyd = 2  // Lloyd rounds for the coarse centroids
  private val SgK = 6      // graph out-degree
  private val SgAlt = 2    // runner-up-cell boundary-stitch draws
  private val SgRounds = 1 // sampled refinement rounds
  private val SgSample = 6 // per-node adjacency sample per round

  // ---- coarse-codebook DuckDB mirror, shared by q182 and q183 ------
  /** Ordered-double dot of an embedding against a centroid LIST —
    * the assignOrd `ord_dot` mirror (left fold, same IEEE order).
    */
  private def sgDotList(e: String, cv: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($e, $cv), p -> " +
      "CAST(p[1] AS DOUBLE) * p[2])), (acc, x) -> acc + x)"

  /** One Lloyd generation: pos-form centroids → ordered list form +
    * the driver-side left-fold norm → double-fold rank-1 assignment.
    */
  private def sgCvSql(i: Int) =
    s"""cv_$i AS (
      SELECT cid, list(c ORDER BY pos) AS cv,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(list(c ORDER BY pos), v -> v * v)),
          (acc, x) -> acc + x) AS cn2
      FROM cent_$i GROUP BY cid
    )"""

  private def sgAsgSql(i: Int) =
    s"""asg_$i AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, t.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY t.cn2 - 2.0::DOUBLE * ${sgDotList("e.embedding", "t.cv")} ASC, t.cid ASC) AS crn
        FROM embeddings e CROSS JOIN cv_$i t) WHERE crn = 1
    )"""

  private def sgCentSql(i: Int) =
    s"""cent_$i AS (
      SELECT a.cell AS cid, u.pos, (${graft.Exact.sumExactSql("u.x", 8)} / COUNT(*)) AS c
      FROM ux u JOIN asg_${i - 1} a USING (vec_id) GROUP BY a.cell, u.pos
    )"""

  /** CTE prefix `ux, sd, cent_0, cv_0, asg_0, …` ending at
    * `cv_$SgLloyd` — the full [[ShardedGraphBuild.coarseCentroids]]
    * mirror at sampleMod = 1 (md5 seeds, exact-decimal Lloyd means,
    * ordered-double assignment). q182 proved this chain bit-exact
    * against the engine; q183 serves off the same codebook.
    */
  private def sgChainSql: String = {
    val lloyd = (1 to SgLloyd)
      .map(i => s"${sgCentSql(i)}, ${sgCvSql(i)}, ${sgAsgSql(i)}").mkString(", ")
    s"""ux AS (
      SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), sd AS (
      SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY md5('sgc-seed#' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings
    ), cent_0 AS (
      SELECT CAST(s.cid AS BIGINT) AS cid, u.pos, u.x AS c
      FROM ux u JOIN sd s USING (vec_id) WHERE s.cid < $SgCells
    ), ${sgCvSql(0)}, ${sgAsgSql(0)}, $lloyd"""
  }

  /** IVF-sharded NN-descent graph build ([[ShardedGraphBuild]]) as an
    * ORACLE-GATED operator: the full pipeline — coarse k-means centroids
    * (md5-seeded, decimal-exact Lloyd means), cell + runner-up
    * assignment (ordered-double literal-centroid projection), in-cell +
    * boundary-stitch init draws, one ρ-sampled refinement round — with
    * the resulting (src, nbr, d2) graph compared EDGE-FOR-EDGE
    * (d2 bit-exact) against a DuckDB mirror that unrolls every stage.
    * The 2 M-vector receipt (receipts/sharded_build_1000x.json) runs the
    * same code at the law configs; this pins its semantics at gate
    * scale the way q160 pins the plain build.
    *
    * No reference analog: the reference toolkit (pandas
    * microstructure metrics) has no vector-similarity surface —
    * this is the SURVEY.md LLM-pipeline extension, the sharded
    * distributed graph build a 100 TB embedding corpus requires.
    */
  val q182 = Q("q182_sharded_nn_descent",
    (s, dir) => {
      val en = ndEn(s, dir)
      val cent = ShardedGraphBuild.coarseCentroids(
        en.select("vec_id", "embedding"), SgCells, 1, SgLloyd)
      ShardedGraphBuild.buildSharded(en, cent, SgK, SgAlt, SgRounds, SgSample)
        .transform(graft.Q.presentSorted(_, "src", "nbr"))
    },
    Some {
      // 48-bit md5 fold (the q160 hashFold, tag/args parameterized);
      // inner lambda var hi, not i/j — those name outer columns
      def hFold(arg: String) =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(generate_series(1, 12), hi -> " +
          s"CAST(strpos('0123456789abcdef', substr(md5($arg), hi, 1)) - 1 AS BIGINT))), " +
          "(acc, x) -> acc * 16 + x)"
      def drawSql(name: String, tag: String, cellCol: String, nDraws: Int) =
        s"""$name AS (
      SELECT i.vec_id AS src, i.$cellCol AS tc,
        (${hFold(s"'$tag' || CAST(i.vec_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)")} % s.c) AS rr
      FROM idx i JOIN csz s ON s.cell = i.$cellCol
      CROSS JOIN (SELECT unnest(generate_series(1, $nDraws)) AS j) js
    )"""
      // the sampled refinement round: UNION ALL adjacency (duplicates
      // occupy sample slots exactly as in the engine), md5-ranked
      // per-node sample, pivot self-join proposals, distinct-with-known
      // union, fresh d2 (pure function of the pair), per-node top-K
      def roundSql(r: Int): String = {
        val in = s"d${r - 1}"
        s"""adj$r AS (
      SELECT src, nbr FROM $in UNION ALL SELECT nbr AS src, src AS nbr FROM $in
    ), samp$r AS (
      SELECT src, nbr FROM (
        SELECT src, nbr, ROW_NUMBER() OVER (PARTITION BY src ORDER BY
          ${hFold(s"'sgr$r#' || CAST(src AS VARCHAR) || '#' || CAST(nbr AS VARCHAR)")} ASC, nbr ASC) AS rs
        FROM adj$r) WHERE rs <= $SgSample
    ), cd$r AS (
      SELECT DISTINCT src, nbr FROM (
        SELECT x.nbr AS src, y.nbr AS nbr
        FROM samp$r x JOIN samp$r y ON x.src = y.src AND x.nbr != y.nbr
        UNION ALL SELECT src, nbr FROM $in
      ) WHERE src != nbr
    ), dd$r AS (
      SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM cd$r p JOIN en2 a ON a.vec_id = p.src JOIN en2 b ON b.vec_id = p.nbr
    ), d$r AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd$r
      ) WHERE rn <= $SgK
    )"""
      }
      s"""WITH $sgChainSql, asgf AS (
      SELECT vec_id,
        MIN(CASE WHEN crn = 1 THEN cid END) AS cell,
        MIN(CASE WHEN crn = 2 THEN cid END) AS cell2
      FROM (
        SELECT e.vec_id, t.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY t.cn2 - 2.0::DOUBLE * ${sgDotList("e.embedding", "t.cv")} ASC, t.cid ASC) AS crn
        FROM embeddings e CROSS JOIN cv_$SgLloyd t) WHERE crn <= 2
      GROUP BY vec_id
    ), idx AS (
      SELECT vec_id, cell, cell2,
        ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS r
      FROM asgf
    ), csz AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS c FROM idx GROUP BY cell
    ), ${drawSql("ind", "sgi#", "cell", SgK)},
    ${drawSql("alt", "sga#", "cell2", SgAlt)},
    e0 AS (
      SELECT DISTINCT d.src, t.vec_id AS nbr
      FROM (SELECT * FROM ind UNION ALL SELECT * FROM alt) d
      JOIN idx t ON t.cell = d.tc AND t.r = d.rr
      WHERE t.vec_id != d.src
    ), en2 AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), dd0 AS (
      SELECT p.src, p.nbr, a.n2 + b.n2 - 2.0::DOUBLE * ${dotOrdSql("a.embedding", "b.embedding")} AS d2
      FROM e0 p JOIN en2 a ON a.vec_id = p.src JOIN en2 b ON b.vec_id = p.nbr
    ), d0 AS MATERIALIZED (
      SELECT src, nbr, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn FROM dd0
      ) WHERE rn <= $SgK
    ), ${(1 to SgRounds).map(roundSql).mkString(",\n    ")}
    SELECT src, nbr, d2 FROM d$SgRounds ORDER BY src, nbr"""
    })

  // --------------------------------------------------------------- q183
  private val IvNprobe = 2 // probed cells per query (of SgCells = 4)
  private val IvProbes = 32 // probe set: vec_id < IvProbes
  private val IvK = 6      // served neighbors per probe

  /** IVF multi-probe SERVING ([[IvfServe.serve]]) as an ORACLE-GATED
    * operator — the path that carries the engine's 100 TB ANN serving
    * claim (recall@6 = 1.0 at 0.92 % of a 2 M corpus scored,
    * receipts/ivf_sweep_percopy_2m_r15.json): rank the ≤ 256-cell
    * codebook per probe (driver-literal projection, zero shuffle),
    * explode the top-`IvNprobe` cells, ONE broadcast equi-join on the
    * cell id against the assigned corpus, exact top-`IvK` within the
    * probed cells. The DuckDB mirror unrolls the identical codebook
    * chain as q182 ([[sgChainSql]]) and serves with set-identical
    * semantics, value-exact on d2 — so the gate pins the serve's
    * ANSWER and its COST (`n_scored`) at once.
    *
    * No reference analog: the reference toolkit (pandas
    * microstructure metrics) has no vector-similarity surface —
    * this is the SURVEY.md LLM-pipeline extension, the inverted-file
    * serve a 100 TB embedding corpus requires.
    */
  val q183 = Q("q183_ivf_multiprobe_serve",
    (s, dir) => {
      val en = ndEn(s, dir)
      val cent = ShardedGraphBuild.coarseCentroids(
        en.select("vec_id", "embedding"), SgCells, 1, SgLloyd)
      val probes = en.filter(col("vec_id") < IvProbes)
        .select(col("vec_id").as("q_id"), col("embedding"), col("n2"))
      IvfServe.serve(en, cent, probes, IvNprobe, IvK)
        .transform(graft.Q.presentSorted(_, "q_id", "rk"))
    },
    Some {
      s"""WITH $sgChainSql, en2 AS MATERIALIZED (
      SELECT vec_id, embedding, ${norm2OrdSql("embedding")} AS n2 FROM embeddings
    ), corp AS (
      SELECT vec_id AS node, cid AS ncell FROM (
        SELECT e.vec_id, t.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY t.cn2 - 2.0::DOUBLE * ${sgDotList("e.embedding", "t.cv")} ASC, t.cid ASC) AS crn
        FROM embeddings e CROSS JOIN cv_$SgLloyd t) WHERE crn = 1
    ), pc AS (
      SELECT q_id, cid AS pcell FROM (
        SELECT e.vec_id AS q_id, t.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY t.cn2 - 2.0::DOUBLE * ${sgDotList("e.embedding", "t.cv")} ASC, t.cid ASC) AS crn
        FROM embeddings e CROSS JOIN cv_$SgLloyd t
        WHERE e.vec_id < $IvProbes) WHERE crn <= $IvNprobe
    ), sc AS (
      SELECT p.q_id, c.node,
        q.n2 + e.n2 - 2.0::DOUBLE * ${dotOrdSql("q.embedding", "e.embedding")} AS d2
      FROM pc p JOIN corp c ON c.ncell = p.pcell AND c.node != p.q_id
      JOIN en2 q ON q.vec_id = p.q_id JOIN en2 e ON e.vec_id = c.node
    ), ns AS (
      SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_scored FROM sc GROUP BY q_id
    )
    SELECT q_id, CAST(rk AS BIGINT) AS rk, node, d2, n_scored FROM (
      SELECT q_id, node, d2,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rk
      FROM sc) r JOIN ns USING (q_id)
    WHERE rk <= $IvK ORDER BY q_id, rk"""
    })

  def all: Seq[Q] =
    Seq(q34, q35, q36, q37, q39, q44, q52, q54, q68, q72, q77, q92, q94, q99,
      q100, q130, q131, q138, q147, q148, q160, q161, q165, q166, q167, q168,
      q182, q183, q184)
}
