package graft.sql

import graft.Tables
import graft.book.{BookSql, SyntheticBook}
import graft.text.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.functions.col

/** User-facing Spark-SQL surface for the engine.
  *
  *   - [[texts]] carries a Spark-SQL text per catalog query, each
  *     producing EXACTLY the catalog query's output. Where a text and its
  *     DataFrame spelling planned the same optimized and physical plan,
  *     the catalog entry *is* the text ([[graft.Q.sql]]); every other
  *     text is pinned row-for-row against its DataFrame program by
  *     SqlSurfaceSpec (doubles bit-for-bit).
  *   - [[run]] parses a text, registers only the views it reads (see
  *     [[viewsRead]]) from one map of view name → frame, and runs it.
  *     The views are the ten testdata tables (TESTDATA.md), the derived
  *     order book (`book`, [[SyntheticBook]]) and the dedup-graph views
  *     over TextQueries' memos (`dedup_edges`, `dedup_groups`,
  *     `dedup_components`, `dedup_scored`,
  *     `dedup_components_{700,800,900}`).
  *   - Texts whose output is a per-row kernel projection sorted by its
  *     key sort the narrow base in a subquery (`FROM (SELECT * FROM
  *     documents ORDER BY doc_id)`): a trailing ORDER BY would make the
  *     range sample re-run the kernel. PlanAuditSpec pins that shape.
  *   - [[registerViews]] registers the tables plus `book` for a user's
  *     own SQL. Both leave the session with every native kernel
  *     ([[graft.functions.Kernels]]), so `dec_unscaled`/`unscaled_dbl`
  *     (exact float aggregation), `shingle_agg`/`minhash_spans` (text),
  *     `ord_dot` (vectors) and the rest are callable from plain SQL.
  *
  * Dialect note: the book fragments live in [[BookSql]] in DuckDB
  * spelling so the oracle gate can run them; the only divergence is the
  * literal double cast (`0.5::DOUBLE` vs `0.5D`), handled by [[d]]. Keeping
  * one fragment source means the SQL surface cannot drift from the
  * oracle-pinned semantics.
  */
object SqlSurface {

  private val D = 5

  private val baseViews: Seq[String] = Tables.names :+ "book"

  /** Every view a text may read, by name. `documents_spread` and
    * `embeddings_spread` are their tables behind [[Tables.spread]]'s
    * input-parallelism floor, for texts whose per-row kernel sits right
    * above the scan. The dedup views are the DataFrame catalog's own
    * memos (one LSH + CC build per session and sfDir serves both
    * spellings); only the first read of one builds it.
    */
  private val views: Map[String, (SparkSession, String) => DataFrame] = {
    type View = (SparkSession, String) => DataFrame
    val tables = Tables.names.map(t => t -> ((s, dir) => Tables(s, dir, t)): (String, View))
    val spread = Seq("documents", "embeddings").map(t =>
      s"${t}_spread" -> ((s, dir) => Tables(s, dir, t, spreadOk = true)): (String, View))
    val sweep = Seq(700, 800, 900).map(t =>
      s"dedup_components_$t" -> ((s, dir) => dedupComponentsTau(s, dir, t)): (String, View))
    (tables ++ spread ++ sweep).toMap ++ Map[String, View](
      "book" -> ((s, dir) => SyntheticBook.fromEvents(Tables(s, dir, "events"), D)),
      "dedup_edges" -> TextQueries.dedupEdges,
      "dedup_groups" -> TextQueries.dedupGroups,
      "dedup_components" -> ((s, dir) =>
        TextQueries.dedupGroups(s, dir).select(col("doc_id"), col("comp").as("group_id"))),
      "dedup_scored" -> TextQueries.scoredPairs)
  }

  /** Register the ten testdata tables + the derived `book` as temp views
    * (each table load registers the native kernels, see [[Tables.apply]]).
    * Idempotent; call once per (session, sfDir).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    baseViews.foreach(v => views(v)(spark, sfDir).createOrReplaceTempView(v))
  }

  /** The relation names a SQL text reads: every table reference in the
    * parsed plan, including those inside CTE bodies and subquery
    * expressions, minus the names the text defines as CTEs.
    */
  private[graft] def viewsRead(sql: String): Set[String] = {
    def walk(p: LogicalPlan): Seq[LogicalPlan] = p.flatMap { n =>
      n +: (n.innerChildren.collect { case c: LogicalPlan => c } ++ n.subqueries).flatMap(walk)
    }
    val nodes = walk(CatalystSqlParser.parsePlan(sql))
    val ctes = nodes.collect { case w: UnresolvedWith => w.cteRelations.map(_._1) }.flatten
    nodes.collect { case r: UnresolvedRelation => r.multipartIdentifier.mkString(".") }
      .toSet -- ctes
  }

  /** The LSH candidate-generation CTE chain (`sig`/`bh4`/`bands`/`cand`)
    * shared by the q81, q102 and q122 texts: 16-span MinHash signatures
    * → 4×4 banding → hot-bucket-guarded band self-join, exactly
    * TextQueries.dedupCandidates.
    */
  private val candChainSql: String = {
    val bandCols = (0 to 3).map { k =>
      val parts = (1 to 4).map(j => s"element_at(sig, ${4 * k + j})").mkString(", ")
      s"md5(CAST(concat($parts) AS BINARY)) AS b$k"
    }.mkString(",\n        ")
    s"""sig AS (
      SELECT doc_id, minhash_spans(text, 8, 4) AS sig FROM documents
    ), bh4 AS (
      SELECT doc_id,
        $bandCols
      FROM sig
    ), bands AS (
      SELECT doc_id, band_idx, bh,
        COUNT(*) OVER (PARTITION BY band_idx, bh) AS bsz,
        MIN(doc_id) OVER (PARTITION BY band_idx, bh) AS bmin
      FROM bh4 LATERAL VIEW posexplode(array(b0, b1, b2, b3)) AS band_idx, bh
    ), cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        WHERE a.bsz <= 256
        UNION ALL
        SELECT bmin, doc_id FROM bands WHERE bsz > 256 AND doc_id != bmin
      )
    )"""
  }

  /** Per-threshold component labels `dedup_components_<τ‰>` for the
    * q128 sweep: the τ‰ integer verify rule over TextQueries'
    * `scoredPairs`, then the engine's distributed CC (the one step SQL
    * cannot express: Spark 4's recursive CTEs support UNION ALL only,
    * which never terminates on a cyclic edge relation). Memoized per
    * (session, sfDir, τ).
    */
  private def dedupComponentsTau(spark: SparkSession, sfDir: String,
                                 tau: Int): DataFrame =
    graft.util.SessionMemo.getOrCompute(spark, s"sql-dedup-comp-$tau:$sfDir") {
      val edges = TextQueries.scoredPairs(spark, sfDir)
        .filter(col("n_union") > 0 &&
          col("n_inter") * 1000 >= col("n_union") * tau)
        .select("id_a", "id_b")
      val (labels, _) = graft.graph.ConnectedComponents.label(
        edges, Tables(spark, sfDir, "documents").select("doc_id"))
      graft.util.Ckpt.ensureDir(spark.sparkContext)
      val out = labels.select(col("doc_id"), col("comp").as("group_id"))
        .checkpoint()
      labels.unpersist()
      out
    }

  /** DuckDB literal-cast spelling → Spark double-literal suffix. The
    * fragments only ever use `::DOUBLE` on numeric literals.
    */
  private def d(frag: String): String = frag.replace("::DOUBLE", "D")

  /** Quote a raw regex/string as a Spark-SQL single-quoted literal
    * (Spark's default escapedStringLiterals=false processes backslash
    * escapes, so backslashes and quotes double).
    */
  private def sq(raw: String): String =
    "'" + raw.replace("\\", "\\\\").replace("'", "\\'") + "'"

  // Spark-SQL spellings of the Exact.*Fast aggregation recipe (the same
  // registered kernels the Column builders call via call_function).
  private def sumFast(term: String, scale: Int): String =
    s"unscaled_dbl(SUM(dec_unscaled($term, $scale)), $scale, $scale)"
  private def sumFastR(term: String, termScale: Int, outScale: Int): String =
    s"unscaled_dbl(SUM(dec_unscaled($term, $termScale)), $termScale, $outScale)"
  private def avgFast(term: String, scale: Int): String =
    s"(${sumFast(term, scale)} / COUNT($term))"

  /** q28's full text as a shared fragment: the funnel composites (q70 /
    * q105 / q106 / q150) re-derive the language verdict from the same
    * SQL body the q28 entry serves.
    */
  private lazy val langIdSql: String = {
    def occ(w: String): String = {
      val padded = "concat(' ', lower(text), ' ')"
      val pat = s" $w "
      s"CAST((length($padded) - length(regexp_replace($padded, '$pat', ''))) / ${pat.length} AS BIGINT)"
    }
    val scores = graft.text.TextMetrics.langMarkers.map { case (l, words) =>
      s"s_$l" -> words.map(occ).mkString(" + ")
    }.toMap.map { case (c, e) => s"$e AS $c" }.mkString(",\n          ")
    s"""WITH sc AS (
        SELECT *,
          $scores
        FROM (SELECT * FROM documents ORDER BY doc_id)
      ), pr AS (
        SELECT *,
          CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
               WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
               WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh' END AS pred_lang
        FROM sc
      )
      SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh, pred_lang,
        CAST(pred_lang = lang AS INT) AS is_match
      FROM pr"""
  }

  /** q58's full text as a shared fragment (see [[langIdSql]]). */
  private lazy val repetitionQualitySql: String = {
    s"""WITH b1 AS (
        SELECT doc_id, text, CAST(size(split(text, '\\n')) AS BIGINT) AS n_lines
        FROM documents_spread
      ), b2 AS (
        SELECT *, CAST(size(array_distinct(split(text, '\\n'))) AS BIGINT) AS n_distinct_lines FROM b1
      ), b3 AS (SELECT *, split(trim(lower(text)), ${sq("\\s+")}) AS toks FROM b2
      ), b4 AS (
        SELECT *, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(toks) AS BIGINT) END AS n_words
        FROM b3
      ), b5 AS (
        SELECT *, CASE WHEN n_words >= 3
               THEN transform(sequence(0, size(toks) - 3), i ->
                 concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))
               ELSE CAST(array() AS ARRAY<STRING>) END AS tri
        FROM b4
      ), b6 AS (SELECT *, CAST(size(tri) AS BIGINT) AS n_tri FROM b5
      ), base AS (SELECT *, CAST(size(array_distinct(tri)) AS BIGINT) AS n_distinct_tri FROM b6
      ), bi AS (
        SELECT doc_id, MAX(cnt) AS top_bigram_cnt, SUM(cnt) AS n_bigrams FROM (
          SELECT doc_id, gram, COUNT(*) AS cnt
          FROM (SELECT doc_id, explode(transform(sequence(0, size(toks) - 2), i ->
                  concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2)))) AS gram
                FROM base WHERE n_words >= 2)
          GROUP BY doc_id, gram)
        GROUP BY doc_id
      ), j AS (
        SELECT doc_id, n_words,
          1.0D - CAST(n_distinct_lines AS DOUBLE) / n_lines AS dup_line_frac,
          CASE WHEN n_bigrams IS NOT NULL
               THEN CAST(top_bigram_cnt AS DOUBLE) / n_bigrams END AS top2gram_frac,
          CASE WHEN n_tri > 0
               THEN 1.0D - CAST(n_distinct_tri AS DOUBLE) / n_tri END AS dup3gram_frac
        FROM base LEFT JOIN bi USING (doc_id)
      ), f1 AS (SELECT *, CAST(dup_line_frac > 0.30D AS INT) AS fail_dup_lines FROM j
      ), f2 AS (SELECT *, COALESCE(CAST(top2gram_frac > 0.20D AS INT), 0) AS fail_top2gram FROM f1
      ), f3 AS (SELECT *, COALESCE(CAST(dup3gram_frac > 0.60D AS INT), 0) AS fail_dup3gram FROM f2)
      SELECT *, CAST(fail_dup_lines + fail_top2gram + fail_dup3gram = 0 AS INT) AS quality_pass
      FROM f3 ORDER BY doc_id"""
  }

  /** The five per-doc keep verdicts (train-split, lang, quality, exact
    * dedup, near dedup) as one `flags` CTE body — the q70/q106/q150
    * composites all consume it. Near-dedup rides the memoized
    * `dedup_components` view; everything else is the same SQL the
    * standalone entries serve.
    */
  private lazy val flagsCteSql: String =
    s"""flags AS (
      SELECT d.doc_id,
        CAST((d.doc_id * 2654435761) % 1000 < 900 AS BIGINT) AS k_train,
        l.k_lang, q.k_qual, e.k_exact, n.k_near
      FROM documents d
      JOIN (SELECT doc_id, CAST(is_match AS BIGINT) AS k_lang FROM ($langIdSql)) l
        ON l.doc_id = d.doc_id
      JOIN (SELECT doc_id, CAST(quality_pass AS BIGINT) AS k_qual FROM ($repetitionQualitySql)) q
        ON q.doc_id = d.doc_id
      JOIN (SELECT d2.doc_id, CAST(d2.doc_id = x.keep_id AS BIGINT) AS k_exact
            FROM (SELECT doc_id, md5(CAST(text AS BINARY)) AS fp FROM documents) d2
            JOIN (SELECT md5(CAST(text AS BINARY)) AS fp, MIN(doc_id) AS keep_id
                  FROM documents GROUP BY md5(CAST(text AS BINARY))) x
              ON x.fp = d2.fp) e
        ON e.doc_id = d.doc_id
      JOIN (WITH scored AS (
              SELECT cc.doc_id, cc.group_id, dd.n_chars
              FROM dedup_components cc JOIN documents dd ON dd.doc_id = cc.doc_id
            ), keep AS (
              SELECT s.group_id, MIN(s.doc_id) AS keep_id
              FROM scored s
              JOIN (SELECT group_id, MAX(n_chars) AS best_chars
                    FROM scored GROUP BY group_id) b
                ON b.group_id = s.group_id AND s.n_chars = b.best_chars
              GROUP BY s.group_id
            )
            SELECT s.doc_id, CAST(s.doc_id = k.keep_id AS BIGINT) AS k_near
            FROM scored s JOIN keep k ON k.group_id = s.group_id) n
        ON n.doc_id = d.doc_id
    )"""

  /** Label-centroid IVF assignment as a CTE chain ending in
    * `assigned(vec_id, cell)` — the Spark spelling of the exact-decimal
    * nearest-centroid rule the vec family shares (argmin over
    * ‖c‖² − 2·x·c with label tie-break).
    */
  /** Rank-1/rank-n ordered-double centroid assignment over a `cv_i`
    * codebook CTE — the Spark spelling of `ShardedGraphBuild.assignOrd`
    * (q182/q183's coarse chain): the codebook's ≤ 256 rows cross-join as
    * a broadcast nested loop, `ord_dot(cv, cv)` reproduces the engine's
    * driver-side left-fold centroid norm bit-for-bit.
    */
  private def sgRank1Spark(cvTbl: String): String =
    s"""SELECT e.vec_id, t.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY ord_dot(t.cv, t.cv) - 2.0D * ord_dot(e.embedding, t.cv) ASC,
            t.cid ASC) AS crn
          FROM embeddings e CROSS JOIN $cvTbl t"""

  /** One Lloyd generation of the q182/q183 coarse codebook: exact-decimal
    * per-(cell, pos) means (the `lloydMeans` kernels, SQL-callable) →
    * ordered list form → ordered-double rank-1 re-assignment.
    */
  private def sgLloydSpark(i: Int): String =
    s"""cent_$i AS (
        SELECT a.cell AS cid, u.pos,
          (unscaled_dbl(SUM(dec_unscaled(u.x, 8)), 8, 8) / COUNT(*)) AS c
        FROM sux u JOIN asg_${i - 1} a ON a.vec_id = u.vec_id
        GROUP BY a.cell, u.pos
      ), cv_$i AS (
        SELECT cid, transform(array_sort(collect_list(struct(pos, c))), s -> s.c) AS cv
        FROM cent_$i GROUP BY cid
      ), asg_$i AS (
        SELECT vec_id, cid AS cell FROM (${sgRank1Spark(s"cv_$i")}) WHERE crn = 1
      )"""

  /** CTE prefix ending at `cv_2` — the full coarse-codebook chain of
    * q182/q183 (md5-seeded, 4 cells, 2 exact-decimal Lloyd rounds) in
    * Spark dialect, mirroring `VectorQueries.sgChainSql`.
    */
  private lazy val sgChainSparkSql: String =
    s"""sd AS (
      SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY md5(CAST(concat('sgc-seed#', CAST(vec_id AS STRING)) AS BINARY)),
          vec_id) - 1 AS cid
      FROM embeddings
    ), sux AS (
      SELECT vec_id, pos0 + 1 AS pos, CAST(x AS DOUBLE) AS x
      FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos0, x
    ), cv_0 AS (
      SELECT CAST(s.cid AS BIGINT) AS cid,
        transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings e JOIN sd s ON s.vec_id = e.vec_id WHERE s.cid < 4
    ), asg_0 AS (
      SELECT vec_id, cid AS cell FROM (${sgRank1Spark("cv_0")}) WHERE crn = 1
    ), ${sgLloydSpark(1)}, ${sgLloydSpark(2)}"""

  private lazy val ivfAssignSparkSql: String =
    s"""ux AS (
      SELECT vec_id, label, CAST(pos0 + 1 AS BIGINT) AS pos, CAST(x AS DOUBLE) AS x
      FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos0, x
    ), cent AS (
      SELECT label, pos, (${"unscaled_dbl(SUM(dec_unscaled(x, 8)), 8, 8)"} / COUNT(*)) AS c
      FROM ux GROUP BY label, pos
    ), cn AS (
      SELECT label, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    ), dots AS (
      SELECT u.vec_id, ct.label,
        CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
      FROM ux u JOIN cent ct ON ct.pos = u.pos
      GROUP BY u.vec_id, ct.label
    ), rankedA AS (
      SELECT d.vec_id, d.label,
        ROW_NUMBER() OVER (PARTITION BY d.vec_id
          ORDER BY cn.cnorm2 - CAST(2.0 AS DOUBLE) * d.dot ASC, d.label ASC) AS crn
      FROM dots d JOIN cn ON cn.label = d.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM rankedA WHERE crn = 1
    )"""

  /** Bigram reference-likelihood scoring as a CTE chain ending in
    * `agg(doc_id, n_bigrams, mean_p_scaled, min_p_scaled)` — the q76 /
    * q83 / q101 family's shared fragment (integer fixed-point
    * p(w2|w1), reference = the 90% hash split).
    */
  private lazy val likelihoodSparkSql: String =
    s"""tk0 AS (
      SELECT doc_id, split(trim(lower(text)), ${sq("\\s+")}) AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE size(split(trim(lower(text)), ${sq("\\s+")})) END AS nw
      FROM documents
    ), bigrams AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2
      FROM (SELECT doc_id, explode(transform(sequence(0, nw - 2), i ->
          named_struct('w1', element_at(tk, i + 1), 'w2', element_at(tk, i + 2)))) AS b
        FROM tk0 WHERE nw >= 2)
    ), ref AS (
      SELECT * FROM bigrams WHERE (doc_id * 2654435761) % 1000 < 900
    ), bg AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM ref GROUP BY w1, w2
    ), ug AS (
      SELECT w1, COUNT(*) AS c1 FROM ref GROUP BY w1
    ), scored AS (
      SELECT b.doc_id,
        CASE WHEN bg.c2 IS NULL OR ug.c1 IS NULL THEN CAST(0 AS BIGINT)
             ELSE (bg.c2 * 1000000) div ug.c1 END AS p_scaled
      FROM bigrams b
      LEFT JOIN bg ON bg.w1 = b.w1 AND bg.w2 = b.w2
      LEFT JOIN ug ON ug.w1 = b.w1
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
        SUM(p_scaled) div COUNT(*) AS mean_p_scaled,
        MIN(p_scaled) AS min_p_scaled
      FROM scored GROUP BY doc_id
    )"""

  /** Integer-rational BM25 as a CTE chain ending in
    * `byq(query_id, doc_id, score, n_terms_hit)` — shared by the q86
    * top-k entry and the q174 RRF lexical leg.
    */
  private lazy val bm25SparkCteSql: String =
    s"""qt AS (
        SELECT query_id, term FROM VALUES (1, 'table'), (1, 'scan'), (2, 'spark'),
          (2, 'query'), (3, 'merge'), (3, 'batch') AS t(query_id, term)
      ), base25 AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST(array() AS ARRAY<STRING>)
               ELSE split(trim(lower(text)), ${sq("\\s+")}) END AS tk
        FROM documents
      ), dld AS (
        SELECT doc_id, tk, CAST(size(tk) AS BIGINT) AS dl FROM base25
      ), scal AS (
        SELECT SUM(dl) AS big_d, COUNT(*) AS n_docs FROM dld
      ), tok25 AS (
        SELECT doc_id, dl, term
        FROM (SELECT doc_id, dl, explode(tk) AS term FROM dld)
        WHERE term IN (SELECT DISTINCT term FROM qt)
      ), tf AS (
        SELECT term, doc_id, dl, COUNT(*) AS tf FROM tok25 GROUP BY term, doc_id, dl
      ), dft AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), scored25 AS (
        SELECT q.query_id, f.doc_id,
          ((s.n_docs * 1000000) div d.df) *
            ((44 * f.tf * s.big_d * 1000) div
             (20 * f.tf * s.big_d + 6 * s.big_d + 18 * f.dl * s.n_docs)) AS term_score
        FROM tf f JOIN dft d USING (term) CROSS JOIN scal s JOIN qt q ON q.term = f.term
      ), byq AS (
        SELECT query_id, doc_id, SUM(term_score) AS score, COUNT(*) AS n_terms_hit
        FROM scored25 GROUP BY query_id, doc_id
      )"""

  private val disc = "l_extendedprice * (1 - l_discount)"
  private val winSql = "(PARTITION BY sym ORDER BY seq)"
  private val runSql =
    "(PARTITION BY sym ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

  /** Spark-SQL text per catalog query name. Every entry runs via
    * `spark.sql` after [[registerViews]] and matches the DataFrame
    * catalog output row-for-row.
    */
  val texts: Map[String, String] = Map(
    // ---- vec family: the exact-decimal kernel from plain SQL --------
    "q34_embedding_stats" ->
      s"""WITH emb AS (SELECT * FROM embeddings ORDER BY vec_id
      ), norm2 AS (
        SELECT *, CAST(size(embedding) AS BIGINT) AS dim,
          dec_dot8(embedding, embedding) AS norm2
        FROM emb
      )
      SELECT vec_id, label, dim, norm2,
        sqrt(norm2) AS norm,
        CAST(aggregate(embedding, CAST(0 AS DECIMAL(30,8)), (acc, x) ->
          CAST(acc + CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(30,8)) AS DECIMAL(30,8))) AS DOUBLE) AS comp_sum,
        CAST(array_min(embedding) AS DOUBLE) AS comp_min,
        CAST(array_max(embedding) AS DOUBLE) AS comp_max
      FROM norm2""",

    "q36_knn_bruteforce" ->
      s"""WITH en AS (
        SELECT vec_id, embedding, dec_dot8(embedding, embedding) AS n2 FROM embeddings
      ), p AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
          dec_dot8(q.embedding, c.embedding) AS dot
        FROM en q JOIN en c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 8
      ), sc AS (
        SELECT q_id, c_id,
          CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
        FROM p
      ), r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM sc
      )
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, cos_sim
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",

    "q35_label_centroids" ->
      s"""SELECT label, CAST(pos0 + 1 AS BIGINT) AS pos, COUNT(*) AS n,
        (${sumFast("CAST(x AS DOUBLE)", 8)} / COUNT(*)) AS centroid
      FROM (SELECT label, posexplode(embedding) AS (pos0, x) FROM embeddings)
      GROUP BY label, CAST(pos0 + 1 AS BIGINT)
      ORDER BY label, pos""",

    // random-hyperplane LSH: 8 deterministic integer hyperplanes, bucket
    // bit i = sign of the exact decimal dot with plane i (the aggregate/
    // transform folds are plain Spark SQL higher-order functions)
    "q37_lsh_buckets" -> {
      def plane(i: Int): String =
        s"CAST(aggregate(transform(sequence(1, size(embedding)), j -> " +
          s"CAST(round(CAST((($i * 64 + j) * 2654435761) % 2001 - 1000 AS DOUBLE) * " +
          s"CAST(element_at(embedding, j) AS DOUBLE), 6) AS DECIMAL(30,6))), " +
          s"CAST(0 AS DECIMAL(30,6)), (acc, v) -> CAST(acc + v AS DECIMAL(30,6))) AS DOUBLE) AS h$i"
      val bucket = (0 to 7).map(i => s"CASE WHEN h$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      s"""WITH h AS (
        SELECT vec_id, label,
          ${(0 to 7).map(plane).mkString(",\n          ")}
        FROM embeddings
      ), b AS (
        SELECT vec_id, label, CAST($bucket AS BIGINT) AS bucket FROM h
      )
      SELECT vec_id, label, bucket, COUNT(*) OVER (PARTITION BY bucket) AS n_in_bucket
      FROM b ORDER BY vec_id"""
    },

    // banded-LSH embedding near-dup: band codes from the native
    // lsh_band_codes kernel, hot-bucket row_number cap, per-band
    // equi-self-join (no all-pairs product), exact ordered-dot verify
    "q39_embedding_neardup" ->
      s"""WITH eb AS (
        SELECT vec_id, embedding, ord_dot(embedding, embedding) AS n2,
               lsh_band_codes(embedding, 4, 8) AS codes
        FROM embeddings
      ), bands AS (
        SELECT vec_id, band_idx, code,
          ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
        FROM eb LATERAL VIEW posexplode(codes) t AS band_idx, code
      ), kept AS (SELECT vec_id, band_idx, code FROM bands
        WHERE bn <= ${graft.vec.VectorQueries.HotBucketCap}),
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
      ), v AS (
        SELECT c.id_a, c.id_b, c.n_bands,
          CASE WHEN ea.n2 > 0 AND e2.n2 > 0
               THEN ord_dot(ea.embedding, e2.embedding) / (sqrt(ea.n2) * sqrt(e2.n2)) END AS cos_sim
        FROM cand c
        JOIN eb ea ON ea.vec_id = c.id_a
        JOIN eb e2 ON e2.vec_id = c.id_b
      )
      SELECT id_a, id_b, n_bands, cos_sim FROM v
      WHERE cos_sim > 0.15 ORDER BY id_a, id_b""",

    // split-half centroid drift per label (exact per-dim means, ordered
    // folds for the cosine)
    "q99_centroid_drift" -> {
      def fold(v: String) =
        s"aggregate(transform(array_sort(collect_list(named_struct('pos', e.pos, 'v', $v))), " +
          "x -> x.v), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
      s"""WITH cent AS (
        SELECT label, CAST(vec_id % 2 AS INT) AS half,
          CAST(pos0 + 1 AS BIGINT) AS pos,
          COUNT(*) AS n, (${sumFast("CAST(x AS DOUBLE)", 8)} / COUNT(*)) AS c
        FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos0, x
        GROUP BY label, CAST(vec_id % 2 AS INT), CAST(pos0 + 1 AS BIGINT)
      ), e AS (
        SELECT label, pos, n AS n_even, c AS ce FROM cent WHERE half = 0
      ), o AS (
        SELECT label, pos, n AS n_odd, c AS co FROM cent WHERE half = 1
      ), f AS (
        SELECT e.label, MAX(e.n_even) AS n_even, MAX(o.n_odd) AS n_odd,
          ${fold("e.ce * o.co")} AS dot,
          ${fold("e.ce * e.ce")} AS ee,
          ${fold("o.co * o.co")} AS oo
        FROM e JOIN o ON o.label = e.label AND o.pos = e.pos
        GROUP BY e.label
      )
      SELECT label, n_even, n_odd, dot,
        CASE WHEN ee > 0 AND oo > 0
             THEN dot / (sqrt(ee) * sqrt(oo)) END AS cos_drift
      FROM f ORDER BY label"""
    },

    // bigram next-token accuracy: train/eval split, argmax predictor,
    // accuracy from aggregated counts only (no second stream pass)
    "q127_next_token_accuracy" ->
      s"""WITH base AS (
        SELECT doc_id, lang, (doc_id * 2654435761) % 1000 < 900 AS is_train,
          split(trim(text), ${sq("\\s+")}) AS tk
        FROM documents WHERE length(trim(text)) > 0
      ), bi AS (
        SELECT lang, is_train, b.w1 AS w1, b.w2 AS w2
        FROM (SELECT lang, is_train, explode(transform(sequence(1, size(tk) - 1), i ->
            struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))) AS b
          FROM base WHERE size(tk) >= 2)
      ), counts AS (
        SELECT lang, w1, w2,
          SUM(CASE WHEN is_train THEN 1L ELSE 0L END) AS c_train,
          SUM(CASE WHEN is_train THEN 0L ELSE 1L END) AS c_eval
        FROM bi GROUP BY lang, w1, w2
      ), pairs AS (
        SELECT w1, w2, SUM(c_train) AS c FROM counts GROUP BY w1, w2
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rk
        FROM pairs WHERE c > 0
      ), model AS (SELECT w1, w2 AS pred FROM ranked WHERE rk = 1
      ), agg AS (
        SELECT /*+ BROADCAST(model) */ lang, SUM(c_eval) AS n_eval,
          SUM(CASE WHEN w2 = pred THEN c_eval ELSE 0L END) AS n_hits,
          SUM(CASE WHEN pred IS NULL THEN c_eval ELSE 0L END) AS n_oov_ctx
        FROM (SELECT * FROM counts WHERE c_eval > 0) LEFT JOIN model USING (w1)
        GROUP BY lang
      )
      SELECT lang, n_eval, n_hits, n_hits * 1000 div n_eval AS acc_permille,
        n_oov_ctx * 1000 div n_eval AS oov_ctx_permille
      FROM agg ORDER BY lang""",

    // embedding coverage per (source, lang): which corpus slices have
    // vectors at all
    "q148_embedding_coverage" ->
      s"""SELECT d.source, d.lang,
        COUNT(*) AS n_docs,
        SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1L ELSE 0L END) AS n_covered,
        SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1L ELSE 0L END) * 1000
          div COUNT(*) AS coverage_permille,
        COUNT(DISTINCT e.label) AS n_labels
      FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
      GROUP BY d.source, d.lang
      ORDER BY d.source, d.lang""",

    // q39's wide-band twin: 16-bit band codes (65 536-way buckets) on
    // the INDEPENDENT md5 plane family (round 17 — the LCG family is
    // period-5 degenerate past ~5 bits, so wide LCG codes were a
    // scale-killer; see LshBandCodesMd5 and PERF.md r16/r17)
    "q72_embedding_neardup_wide" ->
      s"""WITH eb AS (
        SELECT vec_id, embedding, ord_dot(embedding, embedding) AS n2,
               lsh_band_codes_md5(embedding, 4, 16) AS codes
        FROM embeddings
      ), bands AS (
        SELECT vec_id, band_idx, code,
          ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
        FROM eb LATERAL VIEW posexplode(codes) t AS band_idx, code
      ), kept AS (SELECT vec_id, band_idx, code FROM bands
        WHERE bn <= ${graft.vec.VectorQueries.HotBucketCap}),
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
      ), v AS (
        SELECT c.id_a, c.id_b, c.n_bands,
          CASE WHEN ea.n2 > 0 AND e2.n2 > 0
               THEN ord_dot(ea.embedding, e2.embedding) / (sqrt(ea.n2) * sqrt(e2.n2)) END AS cos_sim
        FROM cand c
        JOIN eb ea ON ea.vec_id = c.id_a
        JOIN eb e2 ON e2.vec_id = c.id_b
      )
      SELECT id_a, id_b, n_bands, cos_sim FROM v
      WHERE cos_sim > 0.15 ORDER BY id_a, id_b""",

    // q72 on the INDEPENDENT (md5) plane family - the production
    // encoder with the WIDTH LAW inline (round 17): bits =
    // clamp(ceil(log2 N), 8, 32) derived from a COUNT(*) scalar
    // subquery as length(bin(cnt - 1)) — bit-length of N-1 is exactly
    // ceil(log2 N), no float-log edge — and fed straight to the kernel,
    // so the text computes its own width like the catalog path does
    "q184_embedding_neardup_indep" ->
      s"""WITH bw AS (
        SELECT LEAST(32, GREATEST(8, length(bin(COUNT(*) - 1)))) AS bits
        FROM embeddings
      ), eb AS (
        SELECT vec_id, embedding, ord_dot(embedding, embedding) AS n2,
               lsh_band_codes_md5(embedding, 4, (SELECT bits FROM bw)) AS codes
        FROM embeddings
      ), bands AS (
        SELECT vec_id, band_idx, code,
          ROW_NUMBER() OVER (PARTITION BY band_idx, code ORDER BY vec_id) AS bn
        FROM eb LATERAL VIEW posexplode(codes) t AS band_idx, code
      ), kept AS (SELECT vec_id, band_idx, code FROM bands
        WHERE bn <= ${graft.vec.VectorQueries.HotBucketCap}),
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, COUNT(*) AS n_bands
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
      ), v AS (
        SELECT c.id_a, c.id_b, c.n_bands,
          CASE WHEN ea.n2 > 0 AND e2.n2 > 0
               THEN ord_dot(ea.embedding, e2.embedding) / (sqrt(ea.n2) * sqrt(e2.n2)) END AS cos_sim
        FROM cand c
        JOIN eb ea ON ea.vec_id = c.id_a
        JOIN eb e2 ON e2.vec_id = c.id_b
      )
      SELECT id_a, id_b, n_bands, cos_sim,
        (SELECT CAST(bits AS INT) FROM bw) AS bits FROM v
      WHERE cos_sim > 0.15 ORDER BY id_a, id_b""",

    // IVF ANN (nprobe=1): exact-decimal centroid assignment, in-cell
    // top-3 by exact cosine
    "q44_ivf_ann" ->
      s"""WITH $ivfAssignSparkSql, en AS (
        SELECT e.vec_id, a.cell, e.embedding,
               dec_dot8(e.embedding, e.embedding) AS n2
        FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      ), pairs AS (
        SELECT q.vec_id AS q_id, q.cell, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
          dec_dot8(q.embedding, c.embedding) AS dot
        FROM en q JOIN en c ON q.cell = c.cell AND c.vec_id != q.vec_id
        WHERE q.vec_id < 8
      ), scored AS (
        SELECT q_id, cell, c_id,
          CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
        FROM pairs
      ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos_sim DESC, c_id) AS BIGINT) AS rnk
        FROM scored
      )
      SELECT q_id, cell, rnk, c_id, cos_sim
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""",

    // multi-probe IVF (nprobe=2): each query searches its two nearest
    // cells, fused by one per-query rank
    "q52_ivf_multiprobe" ->
      s"""WITH $ivfAssignSparkSql, probes AS (
        SELECT vec_id AS q_id, label AS pcell, CAST(crn AS BIGINT) AS probe_rank
        FROM rankedA WHERE crn <= 2 AND vec_id < 8
      ), en AS (
        SELECT e.vec_id, a.cell, e.embedding,
               dec_dot8(e.embedding, e.embedding) AS n2
        FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      ), pairs AS (
        SELECT p.q_id, p.pcell, p.probe_rank, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
          dec_dot8(q.embedding, c.embedding) AS dot
        FROM probes p
        JOIN en q ON q.vec_id = p.q_id
        JOIN en c ON c.cell = p.pcell AND c.vec_id != p.q_id
      ), scored AS (
        SELECT q_id, pcell, probe_rank, c_id,
          CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
        FROM pairs
      ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos_sim DESC, c_id) AS BIGINT) AS rnk
        FROM scored
      )
      SELECT q_id, rnk, c_id, pcell, probe_rank, cos_sim
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""",

    // IVF cell-balance audit: share/load/expected-scan permille
    "q130_ivf_balance_audit" ->
      s"""WITH $ivfAssignSparkSql, sz AS (
        SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY cell
      ), tot AS (
        SELECT SUM(n_vecs) AS n_total, COUNT(*) AS n_cells,
          SUM(n_vecs * n_vecs) AS sum_sq
        FROM sz
      )
      SELECT s.cell, s.n_vecs,
        s.n_vecs * 1000 div t.n_total AS share_permille,
        s.n_vecs * t.n_cells * 1000 div t.n_total AS load_permille,
        t.sum_sq * 1000 div (t.n_total * t.n_total) AS scan_frac_permille
      FROM sz s CROSS JOIN tot t ORDER BY s.cell""",

    // ANN tuning sweep: recall@10 + candidate cost per nprobe ∈ {1,2,4},
    // all probe widths read the ONE assignment chain (no level re-runs it)
    "q100_ann_tuning" ->
      s"""WITH $ivfAssignSparkSql, probes AS (
        SELECT np.nprobe, r.vec_id AS q_id, r.label AS pcell
        FROM rankedA r
        JOIN (SELECT explode(array(1L, 2L, 4L)) AS nprobe) np
          ON r.crn <= np.nprobe
        WHERE r.vec_id < 8
      ), cand AS (
        SELECT p.nprobe, p.q_id, a.vec_id AS c_id
        FROM probes p JOIN assigned a ON a.cell = p.pcell AND a.vec_id != p.q_id
      ), en AS (
        SELECT vec_id, embedding, dec_dot8(embedding, embedding) AS n2
        FROM embeddings
      ), exp0 AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          CASE WHEN q.n2 > 0 AND c.n2 > 0
               THEN dec_dot8(q.embedding, c.embedding) / (sqrt(q.n2) * sqrt(c.n2))
          END AS cos_sim
        FROM en q JOIN en c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 8
      ), ex AS (
        SELECT q_id, c_id FROM (
          SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, c_id) AS re
          FROM exp0)
        WHERE re <= 10
      ), st AS (
        SELECT nprobe, q_id, COUNT(*) AS n_cands FROM cand GROUP BY nprobe, q_id
      ), h AS (
        SELECT c.nprobe, c.q_id, COUNT(*) AS n_hit10
        FROM cand c JOIN ex ON ex.q_id = c.q_id AND ex.c_id = c.c_id
        GROUP BY c.nprobe, c.q_id
      )
      SELECT s.nprobe, s.q_id, s.n_cands,
        COALESCE(h.n_hit10, 0L) AS n_hit10,
        CAST(COALESCE(h.n_hit10, 0L) AS DOUBLE) / 10 AS recall10
      FROM st s LEFT JOIN h ON h.nprobe = s.nprobe AND h.q_id = s.q_id
      ORDER BY s.nprobe, s.q_id""",

    // IVF multi-probe SERVING (q183): the q182 coarse-codebook chain
    // (md5 seeds -> 2 exact-decimal Lloyd rounds -> ordered-double
    // rank-1 assignment) unrolled in Spark dialect, then the nprobe=2
    // cell-scan serve over 32 probes with its honest per-probe cost
    // column (n_scored) — the engine's 100 TB serving path as one SELECT
    "q183_ivf_multiprobe_serve" ->
      s"""WITH $sgChainSparkSql, en AS (
        SELECT vec_id, embedding, ord_dot(embedding, embedding) AS n2
        FROM embeddings
      ), corp AS (
        SELECT vec_id AS node, cid AS ncell
        FROM (${sgRank1Spark("cv_2")}) WHERE crn = 1
      ), pc AS (
        SELECT vec_id AS q_id, cid AS pcell
        FROM (${sgRank1Spark("cv_2")}) WHERE crn <= 2 AND vec_id < 32
      ), sc AS (
        SELECT p.q_id, c.node,
          q.n2 + e.n2 - 2.0D * ord_dot(q.embedding, e.embedding) AS d2
        FROM pc p JOIN corp c ON c.ncell = p.pcell AND c.node != p.q_id
        JOIN en q ON q.vec_id = p.q_id JOIN en e ON e.vec_id = c.node
      ), ns AS (
        SELECT q_id, COUNT(*) AS n_scored FROM sc GROUP BY q_id
      )
      SELECT r.q_id, CAST(r.rk AS BIGINT) AS rk, r.node, r.d2, ns.n_scored
      FROM (
        SELECT q_id, node, d2,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, node) AS rk
        FROM sc) r JOIN ns ON ns.q_id = r.q_id
      WHERE r.rk <= 6 ORDER BY r.q_id, r.rk""",

    // assignment-margin (silhouette-lite) histogram: relative margin
    // between best and second-best centroid distance
    "q147_assignment_margin_audit" ->
      s"""WITH $ivfAssignSparkSql, nn2 AS (
        SELECT vec_id, dec_dot8(embedding, embedding) AS n2 FROM embeddings
      ), rankedD AS (
        SELECT d.vec_id,
          nn2.n2 + cn.cnorm2 - CAST(2.0 AS DOUBLE) * d.dot AS d2,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY nn2.n2 + cn.cnorm2 - CAST(2.0 AS DOUBLE) * d.dot ASC, d.label ASC) AS crn
        FROM dots d JOIN cn ON cn.label = d.label
        JOIN nn2 ON nn2.vec_id = d.vec_id
      ), margins AS (
        SELECT vec_id,
          MIN(CASE WHEN crn = 1 THEN d2 END) AS d1,
          MIN(CASE WHEN crn = 2 THEN d2 END) AS dd2
        FROM rankedD WHERE crn <= 2 GROUP BY vec_id
      )
      SELECT bucket, COUNT(*) AS n_vecs FROM (
        SELECT least(CAST(floor((sqrt(dd2) - sqrt(d1)) / sqrt(dd2) * 10) AS BIGINT), 5L) AS bucket
        FROM margins WHERE dd2 > 0
      ) GROUP BY bucket ORDER BY bucket""",

    // dimension-truncation recall: top-10 at 8/16/32 dims vs the full
    // 64-dim truth, all exact-decimal cosines
    "q138_dim_truncation_recall" -> {
      def cte(k: Int, nm: String) = {
        val ea = if (k == 64) "q.embedding" else s"slice(q.embedding, 1, $k)"
        val eb = if (k == 64) "c.embedding" else s"slice(c.embedding, 1, $k)"
        s"""$nm AS (
        SELECT ${k}L AS k, q_id, c_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              (CASE WHEN dec_dot8($ea, $ea) > 0 AND dec_dot8($eb, $eb) > 0
                THEN dec_dot8($ea, $eb) / (sqrt(dec_dot8($ea, $ea)) * sqrt(dec_dot8($eb, $eb)))
                ELSE CAST(-2.0 AS DOUBLE) END) DESC, c.vec_id ASC) AS rnk
          FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 8)
        WHERE rnk <= 10)"""
      }
      s"""WITH ${cte(64, "truth")}, ${cte(8, "t8")}, ${cte(16, "t16")}, ${cte(32, "t32")},
      allk AS (
        SELECT * FROM t8 UNION ALL SELECT * FROM t16 UNION ALL SELECT * FROM t32
      )
      SELECT a.k, a.q_id, COUNT(*) AS n_hit10,
        CAST(COUNT(*) AS DOUBLE) / 10 AS recall10
      FROM allk a
      WHERE EXISTS (SELECT 1 FROM truth t WHERE t.q_id = a.q_id AND t.c_id = a.c_id)
      GROUP BY a.k, a.q_id
      ORDER BY a.k, a.q_id"""
    },

    // k-means IVF: hash-seeded centroids + 2 Lloyd rounds, fully
    // unrolled as a relational WITH chain (exact decimal means/dots)
    "q54_kmeans_ivf" -> {
      def cnSql(i: Int) =
        s"""cn_$i AS (
        SELECT cid, CAST(SUM(CAST(round(c * c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS cnorm2
        FROM cent_$i GROUP BY cid
      )"""
      def asgSql(i: Int) =
        s"""dots_$i AS (
        SELECT u.vec_id, ct.cid,
          CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS dot
        FROM ux u JOIN cent_$i ct ON ct.pos = u.pos GROUP BY u.vec_id, ct.cid
      ), asg_$i AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT d.vec_id, d.cid, ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY cn.cnorm2 - CAST(2.0 AS DOUBLE) * d.dot ASC, d.cid ASC) AS crn
          FROM dots_$i d JOIN cn_$i cn ON cn.cid = d.cid) WHERE crn = 1
      )"""
      def centSql(i: Int) =
        s"""cent_$i AS (
        SELECT a.cell AS cid, u.pos, (${sumFast("u.x", 8)} / COUNT(*)) AS c
        FROM ux u JOIN asg_${i - 1} a ON a.vec_id = u.vec_id GROUP BY a.cell, u.pos
      )"""
      val rounds = (1 to 2).map(i => s"${centSql(i)}, ${cnSql(i)}, ${asgSql(i)}")
        .mkString(", ")
      s"""WITH ux AS (
        SELECT vec_id, CAST(pos0 + 1 AS BIGINT) AS pos, CAST(x AS DOUBLE) AS x
        FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos0, x
      ), sd AS (
        SELECT vec_id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(concat('seed#', CAST(vec_id AS STRING)) AS BINARY)), vec_id) - 1 AS cid
        FROM embeddings
      ), cent_0 AS (
        SELECT CAST(s.cid AS BIGINT) AS cid, u.pos, u.x AS c
        FROM ux u JOIN sd s ON s.vec_id = u.vec_id WHERE s.cid < 8
      ), ${cnSql(0)}, ${asgSql(0)}, $rounds, en AS (
        SELECT e.vec_id, a.cell, e.embedding,
               dec_dot8(e.embedding, e.embedding) AS n2
        FROM embeddings e JOIN asg_2 a ON a.vec_id = e.vec_id
      ), pairs AS (
        SELECT q.vec_id AS q_id, q.cell, c.vec_id AS c_id, q.n2 AS qn2, c.n2 AS cn2,
          dec_dot8(q.embedding, c.embedding) AS dot
        FROM en q JOIN en c ON q.cell = c.cell AND c.vec_id != q.vec_id
        WHERE q.vec_id < 8
      ), scored AS (
        SELECT q_id, cell, c_id,
          CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
        FROM pairs
      ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos_sim DESC, c_id) AS BIGINT) AS rnk
        FROM scored
      )
      SELECT q_id, cell, rnk, c_id, cos_sim
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""
    },

    // product quantization + ADC recall: two per-subspace Lloyd chains
    // unrolled (q54's recipe, parameterized by slice + seed prefix),
    // LUT distances vs the exact-decimal truth
    "q92_pq_adc_recall" -> {
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
        FROM ${p}ux u JOIN ${p}cent_$i ct ON ct.pos = u.pos GROUP BY u.vec_id, ct.cid
      ), ${p}asg_$i AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT d.vec_id, d.cid, ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY cn.cnorm2 - CAST(2.0 AS DOUBLE) * d.dot ASC, d.cid ASC) AS crn
          FROM ${p}dots_$i d JOIN ${p}cn_$i cn ON cn.cid = d.cid) WHERE crn = 1
      )"""
        def centn(i: Int) =
          s"""${p}cent_$i AS (
        SELECT a.cell AS cid, u.pos, (${sumFast("u.x", 8)} / COUNT(*)) AS c
        FROM ${p}ux u JOIN ${p}asg_${i - 1} a ON a.vec_id = u.vec_id
        GROUP BY a.cell, u.pos
      )"""
        s"""${p}ux AS (
        SELECT vec_id, CAST(pos0 + 1 AS BIGINT) AS pos, CAST(x AS DOUBLE) AS x
        FROM (SELECT vec_id, slice(embedding, $lo, 32) AS sub FROM embeddings)
        LATERAL VIEW posexplode(sub) t AS pos0, x
      ), ${p}sd AS (
        SELECT vec_id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(concat('$p#', CAST(vec_id AS STRING)) AS BINARY)), vec_id) - 1 AS cid
        FROM embeddings
      ), ${p}cent_0 AS (
        SELECT CAST(s.cid AS BIGINT) AS cid, u.pos, u.x AS c
        FROM ${p}ux u JOIN ${p}sd s ON s.vec_id = u.vec_id WHERE s.cid < 4
      ), ${cn(0)}, ${asg(0)}, """ +
          (1 to 2).map(i => s"${centn(i)}, ${cn(i)}, ${asg(i)}").mkString(", ")
      }
      def lutSql(p: String, m: Int) =
        s"""lut$m AS (
        SELECT u.vec_id AS q_id, ct.cid AS code$m,
          cn.cnorm2 - CAST(2.0 AS DOUBLE) *
            CAST(SUM(CAST(ROUND(u.x * ct.c, 8) AS DECIMAL(38,8))) AS DOUBLE) AS part$m
        FROM ${p}ux u JOIN ${p}cent_2 ct ON ct.pos = u.pos
        JOIN ${p}cn_2 cn ON cn.cid = ct.cid
        WHERE u.vec_id < 8 GROUP BY u.vec_id, ct.cid, cn.cnorm2
      )"""
      s"""WITH ${chain("pq0", 1)}, ${chain("pq1", 33)}, codes AS (
        SELECT e.vec_id, a0.cell AS code0, a1.cell AS code1
        FROM embeddings e
        JOIN pq0asg_2 a0 ON a0.vec_id = e.vec_id
        JOIN pq1asg_2 a1 ON a1.vec_id = e.vec_id
      ), ${lutSql("pq0", 0)}, ${lutSql("pq1", 1)}, adc AS (
        SELECT l0.q_id, c.vec_id AS c_id, l0.part0 + l1.part1 AS adc_d2
        FROM codes c
        JOIN lut0 l0 ON l0.code0 = c.code0
        JOIN lut1 l1 ON l1.code1 = c.code1 AND l1.q_id = l0.q_id
        WHERE c.vec_id != l0.q_id
      ), en AS (
        SELECT vec_id, embedding, dec_dot8(embedding, embedding) AS n2 FROM embeddings
      ), exact AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.n2 + c.n2 - CAST(2.0 AS DOUBLE) * dec_dot8(q.embedding, c.embedding) AS d2_exact
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
        CAST(e1.c_id = q1.c_id AS INT) AS top1_match,
        COALESCE(ov.n_overlap5, CAST(0 AS BIGINT)) AS n_overlap5,
        CAST(COALESCE(ov.n_overlap5, 0) AS DOUBLE) / 5 AS recall5
      FROM (SELECT q_id, c_id FROM rk WHERE re = 1) e1
      JOIN (SELECT q_id, c_id FROM rk WHERE rq = 1) q1 ON q1.q_id = e1.q_id
      LEFT JOIN ov ON ov.q_id = e1.q_id
      ORDER BY e1.q_id"""
    },

    // MMR diverse top-5 from the 12 most-relevant candidates: the
    // greedy selection unrolled as LIMIT-1 stages (λ = 1/2)
    "q94_mmr_diverse" -> {
      def stage(i: Int) =
        s"""m$i AS (
        SELECT s.a_id, MAX(s.sim) AS ms
        FROM sims s JOIN selupto${i - 1} p ON p.c_id = s.b_id
        GROUP BY s.a_id
      ), s$i AS (
        SELECT c.c_id FROM cand c JOIN m$i mm ON mm.a_id = c.c_id
        WHERE c.c_id NOT IN (SELECT c_id FROM selupto${i - 1})
        ORDER BY CAST(0.5 AS DOUBLE) * c.rel - CAST(0.5 AS DOUBLE) * mm.ms DESC, c.c_id
        LIMIT 1
      ), selupto$i AS (
        SELECT c_id FROM selupto${i - 1} UNION ALL SELECT c_id FROM s$i
      )"""
      val stages = (2 to 5).map(stage).mkString(", ")
      val ranks = (1 to 5).map(i =>
        s"SELECT c_id, ${i}L AS pick_rank FROM s$i").mkString("\n        UNION ALL ")
      s"""WITH en AS (
        SELECT vec_id, embedding, dec_dot8(embedding, embedding) AS n2 FROM embeddings
      ), enp AS (
        SELECT * FROM en WHERE n2 > 0
      ), cand AS (
        SELECT c.vec_id AS c_id, c.embedding AS ce, c.n2 AS cn2,
          dec_dot8(c.embedding, q.embedding) / (sqrt(c.n2) * sqrt(q.n2)) AS rel
        FROM enp c CROSS JOIN (SELECT embedding, n2 FROM enp WHERE vec_id = 0) q
        WHERE c.vec_id != 0
        ORDER BY rel DESC, c.vec_id LIMIT 12
      ), sims AS (
        SELECT a.c_id AS a_id, b.c_id AS b_id,
          dec_dot8(a.ce, b.ce) / (sqrt(a.cn2) * sqrt(b.cn2)) AS sim
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
             THEN CAST(0.5 AS DOUBLE) * c.rel - CAST(0.5 AS DOUBLE) * m.max_sim_prev
        END AS mmr
      FROM sel se JOIN cand c ON c.c_id = se.c_id
      LEFT JOIN msprev m ON m.a_id = se.c_id
      ORDER BY se.pick_rank"""
    },

    // greedy k-center coreset (8 rounds unrolled): each round's
    // farthest point joins as its one materialized row
    "q167_kcenter_coreset" -> {
      def mRound(r: Int): String =
        s"""t$r AS (
        SELECT vec_id AS cid, md FROM m${r - 1} ORDER BY md DESC, vec_id LIMIT 1
      ), ct$r AS (
        SELECT c.* FROM en c JOIN t$r t ON c.vec_id = t.cid
      ), m$r AS (
        SELECT m.vec_id, LEAST(m.md,
          p.n2 + c.n2 - CAST(2.0 AS DOUBLE) * ord_dot(p.embedding, c.embedding)) AS md
        FROM m${r - 1} m
        JOIN en p ON p.vec_id = m.vec_id
        CROSS JOIN ct$r c
      )"""
      s"""WITH en AS (
        SELECT vec_id, embedding, ord_dot(embedding, embedding) AS n2 FROM embeddings
      ), c1 AS (
        SELECT MIN(vec_id) AS cid FROM en
      ), ct1 AS (
        SELECT c.* FROM en c JOIN c1 t ON c.vec_id = t.cid
      ), m1 AS (
        SELECT p.vec_id,
          p.n2 + c.n2 - CAST(2.0 AS DOUBLE) * ord_dot(p.embedding, c.embedding) AS md
        FROM en p CROSS JOIN ct1 c
      ), ${(2 to 8).map(mRound).mkString(",\n      ")},
      tR AS (
        SELECT md FROM m8 ORDER BY md DESC, vec_id LIMIT 1
      )
      SELECT * FROM (
        SELECT 1L AS round, c.cid AS center_id, CAST(NULL AS DOUBLE) AS radius2 FROM c1 c
        ${(2 to 8).map(r =>
          s"UNION ALL SELECT ${r}L, t.cid, t.md FROM t$r t").mkString("\n        ")}
        UNION ALL SELECT 9L, CAST(NULL AS BIGINT), t.md FROM tR t
      ) ORDER BY round"""
    },

    // SemDeDup: in-cell cosine dominance with the hot-cell star guard
    "q77_semantic_dedup" ->
      s"""WITH $ivfAssignSparkSql, en0 AS (
        SELECT e.vec_id, a.cell, e.embedding,
               ord_dot(e.embedding, e.embedding) AS n2
        FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      ), en AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn,
          MIN(vec_id) OVER (PARTITION BY cell) AS cmin
        FROM en0
      ), small AS (
        SELECT * FROM en WHERE rn <= 256
      ), allp AS (
        SELECT a.cell, a.vec_id AS dom, a.embedding AS ea, a.n2 AS na,
               b.vec_id AS vid, b.embedding AS eb2, b.n2 AS nb
        FROM small a JOIN small b ON a.cell = b.cell AND a.vec_id < b.vec_id
      ), star AS (
        SELECT o.cell, o.cmin AS dom, d.embedding AS ea, d.n2 AS na,
               o.vec_id AS vid, o.embedding AS eb2, o.n2 AS nb
        FROM (SELECT * FROM en WHERE rn > 256 AND vec_id != cmin) o
        JOIN en d ON d.cell = o.cell AND d.vec_id = o.cmin
      ), pairs AS (
        SELECT cell, dom, vid, cos_sim FROM (
          SELECT cell, dom, vid,
            CASE WHEN na > 0 AND nb > 0
                 THEN ord_dot(ea, eb2) / (sqrt(na) * sqrt(nb)) END AS cos_sim
          FROM (SELECT * FROM allp UNION ALL SELECT * FROM star)
        ) WHERE cos_sim >= 0.30D
      ), dom AS (
        SELECT vid, COUNT(*) AS n_dom, MIN(dom) AS dom_min FROM pairs GROUP BY vid
      )
      SELECT e.vec_id, e.cell,
        COALESCE(d.n_dom, CAST(0 AS BIGINT)) AS n_dom, d.dom_min,
        CAST(d.n_dom IS NULL AS INT) AS kept
      FROM en e LEFT JOIN dom d ON d.vid = e.vec_id
      ORDER BY e.vec_id""",

    // contrastive pair mining over the dedup groups: group-mate
    // positives, strided-ring negatives, false-negative audit
    "q85_contrastive_pairs" ->
      s"""WITH nn AS (
        SELECT COUNT(*) AS n FROM documents
      ), pos AS (
        SELECT a.doc_id, MIN(b.doc_id) AS pos_id
        FROM dedup_components a JOIN dedup_components b
          ON a.group_id = b.group_id AND b.doc_id != a.doc_id
        GROUP BY a.doc_id
      ), st AS (
        SELECT explode(array(1L, 11L, 37L, 101L)) AS stride
      ), negs AS (
        SELECT c.doc_id, c.group_id, s.stride,
          (c.doc_id + s.stride) % nn.n AS neg_id
        FROM dedup_components c CROSS JOIN st s CROSS JOIN nn
        WHERE (s.stride % nn.n) != 0
      )
      SELECT g.doc_id, g.group_id, p.pos_id, g.stride, g.neg_id,
        CAST(cn.group_id = g.group_id AS INT) AS is_false_neg
      FROM negs g
      JOIN dedup_components cn ON cn.doc_id = g.neg_id
      LEFT JOIN pos p ON p.doc_id = g.doc_id
      ORDER BY g.doc_id, g.stride""",

    // ---- impact family: schedule + ladder walk + fees, in plain SQL --
    // (the unrolled walk CTEs come from Impact.walkLayersSql — the SAME
    // fragment source as the DuckDB oracle mirror, dialect-translated by
    // d(); schedule spelled with Spark's DIV + LATERAL VIEW explode)
    "q23_impact_twap_slices" -> d(s"""WITH bn AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sym ORDER BY seq) AS rn,
               COUNT(*) OVER (PARTITION BY sym) AS n
        FROM book
      ), sn AS (SELECT DISTINCT sym, n FROM bn),
      sched AS (
        SELECT sym, n, i, (i * (n - 1)) DIV 19 AS pos
        FROM sn LATERAL VIEW explode(sequence(CAST(0 AS BIGINT), CAST(19 AS BIGINT))) t AS i
      ), sl AS (
        SELECT b.*, s.i,
          CASE WHEN s.i = 19 THEN 50.0::DOUBLE - (50.0::DOUBLE / 20.0::DOUBLE) * 19
               ELSE 50.0::DOUBLE / 20.0::DOUBLE END AS slice_target
        FROM bn b JOIN sched s ON b.sym = s.sym AND b.rn - 1 = s.pos
      ),
      ${graft.impact.Impact.walkLayersSql("sl", "ask", "slice_target", 5)},
      tw AS (SELECT *, ${BookSql.mid} AS mid,
               walk_vwap * (1.0::DOUBLE + 5.0::DOUBLE / 10000.0::DOUBLE) AS slice_vwap_fee
             FROM walked),
      tw2 AS (SELECT *,
               CASE WHEN mid != 0 THEN 10000.0::DOUBLE * (slice_vwap_fee / mid - 1) END AS slip_bps
              FROM tw)
      SELECT sym, i, seq, slice_target, filled, walk_vwap, slice_vwap_fee,
             levels_touched, slip_bps
      FROM tw2 ORDER BY sym, i"""),

    "q24_impact_twap_summary" -> d(s"""WITH bn AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sym ORDER BY seq) AS rn,
               COUNT(*) OVER (PARTITION BY sym) AS n
        FROM book
      ), sn AS (SELECT DISTINCT sym, n FROM bn),
      sched AS (
        SELECT sym, n, i, (i * (n - 1)) DIV 19 AS pos
        FROM sn LATERAL VIEW explode(sequence(CAST(0 AS BIGINT), CAST(19 AS BIGINT))) t AS i
      ), sl AS (
        SELECT b.*, s.i,
          CASE WHEN s.i = 19 THEN 50.0::DOUBLE - (50.0::DOUBLE / 20.0::DOUBLE) * 19
               ELSE 50.0::DOUBLE / 20.0::DOUBLE END AS slice_target
        FROM bn b JOIN sched s ON b.sym = s.sym AND b.rn - 1 = s.pos
      ),
      ${graft.impact.Impact.walkLayersSql("sl", "ask", "slice_target", 5)},
      tw2 AS (SELECT *, ${BookSql.mid} AS mid FROM walked),
      summary AS (
        SELECT sym, COUNT(*) AS n_slices,
          ${sumFast("filled", 6)} AS filled_qty,
          ${sumFast("cost5", 6)} AS notional,
          CAST(SUM(levels_touched) AS DOUBLE) / COUNT(*) AS avg_levels
        FROM tw2 GROUP BY sym),
      oc AS (
        SELECT sym, min_by(mid, seq) AS mid_open, max_by(mid, seq) AS mid_close
        FROM tw2 WHERE mid IS NOT NULL GROUP BY sym),
      j AS (
        SELECT s.*, oc.mid_open, oc.mid_close,
          CASE WHEN filled_qty > 0 THEN notional / filled_qty END AS exec_vwap
        FROM summary s JOIN oc USING (sym))
      SELECT sym, n_slices, filled_qty, notional, exec_vwap, avg_levels, mid_open, mid_close,
        CASE WHEN mid_open != 0 THEN 10000.0::DOUBLE * (exec_vwap / mid_open - 1) END AS slip_open_bps,
        CASE WHEN mid_close != 0 THEN 10000.0::DOUBLE * (exec_vwap / mid_close - 1) END AS slip_close_bps
      FROM j ORDER BY sym"""),

    // ---- as-of family: the scalable union + running-last trick in
    // plain SQL (one sort per pass, no N×S join — the 100 TB shape)
    "q25_asof_match" ->
      d(s"""WITH bm AS (SELECT sym, seq, ts_us, ${BookSql.mid} AS mid FROM book),
      sched AS (SELECT sym, seq AS sched_seq, ts_us + 15000000 AS t FROM bm WHERE seq % 100 = 0),
      tagged AS (
        SELECT sym, ts_us AS ts, 0 AS is_q, seq AS ord,
               named_struct('seq', seq, 'mid', mid) AS bk,
               CAST(NULL AS BIGINT) AS sched_seq
        FROM bm
        UNION ALL
        SELECT sym, t, 1, sched_seq,
               CAST(NULL AS STRUCT<seq: BIGINT, mid: DOUBLE>), sched_seq
        FROM sched
      ),
      m AS (
        SELECT *, LAST(bk) IGNORE NULLS OVER (PARTITION BY sym
          ORDER BY ts, is_q, ord
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
        FROM tagged
      )
      SELECT sym, sched_seq, ts AS t, mm.seq AS matched_seq, mm.mid AS matched_mid
      FROM m WHERE is_q = 1 ORDER BY sym, sched_seq"""),

    // nearest-|ts−t| as-of (AsOf.nearest semantics: forward wins an exact
    // two-sided tie, last row of an equal-ts run wins within a side):
    // ascending pass for the backward candidate, descending pass for the
    // strictly-forward candidate, O(1) distance compare per probe
    "q49_asof_nearest" ->
      d(s"""WITH bm AS (SELECT sym, seq, ts_us, ${BookSql.mid} AS mid FROM book),
      wn AS (SELECT sym, seq, ts_us,
               LEAD(ts_us, 1) OVER (PARTITION BY sym ORDER BY seq) AS next_ts
             FROM bm),
      probes AS (
        SELECT sym, seq * 3 AS probe_id, ts_us AS t FROM wn WHERE seq % 100 = 0
        UNION ALL
        SELECT sym, seq * 3 + 1, ts_us + ((next_ts - ts_us) DIV 2)
        FROM wn WHERE seq % 100 = 0 AND next_ts IS NOT NULL
        UNION ALL
        SELECT sym, seq * 3 + 2, ts_us + 15000 FROM wn WHERE seq % 100 = 0
      ),
      tagged AS (
        SELECT sym, ts_us AS ts, 0 AS is_q, seq AS ord,
               named_struct('ord', seq, 'mts', ts_us, 'mid', mid) AS bk,
               CAST(NULL AS BIGINT) AS probe_id
        FROM bm
        UNION ALL
        SELECT sym, t, 1, probe_id,
               CAST(NULL AS STRUCT<ord: BIGINT, mts: BIGINT, mid: DOUBLE>), probe_id
        FROM probes
      ),
      m AS (
        SELECT *,
          LAST(bk) IGNORE NULLS OVER (PARTITION BY sym
            ORDER BY ts ASC, is_q ASC, ord ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
          LAST(bk) IGNORE NULLS OVER (PARTITION BY sym
            ORDER BY ts DESC, is_q DESC, ord ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd
        FROM tagged
      ),
      sel AS (
        SELECT sym, probe_id, ts AS t,
          CASE WHEN back IS NULL OR (fwd IS NOT NULL AND fwd.mts - ts <= ts - back.mts)
               THEN fwd ELSE back END AS mm
        FROM m WHERE is_q = 1
      )
      SELECT sym, probe_id, t, mm.ord AS matched_seq, mm.mts AS matched_ts,
             mm.mid AS matched_mid, abs(mm.mts - t) AS dist
      FROM sel ORDER BY sym, probe_id"""),

    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        ${sumFast("l_quantity", 2)} AS sum_qty,
        ${sumFast("l_extendedprice", 2)} AS sum_base_price,
        ${sumFastR(disc, 4, 2)} AS sum_disc_price,
        ${sumFastR(s"$disc * (1 + l_tax)", 6, 2)} AS sum_charge,
        ${avgFast("l_quantity", 2)} AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_top_revenue_orders" ->
      s"""SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
        ${sumFastR(disc, 4, 2)} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < '1997-06-01'
        AND l_shipdate > '1997-06-01'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10""",

    "q03_region_revenue" ->
      s"""SELECT r_name, n_name, ${sumFastR(disc, 4, 2)} AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        AND r_name IN ('ASIA', 'EUROPE')
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",

    "q04_active_segment_stats" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
        ${sumFast("c_acctbal", 2)} AS sum_acctbal
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q05_inactive_customers" ->
      s"""SELECT /*+ BROADCAST(nation) */ n_name, COUNT(*) AS n_customers,
        ${sumFast("c_acctbal", 2)} AS sum_acctbal
      FROM customer
      LEFT ANTI JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        ON c_custkey = o_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name""",

    "q06_rollup_lineitem" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        COALESCE(l_linestatus, 'ALL') AS lstatus,
        COUNT(*) AS n, ${sumFast("l_quantity", 2)} AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus""",

    "q11_book_row_metrics" ->
      d(s"""WITH s1 AS (
        SELECT *,
          ${BookSql.slopeLayer1("bid", D)},
          ${BookSql.slopeLayer1("ask", D)}
        FROM book
      ),
      s2 AS (
        SELECT *,
          ${BookSql.slopeLayer2("bid", D)},
          ${BookSql.slopeLayer2("ask", D)}
        FROM s1
      )
      SELECT seq, sym,
        ${BookSql.spread} AS spread,
        ${BookSql.mid} AS mid,
        ${BookSql.relSpreadBpsStrict} AS relative_spread_bps,
        ${BookSql.microprice} AS microprice,
        ${BookSql.micropriceImbalanceBps} AS microprice_imbalance_bps,
        ${BookSql.imbalanceL1} AS imbalance_l1,
        ${BookSql.imbalanceDepthK(D)} AS imbalance_k,
        ${BookSql.notionalDepth("bid", D)} AS notional_bid_k,
        ${BookSql.notionalDepth("ask", D)} AS notional_ask_k,
        ${BookSql.slopeFinal("bid", D)} AS slope_bid,
        ${BookSql.slopeFinal("ask", D)} AS slope_ask
      FROM s2
      ORDER BY seq"""),

    "q12_spread_flavors" ->
      d(s"""SELECT seq, sym,
        ${BookSql.relSpreadBpsStrict} AS spread_bps_strict,
        ${BookSql.relSpreadBpsVector} AS spread_bps_vector,
        ${BookSql.spreadBpsEvent} AS spread_bps_event,
        CAST(best_bid > best_ask AS INT) AS is_crossed,
        CAST(best_bid = best_ask AS INT) AS is_locked
      FROM book
      ORDER BY seq"""),

    "q13_ofi_l1_strict" ->
      d(s"""WITH lagged AS (
        SELECT *, ${BookSql.lagLayer}
        FROM book WINDOW w AS $winSql
      ),
      o AS (SELECT seq, sym, ${BookSql.ofiL1Strict} AS ofi_l1 FROM lagged)
      SELECT seq, sym, ofi_l1, SUM(ofi_l1) OVER $runSql AS ofi_cum
      FROM o ORDER BY seq"""),

    "q14_ofi_event" ->
      d(s"""WITH lagged AS (
        SELECT *, ${BookSql.lagLayer}
        FROM book WINDOW w AS $winSql
      ),
      o AS (SELECT seq, sym, ${BookSql.ofiEvent} AS ofi_event FROM lagged)
      SELECT seq, sym, ofi_event, SUM(ofi_event) OVER $runSql AS ofi_event_cum
      FROM o ORDER BY seq"""),

    "q15_ofi_lobster" ->
      d(s"""WITH lagged AS (
        SELECT *, ${BookSql.lagLayer}
        FROM book WINDOW w AS $winSql
      ),
      o AS (SELECT seq, sym, ${BookSql.ofiLobster} AS ofi_lob FROM lagged)
      SELECT seq, sym, ofi_lob, SUM(ofi_lob) OVER $runSql AS ofi_lob_cum
      FROM o ORDER BY seq"""),

    "q16_ofi_depth_k" -> {
      val bidSum = (1 to D).map(k => s"COALESCE(bid${k}_size, 0.0::DOUBLE)").mkString(" + ")
      val askSum = (1 to D).map(k => s"COALESCE(ask${k}_size, 0.0::DOUBLE)").mkString(" + ")
      d(s"""WITH sums AS (
        SELECT seq, sym,
          $bidSum AS bid_sz_k,
          $askSum AS ask_sz_k,
          COALESCE(${BookSql.notionalDepth("bid", D)}, 0.0::DOUBLE) AS bid_ntl_k,
          COALESCE(${BookSql.notionalDepth("ask", D)}, 0.0::DOUBLE) AS ask_ntl_k
        FROM book
      ),
      deltas AS (
        SELECT seq, sym,
          COALESCE((bid_sz_k - LAG(bid_sz_k, 1) OVER w) - (ask_sz_k - LAG(ask_sz_k, 1) OVER w), 0.0::DOUBLE) AS ofi_size_k,
          COALESCE((bid_ntl_k - LAG(bid_ntl_k, 1) OVER w) - (ask_ntl_k - LAG(ask_ntl_k, 1) OVER w), 0.0::DOUBLE) AS ofi_ntl_k
        FROM sums WINDOW w AS $winSql
      )
      SELECT seq, sym, ofi_size_k,
        SUM(ofi_size_k) OVER $runSql AS ofi_size_k_cum,
        ofi_ntl_k,
        CAST(SUM(CAST(ROUND(ofi_ntl_k, 6) AS DECIMAL(38,6))) OVER $runSql AS DOUBLE) AS ofi_ntl_k_cum
      FROM deltas ORDER BY seq""")
    },

    // closed-form Pearson over exact decimal window sums (not the
    // built-in corr aggregate): bit-deterministic and immune to the
    // ANSI divide-by-zero on zero-variance windows
    "q19_rolling_corr_ofi_ret" -> {
      def dsum(t: String, sc: Int) =
        s"CAST(SUM(CAST(ROUND($t, $sc) AS DECIMAL(38,$sc))) OVER f AS DOUBLE)"
      val n = "CAST(COUNT(xm) OVER f AS DOUBLE)"
      val sx = dsum("xm", 6); val sy = dsum("ym", 12)
      val sxy = dsum("xm * ym", 12); val sxx = dsum("xm * xm", 6); val syy = dsum("ym * ym", 14)
      val varx = s"($n * $sxx - $sx * $sx)"
      val vary = s"($n * $syy - $sy * $sy)"
      d(s"""WITH m AS (SELECT seq, sym, ${BookSql.mid} AS mid FROM book),
      p AS (SELECT seq, sym, 100.0::DOUBLE + mid / 100.0::DOUBLE AS px FROM m),
      r AS (
        SELECT seq, sym, px,
          CASE WHEN px > 0 AND LAG(px, 1) OVER w > 0
               THEN px / LAG(px, 1) OVER w - 1 END AS ret
        FROM p WINDOW w AS $winSql
      ),
      lg AS (
        SELECT r.seq, r.sym, r.ret, b.bid1_price, b.bid1_size, b.ask1_price, b.ask1_size,
               LAG(b.bid1_price, 1) OVER w AS pb, LAG(b.bid1_size, 1) OVER w AS sb,
               LAG(b.ask1_price, 1) OVER w AS pa, LAG(b.ask1_size, 1) OVER w AS sa
        FROM r JOIN book b USING (seq, sym) WINDOW w AS (PARTITION BY r.sym ORDER BY r.seq)
      ),
      o AS (SELECT seq, sym, ret, ${BookSql.ofiLobster} AS ofi_lob FROM lg),
      pm AS (
        SELECT seq, sym,
          CASE WHEN ofi_lob IS NOT NULL AND ret IS NOT NULL THEN ofi_lob END AS xm,
          CASE WHEN ofi_lob IS NOT NULL AND ret IS NOT NULL THEN ret END AS ym
        FROM o
      )
      SELECT seq, sym,
        CASE WHEN $n >= 2 AND $varx > 0 AND $vary > 0
             THEN ($n * $sxy - $sx * $sy) / (sqrt($varx) * sqrt($vary)) END AS corr30
      FROM pm
      WINDOW f AS (PARTITION BY sym ORDER BY seq ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
      ORDER BY seq""")
    },

    "q20_depth_curve" -> {
      val branches = (1 to D).flatMap(k => Seq(
        s"SELECT 'bid' AS side, $k AS level, bid${k}_size AS size FROM book",
        s"SELECT 'ask' AS side, $k AS level, ask${k}_size AS size FROM book")).mkString("\n        UNION ALL ")
      s"""WITH tidy AS (
        $branches
      ),
      curve AS (
        SELECT side, level, COUNT(size) AS n_obs,
          (${sumFast("size", 2)} / COUNT(size)) AS avg_size
        FROM tidy GROUP BY side, level
      )
      SELECT side, level, n_obs, avg_size,
        avg_size - LAG(avg_size, 1) OVER (PARTITION BY side ORDER BY level) AS davg
      FROM curve ORDER BY side, level"""
    },

    "q21_spread_histogram" ->
      d(s"""WITH x AS (SELECT ${BookSql.relSpreadBpsVector} AS sbps FROM book)
      SELECT CAST(floor(sbps / 2.5::DOUBLE) AS BIGINT) AS bin, COUNT(*) AS n
      FROM x WHERE sbps IS NOT NULL
      GROUP BY bin ORDER BY bin"""),

    "q17_realized_variance" ->
      d(s"""WITH m AS (SELECT seq, sym, ${BookSql.mid} AS mid FROM book),
      p AS (SELECT seq, sym, 100.0::DOUBLE + mid / 100.0::DOUBLE AS px FROM m),
      r AS (
        SELECT seq, sym, px,
          CASE WHEN px > 0 AND LAG(px, 1) OVER w > 0
               THEN px / LAG(px, 1) OVER w - 1 END AS ret
        FROM p WINDOW w AS $winSql
      )
      SELECT seq, sym, px, ret,
        CASE WHEN COUNT(ret) OVER f = 20
             THEN CAST(SUM(CAST(ROUND(ret * ret, 12) AS DECIMAL(38,12))) OVER f AS DOUBLE) END AS rv20
      FROM r
      WINDOW f AS (PARTITION BY sym ORDER BY seq ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      ORDER BY seq"""),

    "q27_text_stats" ->
      s"""WITH tk AS (
        SELECT *, split(trim(lower(text)), '\\\\s+') AS toks
        FROM (SELECT * FROM documents ORDER BY doc_id)
      ), nt AS (
        SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0L ELSE CAST(size(toks) AS BIGINT) END AS n_tokens
        FROM tk
      ), cw AS (
        SELECT *, aggregate(toks, 0L, (acc, x) -> acc + length(x)) AS chars_no_ws FROM nt
      ), sw AS (
        SELECT *, CAST(size(filter(toks, x -> x = 'the' OR x = 'and' OR x = 'of')) AS BIGINT) AS n_stopwords
        FROM cw
      ), al AS (
        SELECT *, CASE WHEN n_tokens > 0 THEN CAST(chars_no_ws AS DOUBLE) / n_tokens END AS avg_token_len
        FROM sw
      ), r AS (
        SELECT *, CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens END AS stop_ratio
        FROM al
      )
      SELECT doc_id, lang, source, n_tokens, chars_no_ws, n_stopwords,
        avg_token_len, stop_ratio,
        CASE WHEN n_tokens > 0
             THEN 0.5D * least(1.0D, n_tokens / 200.0D)
                + 0.3D * least(1.0D, stop_ratio * 10.0D)
                + 0.2D * least(1.0D, chars_no_ws / 400.0D)
             ELSE 0.0D END AS quality_score
      FROM r""",

    "q28_lang_id" -> langIdSql,

    // whole SimHash per document through the native shingle_agg kernel
    "q32_simhash" ->
      s"""SELECT doc_id, sa.n_distinct AS n_shingles, sa.simhash AS simhash
      FROM (SELECT doc_id, shingle_agg(text, 8) AS sa
            FROM (SELECT * FROM documents ORDER BY doc_id))""",

    // adjacent-pair n-gram Jaccard through the native shingle_overlap
    // kernel (hash-set intersection per pair, O(len))
    "q33_ngram_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               shingle_overlap(a.text, b.text, 8) AS ov
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
      SELECT id_a, id_b, ov.n_inter AS n_inter, ov.n_union AS n_union,
        CASE WHEN ov.n_union > 0 THEN CAST(ov.n_inter AS DOUBLE) / ov.n_union END AS jaccard
      FROM p ORDER BY id_a""",

    "q29_exact_dedup" ->
      s"""SELECT md5(CAST(text AS BINARY)) AS fp, COUNT(*) AS n_docs,
        MIN(doc_id) AS keep_id, SUM(n_chars) AS total_chars
      FROM documents
      GROUP BY md5(CAST(text AS BINARY))
      ORDER BY fp""",

    "q30_shingle_stats" ->
      s"""SELECT doc_id, sa.n_positions AS n_positions, sa.n_distinct AS n_distinct,
        CAST(sa.n_distinct AS DOUBLE) / sa.n_positions AS distinct_ratio
      FROM (SELECT doc_id, shingle_agg(text, 8) AS sa
            FROM (SELECT * FROM documents ORDER BY doc_id))""",

    "q31_minhash_signatures" ->
      s"""SELECT doc_id, mh0, mh1, mh2, mh3,
        md5(CAST(concat(mh0, mh1, mh2, mh3) AS BINARY)) AS band
      FROM (SELECT doc_id,
              element_at(sig, 1) AS mh0, element_at(sig, 2) AS mh1,
              element_at(sig, 3) AS mh2, element_at(sig, 4) AS mh3
            FROM (SELECT doc_id, minhash_spans(text, 8, 0) AS sig
                  FROM (SELECT * FROM documents ORDER BY doc_id)))""",

    "q10_top_orders_per_customer" ->
      s"""SELECT o_custkey, rk, o_orderkey, o_totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        FROM orders
      )
      WHERE rk <= 3
      ORDER BY o_custkey, rk""",

    "q38_events_json_topk" ->
      s"""SELECT event_type, rk, event_id, k_val FROM (
        SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY k_val DESC, event_id) AS BIGINT) AS rk
        FROM (
          SELECT *,
            CASE WHEN regexp_extract(props, '"k":\\\\s*(\\\\d+)', 1) != ''
                 THEN CAST(regexp_extract(props, '"k":\\\\s*(\\\\d+)', 1) AS BIGINT) END AS k_val
          FROM events))
      WHERE rk <= 20
      ORDER BY event_type, rk""",

    // the salted two-phase aggregation's contract is bit-identity with
    // the direct decimal aggregation — which is exactly this text
    "q41_salted_user_stats" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
        ${sumFast("value", 2)} AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id""",

    "q43_cube_lineitem" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        COALESCE(l_linestatus, 'ALL') AS lstatus,
        COUNT(*) AS n, ${sumFast("l_quantity", 2)} AS sum_qty
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus""",

    "q45_promo_revenue_share" ->
      s"""WITH g AS (
        SELECT p_brand, COUNT(*) AS n_items,
          ${sumFastR(disc, 4, 2)} AS revenue,
          ${sumFastR(s"CASE WHEN p_type LIKE 'PROMO%' THEN $disc ELSE CAST(0.0 AS DOUBLE) END", 4, 2)} AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand)
      SELECT p_brand, n_items, revenue, promo_revenue,
        CASE WHEN revenue != 0 THEN promo_revenue / revenue END AS promo_share
      FROM g ORDER BY p_brand""",

    // static-value-list pivot (the form that survives at scale; a dynamic
    // pivot needs a driver-side distinct pass) spelled as conditional aggs
    "q46_pivot_status" ->
      s"""SELECT l_returnflag,
        COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_n,
        ${sumFast("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 2)} AS F_qty,
        COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_n,
        ${sumFast("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 2)} AS O_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // hybrid hot/cold skew join's lossless contract: the exact decimal
    // rollup is partitioning-independent, so the plain join states it
    "q116_hybrid_skew_join" ->
      s"""SELECT o.o_orderpriority,
        COUNT(*) AS n_items,
        ${sumFast("l.l_quantity", 2)} AS sum_qty,
        ${sumFastR("l.l_extendedprice * (1 - l.l_discount)", 4, 2)} AS revenue
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",

    "q07_customer_running_spend" ->
      s"""SELECT o_custkey, o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
        o_totalprice,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
        CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(38,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, order_seq""",

    "q08_events_minute_agg" ->
      s"""SELECT minute, event_type,
        COUNT(*) AS n,
        ${sumFast("value", 2)} AS sum_value,
        MIN(value) AS min_value, MAX(value) AS max_value
      FROM (SELECT *, (ts div 1000) div 60000000 AS minute FROM events)
      GROUP BY minute, event_type
      ORDER BY minute, event_type""",

    "q09_events_sessionize" ->
      s"""WITH ev AS (
        SELECT event_id, user_id, value, ts div 1000 AS ts_us FROM events
      ), flagged AS (
        SELECT *, CASE WHEN ts_us - LAG(ts_us, 1) OVER w IS NULL
                         OR ts_us - LAG(ts_us, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      ), sessions AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
      )
      SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        ${sumFast("value", 2)} AS session_value
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    // per-key skew planner: log2-sized count buckets + the salt factor
    "q111_skew_planner" ->
      s"""WITH pk AS (
        SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
      ), t AS (
        SELECT SUM(cnt) AS n_total FROM pk
      ), b AS (
        SELECT CAST(length(bin(cnt)) AS BIGINT) AS log2_bucket,
          COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt
        FROM pk GROUP BY CAST(length(bin(cnt)) AS BIGINT)
      )
      SELECT b.log2_bucket, b.n_keys, b.n_rows,
        b.n_rows * 1000 div t.n_total AS share_permille,
        b.max_cnt, (b.max_cnt + 999) div 1000 AS salt_factor
      FROM b CROSS JOIN t ORDER BY b.log2_bucket""",

    // zone-map pruning simulator: 4 physical layouts × 3 predicates,
    // block min/max stats decide what a reader would scan
    "q115_zonemap_pruning" -> {
      val preds = Seq(
        ("p_lang_eq", "NOT (lo_lang > 'de' OR hi_lang < 'de')"),
        ("p_len_range", "NOT (lo_nc > 1000 OR hi_nc < 500)"),
        ("p_lang_and_len", "NOT (lo_lang > 'de' OR hi_lang < 'de' OR hi_nc < 800)"))
      val branches = preds.map { case (pname, mustScan) =>
        s"""SELECT layout, '$pname' AS predicate, n_rows,
          CASE WHEN $mustScan THEN n_rows ELSE 0L END AS scanned,
          CASE WHEN $mustScan THEN 0L ELSE 1L END AS skipped_block
        FROM blocks"""
      }.mkString("\n        UNION ALL ")
      s"""WITH d AS (
        SELECT doc_id, lang, source, n_chars FROM documents
      ), ranked AS (
        SELECT *,
          ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn_nat,
          ROW_NUMBER() OVER (ORDER BY lang, doc_id) - 1 AS rn_lang,
          ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS rn_len,
          ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS rn_src
        FROM d
      ), lay AS (
        SELECT 'natural' AS layout, rn_nat div 32 AS block_id, lang, n_chars FROM ranked
        UNION ALL SELECT 'by_lang', rn_lang div 32, lang, n_chars FROM ranked
        UNION ALL SELECT 'by_length', rn_len div 32, lang, n_chars FROM ranked
        UNION ALL SELECT 'by_source', rn_src div 32, lang, n_chars FROM ranked
      ), blocks AS (
        SELECT layout, block_id, COUNT(*) AS n_rows,
          MIN(lang) AS lo_lang, MAX(lang) AS hi_lang,
          MIN(n_chars) AS lo_nc, MAX(n_chars) AS hi_nc
        FROM lay GROUP BY layout, block_id
      ), pb AS (
        $branches
      )
      SELECT layout, predicate, COUNT(*) AS n_blocks,
        SUM(skipped_block) AS n_skip_blocks,
        SUM(scanned) * 1000 div SUM(n_rows) AS scan_permille
      FROM pb GROUP BY layout, predicate
      ORDER BY layout, predicate"""
    },

    // priority (sequential Poisson) sampling with the exact-mass audit
    "q154_priority_sample_audit" ->
      s"""WITH d AS (
        SELECT doc_id, source, n_chars,
          CAST(conv(substr(md5(CAST(concat('ps#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) + 1 AS u
        FROM documents
      ), pr AS (
        SELECT doc_id, source, n_chars,
          CAST(n_chars AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / CAST(u AS DOUBLE) AS p
        FROM d
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS rnk
        FROM pr
      ), tau AS (
        SELECT source, p AS tau FROM ranked WHERE rnk = 33
      ), est AS (
        SELECT r.source, COUNT(*) AS k_eff, MAX(t.tau) AS tau_p,
          ${sumFastR("greatest(CAST(r.n_chars AS DOUBLE), COALESCE(t.tau, CAST(0.0 AS DOUBLE)))", 6, 6)} AS est_mass
        FROM pr r LEFT JOIN tau t ON r.source = t.source
        WHERE t.tau IS NULL OR r.p > t.tau GROUP BY r.source
      ), tot AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS true_mass
        FROM documents GROUP BY source
      )
      SELECT e.source, n_docs, k_eff, tau_p, est_mass, true_mass,
        CAST(ROUND((est_mass - CAST(true_mass AS DOUBLE)) * CAST(1000.0 AS DOUBLE)
          / CAST(true_mass AS DOUBLE), 0) AS BIGINT) AS err_permille
      FROM est e JOIN tot USING (source) ORDER BY source""",

    // group-atomic split assignment over the dedup components + the
    // leakage audit (a group split across splits = leaked)
    "q156_group_split_assign" ->
      s"""WITH asg AS (
        SELECT c.doc_id, c.group_id,
          CASE WHEN (c.group_id * 2654435761) % 1000 < 800 THEN 'train'
               WHEN (c.group_id * 2654435761) % 1000 < 900 THEN 'val'
               ELSE 'test' END AS split,
          d.n_chars
        FROM dedup_components c JOIN documents d USING (doc_id)
      ), aud AS (
        SELECT SUM(CASE WHEN nsp > 1 THEN 1L ELSE 0L END) AS n_leaked_groups,
          SUM(CASE WHEN nsp > 1 THEN nm ELSE 0L END) AS n_leaked_docs,
          SUM(nm) AS total_docs
        FROM (SELECT group_id, COUNT(DISTINCT split) AS nsp, COUNT(*) AS nm
              FROM asg GROUP BY group_id)
      )
      SELECT split, COUNT(DISTINCT group_id) AS n_groups, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        COUNT(*) * 1000 div a.total_docs AS docs_permille,
        a.n_leaked_groups, a.n_leaked_docs
      FROM asg CROSS JOIN aud a
      GROUP BY split, a.n_leaked_groups, a.n_leaked_docs, a.total_docs
      ORDER BY split""",

    // small-file compaction planner: sorted next-fit striping into
    // 4×-mean-size bins, per-partition rollup
    "q175_compaction_planner" ->
      s"""WITH li AS (
        SELECT *, l_suppkey % 16 AS fk
        FROM (SELECT *, CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS part
              FROM lineitem)
      ), manifest AS (
        SELECT part, fk, COUNT(*) * 64 + SUM(CAST(l_quantity AS BIGINT)) AS bytes
        FROM li GROUP BY part, fk
      ), tgt AS (
        SELECT (SUM(bytes) div COUNT(*)) * 4 AS target FROM manifest
      ), cumulated AS (
        SELECT /*+ BROADCAST(tgt) */ *,
          SUM(bytes) OVER (PARTITION BY part ORDER BY bytes DESC, fk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM manifest CROSS JOIN tgt
      ), binned AS (SELECT *, (cum - bytes) div target AS bin FROM cumulated
      ), bins AS (
        SELECT part, target, bin,
          COUNT(*) AS bf, SUM(bytes) AS bb,
          SUM(CASE WHEN bytes * 2 < target THEN 1L ELSE 0L END) AS sf
        FROM binned GROUP BY part, target, bin
      )
      SELECT part, n_files, n_small_files, n_bins, bytes_total, max_bin_bytes,
        min_bin_bytes, target AS target_bytes
      FROM (
        SELECT part, target, SUM(bf) AS n_files, SUM(sf) AS n_small_files,
          COUNT(*) AS n_bins, SUM(bb) AS bytes_total,
          MAX(bb) AS max_bin_bytes, MIN(bb) AS min_bin_bytes
        FROM bins GROUP BY part, target)
      ORDER BY part""",

    // snapshot-expiry + orphan-file audit (VACUUM): manifest-only plan
    "q179_vacuum_audit" ->
      s"""WITH ledger AS (
        SELECT o_orderkey div 5 AS file_id,
          COUNT(*) * 128 + SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS bytes
        FROM orders GROUP BY o_orderkey div 5
      ), la AS (SELECT *, file_id % 8 AS added FROM ledger
      ), lf AS (SELECT *, added + 1 + file_id % 5 AS removed FROM la
      ), referenced AS (
        SELECT *, 1 AS ref FROM (
          SELECT DISTINCT file_id
          FROM (SELECT *, explode(sequence(greatest(added, 5), least(removed - 1, 7))) AS s
                FROM lf WHERE removed > 5))
      ), disk AS (
        SELECT file_id, bytes, added, 0 AS orphan FROM lf
        UNION ALL
        SELECT file_id, bytes, added, 1 AS orphan FROM lf WHERE file_id % 11 = 3
      ), cls AS (
        SELECT *,
          CASE WHEN orphan = 1 THEN 'orphan'
               WHEN ref IS NOT NULL THEN 'live'
               ELSE 'expired' END AS status
        FROM disk LEFT JOIN referenced USING (file_id)
      )
      SELECT added AS cohort, COUNT(*) AS n_objects,
        SUM(CASE WHEN status = 'live' THEN 1L ELSE 0L END) AS n_live,
        SUM(CASE WHEN status = 'expired' THEN 1L ELSE 0L END) AS n_expired,
        SUM(CASE WHEN status = 'orphan' THEN 1L ELSE 0L END) AS n_orphans,
        SUM(CASE WHEN status = 'live' THEN bytes ELSE 0L END) AS bytes_live,
        SUM(CASE WHEN status != 'live' THEN bytes ELSE 0L END) AS bytes_reclaimable
      FROM cls GROUP BY added ORDER BY cohort""",

    // Z-order vs Hilbert vs lexicographic layout audit: equi-depth
    // 16-bucket normalization, Morton bit interleave, the shared
    // 256-entry Hilbert d-index literal, 64-row blocks × 3 predicates
    "q159_zorder_layout_audit" -> {
      val kPat = sq("\"k\":\\s*(\\d+)")
      val morton = (0 until 4).map(i =>
        s"((shiftright(ub, $i) & 1) * ${1L << (2 * i)} + (shiftright(kb, $i) & 1) * ${1L << (2 * i + 1)})")
        .mkString(" + ")
      val lut = "array(" +
        graft.rel.RelationalQueries.hilbertLut16.map(v => s"${v}L").mkString(", ") + ")"
      s"""WITH e AS (
        SELECT event_id, user_id,
          CASE WHEN regexp_extract(props, $kPat, 1) != ''
               THEN CAST(regexp_extract(props, $kPat, 1) AS BIGINT) END AS k
        FROM events
      ), b AS (
        SELECT *,
          (ROW_NUMBER() OVER (ORDER BY user_id, k, event_id) - 1)
            * 16 div COUNT(*) OVER () AS ub,
          (ROW_NUMBER() OVER (ORDER BY k, user_id, event_id) - 1)
            * 16 div COUNT(*) OVER () AS kb
        FROM e
      ), m AS (
        SELECT *, $morton AS morton,
          element_at($lut, CAST(ub * 16 + kb + 1 AS INT)) AS hd
        FROM b
      ), ranked AS (
        SELECT user_id, k,
          ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rn_nat,
          ROW_NUMBER() OVER (ORDER BY user_id, k, event_id) - 1 AS rn_uk,
          ROW_NUMBER() OVER (ORDER BY k, user_id, event_id) - 1 AS rn_ku,
          ROW_NUMBER() OVER (ORDER BY morton, event_id) - 1 AS rn_z,
          ROW_NUMBER() OVER (ORDER BY hd, event_id) - 1 AS rn_h
        FROM m
      ), lay AS (
        SELECT 'natural' AS layout, rn_nat div 64 AS block_id, user_id, k FROM ranked
        UNION ALL SELECT 'lex_user_k', rn_uk div 64, user_id, k FROM ranked
        UNION ALL SELECT 'lex_k_user', rn_ku div 64, user_id, k FROM ranked
        UNION ALL SELECT 'zorder', rn_z div 64, user_id, k FROM ranked
        UNION ALL SELECT 'hilbert', rn_h div 64, user_id, k FROM ranked
      ), blocks AS (
        SELECT layout, block_id, COUNT(*) AS n_rows,
          MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
          MIN(k) AS lo_k, MAX(k) AS hi_k
        FROM lay GROUP BY layout, block_id
      ), pb AS (
        SELECT *, 'p_user_band' AS predicate,
          NOT (lo_u > 19 OR hi_u < 10) AS must_scan FROM blocks
        UNION ALL
        SELECT *, 'p_k_band', NOT (lo_k > 39 OR hi_k < 20) FROM blocks
        UNION ALL
        SELECT *, 'p_box',
          NOT (lo_u > 29 OR hi_u < 10 OR lo_k > 59 OR hi_k < 20) FROM blocks
      )
      SELECT layout, predicate, COUNT(*) AS n_blocks,
        SUM(CASE WHEN must_scan THEN 0L ELSE 1L END) AS n_skip_blocks,
        SUM(CASE WHEN must_scan THEN n_rows ELSE 0L END) * 1000
          div SUM(n_rows) AS scan_permille
      FROM pb GROUP BY layout, predicate ORDER BY layout, predicate"""
    },

    // CDC changelog → latest-snapshot read (upserts keyed on the JSON
    // k prop, deletes = error events)
    "q158_changelog_snapshot" -> {
      val kPat = sq("\"k\":\\s*(\\d+)")
      s"""WITH ev AS (
        SELECT user_id, event_id, ts div 1000 AS ts_us, value,
          CASE WHEN regexp_extract(props, $kPat, 1) != ''
               THEN CAST(regexp_extract(props, $kPat, 1) AS BIGINT) END AS k,
          CASE WHEN event_type = 'error' THEN 1L ELSE 0L END AS is_del
        FROM events
      ), r AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY user_id, k
            ORDER BY ts_us DESC, event_id DESC) AS rn,
          COUNT(*) OVER (PARTITION BY user_id, k) AS n_ops,
          SUM(is_del) OVER (PARTITION BY user_id, k) AS n_deletes
        FROM ev
      )
      SELECT user_id, k, value AS last_value, ts_us AS last_ts_us,
        event_id AS last_event_id, n_ops, n_deletes
      FROM r WHERE rn = 1 AND is_del = 0
      ORDER BY user_id, k"""
    },

    // incremental materialized view: batch partial states merged ≡
    // direct aggregation, audited per group
    "q162_incremental_mv" ->
      s"""WITH ev AS (
        SELECT event_id, (ts div 1000) div 86400000000 AS day, event_type, value
        FROM events
      ), b AS (
        SELECT *, event_id % 3 AS batch FROM ev
      ), states AS (
        SELECT batch, day, event_type,
          COUNT(*) AS n_events,
          COUNT(value) AS n_vals,
          SUM(CAST(ROUND(value, 8) AS DECIMAL(38,8))) AS sum_state,
          MIN(value) AS min_v, MAX(value) AS max_v
        FROM b GROUP BY batch, day, event_type
      ), merged AS (
        SELECT day, event_type,
          SUM(n_events) AS n_events,
          SUM(n_vals) AS n_vals,
          CAST(SUM(sum_state) AS DOUBLE) AS sum_value,
          MIN(min_v) AS min_value, MAX(max_v) AS max_value,
          COUNT(*) AS n_batches
        FROM states GROUP BY day, event_type
      ), direct AS (
        SELECT day, event_type, COUNT(*) AS d_n,
          CAST(SUM(CAST(ROUND(value, 8) AS DECIMAL(38,8))) AS DOUBLE) AS d_sum,
          MIN(value) AS d_min, MAX(value) AS d_max
        FROM ev GROUP BY day, event_type
      )
      SELECT m.day, m.event_type, m.n_events, m.n_vals,
        m.sum_value, m.min_value, m.max_value, m.n_batches,
        CAST(m.n_events = d.d_n AND (m.sum_value <=> d.d_sum)
          AND (m.min_value <=> d.d_min) AND (m.max_value <=> d.d_max) AS INT) AS matches_full
      FROM merged m JOIN direct d ON d.day = m.day AND d.event_type = m.event_type
      ORDER BY m.day, m.event_type""",

    // time-travel reads at three version cutoffs over the changelog
    "q170_time_travel_read" -> {
      val kPat = sq("\"k\":\\s*(\\d+)")
      s"""WITH ev AS (
        SELECT user_id, event_id, ts div 1000 AS ts_us,
          (ts div 1000) div 86400000000 AS day, value,
          CASE WHEN regexp_extract(props, $kPat, 1) != ''
               THEN CAST(regexp_extract(props, $kPat, 1) AS BIGINT) END AS k,
          CASE WHEN event_type = 'error' THEN 1L ELSE 0L END AS is_del
        FROM events
      ), cut AS (
        SELECT explode(array(19733L, 19743L, 19753L)) AS cutoff_day
      ), r AS (
        SELECT c.cutoff_day, e.user_id, e.k, e.is_del, e.value, e.event_id,
          ROW_NUMBER() OVER (PARTITION BY c.cutoff_day, e.user_id, e.k
            ORDER BY e.ts_us DESC, e.event_id DESC) AS rn
        FROM ev e JOIN cut c ON e.day < c.cutoff_day
      )
      SELECT cutoff_day, COUNT(*) AS n_keys,
        SUM(CASE WHEN is_del = 0 THEN 1L ELSE 0L END) AS n_live,
        SUM(is_del) AS n_deleted,
        CAST(SUM(CASE WHEN is_del = 0
          THEN CAST(ROUND(value, 8) AS DECIMAL(38,8)) END) AS DOUBLE) AS live_value_sum,
        MAX(CASE WHEN is_del = 0 THEN event_id END) AS live_max_event_id
      FROM r WHERE rn = 1 GROUP BY cutoff_day ORDER BY cutoff_day"""
    },

    // ---- events analytics family -------------------------------------
    "q132_event_transitions" ->
      s"""WITH seq AS (
        SELECT user_id, event_type,
          LEAD(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts div 1000, event_id) AS to_type
        FROM events
      ), trans AS (
        SELECT event_type AS from_type, to_type, COUNT(*) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY event_type, to_type
      ), marg AS (
        SELECT from_type, SUM(n) AS n_from FROM trans GROUP BY from_type
      )
      SELECT t.from_type, t.to_type, t.n,
        t.n * 1000 div m.n_from AS share_permille,
        CASE WHEN t.from_type = t.to_type THEN 1L ELSE 0L END AS self_loop
      FROM trans t JOIN marg m USING (from_type)
      ORDER BY from_type, to_type""",

    "q136_funnel_conversion" ->
      s"""WITH ev AS (
        SELECT user_id, event_type, ts div 1000 AS ts_us FROM events
      ), s1 AS (
        SELECT user_id, MIN(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
      ), s2 AS (
        SELECT e.user_id, MIN(e.ts_us) AS t2
        FROM ev e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id
      ), s3 AS (
        SELECT e.user_id, MIN(e.ts_us) AS t3
        FROM ev e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id
      )
      SELECT * FROM (
        SELECT 1L AS step, 'view' AS event_type,
          (SELECT COUNT(*) FROM s1) AS n_users, 1000L AS conv_permille
        UNION ALL
        SELECT 2L, 'click', (SELECT COUNT(*) FROM s2),
          CASE WHEN (SELECT COUNT(*) FROM s1) > 0
               THEN (SELECT COUNT(*) FROM s2) * 1000 div (SELECT COUNT(*) FROM s1)
               ELSE 0L END
        UNION ALL
        SELECT 3L, 'purchase', (SELECT COUNT(*) FROM s3),
          CASE WHEN (SELECT COUNT(*) FROM s2) > 0
               THEN (SELECT COUNT(*) FROM s3) * 1000 div (SELECT COUNT(*) FROM s2)
               ELSE 0L END
      ) ORDER BY step""",

    "q137_retention_cohorts" ->
      s"""WITH ev AS (
        SELECT user_id, (ts div 1000) div 86400000000 AS day FROM events
      ), base AS (SELECT MIN(day) AS day0 FROM ev
      ), uw AS (
        SELECT DISTINCT user_id, (day - base.day0) div 7 AS week FROM ev CROSS JOIN base
      ), cohort AS (
        SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
      ), csize AS (
        SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY cohort_week
      )
      SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
        COUNT(*) AS n_active, s.n_cohort,
        COUNT(*) * 1000 div s.n_cohort AS retention_permille
      FROM uw u JOIN cohort c ON c.user_id = u.user_id
      JOIN csize s ON s.cohort_week = c.cohort_week
      GROUP BY c.cohort_week, u.week - c.cohort_week, s.n_cohort
      ORDER BY c.cohort_week, week_offset""",

    "q139_last_touch_attribution" ->
      s"""WITH ev AS (
        SELECT user_id, event_id, event_type, ts div 1000 AS ts_us FROM events
      ), attributed AS (
        SELECT event_type,
          LAST(CASE WHEN event_type != 'purchase' THEN event_type END) IGNORE NULLS
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM ev
      ), rolled AS (
        SELECT COALESCE(touch, 'none') AS touch_type, COUNT(*) AS n_purchases
        FROM attributed WHERE event_type = 'purchase'
        GROUP BY COALESCE(touch, 'none')
      )
      SELECT touch_type, n_purchases,
        n_purchases * 1000 div SUM(n_purchases) OVER () AS share_permille
      FROM rolled ORDER BY touch_type""",

    // exponential half-life recency weights as integer bit shifts
    "q143_recency_engagement" ->
      s"""WITH ev AS (
        SELECT user_id, value, (ts div 1000) div 86400000000 AS day FROM events
      ), mx AS (SELECT MAX(day) AS day_max FROM ev
      ), weighted AS (
        SELECT /*+ BROADCAST(mx) */ *,
          CASE WHEN (day_max - day) div 7 >= 11 THEN 0L
               ELSE shiftright(1024, CAST((day_max - day) div 7 AS INT)) END AS w
        FROM ev CROSS JOIN mx
      ), cents AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS vc FROM weighted)
      SELECT user_id, COUNT(*) AS n_events, SUM(vc * w) AS score_fp, SUM(vc) AS raw_cents
      FROM cents
      GROUP BY user_id
      ORDER BY score_fp DESC, user_id LIMIT 15""",

    // burst rule cross-multiplied (cnt·n_prev > 3·sum_prev): no division
    "q146_hourly_burst_detection" ->
      s"""WITH hourly AS (
        SELECT event_type, (ts div 1000) div 3600000000 AS hour, COUNT(*) AS cnt
        FROM events GROUP BY event_type, (ts div 1000) div 3600000000
      ), base AS (
        SELECT event_type, hour, cnt,
          COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hour
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0L) AS sum_prev,
          COUNT(*) OVER (PARTITION BY event_type ORDER BY hour
            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
        FROM hourly
      )
      SELECT event_type, hour, cnt, sum_prev, n_prev
      FROM base
      WHERE n_prev >= 12 AND cnt * n_prev > 3 * sum_prev
      ORDER BY event_type, hour""",

    // exact quantiles from SQL: Spark's percentile() computes the same
    // p·(n−1) interpolation as the engine's distributed ExactQuantile
    // (the q65 oracle pins that equivalence bit-for-bit)
    "q65_exact_quantiles" ->
      s"""SELECT l_returnflag,
        percentile(l_extendedprice, 0.5D) AS price_p50,
        percentile(l_extendedprice, 0.95D) AS price_p95,
        percentile(l_extendedprice, 0.99D) AS price_p99,
        percentile(l_quantity, 0.5D) AS qty_p50,
        MIN(l_extendedprice) AS price_min,
        MAX(l_extendedprice) AS price_max,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q141_event_value_percentiles" ->
      s"""SELECT event_type,
        percentile(value, 0.5D) AS p50,
        percentile(value, 0.95D) AS p95,
        percentile(value, 0.99D) AS p99
      FROM events GROUP BY event_type ORDER BY event_type""",

    // median/MAD robust z-score screen (the outlier rule that survives
    // the outliers it hunts)
    "q142_robust_anomaly_screen" ->
      s"""WITH med AS (
        SELECT event_type, percentile(value, 0.5D) AS med FROM events GROUP BY event_type
      ), dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
      ), mad AS (
        SELECT event_type, percentile(adev, 0.5D) AS mad FROM dev GROUP BY event_type
      )
      SELECT d.event_type, COUNT(*) AS n_events,
        SUM(CASE WHEN abs(d.value - d.med) > 3.0D * 1.4826D * a.mad THEN 1L ELSE 0L END) AS n_anomalies,
        SUM(CASE WHEN abs(d.value - d.med) > 3.0D * 1.4826D * a.mad THEN 1L ELSE 0L END)
          * 1000 div COUNT(*) AS anom_permille,
        MAX(d.med) AS med, MAX(a.mad) AS mad
      FROM dev d JOIN mad a USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type""",

    // session-basket association rules (support/confidence/lift at
    // integer permille; the session count rides as a scalar subquery)
    "q149_session_basket_lift" ->
      s"""WITH seq AS (
        SELECT user_id, event_id, event_type, ts div 1000 AS ts_us,
          CASE WHEN LAG(ts div 1000, 1) OVER
              (PARTITION BY user_id ORDER BY ts div 1000, event_id) IS NULL
            OR ts div 1000 - LAG(ts div 1000, 1) OVER
              (PARTITION BY user_id ORDER BY ts div 1000, event_id) > 1800000000
          THEN 1L ELSE 0L END AS is_new
        FROM events
      ), sess AS (
        SELECT user_id, event_type,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM seq
      ), items AS (
        SELECT DISTINCT user_id, session_id, event_type FROM sess
      ), ns AS (
        SELECT COUNT(*) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_id FROM items)
      ), singles AS (
        SELECT event_type AS t, COUNT(*) AS n_t FROM items GROUP BY event_type
      ), pairs AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
          COUNT(*) AS n_ab
        FROM items a JOIN items b
          ON a.user_id = b.user_id AND a.session_id = b.session_id
          AND a.event_type != b.event_type
        GROUP BY a.event_type, b.event_type
      )
      SELECT p.antecedent, p.consequent, p.n_ab,
        p.n_ab * 1000 div ns.n_sessions AS support_permille,
        p.n_ab * 1000 div sa.n_t AS conf_permille,
        p.n_ab * ns.n_sessions * 1000 div (sa.n_t * sb.n_t) AS lift_permille
      FROM pairs p
      JOIN singles sa ON sa.t = p.antecedent
      JOIN singles sb ON sb.t = p.consequent
      CROSS JOIN ns
      WHERE p.n_ab >= 5
      ORDER BY p.antecedent, p.consequent""",

    "q152_funnel_latency" ->
      s"""WITH ev AS (
        SELECT user_id, event_type, ts div 1000 AS ts_us FROM events
      ), s1 AS (
        SELECT user_id, MIN(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
      ), s2 AS (
        SELECT e.user_id, MIN(e.ts_us) AS t2
        FROM ev e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id
      ), s3 AS (
        SELECT e.user_id, MIN(e.ts_us) AS t3
        FROM ev e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id
      ), lat AS (
        SELECT s1.user_id,
          CAST(s2.t2 - s1.t1 AS DOUBLE) AS to_click,
          CAST(s3.t3 - s1.t1 AS DOUBLE) AS to_purchase
        FROM s1 JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      )
      SELECT * FROM (
        SELECT 'to_click_us' AS metric,
          percentile(to_click, 0.5D) AS p50_us,
          percentile(to_click, 0.9D) AS p90_us
        FROM lat
        UNION ALL
        SELECT 'to_purchase_us',
          percentile(to_purchase, 0.5D),
          percentile(to_purchase, 0.9D)
        FROM lat WHERE to_purchase IS NOT NULL
      ) ORDER BY metric""",

    // reset-on-gap realized variance as one WINDOW chain: the gap-group
    // id is itself a running window count, then the RV window partitions
    // by (sym, gap_grp) — no intermediate materialization needed.
    "q18_rv_reset_on_gap" ->
      d(s"""WITH m AS (SELECT seq, sym, ${BookSql.mid} AS mid FROM book),
      p AS (SELECT seq, sym, 100.0::DOUBLE + mid / 100.0::DOUBLE AS px FROM m),
      r AS (
        SELECT seq, sym, px,
          CASE WHEN px > 0 AND LAG(px, 1) OVER w > 0
               THEN px / LAG(px, 1) OVER w - 1 END AS ret
        FROM p WINDOW w AS $winSql
      ),
      g AS (
        SELECT *, COUNT(CASE WHEN ret IS NULL THEN 1 END) OVER $runSql AS gap_grp
        FROM r
      )
      SELECT seq, sym, ret, gap_grp,
        CASE WHEN ret IS NOT NULL AND COUNT(ret) OVER f = 20
             THEN CAST(SUM(CAST(ROUND(ret * ret, 12) AS DECIMAL(38,12))) OVER f AS DOUBLE) END AS rv20
      FROM g
      WINDOW f AS (PARTITION BY sym, gap_grp ORDER BY seq ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      ORDER BY seq"""),

    // ladder walk through the native deep_book_agg kernel (one compiled
    // fold per side): skip-blank flavor on the raw ladder, stop-at-first-
    // blank/zero flavor on the chain-masked ladder — masking a level to
    // NULL once any level above it is blank/zero makes the kernel's
    // skip semantics reproduce the stop walk exactly (Impact.withStopMask
    // is the Column-side twin of the mask below).
    "q22_book_walk" -> {
      def ladder(side: String, maskStop: Boolean): String =
        (1 to D).map { k =>
          val chain = (1 to k).map(j =>
            s"$side${j}_price IS NOT NULL AND $side${j}_size IS NOT NULL AND $side${j}_size > 0")
            .mkString(" AND ")
          if (maskStop)
            s"named_struct('price', CASE WHEN $chain THEN $side${k}_price END, " +
              s"'size', CASE WHEN $chain THEN $side${k}_size END)"
          else
            s"named_struct('price', $side${k}_price, 'size', $side${k}_size)"
        }.mkString("array(", ", ", ")")
      s"""WITH arr AS (
        SELECT seq, sym,
          ${ladder("bid", maskStop = false)} AS bids,
          ${ladder("ask", maskStop = false)} AS asks,
          ${ladder("ask", maskStop = true)} AS stop_asks
        FROM book
      ), m AS (
        SELECT seq, sym,
          deep_book_agg(bids, asks, CAST(3.7 AS DOUBLE)) AS w,
          deep_book_agg(bids, stop_asks, CAST(3.7 AS DOUBLE)) AS sw
        FROM arr
      )
      SELECT seq, sym,
        w.walk_filled AS filled,
        CASE WHEN w.walk_filled > 0 THEN w.walk_cost / w.walk_filled END AS walk_vwap,
        w.walk_touched AS levels_touched,
        sw.walk_filled AS stop_filled,
        CASE WHEN sw.walk_filled > 0 THEN sw.walk_cost / sw.walk_filled END AS stop_walk_vwap,
        sw.walk_touched AS stop_levels_touched
      FROM m ORDER BY seq"""
    },

    // MinHash-LSH dedup over the dedup_components view: the group labels
    // of the catalog's own dedup memo (LSH candidates, Jaccard verify and
    // the distributed connected components, built once per session)
    "q48_minhash_lsh_dedup" ->
      s"""SELECT doc_id, comp AS group_id,
        CAST(doc_id = comp AS INT) AS is_kept, group_size
      FROM dedup_groups
      JOIN (SELECT comp, COUNT(*) AS group_size FROM dedup_groups GROUP BY comp)
        USING (comp)
      ORDER BY doc_id""",

    "q51_dedup_keep_longest" ->
      s"""WITH scored AS (
        SELECT c.doc_id, c.group_id, d.n_chars
        FROM dedup_components c JOIN documents d USING (doc_id)
      ), best AS (
        SELECT group_id, MAX(n_chars) AS best_chars FROM scored GROUP BY group_id
      ), keep AS (
        SELECT s.group_id, MIN(s.doc_id) AS keep_id
        FROM scored s JOIN best b USING (group_id)
        WHERE s.n_chars = b.best_chars
        GROUP BY s.group_id
      )
      SELECT s.doc_id, s.group_id, s.n_chars, k.keep_id,
        CAST(s.doc_id = k.keep_id AS INT) AS is_kept
      FROM scored s JOIN keep k USING (group_id)
      ORDER BY s.doc_id""",

    // native session_window (event-time session aggregation) from SQL
    "q55_session_window_native" ->
      s"""WITH ev AS (
        SELECT user_id, value, timestamp_micros(ts div 1000) AS ts_t FROM events
      )
      SELECT user_id,
        unix_micros(session_window.start) AS session_start_us,
        unix_micros(session_window.`end`) AS session_end_us,
        COUNT(*) AS n_events,
        ${sumFast("value", 2)} AS session_value
      FROM ev GROUP BY user_id, session_window(ts_t, '30 minutes')
      ORDER BY user_id, session_start_us""",

    // GPT-2-style BPE pre-tokenizer split + per-class counts, all as
    // higher-order array functions over one regexp_extract_all pass
    "q57_bpe_tokens" -> {
      val bpe = graft.text.TextQueries.bpePat
      // one token-class count per layer, in class-name order
      def cnt(as: String, pat: String, from: String) =
        s"$as AS (SELECT *, CAST(size(filter(toks, t -> t RLIKE ${sq(pat)})) AS BIGINT) AS $as FROM $from)"
      s"""WITH tk AS (
        SELECT *, regexp_extract_all(text, ${sq(bpe)}, 0) AS toks
        FROM (SELECT * FROM documents ORDER BY doc_id)
      ),
      ${cnt("n_contraction", "^'(?:s|t|re|ve|m|ll|d)$", "tk")},
      ${cnt("n_number", "^ ?\\p{N}+$", "n_contraction")},
      ${cnt("n_punct", "^ ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+$", "n_number")},
      ${cnt("n_word", "^ ?\\p{L}+$", "n_punct")},
      ${cnt("n_ws", "^[ \\t\\n\\x0B\\f\\r]+$", "n_word")},
      nb AS (SELECT *, CAST(size(toks) AS BIGINT) AS n_bpe_tokens FROM n_ws),
      nd AS (SELECT *, CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct FROM nb)
      SELECT doc_id, lang, n_bpe_tokens, n_word, n_number, n_punct,
        n_contraction, n_ws, n_distinct,
        CASE WHEN n_bpe_tokens > 0 THEN CAST(length(text) AS DOUBLE) / n_bpe_tokens END AS avg_token_chars
      FROM nd"""
    },

    // Gopher-style repetition quality gate: line-dup, top-bigram
    // occupancy, and trigram-dup fractions from one tokenize pass
    "q58_repetition_quality" -> repetitionQualitySql,

    // deterministic hash split: train/val/test by (doc_id·φ) % 1000
    "q60_dataset_split" ->
      s"""WITH a AS (
        SELECT *,
          CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
               WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split,
          CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_tokens
        FROM documents
      )
      SELECT split, COUNT(*) AS n_docs,
        SUM(n_chars) AS total_chars,
        SUM(n_tokens) AS total_tokens,
        COUNT(DISTINCT lang) AS n_langs,
        MIN(doc_id) AS min_doc_id
      FROM a GROUP BY split ORDER BY split""",

    // per-language mixture sampling at deterministic hash rates
    "q63_mixture_sample" ->
      s"""WITH a AS (
        SELECT lang,
          CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_tokens,
          CASE WHEN lang = 'en' THEN CAST(500 AS BIGINT)
               WHEN lang IN ('de', 'fr', 'es') THEN CAST(250 AS BIGINT)
               ELSE CAST(100 AS BIGINT) END AS rate_permille,
          CAST((doc_id * 2654435761) % 1000 <
            CASE WHEN lang = 'en' THEN 500
                 WHEN lang IN ('de', 'fr', 'es') THEN 250
                 ELSE 100 END AS INT) AS kept
        FROM documents
      )
      SELECT lang, COUNT(*) AS n_total,
        SUM(kept) AS n_kept,
        SUM(kept * n_tokens) AS kept_tokens,
        MAX(rate_permille) AS rate_permille,
        1000 * SUM(kept) div COUNT(1) AS realized_permille
      FROM a GROUP BY lang ORDER BY lang""",

    // token-budget prefix selection: hash-ordered running sum (the
    // catalog runs this as a distributed two-pass prefix sum; the SQL
    // spelling is the single ordered window with identical semantics)
    "q74_token_budget" ->
      s"""WITH tk AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_tokens,
          (doc_id * 2654435761) % 1000000007 AS p
        FROM documents
      ), o AS (
        SELECT doc_id, n_tokens,
          COALESCE(SUM(n_tokens) OVER (ORDER BY p, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS tok_start
        FROM tk
      )
      SELECT doc_id, n_tokens, tok_start,
        CASE WHEN tok_start < 10000 THEN 1 ELSE 0 END AS selected
      FROM o ORDER BY doc_id""",

    // cross-source trigram Jaccard overlap (distinct grams per source,
    // equi-join on gram — never source×source rows)
    "q79_source_overlap" ->
      s"""WITH tk AS (
        SELECT source, text, split(trim(lower(text)), ${sq("\\s+")}) AS tk FROM documents_spread
      ), base AS (SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE size(tk) END AS nw FROM tk
      ), tri AS (
        SELECT DISTINCT * FROM (
          SELECT source, explode(transform(sequence(0, nw - 3), i ->
            concat_ws(' ', element_at(tk, i + 1), element_at(tk, i + 2), element_at(tk, i + 3)))) AS gram
          FROM base WHERE nw >= 3)
      ), sz AS (
        SELECT source, COUNT(1) AS n_grams FROM tri GROUP BY source
      ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(1) AS n_inter
        FROM tri a JOIN tri b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
      ), jj AS (
        SELECT /*+ BROADCAST(sb) */ source_a, source_b, n_a, n_b,
          COALESCE(n_inter, 0L) AS n_inter
        FROM (SELECT source AS source_a, n_grams AS n_a FROM sz) sa
        JOIN (SELECT source AS source_b, n_grams AS n_b FROM sz) sb ON source_a < source_b
        LEFT JOIN inter USING (source_a, source_b)
      )
      SELECT *, CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
      FROM jj ORDER BY source_a, source_b""",

    // per-doc OOV fraction against the corpus top-16 vocabulary
    "q78_vocab_oov" ->
      s"""WITH base AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST(array() AS ARRAY<STRING>)
               ELSE split(trim(lower(text)), ${sq("\\s+")}) END AS tk
        FROM documents
      ), tok AS (
        SELECT doc_id, explode(tk) AS tok FROM base
      ), vocab AS (
        SELECT tok, 1 AS in_v FROM (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
        ORDER BY cnt DESC, tok LIMIT 16
      ), st AS (
        SELECT t.doc_id, COUNT(*) AS n_toks,
          SUM(CASE WHEN v.in_v IS NULL THEN 1L ELSE 0L END) AS n_oov
        FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY t.doc_id
      )
      SELECT b.doc_id, COALESCE(st.n_toks, 0L) AS n_toks,
        COALESCE(st.n_oov, 0L) AS n_oov,
        CASE WHEN st.n_toks > 0 THEN CAST(st.n_oov AS DOUBLE) / st.n_toks END AS oov_frac
      FROM documents b LEFT JOIN st USING (doc_id) ORDER BY b.doc_id""",

    // temperature-mixture weights (√n over the source-ordered exact fold)
    "q90_mixture_weights" ->
      s"""WITH cnt AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
      ), d AS (
        SELECT SUM(n_docs) AS n_total,
          aggregate(transform(array_sort(collect_list(named_struct(
              'source', source, 'sq', sqrt(CAST(n_docs AS DOUBLE))))), x -> x.sq),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS denom
        FROM cnt
      ), w AS (
        SELECT c.source, c.n_docs,
          CAST(c.n_docs AS DOUBLE) / d.n_total AS p_natural,
          sqrt(CAST(c.n_docs AS DOUBLE)) / d.denom AS w_temp
        FROM cnt c CROSS JOIN d
      )
      SELECT source, n_docs, p_natural, w_temp,
        CAST(floor(w_temp * 100000) AS BIGINT) AS quota_100k,
        w_temp / p_natural AS boost
      FROM w ORDER BY source""",

    // largest-remainder stratified sampling: exact integer quotas, then
    // a per-source hash-ordered pick
    "q95_stratified_sample" ->
      s"""WITH cnt AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
      ), tot AS (
        SELECT SUM(n_docs) AS n_total, SUM(n_docs) div 5 AS t_target FROM cnt
      ), wr AS (
        SELECT c.source,
          (c.n_docs * t.t_target) div t.n_total AS base,
          (c.n_docs * t.t_target) % t.n_total AS rem,
          t.t_target
        FROM cnt c CROSS JOIN tot t
      ), quotas AS (
        SELECT source,
          base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                      <= t_target - SUM(base) OVER () THEN 1L ELSE 0L END AS quota
        FROM wr
      ), ranked AS (
        SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS BIGINT) AS pick_rank
        FROM documents
      )
      SELECT r.doc_id, r.source, r.pick_rank
      FROM ranked r JOIN quotas q USING (source)
      WHERE r.pick_rank <= q.quota
      ORDER BY r.source, r.pick_rank""",

    // release diff: full-outer fingerprint compare of two hash-sliced
    // corpus snapshots (added / removed / changed / unchanged)
    "q96_release_diff" ->
      s"""WITH prev AS (
        SELECT doc_id, source AS source_p,
          md5(CASE WHEN (doc_id * 2654435761) % 1000 >= 960
                   THEN upper(text) ELSE text END) AS fp_prev,
          CAST(length(text) AS BIGINT) AS len_p
        FROM documents WHERE (doc_id * 2654435761) % 1000 < 980
      ), curr AS (
        SELECT doc_id, source AS source_c, md5(text) AS fp_curr,
          CAST(length(text) AS BIGINT) AS len_c
        FROM documents WHERE (doc_id * 2654435761) % 1000 >= 20
      ), diff AS (
        SELECT *,
          CASE WHEN fp_curr IS NULL THEN 'removed'
               WHEN fp_prev IS NULL THEN 'added'
               WHEN fp_prev != fp_curr THEN 'changed'
               ELSE 'unchanged' END AS status,
          COALESCE(source_c, source_p) AS source
        FROM prev FULL OUTER JOIN curr USING (doc_id)
      )
      SELECT source, status, COUNT(*) AS n_docs,
        SUM(COALESCE(len_c, len_p)) AS sum_chars
      FROM diff GROUP BY source, status
      ORDER BY source, status""",

    // per-source cap sweep (top-N by chars kept, at three cap values)
    "q119_source_cap_sweep" ->
      s"""WITH ranked AS (
        SELECT source, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents
      ), caps AS (
        SELECT explode(array(5L, 10L, 20L)) AS cap
      )
      SELECT source, cap,
        SUM(CASE WHEN rk <= cap THEN 1L ELSE 0L END) AS kept_docs,
        SUM(CASE WHEN rk <= cap THEN n_chars ELSE 0L END) AS kept_chars,
        COUNT(*) - SUM(CASE WHEN rk <= cap THEN 1L ELSE 0L END) AS dropped_docs,
        SUM(CASE WHEN rk <= cap THEN n_chars ELSE 0L END) * 1000
          div SUM(n_chars) AS share_permille
      FROM ranked CROSS JOIN caps
      GROUP BY source, cap
      ORDER BY source, cap""",

    // sliding-char-window chunking audit with reproducibility digests
    "q120_chunk_overlap_audit" ->
      s"""WITH ks AS (
        SELECT doc_id, lang, n_chars, text,
          explode(sequence(0, CAST(CASE WHEN n_chars <= 256 THEN 0
            ELSE (n_chars - 256 + 191) div 192 END AS INT))) AS k
        FROM documents
      ), chunks AS (
        SELECT doc_id, lang, n_chars, k, substring(text, k * 192 + 1, 256) AS chunk
        FROM ks
      ), perdoc AS (
        SELECT doc_id, lang, n_chars,
          COUNT(*) AS n_chunks,
          SUM(length(chunk)) AS cchars,
          md5(CAST(concat_ws('', transform(array_sort(collect_list(named_struct(
            'k', k, 'h', md5(CAST(chunk AS BINARY))))), x -> x.h)) AS BINARY)) AS doc_chunks_md5
        FROM chunks GROUP BY doc_id, lang, n_chars
      )
      SELECT lang, COUNT(*) AS n_docs,
        SUM(n_chunks) AS n_chunks,
        SUM(cchars) AS chunk_chars,
        SUM(cchars - n_chars) AS overlap_chars,
        SUM(cchars - n_chars) * 1000 div SUM(n_chars) AS overlap_permille,
        md5(CAST(concat_ws('', transform(array_sort(collect_list(named_struct(
          'doc_id', doc_id, 'h', doc_chunks_md5))), x -> x.h)) AS BINARY)) AS lang_md5
      FROM perdoc GROUP BY lang ORDER BY lang""",

    // vocabulary-size OOV sweep at 256/1024/4096 ranks
    "q123_vocab_size_sweep" ->
      s"""WITH tok AS (
        SELECT lang, term FROM (
          SELECT lang, explode(split(text, ' ')) AS term FROM documents
        ) WHERE term != ''
      ), vocab AS (
        SELECT term, rk FROM (
          SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rk
          FROM (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term)
        ) WHERE rk <= 4096
      ), scored AS (
        SELECT t.lang, COUNT(*) AS n_tokens,
          SUM(CASE WHEN v.rk IS NULL OR v.rk > 256 THEN 1L ELSE 0L END) AS oov256,
          SUM(CASE WHEN v.rk IS NULL OR v.rk > 1024 THEN 1L ELSE 0L END) AS oov1024,
          SUM(CASE WHEN v.rk IS NULL THEN 1L ELSE 0L END) AS oov4096
        FROM tok t LEFT JOIN vocab v ON v.term = t.term
        GROUP BY t.lang
      ), st AS (
        SELECT lang, n_tokens,
          stack(3, 256L, oov256, 1024L, oov1024, 4096L, oov4096) AS (v, n_oov)
        FROM scored
      )
      SELECT lang, v, n_tokens, n_oov,
        n_oov * 1000 div n_tokens AS oov_permille
      FROM st ORDER BY lang, v""",

    // Heaps-law vocabulary growth at 25/50/75/100% corpus cuts
    "q124_vocab_growth" ->
      s"""WITH ranked AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
          COUNT(*) OVER () AS n
        FROM documents
      ), cuts AS (
        SELECT pct, MAX(doc_id) AS cut_id
        FROM ranked CROSS JOIN (SELECT explode(array(25L, 50L, 75L, 100L)) AS pct)
        WHERE rk <= greatest(n * pct div 100, 1L)
        GROUP BY pct
      ), tok AS (
        SELECT doc_id, term FROM (
          SELECT doc_id, explode(split(text, ' ')) AS term FROM documents
        ) WHERE term != ''
      ), firsts AS (
        SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term
      ), perdoc AS (
        SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
      ), agg1 AS (
        SELECT c.pct, COUNT(p.doc_id) AS n_docs,
          COALESCE(SUM(p.n_tok), 0L) AS n_tokens
        FROM cuts c LEFT JOIN perdoc p ON p.doc_id <= c.cut_id
        GROUP BY c.pct
      ), agg2 AS (
        SELECT c.pct, COUNT(f.term) AS vocab_size
        FROM cuts c LEFT JOIN firsts f ON f.first_doc <= c.cut_id
        GROUP BY c.pct
      )
      SELECT a1.pct, a1.n_docs, a1.n_tokens, a2.vocab_size,
        a2.vocab_size * 1000 div a1.n_tokens AS type_token_permille
      FROM agg1 a1 JOIN agg2 a2 USING (pct) ORDER BY pct""",

    // join-cardinality estimator audit (|A|·|B| / max(d_A, d_B) vs truth)
    "q134_join_card_audit" -> {
      def per(a: String, ka: String, b: String, kb: String) = s"""(
        SELECT '$a-$b' AS join_name,
          (SELECT COUNT(*) FROM $a) AS n_left,
          (SELECT COUNT(*) FROM $b) AS n_right,
          (SELECT COUNT(DISTINCT $ka) FROM $a) AS d_left,
          (SELECT COUNT(DISTINCT $kb) FROM $b) AS d_right,
          (SELECT COUNT(*) FROM $a) * (SELECT COUNT(*) FROM $b)
            div greatest((SELECT COUNT(DISTINCT $ka) FROM $a),
                         (SELECT COUNT(DISTINCT $kb) FROM $b)) AS est_rows,
          (SELECT COUNT(*) FROM $a JOIN $b ON $a.$ka = $b.$kb) AS actual_rows)"""
      s"""WITH stats AS (
        ${per("customer", "c_custkey", "orders", "o_custkey")}
        UNION ALL
        ${per("orders", "o_orderkey", "lineitem", "l_orderkey")}
        UNION ALL
        ${per("nation", "n_nationkey", "supplier", "s_nationkey")}
      )
      SELECT join_name, n_left, n_right, d_left, d_right, est_rows, actual_rows,
        abs(est_rows - actual_rows) * 1000 div actual_rows AS err_permille
      FROM stats ORDER BY join_name"""
    },

    // per-source corpus datasheet (tokens, dups, quality, languages)
    "q75_corpus_datasheet" ->
      s"""WITH base AS (
        SELECT d.doc_id, d.source, d.lang, d.n_chars,
          CASE WHEN length(trim(coalesce(d.text, ''))) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(d.text)), ${sq("\\s+")})) AS BIGINT) END AS n_tokens,
          CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(CAST(d.text AS BINARY))
                 ORDER BY d.doc_id) = 1 THEN 1L ELSE 0L END AS is_first,
          q.quality_pass
        FROM documents d
        JOIN (SELECT doc_id, quality_pass FROM ($repetitionQualitySql)) q
          ON q.doc_id = d.doc_id
      )
      SELECT source, COUNT(*) AS n_docs,
        SUM(n_tokens) AS total_tokens,
        SUM(n_chars) AS total_chars,
        COUNT(DISTINCT lang) AS n_langs,
        COUNT(*) - SUM(is_first) AS n_exact_dups,
        CAST(SUM(quality_pass) AS BIGINT) AS n_quality_pass,
        CAST(SUM(n_chars) div greatest(SUM(n_tokens), 1) AS BIGINT) AS chars_per_token
      FROM base GROUP BY source ORDER BY source""",

    // release manifest per (split, lang): counts, char mass, fingerprint
    // sum, and the order-sensitive md5-of-md5s content digest
    "q82_release_manifest" ->
      s"""WITH c AS (
        SELECT doc_id, lang, n_chars,
          CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
               WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split,
          md5(CAST(text AS BINARY)) AS h,
          rolling_hash(text, 8, 131, 1000000007).doc_fp AS doc_fp
        FROM documents
      )
      SELECT split, lang, COUNT(*) AS n_docs,
        SUM(n_chars) AS sum_chars,
        SUM(doc_fp) AS fp_sum,
        md5(CAST(concat_ws('', transform(array_sort(collect_list(
          named_struct('doc_id', doc_id, 'h', h))), x -> x.h)) AS BINARY)) AS release_md5
      FROM c GROUP BY split, lang ORDER BY split, lang""",

    // positional phrase search: adjacency via position-list intersect
    "q87_phrase_search" ->
      s"""WITH pq AS (
        SELECT query_id, t1, t2 FROM VALUES (1, 'table', 'scan'),
          (2, 'spark', 'query'), (3, 'merge', 'batch') AS t(query_id, t1, t2)
      ), base AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST(array() AS ARRAY<STRING>)
               ELSE split(trim(lower(text)), ${sq("\\s+")}) END AS tk
        FROM documents
      ), tok AS (
        SELECT doc_id, CAST(pos0 + 1 AS BIGINT) AS pos, term
        FROM base LATERAL VIEW posexplode(tk) t AS pos0, term
        WHERE term IN (SELECT t1 FROM pq UNION SELECT t2 FROM pq)
      ), plist AS (
        SELECT doc_id, term, sort_array(collect_list(pos)) AS ps, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, term
      ), hits AS (
        SELECT q.query_id, a.doc_id, a.tf AS tf1, b.tf AS tf2,
          CAST(size(array_intersect(transform(a.ps, p -> p + 1), b.ps)) AS BIGINT)
            AS n_phrase_hits
        FROM pq q
        JOIN plist a ON a.term = q.t1
        JOIN plist b ON b.term = q.t2 AND b.doc_id = a.doc_id
      )
      SELECT query_id, doc_id, tf1, tf2, n_phrase_hits
      FROM hits WHERE n_phrase_hits >= 1
      ORDER BY query_id, doc_id""",

    // PII redaction: deterministic synthetic PII spans appended, then
    // regex detect + redact with a reproducibility digest
    "q80_pii_redaction" -> {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phonePat = "\\b555-\\d{4}\\b"
      s"""WITH aug AS (
        SELECT doc_id, concat(text,
          CASE doc_id % 5
            WHEN 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com now')
            WHEN 1 THEN concat(' node 10.', CAST(doc_id % 200 AS STRING), '.3.',
                               CAST(doc_id % 250 AS STRING), ' up')
            WHEN 2 THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' today')
            WHEN 3 THEN concat(' mail ops', CAST(doc_id AS STRING), '@mail.example.org via 192.168.',
                               CAST(doc_id % 100 AS STRING), '.7')
            ELSE '' END) AS t
        FROM documents_spread
      ), c AS (
        SELECT doc_id,
          CAST(regexp_count(t, ${sq(emailPat)}) AS BIGINT) AS n_email,
          CAST(regexp_count(t, ${sq(ipPat)}) AS BIGINT) AS n_ip,
          CAST(regexp_count(t, ${sq(phonePat)}) AS BIGINT) AS n_phone,
          md5(regexp_replace(regexp_replace(regexp_replace(t,
            ${sq(emailPat)}, '<EMAIL>'), ${sq(ipPat)}, '<IP>'),
            ${sq(phonePat)}, '<PHONE>')) AS redacted_md5
        FROM aug
      ), tot AS (SELECT *, n_email + n_ip + n_phone AS pii_total FROM c)
      SELECT doc_id, n_email, n_ip, n_phone, pii_total, redacted_md5,
        CAST(pii_total = 0 AS INT) AS clean
      FROM tot ORDER BY doc_id"""
    },

    // length-bucketed batching: padding waste per context bucket vs a
    // single 512 context
    "q107_bucketed_batching" ->
      s"""WITH nt AS (
        SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_toks
        FROM documents
      ), ctx AS (
        SELECT *, CASE WHEN n_toks <= 64 THEN 64L WHEN n_toks <= 128 THEN 128L
               WHEN n_toks <= 256 THEN 256L ELSE 512L END AS ctx
        FROM nt
      ), b AS (SELECT *, least(n_toks, 512L) AS kept FROM ctx
      ), agg AS (
        SELECT ctx, COUNT(*) AS n_docs,
          SUM(kept) AS sum_toks,
          SUM(512L - kept) AS pad_single
        FROM b GROUP BY ctx
      ), bs AS (SELECT *, 4096 div ctx AS batch_size FROM agg
      ), nb AS (SELECT *, (n_docs + (4096 div ctx) - 1) div (4096 div ctx) AS n_batches FROM bs
      ), pad AS (SELECT *, ctx * n_docs - sum_toks AS pad_bucketed FROM nb
      ), waste AS (SELECT *, CAST(pad_bucketed AS DOUBLE) / (ctx * n_docs) AS waste_frac FROM pad)
      SELECT *, CAST(pad_single - pad_bucketed AS DOUBLE) / (512L * n_docs) AS saving_vs_single
      FROM waste ORDER BY ctx""",

    // DSIR-style hashed-bucket importance weights (target = src0)
    "q121_dsir_importance" ->
      s"""WITH toks AS (
        SELECT doc_id, source,
          rolling_hash(term, 1, 131, 1000000007).doc_fp % 1024 AS bucket
        FROM (SELECT doc_id, source, explode(split(text, ' ')) AS term FROM documents)
        WHERE term != ''
      ), model AS (
        SELECT bucket,
          (SUM(CASE WHEN source = 'src0' THEN 1L ELSE 0L END) + 1) * 1048576
            div (SUM(CASE WHEN source = 'src0' THEN 0L ELSE 1L END) + 1) AS w
        FROM toks GROUP BY bucket
      ), perdoc AS (
        SELECT t.doc_id, t.source, COUNT(*) AS n_tok,
          SUM(m.w) div COUNT(1) AS spt
        FROM toks t JOIN model m ON m.bucket = t.bucket
        GROUP BY t.doc_id, t.source
      ), top AS (
        SELECT doc_id FROM perdoc ORDER BY spt DESC, doc_id LIMIT 100
      )
      SELECT p.source, COUNT(*) AS n_docs,
        SUM(p.spt) div COUNT(1) AS mean_spt,
        SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1L ELSE 0L END) AS n_top100
      FROM perdoc p LEFT JOIN top t ON t.doc_id = p.doc_id
      GROUP BY p.source ORDER BY p.source""",

    // reference-likelihood atypicality flags
    "q76_corpus_likelihood" ->
      s"""WITH $likelihoodSparkSql
      SELECT doc_id, n_bigrams, mean_p_scaled, min_p_scaled,
        CAST(mean_p_scaled < 33500 AS INT) AS atypical
      FROM agg ORDER BY doc_id""",

    // curriculum quartile buckets over the likelihood scores
    "q83_curriculum_buckets" ->
      s"""WITH $likelihoodSparkSql, cuts AS (
        SELECT percentile(CAST(mean_p_scaled AS DOUBLE), 0.25D) AS c1,
               percentile(CAST(mean_p_scaled AS DOUBLE), 0.50D) AS c2,
               percentile(CAST(mean_p_scaled AS DOUBLE), 0.75D) AS c3
        FROM agg
      ), b AS (
        SELECT a.doc_id, a.mean_p_scaled,
          CASE WHEN a.mean_p_scaled < cuts.c1 THEN 0
               WHEN a.mean_p_scaled < cuts.c2 THEN 1
               WHEN a.mean_p_scaled < cuts.c3 THEN 2 ELSE 3 END AS bucket
        FROM agg a CROSS JOIN cuts
      )
      SELECT bucket, COUNT(*) AS n_docs,
        MIN(mean_p_scaled) AS min_score,
        MAX(mean_p_scaled) AS max_score,
        SUM(mean_p_scaled) div COUNT(1) AS mean_score
      FROM b GROUP BY bucket ORDER BY bucket""",

    // curriculum interleave order: per-bucket rank, stride-4 position
    "q101_curriculum_order" ->
      s"""WITH $likelihoodSparkSql, cuts AS (
        SELECT percentile(CAST(mean_p_scaled AS DOUBLE), 0.25D) AS c1,
               percentile(CAST(mean_p_scaled AS DOUBLE), 0.50D) AS c2,
               percentile(CAST(mean_p_scaled AS DOUBLE), 0.75D) AS c3
        FROM agg
      ), b AS (
        SELECT a.doc_id,
          CASE WHEN a.mean_p_scaled < cuts.c1 THEN 0L
               WHEN a.mean_p_scaled < cuts.c2 THEN 1L
               WHEN a.mean_p_scaled < cuts.c3 THEN 2L ELSE 3L END AS bucket
        FROM agg a CROSS JOIN cuts
      ), r AS (
        SELECT doc_id, bucket,
          CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS BIGINT) AS bucket_rank
        FROM b
      )
      SELECT doc_id, bucket, bucket_rank,
        bucket_rank * 4 + bucket AS global_pos
      FROM r ORDER BY doc_id""",

    // calibration curve for the q127 bigram predictor: half-octave
    // confidence buckets vs realized top-1 accuracy
    "q144_model_calibration" ->
      s"""WITH base AS (
        SELECT doc_id, (doc_id * 2654435761) % 1000 < 900 AS is_train,
          split(trim(text), ${sq("\\s+")}) AS tk
        FROM documents WHERE length(trim(text)) > 0
      ), bi AS (
        SELECT is_train, b.w1 AS w1, b.w2 AS w2
        FROM (SELECT is_train, explode(transform(sequence(1, size(tk) - 1), i ->
            struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))) AS b
          FROM base WHERE size(tk) >= 2)
      ), counts AS (
        SELECT w1, w2,
          SUM(CASE WHEN is_train THEN 1L ELSE 0L END) AS c_train,
          SUM(CASE WHEN is_train THEN 0L ELSE 1L END) AS c_eval
        FROM bi GROUP BY w1, w2
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c_train DESC, w2) AS rk
        FROM counts WHERE c_train > 0
      ), model AS (SELECT w1, w2 AS pred, c_train AS conf FROM ranked WHERE rk = 1
      ), agg AS (
        SELECT /*+ BROADCAST(model) */ CAST(2 * (length(bin(conf)) - 1) +
            (CASE WHEN conf * 2 >= 3 * shiftleft(1, length(bin(conf)) - 1)
             THEN 1 ELSE 0 END) AS BIGINT) AS conf_bucket,
          SUM(c_eval) AS n_eval,
          SUM(CASE WHEN w2 = pred THEN c_eval ELSE 0L END) AS n_hits
        FROM (SELECT * FROM counts WHERE c_eval > 0) JOIN model USING (w1)
        GROUP BY conf_bucket
      ), acc AS (SELECT *, n_hits * 1000 div n_eval AS acc_permille FROM agg)
      SELECT conf_bucket, n_eval, n_hits, acc_permille
      FROM acc ORDER BY conf_bucket""",

    // Johnson–Lindenstrauss distortion deciles for a 64→16 sign
    // projection (all higher-order function folds)
    "q131_jl_distortion_audit" -> {
      def sgn(j: Int) =
        s"transform(sequence(1, size(embedding)), d -> " +
          s"CAST(CASE WHEN (d * 31 + $j * 131) % 97 % 2 = 0 THEN 1.0 ELSE -1.0 END AS DOUBLE))"
      val projCols = (1 to 16).map(j =>
        s"aggregate(zip_with(embedding, ${sgn(j)}, (x, g) -> CAST(x AS DOUBLE) * g), " +
          s"CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS y$j").mkString(",\n          ")
      def side(s: String) = (1 to 16).map(j => s"y$j AS y$s$j").mkString(", ")
      val d16 = (1 to 16).map(j => s"(ya$j - yb$j) * (ya$j - yb$j)").mkString(" + ")
      s"""WITH proj AS (
        SELECT vec_id, embedding,
          $projCols
        FROM embeddings_spread
      ), a AS (SELECT vec_id AS id_a, embedding AS ea, ${side("a")} FROM proj
      ), b AS (SELECT vec_id AS id_b, embedding AS eb, ${side("b")} FROM proj
      ), d64 AS (
        SELECT *, aggregate(zip_with(ea, eb, (x, y) ->
            (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
            CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d64
        FROM a JOIN b ON id_b = id_a + 97
      ), d16 AS (SELECT *, $d16 AS d16 FROM d64
      ), ratio AS (SELECT *, (d16 / 16.0D) / d64 AS ratio FROM d16 WHERE d64 > 0
      ), binned AS (SELECT *, least(CAST(floor(ratio * 10) AS BIGINT), 30L) AS decile FROM ratio)
      SELECT decile, COUNT(1) AS n_pairs FROM binned GROUP BY decile ORDER BY decile"""
    },

    // RAG chunk extraction: 64-token windows at stride 48 with
    // per-chunk content digests
    "q89_rag_chunks" ->
      s"""WITH tk AS (
        SELECT doc_id, text, split(trim(lower(text)), ${sq("\\s+")}) AS tk FROM documents
      ), base AS (
        SELECT *, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(tk) AS BIGINT) END AS n_words
        FROM tk
      ), nc AS (
        SELECT *, CAST(1 + (greatest(n_words - 64, 0) + 47) div 48 AS INT) AS nc
        FROM base WHERE n_words > 0
      ), c AS (SELECT *, explode(sequence(0, nc - 1)) AS chunk_idx FROM nc)
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
        least(n_words - chunk_idx * 48, 64L) AS n_tok,
        md5(CAST(concat_ws(' ', slice(tk, chunk_idx * 48 + 1, 64)) AS BINARY)) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx""",

    // int8 symmetric quantization recall: quantized top-5 vs the
    // exact-decimal truth, integer dot products
    "q68_int8_quant_recall" ->
      s"""WITH en AS (
        SELECT vec_id, embedding,
          aggregate(embedding, CAST(0 AS DOUBLE),
            (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))) AS mx,
          dec_dot8(embedding, embedding) AS n2
        FROM embeddings
      ), qz AS (
        SELECT vec_id, embedding, n2,
          CASE WHEN mx > CAST(0 AS DOUBLE)
               THEN transform(embedding, x ->
                      CAST(floor(CAST(x AS DOUBLE) * CAST(127 AS DOUBLE) / mx + CAST(0.5 AS DOUBLE)) AS BIGINT))
               ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        FROM en
      ), qn AS (
        SELECT vec_id, embedding, n2, qv,
          aggregate(transform(qv, v -> v * v), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS qn2
        FROM qz
      ), ranked AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            (CASE WHEN q.n2 > 0 AND c.n2 > 0
              THEN dec_dot8(q.embedding, c.embedding) / (sqrt(q.n2) * sqrt(c.n2)) END) DESC,
            c.vec_id) AS re,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            (CASE WHEN q.qn2 > 0 AND c.qn2 > 0
              THEN CAST(aggregate(zip_with(q.qv, c.qv, (x, y) -> x * y), CAST(0 AS BIGINT),
                     (acc, v) -> acc + v) AS DOUBLE)
                   / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(c.qn2 AS DOUBLE))) END) DESC,
            c.vec_id) AS rq
        FROM qn q JOIN qn c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 8
      ), kept AS (
        SELECT * FROM ranked WHERE re <= 5 OR rq <= 5
      ), ov AS (
        SELECT e.q_id, COUNT(*) AS n_overlap5
        FROM (SELECT q_id, c_id FROM kept WHERE re <= 5) e
        JOIN (SELECT q_id, c_id FROM kept WHERE rq <= 5) f
          ON f.q_id = e.q_id AND f.c_id = e.c_id
        GROUP BY e.q_id
      ), e1 AS (
        SELECT q_id, c_id AS exact_top1 FROM kept WHERE re = 1
      ), q1 AS (
        SELECT q_id, c_id AS int8_top1 FROM kept WHERE rq = 1
      )
      SELECT e1.q_id, e1.exact_top1, q1.int8_top1,
        CAST(e1.exact_top1 = q1.int8_top1 AS INT) AS top1_match,
        ov.n_overlap5,
        CAST(ov.n_overlap5 AS DOUBLE) / 5 AS recall5
      FROM e1 JOIN q1 ON q1.q_id = e1.q_id JOIN ov ON ov.q_id = e1.q_id
      ORDER BY e1.q_id""",

    // hybrid retrieval with reciprocal-rank fusion: BM25 lexical leg ∪
    // exact-cosine dense leg, fused at integer fixed-point
    "q174_hybrid_rrf_fusion" ->
      s"""WITH $bm25SparkCteSql, lexr AS (
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, lex_rnk FROM (
          SELECT query_id, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rnk
          FROM byq)
        WHERE lex_rnk <= 50
      ), en AS (
        SELECT vec_id, embedding, dec_dot8(embedding, embedding) AS n2 FROM embeddings
      ), dp AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id, q.n2 AS qn2, c.n2 AS cn2,
          dec_dot8(q.embedding, c.embedding) AS dot
        FROM en q JOIN en c ON c.vec_id != q.vec_id
        WHERE q.vec_id BETWEEN 1 AND 3
      ), dsc AS (
        SELECT query_id, doc_id,
          CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
        FROM dp
      ), dense AS (
        SELECT query_id, doc_id, dense_rnk FROM (
          SELECT query_id, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS dense_rnk
          FROM dsc)
        WHERE dense_rnk <= 50
      ), fused AS (
        SELECT COALESCE(l.query_id, d.query_id) AS query_id,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rnk, d.dense_rnk,
               COALESCE(1000000 div (60 + l.lex_rnk), 0L) +
                 COALESCE(1000000 div (60 + d.dense_rnk), 0L) AS rrf_scaled
        FROM lexr l FULL OUTER JOIN dense d
          ON d.query_id = l.query_id AND d.doc_id = l.doc_id
      ), rr AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS rnk
        FROM fused
      )
      SELECT query_id, rnk, doc_id, rrf_scaled, lex_rnk, dense_rnk
      FROM rr WHERE rnk <= 10 ORDER BY query_id, rnk""",

    // 3-round PageRank over the dedup graph (unrolled; damping 0.85 at
    // integer fixed-point)
    "q114_dedup_pagerank" -> {
      def round(r: Int) =
        s"""r$r AS (
        SELECT e.dst AS id,
          150000 + (850 * SUM(r.rank div d.outdeg)) div 1000 AS rank
        FROM esym e JOIN deg d ON d.src = e.src JOIN r${r - 1} r ON r.id = e.src
        GROUP BY e.dst
      )"""
      s"""WITH esym AS (
        SELECT id_a AS src, id_b AS dst FROM dedup_edges
        UNION ALL SELECT id_b, id_a FROM dedup_edges
      ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM esym GROUP BY src
      ), r0 AS (
        SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg
      ), ${round(1)}, ${round(2)}, ${round(3)}
      SELECT r3.id AS doc_id, c.group_id, d.outdeg, r3.rank AS rank_e6
      FROM r3 JOIN deg d ON d.src = r3.id
      JOIN dedup_components c ON c.doc_id = r3.id
      ORDER BY doc_id"""
    },

    // tf-idf top terms: integer-scaled idf keeps the score exact
    "q61_tfidf_topterms" ->
      s"""WITH t AS (
        SELECT doc_id, explode(split(trim(lower(text)), ${sq("\\s+")})) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term != '' GROUP BY doc_id, term
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
      ), sc AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          (n.n_docs * 1000000) div df.df AS idf_scaled,
          tf.tf * ((n.n_docs * 1000000) div df.df) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
      ), r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk
        FROM sc
      )
      SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3
      ORDER BY doc_id, rk""",

    // SimHash banded near-dup (Manku WWW'07): 4×8-bit bands from the
    // shingle_agg kernel fingerprint, popcount-verified at Hamming ≤ 3
    "q67_simhash_neardup" ->
      s"""WITH sig AS (
        SELECT doc_id, shingle_agg(text, 8).simhash AS simhash FROM documents
      ), side AS (
        SELECT doc_id, simhash, band, code
        FROM sig LATERAL VIEW posexplode(
          transform(sequence(0, 3), b -> shiftright(simhash, b * 8) & 255)) t AS band, code
      ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b, COUNT(*) AS n_bands_shared
        FROM side a JOIN side b
          ON a.band = b.band AND a.code = b.code AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash
      )
      SELECT doc_a, doc_b, n_bands_shared,
        CAST(bit_count(sh_a ^ sh_b) AS BIGINT) AS hamming
      FROM cand WHERE CAST(bit_count(sh_a ^ sh_b) AS BIGINT) <= 3
      ORDER BY doc_a, doc_b""",

    // ExactSubstr-style shared-window fractions: 8-gram 48-bit hashes,
    // document frequency ≥ 2 marks a window as corpus-duplicated
    "q88_dup_substrings" ->
      s"""WITH base AS (
        SELECT doc_id, split(trim(lower(text)), ${sq("\\s+")}) AS tk,
          CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_words
        FROM documents
      ), g AS (
        SELECT doc_id,
          CASE WHEN n_words >= 8
               THEN transform(sequence(0, size(tk) - 8), i -> concat_ws(' ',
                 element_at(tk, i + 1), element_at(tk, i + 2), element_at(tk, i + 3),
                 element_at(tk, i + 4), element_at(tk, i + 5), element_at(tk, i + 6),
                 element_at(tk, i + 7), element_at(tk, i + 8)))
               ELSE CAST(array() AS ARRAY<STRING>) END AS grams
        FROM base
      ), hs AS (
        SELECT doc_id, CAST(size(grams) AS BIGINT) AS n_windows,
          array_distinct(transform(grams, g2 ->
            CAST(conv(substring(md5(CAST(g2 AS BINARY)), 1, 12), 16, 10) AS BIGINT))) AS hv
        FROM g
      ), e AS (
        SELECT doc_id, explode(hv) AS h FROM hs
      ), dfq AS (
        SELECT h, COUNT(*) AS df FROM e GROUP BY h
      ), sh AS (
        SELECT e.doc_id, COUNT(*) AS n_shared
        FROM e JOIN dfq USING (h) WHERE dfq.df >= 2 GROUP BY e.doc_id
      )
      SELECT b.doc_id, b.n_windows, CAST(size(b.hv) AS BIGINT) AS n_distinct,
        COALESCE(s.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        CASE WHEN size(b.hv) > 0
             THEN CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / size(b.hv) END AS shared_frac
      FROM hs b LEFT JOIN sh s USING (doc_id) ORDER BY doc_id""",

    // RAKE keyword extraction: stopword-delimited phrases, integer
    // degree/frequency word scores, phrase score = Σ word scores
    "q140_rake_keywords" ->
      s"""WITH toks0 AS (
        SELECT doc_id, pos, tok, tok IN ('the', 'and', 'of') AS is_stop
        FROM documents
        LATERAL VIEW posexplode(split(trim(lower(text)), ${sq("\\s+")})) t AS pos, tok
        WHERE tok != ''
      ), words AS (
        SELECT doc_id, pos, tok, is_stop,
          SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM toks0
      ), nws AS (
        SELECT doc_id, pos, tok, phrase_id FROM words WHERE NOT is_stop
      ), phrases AS (
        SELECT doc_id, phrase_id,
          concat_ws(' ', transform(array_sort(collect_list(named_struct('pos', pos, 'tok', tok))),
            x -> x.tok)) AS phrase,
          COUNT(*) AS plen
        FROM nws GROUP BY doc_id, phrase_id
      ), wordstats AS (
        SELECT n.tok, COUNT(*) AS freq, SUM(p.plen) AS deg
        FROM nws n JOIN phrases p USING (doc_id, phrase_id)
        GROUP BY n.tok
      ), pscore AS (
        SELECT n.doc_id, n.phrase_id, SUM(ws.deg * 1000 div ws.freq) AS pscore
        FROM nws n JOIN wordstats ws ON ws.tok = n.tok
        GROUP BY n.doc_id, n.phrase_id
      )
      SELECT p.phrase, COUNT(*) AS n_occ, MAX(s.pscore) AS score
      FROM phrases p JOIN pscore s USING (doc_id, phrase_id)
      GROUP BY p.phrase
      ORDER BY score DESC, phrase LIMIT 20""",

    // exact weighted quantiles: per-group cumulative weight window +
    // ceil-target rank pick (no per-group value buffering)
    "q171_weighted_quantiles" ->
      s"""WITH base AS (
        SELECT l_returnflag AS g, l_extendedprice AS v,
          CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
        FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      ), tot AS (
        SELECT g, SUM(w) AS total_w FROM base GROUP BY g
      ), pms AS (
        SELECT explode(array(500L, 900L, 990L)) AS pm
      ), tgt AS (
        SELECT g, pm, (pm * total_w + 999) div 1000 AS target_w, total_w
        FROM tot CROSS JOIN pms
      ), cw AS (
        SELECT g, v, SUM(w) OVER (PARTITION BY g ORDER BY v) AS cum FROM base
      ), j AS (
        SELECT t.g, t.pm, t.target_w, t.total_w,
          MIN(CASE WHEN c.cum >= t.target_w THEN c.v END) AS wq
        FROM tgt t JOIN cw c ON c.g = t.g
        GROUP BY t.g, t.pm, t.target_w, t.total_w
      )
      SELECT g AS l_returnflag, pm,
        CASE WHEN total_w > 0 THEN wq END AS wq, target_w, total_w
      FROM j ORDER BY l_returnflag, pm""",

    // dup-graph triangle census over the memoized dedup_edges view:
    // degree-ordered edge orientation (no high-degree wedge blowup),
    // per-group transitivity at integer permille
    "q177_dup_graph_triangles" ->
      s"""WITH esym AS (
        SELECT id_a AS u, id_b AS v FROM dedup_edges
        UNION ALL SELECT id_b, id_a FROM dedup_edges
      ), deg AS (
        SELECT u AS id, COUNT(*) AS deg FROM esym GROUP BY u
      ), ok AS (
        SELECT id, deg * 100000000 + id AS okey FROM deg
      ), o AS (
        SELECT CASE WHEN a.okey < b.okey THEN v.id_a ELSE v.id_b END AS src,
               CASE WHEN a.okey < b.okey THEN v.id_b ELSE v.id_a END AS dst,
               greatest(a.okey, b.okey) AS kd
        FROM dedup_edges v JOIN ok a ON a.id = v.id_a JOIN ok b ON b.id = v.id_b
      ), trig AS (
        SELECT c.group_id AS g, COUNT(*) AS n_triangles
        FROM o x JOIN o y ON x.src = y.src AND x.kd < y.kd
        JOIN o z ON z.src = x.dst AND z.dst = y.dst
        JOIN dedup_components c ON c.doc_id = x.dst
        GROUP BY c.group_id
      ), wed AS (
        SELECT c.group_id AS g, SUM(d.deg * (d.deg - 1) div 2) AS n_wedges
        FROM deg d JOIN dedup_components c ON c.doc_id = d.id GROUP BY c.group_id
      ), nodes AS (
        SELECT group_id AS g, COUNT(*) AS n_nodes
        FROM dedup_components GROUP BY group_id HAVING COUNT(*) >= 2
      ), ec AS (
        SELECT c.group_id AS g, COUNT(*) AS n_edges
        FROM dedup_edges v JOIN dedup_components c ON c.doc_id = v.id_a
        GROUP BY c.group_id
      )
      SELECT n.g AS group_id, n.n_nodes, e.n_edges,
        COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
        COALESCE(w.n_wedges, CAST(0 AS BIGINT)) AS n_wedges,
        CASE WHEN COALESCE(w.n_wedges, CAST(0 AS BIGINT)) > 0
             THEN 3000 * COALESCE(t.n_triangles, CAST(0 AS BIGINT)) div w.n_wedges
        END AS transitivity_permille
      FROM nodes n JOIN ec e ON e.g = n.g
      LEFT JOIN trig t ON t.g = n.g LEFT JOIN wed w ON w.g = n.g
      ORDER BY group_id""",

    // incremental (batch-vs-corpus) near-dedup: ASYMMETRIC band join —
    // only (new, base) pairs ever form, never corpus×corpus
    "q64_incremental_dedup" -> {
      def band(k: Int): String = {
        val parts = (1 to 4).map(j => s"element_at(sig, ${4 * k + j})").mkString(", ")
        s"md5(CAST(concat($parts) AS BINARY))"
      }
      s"""WITH sig AS (
        SELECT doc_id, text, posexplode(array(
          ${(0 to 3).map(band).mkString(",\n          ")})) AS (band_idx, bh)
        FROM (SELECT *, minhash_spans(text, 8, 4) AS sig FROM documents_spread)
      ), base AS (
        SELECT doc_id AS base_id, text AS base_text, band_idx, bh FROM sig WHERE doc_id % 5 < 4
      ), fresh AS (
        SELECT doc_id AS new_id, text AS new_text, band_idx, bh FROM sig WHERE doc_id % 5 = 4
      ), pairs AS (
        SELECT DISTINCT new_id, new_text, base_id, base_text
        FROM fresh JOIN base USING (band_idx, bh)
      ), ov AS (SELECT *, shingle_overlap(new_text, base_text, 8) AS ov FROM pairs
      ), j AS (
        SELECT *, CASE WHEN ov.n_union > 0 THEN CAST(ov.n_inter AS DOUBLE) / ov.n_union END AS jaccard
        FROM ov
      )
      SELECT new_id, MIN(base_id) AS matched_base_id,
        MAX(jaccard) AS best_jaccard, COUNT(1) AS n_base_matches
      FROM j WHERE jaccard >= 0.8D GROUP BY new_id ORDER BY new_id"""
    },

    // benchmark decontamination: distinct word 5-grams shared with the
    // (tiny, broadcastable) test split flag train documents
    "q66_benchmark_decontam" -> {
      val grams = (0 until 5).map(k => s"element_at(tk, i + $k + 1)").mkString(", ")
      s"""WITH sp AS (
        SELECT *,
          CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
               WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split
        FROM documents
      ), tk AS (SELECT *, split(trim(lower(text)), ${sq("\\s+")}) AS tk FROM sp
      ), nw AS (SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE size(tk) END AS nw FROM tk
      ), g AS (
        SELECT *,
          CASE WHEN nw >= 5
               THEN array_distinct(transform(sequence(0, nw - 5), i -> concat_ws(' ', $grams)))
               ELSE CAST(array() AS ARRAY<STRING>) END AS grams
        FROM nw
      ), base AS (SELECT doc_id, split, grams FROM g
      ), bench AS (
        SELECT *, 1L AS hit FROM (
          SELECT DISTINCT gram FROM (SELECT explode(grams) AS gram FROM base WHERE split = 'test'))
      ), tr AS (
        SELECT doc_id, CAST(size(grams) AS BIGINT) AS n_grams, explode_outer(grams) AS gram
        FROM base WHERE split = 'train'
      ), c AS (
        SELECT /*+ BROADCAST(bench) */ doc_id, n_grams,
          SUM(COALESCE(hit, 0L)) AS n_contaminated
        FROM tr LEFT JOIN bench USING (gram)
        GROUP BY doc_id, n_grams
      )
      SELECT doc_id, n_grams, n_contaminated,
        CASE WHEN n_grams > 0
             THEN CAST(n_contaminated AS DOUBLE) / n_grams END AS contamination_frac,
        CAST(n_contaminated > 0 AS INT) AS contaminated
      FROM c ORDER BY doc_id"""
    },

    // winnowing fingerprints (min of each 4-window of rolling hashes),
    // stop-fingerprint guard (df ≤ 50), pairwise containment
    "q108_winnowing_overlap" ->
      s"""WITH f AS (
        SELECT doc_id,
          array_distinct(transform(
            sequence(1, greatest(size(wins) - 3, 1)),
            j -> array_min(slice(wins, j, 4)))) AS fps
        FROM (SELECT doc_id, rolling_hash(text, 8, 131, 1000000007).wins AS wins
              FROM documents)
      ), e AS (
        SELECT doc_id, CAST(size(fps) AS BIGINT) AS n_fp, fp
        FROM f LATERAL VIEW explode(fps) t AS fp
      ), kept AS (
        SELECT doc_id, n_fp, fp FROM (
          SELECT doc_id, n_fp, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM e
        ) WHERE df <= 50
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared,
        a.n_fp AS fp_a, b.n_fp AS fp_b,
        COUNT(*) * 1000 div least(a.n_fp, b.n_fp) AS containment_permille
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_fp, b.n_fp
      HAVING COUNT(*) >= 5
      ORDER BY n_shared DESC, doc_a, doc_b""",

    // benchmark-contamination SPANS: gaps-and-islands over bench-hit
    // 8-gram positions via the char_grams kernel
    "q113_contamination_spans" ->
      s"""WITH grams AS (
        SELECT doc_id,
          CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
               WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split,
          n_chars, char_grams(text, 8) AS ws
        FROM documents WHERE length(text) >= 8
      ), base AS (
        SELECT doc_id, split, n_chars, CAST(idx + 1 AS BIGINT) AS pos, g
        FROM grams LATERAL VIEW posexplode(ws) t AS idx, g
      ), bench AS (
        SELECT DISTINCT g FROM base WHERE split = 'test'
      ), hits AS (
        SELECT b.doc_id, b.n_chars, b.pos
        FROM (SELECT * FROM base WHERE split = 'train') b
        LEFT SEMI JOIN bench t ON t.g = b.g
      ), isl AS (
        SELECT doc_id, n_chars, pos,
          CASE WHEN MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1L ELSE 0L END AS new_span
        FROM hits
      ), sp AS (
        SELECT doc_id, n_chars,
          SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id,
          pos
        FROM isl
      ), spans AS (
        SELECT doc_id, n_chars, span_id,
          MIN(pos) AS sp_start, MAX(pos + 8) AS sp_end, COUNT(*) AS hits
        FROM sp GROUP BY doc_id, n_chars, span_id
      )
      SELECT doc_id, SUM(hits) AS n_hits, COUNT(*) AS n_spans,
        SUM(sp_end - sp_start) AS covered_chars,
        SUM(sp_end - sp_start) * 1000 div n_chars AS coverage_permille
      FROM spans GROUP BY doc_id, n_chars ORDER BY doc_id""",

    // record linkage: synthetic dirty titles (one char dropped at a
    // hash position), 2-leg alphabet blocking, jaro_winkler verify
    "q169_record_linkage" ->
      s"""WITH base AS (
        SELECT doc_id, array_join(slice(split(trim(text), ' '), 1, 6), ' ') AS title
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      ), clean AS (
        SELECT doc_id AS c_key, title FROM base WHERE length(title) >= 8
      ), dirty AS (
        SELECT doc_id AS d_key,
          concat(substring(title, 1, pos - 1),
                 substring(title, pos + 1, length(title))) AS dtitle
        FROM (
          SELECT doc_id, title,
            CAST(1 + (CAST(conv(substr(md5(CAST(concat('rl#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT)
              % length(title)) AS INT) AS pos
          FROM base WHERE length(title) >= 8 AND doc_id % 4 = 1)
      ), cand AS (
        SELECT DISTINCT d_key, c_key, jw FROM (
          SELECT d.d_key, c.c_key, jaro_winkler(c.title, d.dtitle) AS jw
          FROM dirty d JOIN clean c
            ON substring(d.dtitle, 1, 3) = substring(c.title, 1, 3)
          UNION ALL
          SELECT d.d_key, c.c_key, jaro_winkler(c.title, d.dtitle)
          FROM dirty d JOIN clean c ON right(d.dtitle, 3) = right(c.title, 3)
        )
      ), ranked AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY jw DESC, c_key) AS rn,
          COUNT(*) OVER (PARTITION BY d_key) AS n_cand
        FROM cand
      )
      SELECT d_key, c_key AS match_key, jw AS best_jw, n_cand,
        CAST(c_key = d_key AS INT) AS self_match,
        CAST(jw >= 0.88D AS INT) AS strong
      FROM ranked WHERE rn = 1 ORDER BY d_key""",

    // Jaccard-vs-edit-distance dedup agreement cells (lev_bytes kernel
    // beside the shingle overlap, same cand chain)
    "q122_edit_verified_dedup" ->
      s"""WITH $candChainSql, sc0 AS (
        SELECT c.id_a, c.id_b,
          shingle_overlap(da.text, db.text, 8) AS ov,
          CAST(lev_bytes(da.text, db.text) AS BIGINT) AS lev,
          CAST(greatest(length(CAST(da.text AS BINARY)),
                        length(CAST(db.text AS BINARY))) AS BIGINT) AS mb
        FROM cand c
        JOIN documents da ON da.doc_id = c.id_a
        JOIN documents db ON db.doc_id = c.id_b
      ), cells AS (
        SELECT id_a, id_b, ov.n_inter AS n_inter, ov.n_union AS n_union,
          1000 - lev * 1000 div greatest(mb, 1) AS edit_sim,
          CASE WHEN ov.n_inter * 10 >= ov.n_union * 8 THEN 1 ELSE 0 END AS jacc_dup,
          CASE WHEN 1000 - lev * 1000 div greatest(mb, 1) >= 900 THEN 1 ELSE 0 END AS edit_dup
        FROM sc0 WHERE ov.n_union > 0
      )
      SELECT jacc_dup, edit_dup, COUNT(*) AS n_pairs,
        SUM(n_inter * 1000 div n_union) div COUNT(1) AS mean_jacc_permille,
        SUM(edit_sim) div COUNT(1) AS mean_edit_permille,
        MIN(edit_sim) AS min_edit_permille,
        MAX(edit_sim) AS max_edit_permille
      FROM cells GROUP BY jacc_dup, edit_dup
      ORDER BY jacc_dup, edit_dup""",

    // dup-group topology: density + 3-hop eccentricity from the keeper
    // (the bounded BFS unrolled as three joined rounds)
    "q126_dedup_topology" ->
      s"""WITH esym AS (
        SELECT id_a AS src, id_b AS dst FROM dedup_edges
        UNION ALL SELECT id_b, id_a FROM dedup_edges
      ), r0 AS (
        SELECT group_id AS g, group_id AS id, 0 AS dist
        FROM (SELECT DISTINCT group_id FROM dedup_components)
      ), r1 AS (
        SELECT r.g, e.dst AS id, 1 AS dist FROM r0 r JOIN esym e ON e.src = r.id
      ), r2 AS (
        SELECT r.g, e.dst AS id, 2 AS dist FROM r1 r JOIN esym e ON e.src = r.id
      ), r3 AS (
        SELECT r.g, e.dst AS id, 3 AS dist FROM r2 r JOIN esym e ON e.src = r.id
      ), md AS (
        SELECT g, id, MIN(dist) AS dist FROM (
          SELECT * FROM r0 UNION ALL SELECT * FROM r1
          UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        ) GROUP BY g, id
      ), nodes AS (
        SELECT group_id AS g, COUNT(*) AS n_nodes
        FROM dedup_components GROUP BY group_id HAVING COUNT(*) >= 2
      ), ec AS (
        SELECT c.group_id AS g, COUNT(*) AS n_edges
        FROM dedup_edges v JOIN dedup_components c ON c.doc_id = v.id_a
        GROUP BY c.group_id
      ), ecc AS (
        SELECT c.group_id AS g,
          CAST(MAX(COALESCE(m.dist, 4)) AS BIGINT) AS ecc3
        FROM dedup_components c
        LEFT JOIN md m ON m.g = c.group_id AND m.id = c.doc_id
        GROUP BY c.group_id
      )
      SELECT n.g AS group_id, n.n_nodes, e.n_edges,
        e.n_edges * 2000 div (n.n_nodes * (n.n_nodes - 1)) AS density_permille,
        x.ecc3
      FROM nodes n JOIN ec e ON e.g = n.g JOIN ecc x ON x.g = n.g
      ORDER BY group_id""",

    // record linkage, sorted-neighborhood twin: rank by title AND by
    // reversed title (multi-pass SNM), rank-distance < 12 candidates
    "q173_record_linkage_snm" ->
      s"""WITH base AS (
        SELECT doc_id, array_join(slice(split(trim(text), ' '), 1, 6), ' ') AS title
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      ), clean AS (
        SELECT doc_id, title FROM base WHERE length(title) >= 8
      ), dirty AS (
        SELECT doc_id AS d_key,
          concat(substring(title, 1, pos - 1),
                 substring(title, pos + 1, length(title))) AS dtitle
        FROM (
          SELECT doc_id, title,
            CAST(1 + (CAST(conv(substr(md5(CAST(concat('rl#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT)
              % length(title)) AS INT) AS pos
          FROM base WHERE length(title) >= 8 AND doc_id % 4 = 1)
      ), stream AS (
        SELECT doc_id AS id, 0 AS kind, title AS t FROM clean
        UNION ALL
        SELECT d_key AS id, 1 AS kind, dtitle AS t FROM dirty
      ), rk1 AS (
        SELECT id, kind, t,
          ROW_NUMBER() OVER (ORDER BY t, kind, id) - 1 AS rn
        FROM stream
      ), rk2 AS (
        SELECT id, kind, t,
          ROW_NUMBER() OVER (ORDER BY reverse(t), kind, id) - 1 AS rn
        FROM stream
      ), cand0 AS (
        SELECT d.id AS d_key, c.id AS c_key, c.t AS title, d.t AS dtitle
        FROM rk1 d JOIN rk1 c
          ON d.kind = 1 AND c.kind = 0 AND abs(c.rn - d.rn) < 12
        UNION
        SELECT d.id, c.id, c.t, d.t
        FROM rk2 d JOIN rk2 c
          ON d.kind = 1 AND c.kind = 0 AND abs(c.rn - d.rn) < 12
      ), cand AS (
        SELECT DISTINCT d_key, c_key, jaro_winkler(title, dtitle) AS jw FROM cand0
      ), ranked AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY jw DESC, c_key) AS rn,
          COUNT(*) OVER (PARTITION BY d_key) AS n_cand
        FROM cand
      )
      SELECT d_key, c_key AS match_key, jw AS best_jw, n_cand,
        CAST(c_key = d_key AS INT) AS self_match,
        CAST(jw >= 0.88D AS INT) AS strong
      FROM ranked WHERE rn = 1 ORDER BY d_key""",

    // hybrid lexical/semantic near-dup agreement over the LSH candidates
    "q81_hybrid_neardup" ->
      s"""WITH $candChainSql, jm0 AS (
        SELECT c.id_a, c.id_b, shingle_overlap(ta.text, tb.text, 8) AS ov
        FROM cand c
        JOIN documents ta ON ta.doc_id = c.id_a
        JOIN documents tb ON tb.doc_id = c.id_b
      ), jm AS (
        SELECT id_a, id_b,
          CASE WHEN ov.n_union > 0 THEN CAST(ov.n_inter AS DOUBLE) / ov.n_union
               ELSE CAST(0.0 AS DOUBLE) END AS jaccard
        FROM jm0
      ), em AS (
        SELECT vec_id, embedding,
          aggregate(embedding, CAST(0 AS DOUBLE),
            (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        FROM embeddings
      ), wc AS (
        SELECT j.id_a, j.id_b, j.jaccard,
          CASE WHEN ea.n2 > 0 AND eb.n2 > 0 THEN
            aggregate(zip_with(ea.embedding, eb.embedding,
              (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
              CAST(0 AS DOUBLE), (acc, v) -> acc + v)
            / (sqrt(ea.n2) * sqrt(eb.n2)) END AS cos_sim
        FROM jm j
        LEFT JOIN em ea ON ea.vec_id = j.id_a
        LEFT JOIN em eb ON eb.vec_id = j.id_b
      )
      SELECT id_a, id_b, jaccard, cos_sim,
        CAST(jaccard >= 0.8D AS INT) AS lex_dup,
        CASE WHEN cos_sim IS NOT NULL AND cos_sim >= 0.30D THEN 1 ELSE 0 END AS sem_dup,
        CAST(CAST(jaccard >= 0.8D AS INT) =
          (CASE WHEN cos_sim IS NOT NULL AND cos_sim >= 0.30D THEN 1 ELSE 0 END) AS INT) AS agree
      FROM wc ORDER BY id_a, id_b""",

    // hard-negative mining: rarest-5-term BM25 per anchor, near-dup
    // group mates excluded (the dedup_components view)
    "q91_hard_negatives" ->
      s"""WITH base AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN CAST(array() AS ARRAY<STRING>)
               ELSE split(trim(lower(text)), ${sq("\\s+")}) END AS tk
        FROM documents
      ), dld AS (
        SELECT doc_id, tk, CAST(size(tk) AS BIGINT) AS dl FROM base
      ), scal AS (
        SELECT SUM(dl) AS big_d, COUNT(*) AS n_docs FROM dld
      ), dfq AS (
        SELECT term, COUNT(*) AS df FROM (
          SELECT doc_id, explode(array_distinct(tk)) AS term FROM base)
        GROUP BY term
      ), aterm AS (
        SELECT doc_id AS query_id, explode(array_distinct(tk)) AS term
        FROM base WHERE doc_id IN (0, 7, 23)
      ), qt2 AS (
        SELECT query_id, term, df FROM (
          SELECT a.query_id, a.term, d.df,
            ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY d.df, a.term) AS trk
          FROM aterm a JOIN dfq d ON d.term = a.term
        ) WHERE trk <= 5
      ), tok2 AS (
        SELECT doc_id, dl, term
        FROM (SELECT doc_id, dl, explode(tk) AS term FROM dld)
        WHERE term IN (SELECT DISTINCT term FROM qt2)
      ), tf2 AS (
        SELECT term, doc_id, dl, COUNT(*) AS tf FROM tok2 GROUP BY term, doc_id, dl
      ), scored2 AS (
        SELECT q.query_id, f.doc_id,
          ((s.n_docs * 1000000) div q.df) *
            ((44 * f.tf * s.big_d * 1000) div
             (20 * f.tf * s.big_d + 6 * s.big_d + 18 * f.dl * s.n_docs)) AS term_score
        FROM tf2 f JOIN qt2 q ON q.term = f.term CROSS JOIN scal s
      ), byq2 AS (
        SELECT query_id, doc_id, SUM(term_score) AS score, COUNT(*) AS n_terms_hit
        FROM scored2 GROUP BY query_id, doc_id
      ), acomp AS (
        SELECT doc_id AS query_id, group_id AS qcomp
        FROM dedup_components WHERE doc_id IN (0, 7, 23)
      ), r AS (
        SELECT b.query_id, b.doc_id, b.score, b.n_terms_hit,
          CAST(ROW_NUMBER() OVER (PARTITION BY b.query_id
            ORDER BY b.score DESC, b.doc_id) AS BIGINT) AS rnk
        FROM byq2 b
        JOIN acomp a ON a.query_id = b.query_id
        JOIN dedup_components c ON c.doc_id = b.doc_id
        WHERE c.group_id != a.qcomp
      )
      SELECT query_id, rnk, doc_id, score, n_terms_hit
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""",

    // BPE merge-rule training, 3 rounds unrolled (argmax pair via a
    // LIMIT-1 CTE, merge applied through scalar-subquery replace)
    "q163_bpe_merge_train" -> {
      def round(r: Int): String = {
        val in = s"e${r - 1}"
        s"""p$r AS (
        SELECT element_at(s0, i) AS lhs, element_at(s0, i + 1) AS rhs,
          SUM(n) AS pair_n
        FROM (
          SELECT n, s0, i
          FROM (SELECT n, filter(split(enc, ' '), x -> x != '') AS s0 FROM $in)
          LATERAL VIEW explode(sequence(1, size(s0) - 1)) t AS i
          WHERE size(s0) >= 2
        ) GROUP BY element_at(s0, i), element_at(s0, i + 1)
      ), t$r AS (
        SELECT lhs, rhs, pair_n FROM p$r ORDER BY pair_n DESC, lhs, rhs LIMIT 1
      ), e$r AS (
        SELECT i.n, replace(i.enc,
          concat(' ', t.lhs, '  ', t.rhs, ' '),
          concat(' ', t.lhs, t.rhs, ' ')) AS enc
        FROM $in i CROSS JOIN t$r t
      ), a$r AS (
        SELECT SUM(n * size(filter(split(enc, ' '), x -> x != ''))) AS tokens_after
        FROM e$r
      )"""
      }
      s"""WITH w AS (
        SELECT word, COUNT(*) AS n FROM (
          SELECT explode(regexp_extract_all(text, ${sq("\\p{L}+")}, 0)) AS word
          FROM documents
        ) GROUP BY word
      ), e0 AS (
        SELECT n, concat('  ', array_join(transform(sequence(1, length(word)),
          i -> substring(word, i, 1)), '  '), '  </w>  ') AS enc
        FROM w
      ), ${(1 to 3).map(round).mkString(",\n      ")}
      SELECT * FROM (
        ${(1 to 3).map(r =>
          s"SELECT ${r}L AS merge_rank, t.lhs, t.rhs, t.pair_n, a.tokens_after " +
            s"FROM t$r t CROSS JOIN a$r a")
          .mkString("\n        UNION ALL\n        ")}
      ) ORDER BY merge_rank"""
    },

    // exact frequent itemsets (sizes 1-3) at 60% support — the SQL text
    // states the global-count semantics the SON two-phase computes
    "q172_frequent_itemsets" ->
      s"""WITH d AS (
        SELECT doc_id, array_sort(array_distinct(split(trim(lower(text)), ' '))) AS items
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      ), dd AS (
        SELECT * FROM d WHERE size(items) > 0
      ), ms AS (
        SELECT (3 * COUNT(*) + 4) div 5 AS minsup FROM dd
      ), t AS (
        SELECT doc_id, explode(items) AS tok FROM dd
      ), s1 AS (
        SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
      ), p2 AS (
        SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
      ), p3 AS (
        SELECT a.tok AS t1, b.tok AS t2, c3.tok AS t3, COUNT(*) AS c
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        JOIN t c3 ON c3.doc_id = b.doc_id AND b.tok < c3.tok
        GROUP BY a.tok, b.tok, c3.tok
      )
      SELECT k, itemset, support FROM (
        SELECT 1L AS k, tok AS itemset, c AS support
        FROM s1 CROSS JOIN ms WHERE c >= minsup
        UNION ALL
        SELECT 2L, concat(t1, ',', t2), c FROM p2 CROSS JOIN ms WHERE c >= minsup
        UNION ALL
        SELECT 3L, concat(t1, ',', t2, ',', t3), c FROM p3 CROSS JOIN ms WHERE c >= minsup
      ) ORDER BY k, itemset""",

    // MinHash calibration: per-candidate signature-agreement estimate
    // beside the TRUE shingle Jaccard (same cand chain as the dedup)
    "q102_minhash_calibration" -> {
      val agree = (0 until 16)
        .map(i => s"CASE WHEN element_at(a.sig, ${i + 1}) = element_at(b.sig, ${i + 1}) THEN 1L ELSE 0L END")
        .mkString(" + ")
      s"""WITH $candChainSql, est AS (
        SELECT c.id_a, c.id_b,
          $agree AS n_agree,
          shingle_overlap(da.text, db.text, 8) AS ov
        FROM cand c
        JOIN sig a ON a.doc_id = c.id_a
        JOIN sig b ON b.doc_id = c.id_b
        JOIN documents da ON da.doc_id = c.id_a
        JOIN documents db ON db.doc_id = c.id_b
      )
      SELECT id_a, id_b, n_agree,
        CAST(n_agree AS DOUBLE) / 16 AS est_sim,
        CAST(ov.n_inter AS DOUBLE) / ov.n_union AS true_sim,
        abs(CAST(n_agree AS DOUBLE) / 16 - CAST(ov.n_inter AS DOUBLE) / ov.n_union) AS abs_err
      FROM est WHERE ov.n_union > 0
      ORDER BY id_a, id_b"""
    },

    // content-defined chunking (FastCDC-style) + sub-document dedup
    // through the rolling_hash kernel
    "q69_cdc_chunk_dedup" ->
      s"""WITH base AS (
        SELECT doc_id, text,
          rolling_hash(text, 8, 131, 1000000007).wins AS wins,
          length(text) AS n
        FROM documents
      ), bd AS (
        SELECT doc_id, text, n,
          concat(filter(transform(filter(sequence(1, size(wins)),
            i -> element_at(wins, i) % 64 = 0), i -> i + 7), p -> p < n), array(n)) AS bounds
        FROM base
      ), ck AS (
        SELECT doc_id, n,
          CASE WHEN n = 0 THEN array() ELSE transform(sequence(1, size(bounds)), j ->
            md5(substring(text,
              CASE WHEN j = 1 THEN 1 ELSE element_at(bounds, j - 1) + 1 END,
              element_at(bounds, j) - CASE WHEN j = 1 THEN 0 ELSE element_at(bounds, j - 1) END)))
          END AS chunks
        FROM bd
      ), ex AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars, ch
        FROM ck LATERAL VIEW OUTER explode(chunks) t AS ch
      ), freq AS (
        SELECT ch, COUNT(DISTINCT doc_id) AS ndocs FROM ex WHERE ch IS NOT NULL GROUP BY ch
      ), agg AS (
        SELECT e.doc_id, e.n_chars,
          COUNT(e.ch) AS n_chunks,
          SUM(CASE WHEN f.ndocs > 1 THEN 1L ELSE 0L END) AS n_shared_chunks
        FROM ex e LEFT JOIN freq f ON f.ch = e.ch
        GROUP BY e.doc_id, e.n_chars
      )
      SELECT doc_id, n_chars, n_chunks, n_shared_chunks,
        CASE WHEN n_chunks > 0 THEN n_chars div n_chunks END AS avg_chunk_len,
        CASE WHEN n_chunks > 0
             THEN CAST(n_shared_chunks AS DOUBLE) / n_chunks END AS shared_frac
      FROM agg ORDER BY doc_id""",

    // 64-bit SimHash banded near-dup (16-bit bands — the fleet-scale
    // geometry the q67 scaladoc names)
    "q71_simhash64_neardup" ->
      s"""WITH sig AS (
        SELECT doc_id, shingle_agg(text, 8).simhash64 AS simhash64 FROM documents
      ), side AS (
        SELECT doc_id, simhash64, band, code
        FROM sig LATERAL VIEW posexplode(
          transform(sequence(0, 3), b -> shiftright(simhash64, b * 16) & 65535)) t AS band, code
      ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash64 AS sh_a, b.simhash64 AS sh_b, COUNT(*) AS n_bands_shared
        FROM side a JOIN side b
          ON a.band = b.band AND a.code = b.code AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.simhash64, b.simhash64
      )
      SELECT doc_a, doc_b, n_bands_shared,
        CAST(bit_count(sh_a ^ sh_b) AS BIGINT) AS hamming
      FROM cand WHERE CAST(bit_count(sh_a ^ sh_b) AS BIGINT) <= 3
      ORDER BY doc_a, doc_b""",

    // curation funnel: sequential survivor counts through the five
    // keep verdicts (lang → quality → exact → near → train)
    "q70_curation_funnel" ->
      s"""WITH $flagsCteSql, tot AS (
        SELECT COUNT(*) AS n0,
          SUM(k_lang) AS n1,
          SUM(k_lang * k_qual) AS n2,
          SUM(k_lang * k_qual * k_exact) AS n3,
          SUM(k_lang * k_qual * k_exact * k_near) AS n4,
          SUM(k_lang * k_qual * k_exact * k_near * k_train) AS n5
        FROM flags
      )
      SELECT * FROM (
        SELECT 0 AS stage, 'total' AS stage_name, n0 AS n_surviving,
               CAST(0 AS BIGINT) AS n_dropped FROM tot
        UNION ALL SELECT 1, 'lang_match', n1, n0 - n1 FROM tot
        UNION ALL SELECT 2, 'quality', n2, n1 - n2 FROM tot
        UNION ALL SELECT 3, 'exact_dedup', n3, n2 - n3 FROM tot
        UNION ALL SELECT 4, 'near_dedup', n4, n3 - n4 FROM tot
        UNION ALL SELECT 5, 'train_split', n5, n4 - n5 FROM tot
      ) ORDER BY stage""",

    // quality-vs-duplication lift: do the repetition screens and the
    // near-dup sweep agree about which docs are junk?
    "q105_quality_dup_lift" ->
      s"""WITH sz AS (
        SELECT comp, COUNT(*) AS sz FROM dedup_groups GROUP BY comp
      ), dup AS (
        SELECT doc_id, CAST(sz > 1 AND doc_id != comp AS BIGINT) AS is_redundant
        FROM dedup_groups JOIN sz USING (comp)
      ), lift AS (
        SELECT q.quality_pass, COUNT(*) AS n_docs,
          SUM(d.is_redundant) AS n_redundant
        FROM (SELECT doc_id, quality_pass FROM ($repetitionQualitySql)) q
        JOIN dup d USING (doc_id)
        GROUP BY q.quality_pass
      )
      SELECT *, CAST(n_redundant AS DOUBLE) / n_docs AS redundant_rate
      FROM lift ORDER BY quality_pass""",

    // 2^4 filter-overlap contingency table over the four keep verdicts
    "q106_filter_overlap" ->
      s"""WITH $flagsCteSql, cells AS (
        SELECT k_lang, k_qual, k_exact, k_near, COUNT(*) AS n_docs
        FROM flags GROUP BY k_lang, k_qual, k_exact, k_near
      ), tot AS (
        SELECT SUM(n_docs) AS n_total FROM cells
      )
      SELECT c.k_lang, c.k_qual, c.k_exact, c.k_near,
        4L - c.k_lang - c.k_qual - c.k_exact - c.k_near AS n_filters_failed,
        c.n_docs,
        CAST(c.n_docs AS DOUBLE) / t.n_total AS frac
      FROM cells c CROSS JOIN tot t
      ORDER BY c.k_lang, c.k_qual, c.k_exact, c.k_near""",

    // corpus release gate: funnel survivors, per-source top-20 cap,
    // order-sensitive md5-of-md5s release digest
    "q150_release_gate" ->
      s"""WITH $flagsCteSql, surv AS (
        SELECT doc_id FROM flags
        WHERE k_lang * k_qual * k_exact * k_near = 1
      ), ranked AS (
        SELECT d.doc_id, d.source, d.n_chars, md5(CAST(d.text AS BINARY)) AS h,
          ROW_NUMBER() OVER (PARTITION BY d.source
            ORDER BY d.n_chars DESC, d.doc_id) AS rk
        FROM surv s JOIN documents d ON d.doc_id = s.doc_id
      )
      SELECT source,
        COUNT(*) AS n_candidates,
        SUM(CASE WHEN rk <= 20 THEN 1L ELSE 0L END) AS n_released,
        COUNT(*) - SUM(CASE WHEN rk <= 20 THEN 1L ELSE 0L END) AS n_capped,
        SUM(CASE WHEN rk <= 20 THEN n_chars ELSE 0L END) AS released_chars,
        md5(CAST(concat_ws('', transform(array_sort(collect_list(
          CASE WHEN rk <= 20 THEN named_struct('doc_id', doc_id, 'h', h) END)),
          x -> x.h)) AS BINARY)) AS release_md5
      FROM ranked GROUP BY source ORDER BY source""",

    // sorted-neighborhood near-dup: global (lang, n_chars, id) rank,
    // compare only within rank distance < 8 — the bucket trick makes the
    // rank-window pairing an equi-join Catalyst can hash (rank div 8
    // buckets, one side replicated to its predecessor bucket)
    "q153_sorted_neighborhood" ->
      s"""WITH ranked AS (
        SELECT doc_id, array_sort(shingle_hash48(text, 8)) AS sh,
          CAST(ROW_NUMBER() OVER (ORDER BY lang, n_chars, doc_id) - 1 AS BIGINT) AS rn
        FROM documents
      ), a AS (
        SELECT rn div 8 AS bucket, doc_id AS id_a, sh AS sh_a, rn AS rn_a FROM ranked
      ), b AS (
        SELECT bucket, doc_id AS id_b, sh AS sh_b, rn AS rn_b
        FROM ranked LATERAL VIEW explode(array(rn div 8, rn div 8 - 1)) t AS bucket
      ), p AS (
        SELECT a.id_a, b.id_b, b.rn_b - a.rn_a AS rank_dist,
          sorted_inter_count(a.sh_a, b.sh_b) AS n_inter,
          CAST(size(a.sh_a) AS BIGINT) + CAST(size(b.sh_b) AS BIGINT)
            - sorted_inter_count(a.sh_a, b.sh_b) AS n_union
        FROM a JOIN b ON a.bucket = b.bucket
        WHERE b.rn_b > a.rn_a AND b.rn_b - a.rn_a < 8
          AND size(a.sh_a) * 2 >= size(b.sh_b)
          AND size(b.sh_b) * 2 >= size(a.sh_a)
      )
      SELECT id_a, id_b, rank_dist, n_inter, n_union,
        n_inter * 1000 div n_union AS jac_permille
      FROM p WHERE n_union > 0 AND n_inter * 1000 div n_union >= 500
      ORDER BY id_a, id_b""",

    // ExactSubstr duplicated-span extraction — the SQL text states the
    // gram-equality semantics directly (explode 8-grams, count classes,
    // merge islands); the catalog's prefix-doubling ranks are the scale
    // plan for the same relation
    "q157_suffix_dup_spans" ->
      s"""WITH tk AS (
        SELECT doc_id, split(trim(lower(text)), ${sq("\\s+")}) AS tk FROM documents
      ), p AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          concat_ws(' ', slice(tk, i, 8)) AS gram
        FROM (SELECT * FROM tk WHERE size(tk) >= 8)
        LATERAL VIEW explode(sequence(1, size(tk) - 7)) t AS i
      ), c AS (
        SELECT gram, COUNT(*) AS cnt FROM p GROUP BY gram
      ), f AS (
        SELECT p.doc_id, p.pos FROM p JOIN c USING (gram) WHERE c.cnt >= 2
      ), isl AS (
        SELECT doc_id, pos,
          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM f
      )
      SELECT doc_id, MIN(pos) AS tok_start, MAX(pos) + 7 AS tok_end,
        MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens,
        COUNT(*) AS n_dup_grams
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, tok_start""",

    // KMV-sketched cross-source overlap with the exact audit on the
    // same hashed universe
    "q164_kmv_source_overlap" ->
      s"""WITH base AS (
        SELECT source, split(trim(lower(text)), ${sq("\\s+")}) AS tk,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE size(split(trim(lower(text)), ${sq("\\s+")})) END AS nw
        FROM documents
      ), gr AS (
        SELECT DISTINCT source,
          CAST(conv(substr(md5(CAST(gram AS BINARY)), 1, 12), 16, 10) AS BIGINT) AS h
        FROM (
          SELECT source, explode(transform(sequence(0, nw - 3), i -> concat_ws(' ',
            element_at(tk, i + 1), element_at(tk, i + 2), element_at(tk, i + 3)))) AS gram
          FROM base WHERE nw >= 3)
      ), sk AS (
        SELECT source, sort_array(collect_list(h)) AS sk FROM (
          SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM gr
        ) WHERE rk <= 256 GROUP BY source
      ), sz AS (
        SELECT source, COUNT(*) AS n_h FROM gr GROUP BY source
      ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
        FROM gr a JOIN gr b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
      ), pairs AS (
        SELECT sa.source AS source_a, sb.source AS source_b,
          za.n_h AS n_a, zb.n_h AS n_b,
          slice(array_sort(array_union(sa.sk, sb.sk)), 1, 256) AS m,
          sa.sk AS ska, sb.sk AS skb
        FROM sk sa JOIN sk sb ON sa.source < sb.source
        JOIN sz za ON za.source = sa.source
        JOIN sz zb ON zb.source = sb.source
      ), est AS (
        SELECT source_a, source_b, n_a, n_b,
          CAST(size(m) AS BIGINT) AS k_used,
          CAST(size(filter(m, v -> array_contains(ska, v) AND array_contains(skb, v))) AS BIGINT) AS n_common
        FROM pairs
      )
      SELECT e.source_a, e.source_b, n_a, n_b, k_used, n_common,
        CAST(n_common AS DOUBLE) / k_used AS est_jaccard,
        CAST(COALESCE(i.n_inter, CAST(0 AS BIGINT)) AS DOUBLE)
          / (n_a + n_b - COALESCE(i.n_inter, CAST(0 AS BIGINT))) AS exact_jaccard,
        CAST(FLOOR((CAST(n_common AS DOUBLE) / k_used
          - CAST(COALESCE(i.n_inter, CAST(0 AS BIGINT)) AS DOUBLE)
            / (n_a + n_b - COALESCE(i.n_inter, CAST(0 AS BIGINT)))) * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS err_permille
      FROM est e LEFT JOIN inter i
        ON i.source_a = e.source_a AND i.source_b = e.source_b
      ORDER BY source_a, source_b""",

    // train/val/test leakage audit over the near-dup groups (the
    // on-demand dedup_components view supplies the group labels)
    "q73_split_leakage" ->
      s"""WITH fl AS (
        SELECT doc_id,
          CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
               WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
               ELSE 'test' END AS split
        FROM documents
      ), g AS (
        SELECT c.group_id, COUNT(*) AS n_members,
          SUM(CAST(f.split = 'train' AS BIGINT)) AS n_train,
          SUM(CAST(f.split = 'val' AS BIGINT)) AS n_val,
          SUM(CAST(f.split = 'test' AS BIGINT)) AS n_test,
          COUNT(DISTINCT f.split) AS n_splits
        FROM dedup_components c JOIN fl f USING (doc_id)
        GROUP BY c.group_id
      )
      SELECT group_id, n_members, n_train, n_val, n_test,
        CAST(n_splits > 1 AS INT) AS leaked
      FROM g WHERE n_members > 1 ORDER BY group_id""",

    // BM25 top-k: integer fixed-point scoring (k1=1.2 b=0.75 as exact
    // rationals), query-term pruning BEFORE any shuffle
    "q86_bm25_topk" ->
      s"""WITH $bm25SparkCteSql, r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM byq
      )
      SELECT query_id, rnk, doc_id, score, n_terms_hit
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""",

    // tokenizer fertility per language: BPE tokens vs words/chars/bytes
    "q93_tokenizer_fertility" ->
      s"""WITH tk AS (
        SELECT lang,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(size(regexp_extract_all(text, ${sq(graft.text.TextQueries.bpePat)}, 0)) AS BIGINT) AS n_tokens,
          CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_words,
          CAST(octet_length(text) AS BIGINT) AS n_bytes
        FROM documents
      ), g AS (
        SELECT lang, COUNT(*) AS n_docs,
          SUM(n_words) AS sum_words, SUM(n_tokens) AS sum_tokens,
          SUM(n_chars) AS sum_chars, SUM(n_bytes) AS sum_bytes
        FROM tk GROUP BY lang
      )
      SELECT lang, n_docs, sum_words, sum_tokens, sum_chars, sum_bytes,
        CASE WHEN sum_words > 0 THEN CAST(sum_tokens AS DOUBLE) / sum_words END AS fertility,
        CASE WHEN sum_tokens > 0 THEN CAST(sum_chars AS DOUBLE) / sum_tokens END AS chars_per_token,
        CASE WHEN sum_tokens > 0 THEN CAST(sum_bytes AS DOUBLE) / sum_tokens END AS bytes_per_token
      FROM g ORDER BY lang""",

    // PMI collocations at integer fixed-point (log-free on purpose)
    "q97_pmi_collocations" ->
      s"""WITH tk AS (
        SELECT split(trim(lower(text)), ${sq("\\s+")}) AS tk,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE size(split(trim(lower(text)), ${sq("\\s+")})) END AS nw
        FROM documents
      ), bg AS (
        SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c12 FROM (
          SELECT explode(transform(sequence(0, nw - 2), i ->
            named_struct('w1', element_at(tk, i + 1), 'w2', element_at(tk, i + 2)))) AS bg
          FROM tk WHERE nw >= 2)
        GROUP BY bg.w1, bg.w2
      ), m AS (
        SELECT w1, w2, c12,
          SUM(c12) OVER (PARTITION BY w1) AS c1,
          SUM(c12) OVER (PARTITION BY w2) AS c2,
          SUM(c12) OVER () AS n_big
        FROM bg
      )
      SELECT w1, w2, c12, c1, c2,
        (((c12 * n_big) div c1) * 1000000) div c2 AS pmi_scaled
      FROM m WHERE c12 >= 5
      ORDER BY pmi_scaled DESC, w1, w2 LIMIT 50""",

    // truncation-loss curve: 4 candidate context lengths vs token mass
    "q98_truncation_curve" ->
      s"""WITH nt AS (
        SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(size(split(trim(lower(text)), ${sq("\\s+")})) AS BIGINT) END AS n_toks
        FROM documents
      ), x AS (
        SELECT n_toks, explode(array(128L, 256L, 512L, 1024L)) AS ctx FROM nt
      ), agg AS (
        SELECT ctx, COUNT(*) AS n_docs,
          SUM(CASE WHEN n_toks > ctx THEN 1L ELSE 0L END) AS n_truncated,
          SUM(least(n_toks, ctx)) AS toks_kept,
          SUM(greatest(n_toks - ctx, 0L)) AS toks_lost
        FROM x GROUP BY ctx
      )
      SELECT ctx, n_docs, n_truncated, toks_kept, toks_lost,
        CASE WHEN toks_kept + toks_lost > 0
             THEN CAST(toks_lost AS DOUBLE) / (toks_kept + toks_lost) END AS loss_frac
      FROM agg ORDER BY ctx""",

    // count-min-sketch heavy hitters audited against exact counts
    "q109_cms_heavy_hitters" -> {
      def bucket(r: Int): String =
        s"CAST(conv(substr(md5(CAST(concat('$r#', token) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % 256"
      s"""WITH counts AS (
        SELECT token, COUNT(*) AS n_exact FROM (
          SELECT explode(split(trim(lower(text)), ${sq("\\s+")})) AS token
          FROM documents WHERE length(trim(text)) > 0
        ) GROUP BY token
      ), wb AS (
        SELECT token, n_exact,
          ${bucket(0)} AS b0, ${bucket(1)} AS b1,
          ${bucket(2)} AS b2, ${bucket(3)} AS b3
        FROM counts
      ), s0 AS (SELECT b0 AS bkt, SUM(n_exact) AS s0 FROM wb GROUP BY b0),
      s1 AS (SELECT b1 AS bkt, SUM(n_exact) AS s1 FROM wb GROUP BY b1),
      s2 AS (SELECT b2 AS bkt, SUM(n_exact) AS s2 FROM wb GROUP BY b2),
      s3 AS (SELECT b3 AS bkt, SUM(n_exact) AS s3 FROM wb GROUP BY b3),
      top AS (SELECT * FROM wb ORDER BY n_exact DESC, token LIMIT 50),
      est AS (
        SELECT t.token, t.n_exact, least(s0.s0, s1.s1, s2.s2, s3.s3) AS cms_est
        FROM top t JOIN s0 ON s0.bkt = t.b0 JOIN s1 ON s1.bkt = t.b1
                   JOIN s2 ON s2.bkt = t.b2 JOIN s3 ON s3.bkt = t.b3
      )
      SELECT token, n_exact, cms_est, cms_est - n_exact AS overest,
        (cms_est - n_exact) * 1000 div n_exact AS err_permille
      FROM est ORDER BY n_exact DESC, token"""
    },

    // HyperLogLog register audit: 6-bit index / 42-bit suffix rho,
    // integer-harmonic estimate beside the exact distinct count
    "q110_hll_distinct_audit" ->
      s"""WITH sh AS (
        SELECT source, explode(shingle_hash48(text, 8)) AS v FROM documents
      ), regs AS (
        SELECT source, idx, MAX(rho) AS m FROM (
          SELECT source, v % 64 AS idx,
            CASE WHEN v div 64 = 0 THEN 43 ELSE 43 - length(bin(v div 64)) END AS rho
          FROM sh)
        GROUP BY source, idx
      ), hll AS (
        SELECT source, COUNT(1) AS n_regs,
          SUM(shiftleft(CAST(1 AS BIGINT), 43 - m)) AS s_present
        FROM regs GROUP BY source
      ), ex AS (
        SELECT source, COUNT(1) AS n_exact FROM (SELECT DISTINCT * FROM sh) GROUP BY source
      ), j AS (
        SELECT source, n_exact, 64L - n_regs AS n_empty_regs,
          s_present + (64 - n_regs) * 8796093022208 AS s_scaled
        FROM hll JOIN ex USING (source)
      ), est AS (SELECT *, 3193052135805681664 div (125 * s_scaled) AS hll_est FROM j)
      SELECT *, abs(hll_est - n_exact) * 1000 div n_exact AS err_permille
      FROM est ORDER BY source""",

    // Bloom-filter decontamination screen with the exact FP audit
    "q112_bloom_decontam" -> {
      def pos(r: Int): String =
        s"CAST(conv(substr(md5(CAST(concat('$r#', CAST(v AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % 16777216"
      val posArr = s"array(${(0 to 3).map(pos).mkString(", ")})"
      s"""WITH sh AS (
        SELECT doc_id, source, (doc_id * 2654435761) % 1000 < 900 AS is_train,
          explode(shingle_hash48(text, 8)) AS v
        FROM documents
      ), trainv AS (
        SELECT DISTINCT v FROM sh WHERE is_train
      ), bits AS (
        SELECT DISTINCT pos FROM trainv LATERAL VIEW explode($posArr) t AS pos
      ), ev AS (
        SELECT DISTINCT doc_id, source, v FROM sh WHERE NOT is_train
      ), probes AS (
        SELECT doc_id, source, v, pos FROM ev LATERAL VIEW explode($posArr) t AS pos
      ), hits AS (
        SELECT doc_id, v, 1L AS bloom_hit FROM (
          SELECT p.doc_id, p.v, COUNT(*) AS n_pos
          FROM probes p JOIN bits b ON b.pos = p.pos
          GROUP BY p.doc_id, p.v
        ) WHERE n_pos = 4
      ), truth AS (
        SELECT e.doc_id, e.source, e.v, t.true_hit
        FROM ev e LEFT JOIN (SELECT v, 1L AS true_hit FROM trainv) t USING (v)
      )
      SELECT t.source, COUNT(DISTINCT t.doc_id) AS n_eval_docs, COUNT(*) AS n_shingles,
        SUM(COALESCE(h.bloom_hit, 0L)) AS n_bloom_hits,
        SUM(COALESCE(t.true_hit, 0L)) AS n_true_hits,
        SUM(COALESCE(h.bloom_hit, 0L)) - SUM(COALESCE(t.true_hit, 0L)) AS n_false_pos,
        CASE WHEN COUNT(*) > SUM(COALESCE(t.true_hit, 0L))
             THEN (SUM(COALESCE(h.bloom_hit, 0L)) - SUM(COALESCE(t.true_hit, 0L))) * 1000
                  div (COUNT(*) - SUM(COALESCE(t.true_hit, 0L))) END AS fp_permille
      FROM truth t LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.v = t.v
      GROUP BY t.source ORDER BY t.source"""
    },

    // KMV distinct-count sketch beside its exact companion, through the
    // shingle_hash48 + exact_topk kernels
    "q84_kmv_distinct" ->
      s"""WITH hv AS (
        SELECT DISTINCT source, v
        FROM (SELECT source, explode(shingle_hash48(text, 8)) AS v FROM documents)
      ), g AS (
        SELECT source, COUNT(*) AS n_exact,
          exact_topk(CAST(-v AS DOUBLE), 64) AS topneg
        FROM hv GROUP BY source
      ), k AS (
        SELECT source, n_exact,
          CASE WHEN size(topneg) >= 64
               THEN CAST(-element_at(topneg, 64) AS BIGINT) END AS v_k
        FROM g
      ), e AS (
        SELECT source, n_exact, v_k,
          CAST((63 * 281474976710656) div v_k AS BIGINT) AS kmv_est
        FROM k
      )
      SELECT source, n_exact, v_k, kmv_est,
        abs(kmv_est - n_exact) * 1000 div n_exact AS err_permille
      FROM e ORDER BY source""",

    // highest-random-weight (rendezvous) sharding + the 8→9 shard move
    // audit (only 1/9 of keys should move — the HRW guarantee)
    "q103_hrw_sharding" -> {
      def shardExpr(nShards: Int): String =
        s"array_max(transform(sequence(0, ${nShards - 1}), sh -> " +
          "struct(md5(concat(cast(doc_id as string), '#', cast(sh as string))) as h, " +
          "cast(sh as bigint) as sh))).sh"
      s"""WITH a AS (
        SELECT doc_id, n_chars,
          ${shardExpr(8)} AS shard,
          ${shardExpr(9)} AS shard9
        FROM documents
      ), g AS (
        SELECT shard, COUNT(*) AS n_docs,
          SUM(n_chars) AS sum_chars,
          SUM(CASE WHEN shard9 != shard THEN 1L ELSE 0L END) AS n_moved
        FROM a GROUP BY shard
      )
      SELECT *, CAST(n_moved AS DOUBLE) / n_docs AS moved_frac
      FROM g ORDER BY shard"""
    },

    // canonical-doc ranking inside each dup group: degree-desc, id asc
    "q104_canonical_rank" ->
      s"""WITH deg AS (
        SELECT doc_id, COUNT(*) AS degree FROM (
          SELECT id_a AS doc_id FROM dedup_edges
          UNION ALL SELECT id_b AS doc_id FROM dedup_edges
        ) GROUP BY doc_id
      ), g AS (
        SELECT doc_id, comp, COALESCE(degree, 0L) AS degree
        FROM dedup_groups LEFT JOIN deg USING (doc_id)
      ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY comp
            ORDER BY degree DESC, doc_id) AS BIGINT) AS rnk
        FROM g
      ), sized AS (SELECT *, COUNT(1) OVER (PARTITION BY comp) AS sz FROM ranked)
      SELECT comp AS group_id, doc_id, degree, rnk,
        CAST(rnk = 1 AS INT) AS is_canonical,
        CAST(rnk = 1 AND doc_id != comp AS INT) AS min_id_disagrees
      FROM sized WHERE sz > 1 ORDER BY group_id, rnk""",

    // 2-D skyline (longest AND most-distinct documents): running-max
    // window over the distinct point set, join back to docs
    "q135_skyline_docs" ->
      s"""WITH pts AS (
        SELECT doc_id, n_chars AS x, shingle_agg(text, 8).n_distinct AS y FROM documents
      ), dp AS (
        SELECT DISTINCT x, y FROM pts
      ), rm AS (
        SELECT x, y, MAX(y) OVER (ORDER BY x DESC, y DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        FROM dp
      ), sky AS (
        SELECT x, y FROM rm WHERE rmax IS NULL OR rmax < y
      )
      SELECT p.doc_id, p.x, p.y FROM pts p JOIN sky USING (x, y)
      ORDER BY p.doc_id""",

    // k-fold assignment balance audit at integer permille skew
    "q145_kfold_balance" ->
      s"""WITH base AS (
        SELECT doc_id, lang, n_chars, (doc_id * 2654435761) % 1009 % 5 AS fold
        FROM documents
      ), tot AS (
        SELECT COUNT(*) AS n_total, SUM(n_chars) AS chars_total FROM base
      ), fl AS (
        SELECT fold, lang, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
        FROM base GROUP BY fold, lang
      )
      SELECT fold, SUM(n_docs) AS n_docs, SUM(n_chars) AS sum_chars,
        COUNT(*) AS n_langs,
        abs(SUM(n_docs) * 5000 div t.n_total - 1000) AS doc_skew_permille,
        abs(SUM(n_chars) * 5000 div t.chars_total - 1000) AS char_skew_permille
      FROM fl CROSS JOIN tot t
      GROUP BY fold, t.n_total, t.chars_total
      ORDER BY fold""",

    // A/B sample-ratio-mismatch audit: 3σ binomial bound cross-multiplied
    "q151_ab_srm_audit" ->
      s"""WITH ev AS (
        SELECT user_id, value,
          CASE WHEN (user_id * 2654435761) % 1009 % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        FROM events
      ), users AS (
        SELECT variant, COUNT(*) AS n_users
        FROM (SELECT DISTINCT variant, user_id FROM ev) GROUP BY variant
      ), mass AS (
        SELECT variant, COUNT(*) AS n_events,
          SUM(CAST(round(value * 100) AS BIGINT)) AS value_cents
        FROM ev GROUP BY variant
      ), srm AS (
        SELECT CASE WHEN
            (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0L)
              - COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0L))
            * (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0L)
              - COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0L))
            > 9 * (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0L)
              + COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0L))
          THEN 1L ELSE 0L END AS srm_flag
      )
      SELECT u.variant, u.n_users, m.n_events, m.value_cents, s.srm_flag
      FROM users u JOIN mass m USING (variant) CROSS JOIN srm s
      ORDER BY u.variant""",

    // hash-ordered shard manifest with an order-sensitive content digest
    "q155_shard_manifest" ->
      s"""WITH h AS (
        SELECT doc_id, lang, n_chars,
          substr(md5(CAST(concat('shard#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12) AS hh
        FROM documents
      ), r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY hh, doc_id) - 1L AS rn FROM h
      )
      SELECT rn div 64 AS shard,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        COUNT(DISTINCT lang) AS n_langs,
        MIN(rn) AS first_rn, MAX(rn) AS last_rn,
        md5(CAST(concat_ws('', transform(array_sort(collect_list(named_struct('rn', rn, 'hh', hh))),
          x -> x.hh)) AS BINARY)) AS shard_md5
      FROM r GROUP BY rn div 64 ORDER BY shard""",

    // Rabin–Karp fingerprinting through the native rolling_hash kernel.
    "q53_rolling_fingerprint" ->
      s"""SELECT doc_id, rh.doc_fp AS doc_fp,
        CAST(size(rh.wins) AS BIGINT) AS n_windows,
        CAST(size(array_distinct(rh.wins)) AS BIGINT) AS n_distinct_win
      FROM (SELECT *, rolling_hash(text, 8, 131, 1000000007) AS rh
            FROM (SELECT * FROM documents ORDER BY doc_id))""",

    // exact per-group top-k through the native exact_topk typed aggregate
    // (map-side combinable O(k) buffers, SQL-callable).
    "q56_topk_typed_agg" ->
      s"""WITH t AS (
        SELECT o_orderpriority, exact_topk(o_totalprice, 5) AS topk
        FROM orders GROUP BY o_orderpriority
      ), e AS (
        SELECT o_orderpriority, posexplode(topk) AS (pos0, price) FROM t
      )
      SELECT o_orderpriority, CAST(pos0 + 1 AS BIGINT) AS rnk, price
      FROM e ORDER BY o_orderpriority, rnk""",

    // bucketed band range-join (probe joins 3 adjacent 1-hour buckets —
    // an equi-join Catalyst can hash — then the exact band filter)
    "q47_gap_neighbors_rangejoin" ->
      d(s"""WITH bm AS (SELECT sym, seq, ts_us, ${BookSql.mid} AS mid FROM book),
      gaps AS (
        SELECT sym AS g_sym, seq AS g_seq, ts_us AS g_ts
        FROM bm WHERE mid IS NULL
      ), gb AS (
        SELECT *, explode(array(g_ts div 3600000000 - 1, g_ts div 3600000000,
          g_ts div 3600000000 + 1)) AS bkt FROM gaps
      ), cands AS (
        SELECT *, c_ts div 3600000000 AS bkt
        FROM (SELECT sym AS c_sym, seq AS c_seq, ts_us AS c_ts FROM bm)
      )
      SELECT g.g_sym AS sym, g.g_seq, g.g_ts,
        COUNT(c.c_seq) AS n_neighbors,
        MIN(abs(c.c_ts - g.g_ts)) AS min_dt_us
      FROM gb g LEFT JOIN cands c
        ON c.c_sym = g.g_sym AND c.bkt = g.bkt AND c.c_seq != g.g_seq
        AND abs(c.c_ts - g.g_ts) <= 3600000000
      GROUP BY g.g_sym, g.g_seq, g.g_ts
      ORDER BY sym, g.g_seq"""),

    // depth-100 array book metrics: the synth_ladder + deep_book_agg
    // kernels do the whole ladder build and metric fold per row
    "q50_deep_book_array" ->
      s"""WITH bids AS (
        SELECT *, synth_ladder(seq, best_bid, 100, 0) AS bids
        FROM (SELECT * FROM book ORDER BY seq)
      ), asks AS (SELECT *, synth_ladder(seq, best_ask, 100, 1) AS asks FROM bids
      ), m AS (SELECT *, deep_book_agg(bids, asks, CAST(50.0 AS DOUBLE)) AS m FROM asks
      )
      SELECT seq, sym, m.imbalance_k AS imbalance_k,
        m.notional_bid_k AS notional_bid_k, m.notional_ask_k AS notional_ask_k,
        m.slope_bid AS slope_bid, m.slope_ask AS slope_ask,
        m.walk_filled AS walk_filled, m.walk_cost AS walk_cost,
        m.walk_touched AS walk_touched
      FROM m""",

    // perceptual-hash (aHash) banded near-dup over binary payloads —
    // the multimodal near-dup plumbing from plain SQL (payload = the
    // synthetic assets' UTF-8 bytes)
    "q117_binary_ahash_neardup" ->
      s"""WITH hashed AS (
        SELECT doc_id AS asset_id,
          ahash_bands(CAST(coalesce(text, '') AS BINARY)) AS bands
        FROM documents
      ), banded AS (
        SELECT asset_id, bands, band_idx, band_code
        FROM hashed LATERAL VIEW posexplode(bands) t AS band_idx, band_code
      ), cand AS (
        SELECT a.asset_id AS id_a, b.asset_id AS id_b,
               a.bands AS ba, b.bands AS bb, COUNT(*) AS n_bands_equal
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_code = b.band_code
          AND a.asset_id < b.asset_id
        GROUP BY a.asset_id, b.asset_id, a.bands, b.bands
      ), h AS (
        SELECT id_a, id_b, n_bands_equal,
          CAST(aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0,
            (acc, v) -> acc + v) AS BIGINT) AS hamming
        FROM cand
      )
      SELECT id_a, id_b, n_bands_equal, hamming
      FROM h WHERE hamming <= 2 ORDER BY id_a, id_b""",

    // Elias-gamma postings compressibility audit: doc-gap bit costs
    "q118_postings_gamma_audit" ->
      s"""WITH toks AS (
        SELECT DISTINCT doc_id, term FROM (
          SELECT doc_id, explode(split(text, ' ')) AS term FROM documents
        ) WHERE term != ''
      ), gaps AS (
        SELECT term, doc_id,
          COALESCE(doc_id - LAG(doc_id, 1) OVER (PARTITION BY term ORDER BY doc_id),
            doc_id + 1) AS gap
        FROM toks
      ), costed AS (
        SELECT term, COUNT(*) AS df,
          SUM(2L * length(bin(gap)) - 1) AS gamma_bits
        FROM gaps GROUP BY term
      )
      SELECT term, df, gamma_bits, df * 64 AS raw_bits,
        gamma_bits * 1000 div (df * 64) AS ratio_permille
      FROM costed
      ORDER BY df DESC, term LIMIT 20""",

    // columnar-encoding advisor: cardinality, dict width, RLE runs
    "q133_encoding_advisor" -> {
      def per(c: String) = s"""(
        SELECT '$c' AS col_name,
          COUNT(*) AS n_rows,
          (SELECT COUNT(DISTINCT $c) FROM lineitem) AS n_distinct,
          CAST(length(bin(greatest((SELECT COUNT(DISTINCT $c) FROM lineitem) - 1, 1L))) AS BIGINT) AS dict_bits,
          SUM(is_new) AS n_runs
        FROM (
          SELECT CASE WHEN NOT (lag($c, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, $c)
                           <=> $c) THEN 1L ELSE 0L END AS is_new
          FROM lineitem))"""
      s"""WITH stats AS (
        ${Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
          .map(per).mkString("\n        UNION ALL\n        ")}
      )
      SELECT col_name, n_rows, n_distinct, dict_bits, n_runs,
        n_rows * 1000 div n_runs AS avg_run_permille,
        CASE WHEN n_rows * 1000 div n_runs >= 2000 THEN 'rle'
             WHEN dict_bits <= 8 THEN 'dict' ELSE 'plain' END AS advice
      FROM stats ORDER BY col_name"""
    },

    // VPIN order-flow toxicity: tick-rule direction, volume buckets,
    // 5-bucket rolling imbalance at integer permille
    "q181_vpin_toxicity" ->
      d(s"""WITH m AS (
        SELECT *, CAST(COALESCE(bid1_size, 0.0::DOUBLE) + COALESCE(ask1_size, 0.0::DOUBLE) AS BIGINT) AS vol
        FROM (SELECT *, ${BookSql.mid} AS mid FROM book)
        WHERE mid IS NOT NULL
      ), dd AS (
        SELECT *,
          CASE WHEN mid > LAG(mid, 1) OVER $winSql THEN 1
               WHEN mid < LAG(mid, 1) OVER $winSql THEN -1 END AS dir_raw
        FROM m
      ), d2 AS (
        SELECT *, COALESCE(LAST(dir_raw) IGNORE NULLS OVER $runSql, 1) AS dir FROM dd
      ), d3 AS (SELECT *, SUM(vol) OVER $runSql AS cum FROM d2
      ), c AS (SELECT *, (cum - vol) div 256 AS bucket FROM d3
      ), b AS (
        SELECT sym, bucket,
          SUM(CASE WHEN dir = 1 THEN vol ELSE 0L END) AS buy_vol,
          SUM(CASE WHEN dir = -1 THEN vol ELSE 0L END) AS sell_vol
        FROM c GROUP BY sym, bucket
      ), i1 AS (SELECT *, abs(buy_vol - sell_vol) AS imbalance FROM b
      ), i AS (SELECT *, buy_vol + sell_vol AS bucket_vol FROM i1
      ), v1 AS (SELECT *, SUM(imbalance) OVER wv AS win_imb FROM i
        WINDOW wv AS (PARTITION BY sym ORDER BY bucket ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ), v AS (SELECT *, SUM(bucket_vol) OVER wv AS win_vol FROM v1
        WINDOW wv AS (PARTITION BY sym ORDER BY bucket ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      )
      SELECT sym, bucket, buy_vol, sell_vol, imbalance, bucket_vol,
        CASE WHEN win_vol > 0 THEN (1000 * win_imb) div win_vol END AS vpin_permille
      FROM v
      ORDER BY sym, bucket"""),

    "q176_ohlc_bars" ->
      d(s"""WITH m AS (
        SELECT seq, sym, mid, ts_us div 3600000000 AS bar,
          CAST(COALESCE(bid1_size, 0.0::DOUBLE) + COALESCE(ask1_size, 0.0::DOUBLE) AS BIGINT) AS vol
        FROM (SELECT *, ${BookSql.mid} AS mid FROM book)
        WHERE mid IS NOT NULL
      ), agg AS (
        SELECT sym, bar,
          min_by(mid, seq) AS open,
          MAX(mid) AS high,
          MIN(mid) AS low,
          max_by(mid, seq) AS close,
          COUNT(*) AS n_ticks,
          SUM(vol) AS l1_volume,
          CAST(ROUND(SUM(CAST(ROUND(mid * vol, 6) AS DECIMAL(38,6))), 6) AS DOUBLE) AS pv
        FROM m GROUP BY sym, bar
      )
      SELECT sym, bar, open, high, low, close, n_ticks, l1_volume,
        CASE WHEN l1_volume > 0 THEN pv / l1_volume END AS bar_vwap
      FROM agg ORDER BY sym, bar"""),

    // two-pass histogram-pruned exact quantiles: the driver walk of the
    // catalog path is a 256-row CTE here — bin cumsum, rank->bin plan,
    // per-bin window over the pruned bins only (never a global sort)
    "q125_histogram_quantile_audit" ->
      s"""WITH vv AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
      ), mm AS (
        SELECT min(v) AS mn, max(v) AS mx, COUNT(*) AS n,
          max(v) - min(v) + 1 AS span FROM vv
      ), binned AS (
        SELECT v, (v - mm.mn) * 256 div mm.span AS bin FROM vv CROSS JOIN mm
      ), hist AS (
        SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin
      ), cums AS (
        SELECT bin, c, SUM(c) OVER (ORDER BY bin) - c AS cumlo FROM hist
      ), pcts AS (
        SELECT explode(array(1L, 5L, 25L, 50L, 75L, 95L, 99L)) AS pct
      ), plans AS (
        SELECT p.pct, (mm.n - 1) * p.pct div 100 AS rank_0b, cu.bin, cu.c,
          (mm.n - 1) * p.pct div 100 - cu.cumlo AS off,
          mm.mn + cu.bin * mm.span div 256 AS blo,
          mm.mn + (cu.bin + 1) * mm.span div 256 AS bhi
        FROM pcts p CROSS JOIN mm CROSS JOIN cums cu
        WHERE (mm.n - 1) * p.pct div 100 >= cu.cumlo
          AND (mm.n - 1) * p.pct div 100 < cu.cumlo + cu.c
      ), ranked AS (
        SELECT bin, v, ROW_NUMBER() OVER (PARTITION BY bin ORDER BY v) AS rk
        FROM binned WHERE bin IN (SELECT bin FROM plans)
      )
      SELECT pl.pct, pl.rank_0b,
        pl.blo + (pl.bhi - pl.blo) * pl.off div pl.c AS est_cents,
        r.v AS exact_cents,
        abs(pl.blo + (pl.bhi - pl.blo) * pl.off div pl.c - r.v) * 1000
          div mm.span AS err_permille_of_span
      FROM plans pl
      JOIN ranked r ON r.bin = pl.bin AND r.rk = pl.off + 1
      CROSS JOIN mm
      ORDER BY pl.pct""",

    // dedup verify-threshold sweep: each τ‰ is a free integer filter
    // over the one dedup_scored memo; the per-τ transitive closures run
    // through the engine's distributed CC as registered views (see
    // dedupComponentsTau)
    "q128_dedup_threshold_sweep" -> {
      def leg(t: Int) =
        s"""g$t AS (
        SELECT group_id, COUNT(*) AS sz FROM dedup_components_$t
        GROUP BY group_id HAVING COUNT(*) >= 2
      ), s$t AS (
        SELECT ${t}L AS tau_permille,
          (SELECT COUNT(*) FROM dedup_scored
           WHERE n_union > 0 AND n_inter * 1000 >= n_union * $t) AS n_edges,
          COUNT(*) AS n_groups,
          COALESCE(SUM(sz), 0L) AS n_docs_grouped,
          COALESCE(MAX(sz), 0L) AS max_group
        FROM g$t
      )"""
      s"""WITH ${leg(700)}, ${leg(800)}, ${leg(900)}
      SELECT * FROM s700 UNION ALL SELECT * FROM s800 UNION ALL SELECT * FROM s900
      ORDER BY tau_permille"""
    })

  /** Run one surface query end-to-end: register the views it reads,
    * execute the text.
    */
  def run(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val sql = texts.getOrElse(name, sys.error(
      s"unknown SQL-surface query '$name' (${texts.size} texts known)"))
    graft.functions.Kernels.register(spark)
    viewsRead(sql).foreach(v =>
      views.get(v).foreach(_(spark, sfDir).createOrReplaceTempView(v)))
    spark.sql(sql)
  }
}
