package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup queries over `documents` (LLM-data-pipeline
  * layer): token/quality stats, language ID, exact dedup, shingling,
  * MinHash LSH signatures, SimHash, n-gram Jaccard.
  *
  * Scale notes: everything except the signature groupBys is a pure
  * projection; MinHash/SimHash explode shingles then aggregate by doc_id
  * (map-side combinable: min over strings / integer sums), so the shuffle
  * carries only partial aggregates, not the shingle stream.
  */
object TextQueries {

  private val N = 8 // shingle size

  private val shinglesSqlExpr =
    s"list_distinct(list_transform(generate_series(1, greatest(length(text) - ${N - 1}, 1)), i -> substr(text, i, $N)))"

  private def occSql(word: String): String = {
    val p = "concat(' ', lower(text), ' ')"
    val w = s" $word "
    s"CAST((length($p) - length(regexp_replace($p, '$w', '', 'g'))) / ${w.length} AS BIGINT)"
  }

  // ---------------------------------------------------------------- q27
  val q27 = Q.sql("q27_text_stats",
    s"""WITH tk AS (
      SELECT doc_id, lang, source, length(trim(text)) AS trimmed_len,
        string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, lang, source,
        CASE WHEN trimmed_len = 0 THEN 0 ELSE len(toks) END AS n_tokens,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS chars_no_ws,
        CAST(len(list_filter(toks, x -> x IN ('the', 'and', 'of'))) AS BIGINT) AS n_stopwords
      FROM tk
    ), r AS (
      SELECT *,
        CASE WHEN n_tokens > 0 THEN CAST(chars_no_ws AS DOUBLE) / n_tokens END AS avg_token_len,
        CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens END AS stop_ratio
      FROM b
    )
    SELECT doc_id, lang, source, n_tokens, chars_no_ws, n_stopwords, avg_token_len, stop_ratio,
      CASE WHEN n_tokens > 0
           THEN 0.5::DOUBLE * least(1.0::DOUBLE, n_tokens / 200.0::DOUBLE)
              + 0.3::DOUBLE * least(1.0::DOUBLE, stop_ratio * 10.0::DOUBLE)
              + 0.2::DOUBLE * least(1.0::DOUBLE, chars_no_ws / 400.0::DOUBLE)
           ELSE 0.0::DOUBLE END AS quality_score
    FROM r ORDER BY doc_id""",
    headline = true)

  // ---------------------------------------------------------------- q28
  val q28 = Q.sql("q28_lang_id",
    {
      val scores = TextMetrics.langMarkers.map { case (l, words) =>
        words.map(occSql).mkString(" + ") + s" AS s_$l"
      }.mkString(",\n        ")
      s"""WITH sc AS (
      SELECT doc_id, lang,
        $scores
      FROM documents
    )
    SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
      CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
           WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
           WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END AS pred_lang,
      CAST(CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
           WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
           WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END = lang AS INTEGER) AS is_match
    FROM sc ORDER BY doc_id"""
    })

  // ---------------------------------------------------------------- q29
  val q29 = Q.sql("q29_exact_dedup",
    """SELECT md5(text) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY fp ORDER BY fp""")

  // ---------------------------------------------------------------- q30
  val q30 = Q.sql("q30_shingle_stats",
    s"""SELECT doc_id,
      CAST(greatest(length(text) - ${N - 1}, 1) AS BIGINT) AS n_positions,
      CAST(len($shinglesSqlExpr) AS BIGINT) AS n_distinct,
      CAST(len($shinglesSqlExpr) AS DOUBLE) / greatest(length(text) - ${N - 1}, 1) AS distinct_ratio
    FROM documents ORDER BY doc_id""")

  // ---------------------------------------------------------------- q31
  val q31 = Q.sql("q31_minhash_signatures",
    s"""WITH sh AS (
      SELECT doc_id, md5(unnest($shinglesSqlExpr)) AS h FROM documents
    ), m AS (
      SELECT doc_id,
        ${(0 to 3).map(j => s"min(substr(h, ${1 + 8 * j}, 8)) AS mh$j").mkString(", ")}
      FROM sh GROUP BY doc_id
    )
    SELECT doc_id, mh0, mh1, mh2, mh3, md5(mh0 || mh1 || mh2 || mh3) AS band
    FROM m ORDER BY doc_id""",
    headline = true)

  // ---------------------------------------------------------------- q32
  val q32 = Q.sql("q32_simhash",
    {
      val votes = (1 to 32)
        .map(j => s"SUM(CASE WHEN substr(h, $j, 1) >= '8' THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n        ")
      val fp = (1 to 32)
        .map(j => s"CASE WHEN v$j > 0 THEN ${1L << (j - 1)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS (
      SELECT doc_id, md5(unnest($shinglesSqlExpr)) AS h FROM documents
    ), v AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
        $votes
      FROM sh GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, CAST($fp AS BIGINT) AS simhash
    FROM v ORDER BY doc_id"""
    })

  // ---------------------------------------------------------------- q33
  val q33 = Q("q33_ngram_jaccard_pairs",
    (s, dir) => {
      // native shingle_overlap kernel: hash-set intersection per pair,
      // O(len) — array_intersect/array_union on array<string> are O(n²)
      // nested scans (no primitive-type fast path)
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.as("a"); val b = d.as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .withColumn("ov", expr(s"shingle_overlap(a.text, b.text, $N)"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("ov.n_inter").as("n_inter"), col("ov.n_union").as("n_union"))
        .withColumn("jaccard",
          when(col("n_union") > 0, col("n_inter").cast("double") / col("n_union")))
        .transform(graft.Q.presentSorted(_, "id_a"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shinglesSqlExpr AS sh FROM documents
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    )
    SELECT id_a, id_b, n_inter, n_union,
      CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / n_union END AS jaccard
    FROM p ORDER BY id_a"""))

  // ---------------------------------------------------------------- q48
  /** End-to-end MinHash-LSH near-dup dedup — THE training-data pipeline
    * operator (builder brief; no reference analog):
    *
    *   1. 16-component signature: 4 salted md5s per shingle, each sliced
    *      into 4 disjoint 32-bit span-mins (hash 4×, not 16×);
    *   2. banding 4 bands × 4 rows: candidate iff some band's 4
    *      components all collide (P ≈ 1−(1−s⁴)⁴, s = Jaccard);
    *   3. per-band equi-self-join on the band hash → candidate pairs
    *      (the 100 TB shape: no all-pairs anywhere, band buckets shard
    *      the shuffle);
    *   4. verification: true shingle Jaccard ≥ 0.8 (integer set sizes →
    *      exact double ratio, cross-engine safe);
    *   5. transitive groups: iterative min-label propagation over the
    *      verified edge set to fixpoint (monotone: Σ labels strictly
    *      decreases, so sum-equality IS the fixpoint test). Near-dup
    *      components have tiny diameter, so this converges in a few
    *      joins; adversarial long chains would want alternating
    *      large-star/small-star, noted in SURVEY §7.
    *
    * Emits one row per document: its dedup group representative (min
    * doc_id in the component), whether it is the kept copy, and the
    * group size.
    */
  /** Steps 1–5 of the dedup pipeline (shared by q48/q51): returns one row
    * per document with its connected-component representative
    * `(doc_id, comp)`.
    *
    * Memoized per (session, dir) so q48 and q51 run the expensive
    * signature + CC machinery ONCE; the result is reliably checkpointed
    * (tiny: two longs per doc), so the memo survives a harness
    * `clearCache()` between catalog queries and holds no executor storage
    * memory — every cache the computation itself takes is unpersisted
    * before returning.
    */
  private[graft] def dedupGroups(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"dedup-groups:$dir")(
      computeDedupGroups(s, dir))

  /** Buckets larger than this switch from all-pairs to STAR candidate
    * generation (see step 3 below). sf0.1's largest band bucket is 11;
    * a degenerate corpus (thousands of identical docs) would otherwise
    * make one (band, hash) bucket quadratic.
    */
  private val HotBucketCap = 256

  /** Steps 1–3 (banded signatures → hot-bucket-guarded candidate pairs),
    * package-visible so the adversarial spec can assert the bounded
    * fan-out directly. Returns (candidates, cached bands handle — the
    * caller unpersists bands once the candidates are materialized).
    */
  private[graft] def dedupCandidates(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      // 1. 16-component signature (4 salted md5s per shingle × 4
      // 8-hex-char span-mins) via the native minhash_spans kernel — one
      // O(len) loop per document, no shingle explode, no signature
      // shuffle (one row per doc crosses the wire, already final)
      val sig = docs
        .withColumn("sig", expr(s"minhash_spans(text, $N, 4)"))
        .select(col("doc_id") +: (for { k <- 0 to 3; j <- 0 to 3 }
          yield element_at(col("sig"), 4 * k + j + 1).as(s"c${k}_$j")): _*)
      // 2. band hash k = md5 of salt-k's four span-mins
      val bandCols = (0 to 3).map(k =>
        TextMetrics.bandId((0 to 3).map(j => col(s"c${k}_$j"))))
      val wB = Window.partitionBy("band_idx", "bh")
      val bands = sig
        .select(col("doc_id"), posexplode(array(bandCols: _*)))
        .toDF("doc_id", "band_idx", "bh")
        .withColumn("bsz", count(lit(1)).over(wB))
        .withColumn("bmin", min("doc_id").over(wB))
        .cache()
      // 3. candidate pairs with a HOT-BUCKET GUARD: normal buckets
      // (≤ HotBucketCap members) form all pairs; an oversized bucket
      // forms only STAR pairs (bucket-min, member) — O(|bucket|) instead
      // of O(|bucket|²) while PRESERVING CONNECTIVITY (identical docs all
      // verify against the representative, so the component survives
      // intact; only multi-hop recall through a hot bucket can differ).
      // Nothing is silently dropped — oversized buckets are logged.
      val smallB = bands.filter(col("bsz") <= HotBucketCap)
      val allPairs = smallB.as("a")
        .join(smallB.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val starPairs = bands
        .filter(col("bsz") > HotBucketCap && col("doc_id") =!= col("bmin"))
        .select(col("bmin").as("id_a"), col("doc_id").as("id_b"))
      val cand = allPairs.union(starPairs).distinct()
      val nHot = bands.filter(col("bsz") > HotBucketCap)
        .select("band_idx", "bh").distinct().count()
      if (nHot > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft.dedup] $nHot LSH band bucket(s) exceed $HotBucketCap members; " +
            "star candidate generation used for them (connectivity preserved, " +
            "all-pairs recall within those buckets reduced)")
      (cand, bands)
  }

  /** Steps 1–4 of the dedup pipeline with the verify VALUES kept:
    * every LSH candidate pair with its exact shingle-overlap counts
    * `(id_a, id_b, n_inter, n_union)`. Memoized per (session, dir) and
    * checkpointed (four longs per candidate pair): the verified-edge
    * filter (q48 family), the edge-level consumers (q104) and the
    * calibration audit (q102) all derive from this ONE band-join +
    * verify pass.
    */
  private[graft] def scoredPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"dedup-scored-pairs:$dir") {
      val docs = Tables(s, dir, "documents")
      val (cand, bands) = dedupCandidates(docs)
      // 4. score with true n-gram Jaccard (native shingle_overlap
      // kernel: exact set sizes, O(len) per pair, and the join carries
      // raw text instead of materialized shingle arrays)
      val txt = docs.select(col("doc_id"), col("text"))
      val scored = cand
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .withColumn("ov", expr(s"shingle_overlap(ta, tb, $N)"))
        .select(col("id_a"), col("id_b"),
          col("ov.n_inter").as("n_inter"), col("ov.n_union").as("n_union"))
      graft.util.Ckpt.ensureDir(s.sparkContext)
      val out = scored.checkpoint()
      bands.unpersist()
      out
    }

  /** Jaccard ≥ 0.8 verified near-dup edges — a cheap filter over the
    * checkpointed [[scoredPairs]], memoized so every consumer shares
    * one plan object.
    */
  private[graft] def dedupEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"dedup-edges:$dir") {
      scoredPairs(s, dir)
        .filter(col("n_union") > 0 &&
          col("n_inter").cast("double") / col("n_union") >= 0.8)
        .select("id_a", "id_b")
    }

  private def computeDedupGroups(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
      val docs = Tables(s, dir, "documents")
      val ver = dedupEdges(s, dir)
      // 5. connected components: alternating large-star/small-star —
      // O(log n) rounds even on adversarial near-dup chains (see
      // graph.ConnectedComponents)
      val (labels, _) =
        graft.graph.ConnectedComponents.label(ver, docs.select(col("doc_id")))
      // truncate lineage + free every cache this computation took: the
      // memoized result must not pin executor storage across queries
      graft.util.Ckpt.ensureDir(s.sparkContext)
      val out = labels.checkpoint()
      labels.unpersist()
      out
  }

  val q48 = Q.sql("q48_minhash_lsh_dedup",
    s"""$dedupCteSql, gs AS (
      SELECT group_id, COUNT(*) AS group_size FROM comp GROUP BY group_id
    )
    SELECT c.doc_id, c.group_id,
      CAST(c.doc_id = c.group_id AS INTEGER) AS is_kept, gs.group_size
    FROM comp c JOIN gs USING (group_id)
    ORDER BY doc_id""",
    headline = true)

  /** Oracle mirror of [[dedupCandidates]]: the WITH-chain body ending in
    * `cand(id_a, id_b)` — shared by the q48/q51 comp chain and q81.
    */
  private lazy val candChainSql: String = {
    val sigCols = (for { k <- 0 to 3; j <- 0 to 3 }
      yield s"min(substr(h$k, ${1 + 8 * j}, 8)) AS c${k}_$j").mkString(", ")
    val bandRows = (0 to 3).map(k =>
      s"SELECT doc_id, $k AS band_idx, md5(c${k}_0 || c${k}_1 || c${k}_2 || c${k}_3) AS bh FROM sig")
      .mkString("\n      UNION ALL ")
    s"""sh AS (
      SELECT doc_id, unnest($shinglesSqlExpr) AS sh FROM documents
    ), h AS (
      SELECT doc_id, ${(0 to 3).map(k => s"md5(sh || '#$k') AS h$k").mkString(", ")} FROM sh
    ), sig AS (
      SELECT doc_id, $sigCols FROM h GROUP BY doc_id
    ), bands AS (
      $bandRows
    ), bandsz AS (
      SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bh) AS bsz,
             MIN(doc_id) OVER (PARTITION BY band_idx, bh) AS bmin
      FROM bands
    ), cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandsz a JOIN bandsz b
          ON a.band_idx = b.band_idx AND a.bh = b.bh
         AND a.doc_id < b.doc_id AND a.bsz <= $HotBucketCap
        UNION ALL
        SELECT bmin, doc_id FROM bandsz
        WHERE bsz > $HotBucketCap AND doc_id != bmin)
    )"""
  }

  /** Oracle mirror of [[dedupGroups]]: the shared WITH-chain ending in
    * `comp(doc_id, group_id)`.
    */
  private[text] lazy val dedupCteSql: String =
    s"""WITH RECURSIVE $candChainSql, shd AS (
      SELECT doc_id, $shinglesSqlExpr AS s FROM documents
    ), ver AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.8::DOUBLE
    ), esym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b, id_a FROM ver
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, re.r FROM reach re JOIN esym e ON e.src = re.id
    ), comp AS (
      SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
    )"""

  // ---------------------------------------------------------------- q53
  /** Rabin–Karp document fingerprinting (builder brief: "document
    * fingerprinting (rolling hash)"): a polynomial hash of the whole
    * document plus per-position rolling window-8 hashes — the primitive
    * under content-defined chunking and plagiarism-style overlap
    * detection. All integer arithmetic mod 1e9+7 (products stay < 2⁶³,
    * so ANSI long math never overflows and both engines agree exactly).
    */
  val q53 = Q.sql("q53_rolling_fingerprint",
    s"""WITH c AS (
      SELECT doc_id,
        list_transform(generate_series(1, length(text)), i ->
          CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes,
        length(text) AS n
      FROM documents
    ), r AS (
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
          (acc, x) -> (acc * 131 + x) % 1000000007) AS doc_fp,
        list_transform(generate_series(1, greatest(n - 7, 1)), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+7]),
            (acc, x) -> (acc * 131 + x) % 1000000007)) AS rolling
      FROM c
    )
    SELECT doc_id, doc_fp,
      CAST(len(rolling) AS BIGINT) AS n_windows,
      CAST(len(list_distinct(rolling)) AS BIGINT) AS n_distinct_win
    FROM r ORDER BY doc_id""")

  // ---------------------------------------------------------------- q51
  /** Dedup KEEP POLICY variant: instead of "keep the representative",
    * keep the LONGEST document of each near-dup group (ties → smallest
    * doc_id) — the policy an LLM-data pipeline actually wants (retain
    * the most complete near-duplicate). Reuses the q48 group machinery;
    * the policy itself is one max-per-group + one tie-broken argmax,
    * both partial-aggregable.
    */
  val q51 = Q.sql("q51_dedup_keep_longest",
    s"""$dedupCteSql, scored AS (
      SELECT c.doc_id, c.group_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ), best AS (
      SELECT group_id, max(n_chars) AS best_chars FROM scored GROUP BY group_id
    ), keep AS (
      SELECT s.group_id, min(s.doc_id) AS keep_id
      FROM scored s JOIN best b ON b.group_id = s.group_id AND s.n_chars = b.best_chars
      GROUP BY s.group_id
    )
    SELECT s.doc_id, s.group_id, s.n_chars, k.keep_id,
      CAST(s.doc_id = k.keep_id AS INTEGER) AS is_kept
    FROM scored s JOIN keep k USING (group_id)
    ORDER BY s.doc_id""")

  // ---------------------------------------------------------------- q57
  // BPE-style regex pre-tokenization (the GPT-2 pattern family, made
  // lookahead-free so Java regex and DuckDB's RE2 agree token-for-token):
  // contractions | space?+letters | space?+digits | space?+punct-run | ws-run.
  // The alternatives consume every character, so token lengths sum to
  // length(text) and the classes below are mutually exclusive by
  // construction. One regex pass per doc; pure projection, no shuffle.
  // `\s` differs across dialects (Java includes \x0B, RE2 doesn't), so
  // whitespace is an explicit class — both engines see the same alphabet
  private val wsCls = " \\t\\n\\x0B\\f\\r"
  private[graft] val bpePat =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$wsCls\\p{L}\\p{N}]+|[$wsCls]+"
  // same pattern as a DuckDB single-quoted literal (apostrophe doubled;
  // raw interpolation keeps the single backslashes RE2 expects)
  private val bpePatSql =
    raw"""''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+"""

  val q57 = Q.sql("q57_bpe_tokens",
    s"""WITH tk AS (
      SELECT doc_id, lang, length(text) AS n_chars,
        regexp_extract_all(text, '$bpePatSql') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_chars, len(toks) AS n_bpe_tokens,
        len(list_filter(toks, t -> regexp_full_match(t, ' ?\\p{L}+'))) AS n_word,
        len(list_filter(toks, t -> regexp_full_match(t, ' ?\\p{N}+'))) AS n_number,
        len(list_filter(toks, t -> regexp_full_match(t, ' ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+'))) AS n_punct,
        len(list_filter(toks, t -> regexp_full_match(t, '''(?:s|t|re|ve|m|ll|d)'))) AS n_contraction,
        len(list_filter(toks, t -> regexp_full_match(t, '[ \\t\\n\\x0B\\f\\r]+'))) AS n_ws,
        len(list_distinct(toks)) AS n_distinct
      FROM tk
    )
    SELECT doc_id, lang, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
      CAST(n_word AS BIGINT) AS n_word, CAST(n_number AS BIGINT) AS n_number,
      CAST(n_punct AS BIGINT) AS n_punct, CAST(n_contraction AS BIGINT) AS n_contraction,
      CAST(n_ws AS BIGINT) AS n_ws, CAST(n_distinct AS BIGINT) AS n_distinct,
      CASE WHEN n_bpe_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_bpe_tokens END AS avg_token_chars
    FROM c ORDER BY doc_id""")

  // ---------------------------------------------------------------- q67
  /** SimHash NEAR-DUP PAIRS — the q32 fingerprint put to work (Manku,
    * Jarvelin, Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07): split the 32-bit simhash into 4 bands of 8 bits; by
    * pigeonhole, any pair within Hamming distance 3 agrees EXACTLY on at
    * least one band, so candidates form only inside (band, code) buckets
    * — never all-pairs. Verify with the true popcount of the XOR.
    *
    * Scale notes: 8-bit bands follow from the 32-bit fingerprint (the
    * md5 hex-digit vote yields 32 bits); a 100 TB deployment widens to a
    * 64-bit simhash with 16-bit bands — same plan shape, 65 536-way
    * bucket fan-out instead of 256. The band join is the q48/q39 bucket
    * pattern; bucket population is corpus/256 per band here, bounded and
    * uniform because the code bits are md5-derived.
    */
  val q67 = Q("q67_simhash_neardup",
    (s, dir) => {
      // materialize the tiny signature table (2 longs/doc) so the
      // shingle_agg kernel — the expensive part — runs ONCE, not once
      // per self-join side (and again in each side's pushed-down
      // isnotnull filter); the harness clears the cache post-query
      val sig = Tables(s, dir, "documents", spreadOk = true)
        .withColumn("simhash", expr(s"shingle_agg(text, $N).simhash"))
        .select(col("doc_id"), col("simhash")).cache()
      val side = sig
        .select(col("doc_id"), col("simhash"),
          posexplode(expr(
            "transform(sequence(0, 3), b -> shiftright(simhash, b * 8) & 255)"))
            .as(Seq("band", "code")))
      val a = side.select(col("band"), col("code"),
        col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
      val b = side.select(col("band"), col("code"),
        col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
      a.join(b, Seq("band", "code"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "sh_a", "sh_b")
        .agg(count(lit(1)).as("n_bands_shared"))
        .withColumn("hamming", expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "n_bands_shared", "hamming")
        .transform(graft.Q.presentSorted(_, "doc_a", "doc_b"))
    },
    Some {
      val votes = (1 to 32)
        .map(j => s"SUM(CASE WHEN substr(h, $j, 1) >= '8' THEN 1 ELSE -1 END) AS v$j")
        .mkString(", ")
      val fp = (1 to 32)
        .map(j => s"CASE WHEN v$j > 0 THEN ${1L << (j - 1)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS (
      SELECT doc_id, md5(unnest($shinglesSqlExpr)) AS h FROM documents
    ), v AS (
      SELECT doc_id, $votes FROM sh GROUP BY doc_id
    ), f AS (
      SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v
    ), bands AS (
      SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS code
      FROM f, (SELECT unnest(generate_series(0, 3)) AS band) bs
    ), cand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        x.simhash AS sh_a, y.simhash AS sh_b, COUNT(*) AS n_bands_shared
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.code = y.code AND x.doc_id < y.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, CAST(n_bands_shared AS BIGINT) AS n_bands_shared,
      CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY doc_a, doc_b"""
    })

  // ---------------------------------------------------------------- q71
  /** SimHash-64 near-dup pairs — q67's FLEET-SCALE operating point made
    * real: the 64-bit fingerprint (per-bit votes over the md5 digest's
    * first 16 hex digits) banded into 4 × 16-bit codes. Same pigeonhole
    * guarantee (hamming ≤ 3 ⇒ ≥ 1 exact band) but 65 536-way bucket
    * fan-out per band, so expected bucket occupancy stays O(N/2¹⁶) —
    * the width that keeps candidate generation linear as the corpus
    * grows (see PERF.md's q39 band-width analysis; this is the text-side
    * answer).
    */
  val q71 = Q("q71_simhash64_neardup",
    (s, dir) => {
      val sig = Tables(s, dir, "documents", spreadOk = true)
        .withColumn("simhash64", expr(s"shingle_agg(text, $N).simhash64"))
        .select(col("doc_id"), col("simhash64")).cache()
      val side = sig
        .select(col("doc_id"), col("simhash64"),
          posexplode(expr(
            "transform(sequence(0, 3), b -> shiftright(simhash64, b * 16) & 65535)"))
            .as(Seq("band", "code")))
      val a = side.select(col("band"), col("code"),
        col("doc_id").as("doc_a"), col("simhash64").as("sh_a"))
      val b = side.select(col("band"), col("code"),
        col("doc_id").as("doc_b"), col("simhash64").as("sh_b"))
      a.join(b, Seq("band", "code"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "sh_a", "sh_b")
        .agg(count(lit(1)).as("n_bands_shared"))
        .withColumn("hamming", expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "n_bands_shared", "hamming")
        .transform(graft.Q.presentSorted(_, "doc_a", "doc_b"))
    },
    Some {
      // bit b = 4j + k votes on bit k of hex digit j's value
      val votes = (0 until 64).map { bb =>
        val j = bb / 4 + 1
        val k = bb % 4
        s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $j, 1)) - 1) >> $k) & 1 = 1 " +
          s"THEN 1 ELSE -1 END) AS w$bb"
      }.mkString(", ")
      // bit 63 is the sign bit: adding −2⁶³ reproduces the kernel's
      // two's-complement long exactly without BIGINT overflow
      val fp = (0 until 63)
        .map(bb => s"CASE WHEN w$bb > 0 THEN ${1L << bb} ELSE 0 END")
        .mkString(" + ") +
        " + CASE WHEN w63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
      s"""WITH sh AS (
      SELECT doc_id, md5(unnest($shinglesSqlExpr)) AS h FROM documents
    ), v AS (
      SELECT doc_id, $votes FROM sh GROUP BY doc_id
    ), f AS (
      SELECT doc_id, CAST($fp AS BIGINT) AS simhash64 FROM v
    ), bands AS (
      SELECT doc_id, simhash64, band, (simhash64 >> (band * 16)) & 65535 AS code
      FROM f, (SELECT unnest(generate_series(0, 3)) AS band) bs
    ), cand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        x.simhash64 AS sh_a, y.simhash64 AS sh_b, COUNT(*) AS n_bands_shared
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.code = y.code AND x.doc_id < y.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, CAST(n_bands_shared AS BIGINT) AS n_bands_shared,
      CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY doc_a, doc_b"""
    })

  // ---------------------------------------------------------------- q73
  /** SPLIT LEAKAGE via near-duplicates — q66's fuzzy complement: a
    * near-dup GROUP (the q48 connected components) whose members land
    * in different q60 splits leaks paraphrased training text into
    * evaluation. Exact n-gram decontamination (q66) misses these; the
    * group-level audit below is how a pipeline finds them. Emits every
    * multi-member group with its per-split membership and a leak flag.
    *
    * Shape: one equi-join of the memoized group table against the
    * per-doc split flags, one partial-aggregable groupBy — nothing
    * beyond what q48 already paid.
    */
  val q73 = Q.sql("q73_split_leakage",
    s"""$dedupCteSql, fl AS (
      SELECT doc_id,
        CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
             WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    ), g AS (
      SELECT c.group_id, COUNT(*) AS n_members,
        CAST(SUM(CASE WHEN f.split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(SUM(CASE WHEN f.split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        CAST(SUM(CASE WHEN f.split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        COUNT(DISTINCT f.split) AS n_splits
      FROM comp c JOIN fl f USING (doc_id)
      GROUP BY c.group_id
    )
    SELECT group_id, n_members, n_train, n_val, n_test,
      CAST(n_splits > 1 AS INTEGER) AS leaked
    FROM g WHERE n_members > 1 ORDER BY group_id""")

  // ---------------------------------------------------------------- q69
  /** Content-defined chunking + SUB-DOCUMENT dedup (the FastCDC/rsync
    * family, applied to text): cut each document where the q53 Rabin
    * fingerprint of the trailing 8-char window ≡ 0 (mod 64) — expected
    * chunk ≈ 64 chars, boundaries determined by CONTENT so an insertion
    * shifts at most one chunk — then count, per document, how many of
    * its chunks also occur in another document. Finds shared boilerplate
    * and partial copies that document-level dedup (q29/q48) cannot see.
    *
    * Shape: chunking is a per-row projection over the one-pass
    * rolling_hash kernel; the dedup side explodes (doc, chunk_md5) into
    * a partial-aggregable groupBy keyed by the 128-bit chunk hash — the
    * shuffle carries hashes, never chunk text. That is the shape that
    * dedups 100 TB: chunk hashes shard uniformly, no all-pairs.
    */
  val q69 = Q("q69_cdc_chunk_dedup",
    (s, dir) => {
      val base = Tables(s, dir, "documents")
        .withColumn("wins", expr("rolling_hash(text, 8, 131, 1000000007).wins"))
        .withColumn("n", length(col("text")))
        // a cut closes the chunk at the END of window i (char i+7); the
        // final bound is always n, so p = n would duplicate it
        .withColumn("bounds", expr(
          "concat(filter(transform(filter(sequence(1, size(wins)), " +
            "i -> element_at(wins, i) % 64 = 0), i -> i + 7), p -> p < n), array(n))"))
        .withColumn("chunks", expr(
          """CASE WHEN n = 0 THEN array() ELSE transform(sequence(1, size(bounds)), j ->
               md5(substring(text,
                 CASE WHEN j = 1 THEN 1 ELSE element_at(bounds, j - 1) + 1 END,
                 element_at(bounds, j) - CASE WHEN j = 1 THEN 0 ELSE element_at(bounds, j - 1) END)))
             END"""))
      // materialize the exploded (doc, chunk_md5) table (~3 short rows
      // per doc) so the rolling_hash + chunking projection runs ONCE,
      // not once for the frequency table and again for the per-doc agg
      val ex = base.select(col("doc_id"), col("n").cast("long").as("n_chars"),
        explode_outer(col("chunks")).as("ch")).cache()
      val freq = ex.filter(col("ch").isNotNull)
        .groupBy("ch").agg(countDistinct("doc_id").as("ndocs"))
      ex.join(freq, Seq("ch"), "left")
        .groupBy("doc_id", "n_chars")
        .agg(count(col("ch")).as("n_chunks"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
        .select(col("doc_id"), col("n_chars"), col("n_chunks"), col("n_shared_chunks"),
          expr("CASE WHEN n_chunks > 0 THEN n_chars div n_chunks END").as("avg_chunk_len"),
          when(col("n_chunks") > 0,
            col("n_shared_chunks").cast("double") / col("n_chunks")).as("shared_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH c AS (
      SELECT doc_id, text, length(text) AS n,
        list_transform(generate_series(1, length(text)), i ->
          CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes
      FROM documents
    ), r AS (
      SELECT doc_id, text, n,
        list_transform(generate_series(1, greatest(n - 7, 1)), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+7]),
            (acc, x) -> (acc * 131 + x) % 1000000007)) AS wins
      FROM c
    ), bd AS (
      SELECT doc_id, text, n,
        list_append(list_filter(list_transform(
          list_filter(generate_series(1, len(wins)), i -> wins[i] % 64 = 0),
          i -> i + 7), p -> p < n), n) AS bounds
      FROM r
    ), ck AS (
      SELECT doc_id, n,
        CASE WHEN n = 0 THEN []
             ELSE list_transform(generate_series(1, len(bounds)), j ->
               md5(substr(text,
                 CASE WHEN j = 1 THEN 1 ELSE bounds[j-1] + 1 END,
                 bounds[j] - CASE WHEN j = 1 THEN 0 ELSE bounds[j-1] END)))
        END AS chunks
      FROM bd
    ), ex AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        unnest(CASE WHEN len(chunks) = 0 THEN [NULL] ELSE chunks END) AS ch
      FROM ck
    ), freq AS (
      SELECT ch, COUNT(DISTINCT doc_id) AS ndocs FROM ex WHERE ch IS NOT NULL GROUP BY ch
    ), agg AS (
      SELECT e.doc_id, e.n_chars,
        CAST(COUNT(e.ch) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
      FROM ex e LEFT JOIN freq f ON f.ch = e.ch
      GROUP BY e.doc_id, e.n_chars
    )
    SELECT doc_id, n_chars, n_chunks, n_shared_chunks,
      CASE WHEN n_chunks > 0 THEN n_chars // n_chunks END AS avg_chunk_len,
      CASE WHEN n_chunks > 0
           THEN CAST(n_shared_chunks AS DOUBLE) / n_chunks END AS shared_frac
    FROM agg ORDER BY doc_id"""),
    headline = true)

  // ---------------------------------------------------------------- q70
  /** END-TO-END CURATION FUNNEL — the whole pipeline in one DAG,
    * composed from the operators' own outputs: language-ID match (q28)
    * → repetition-quality screen (q58) → exact dedup keep-first (q29) →
    * near-dup keep-longest (q51) → train split (q60's hash). Emits the
    * per-stage survivor/dropped counts a curation run reports. Each
    * stage's flag is computed on the FULL corpus and survival is the
    * cumulative AND, so stages are independently attributable.
    *
    * Scale notes: the funnel adds nothing beyond its constituent
    * operators — five per-doc flag columns equi-joined on doc_id, one
    * global partial-aggregable sum. If each stage scales, the funnel
    * scales.
    */
  /** The funnel's per-doc filter verdicts (Spark side of
    * [[funnelFlagsCteSql]]) — each stage's keep flag as a 0/1 long,
    * composed from the owning operators' outputs (q28/q58/q29/q51).
    */
  private def funnelFlags(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    // memoized: q70 (funnel), q106 (filter overlap) and q150 (release
    // gate) all consume the same five-flag frame — six longs per doc,
    // checkpointed once per (session, dir) like the dedup memos
    graft.util.SessionMemo.getOrCompute(s, s"funnel-flags:$dir") {
      val lang = q28.run(s, dir)
        .select(col("doc_id"), col("is_match").cast("long").as("k_lang"))
      val qual = PipelineQueries.q58.run(s, dir)
        .select(col("doc_id"), col("quality_pass").cast("long").as("k_qual"))
      val exact = Tables(s, dir, "documents")
        .select(col("doc_id").as("d"), md5(col("text").cast("binary")).as("fp"))
        .join(q29.run(s, dir).select("fp", "keep_id"), "fp")
        .select(col("d").as("doc_id"), (col("d") === col("keep_id")).cast("long").as("k_exact"))
      val near = q51.run(s, dir)
        .select(col("doc_id"), col("is_kept").cast("long").as("k_near"))
      val split = Tables(s, dir, "documents")
        .select(col("doc_id"),
          (expr("(doc_id * 2654435761) % 1000") < 900).cast("long").as("k_train"))
      val flags = split.join(lang, "doc_id").join(qual, "doc_id")
        .join(exact, "doc_id").join(near, "doc_id")
      graft.util.Ckpt.ensureDir(s.sparkContext)
      flags.checkpoint()
    }

  val q70 = Q("q70_curation_funnel",
    (s, dir) => {
      funnelFlags(s, dir)
        .agg(count(lit(1)).as("n0"),
          sum(col("k_lang")).as("n1"),
          sum(col("k_lang") * col("k_qual")).as("n2"),
          sum(col("k_lang") * col("k_qual") * col("k_exact")).as("n3"),
          sum(col("k_lang") * col("k_qual") * col("k_exact") * col("k_near")).as("n4"),
          sum(col("k_lang") * col("k_qual") * col("k_exact") * col("k_near") * col("k_train"))
            .as("n5"))
        .select(expr("""stack(6,
            0, 'total',       n0, CAST(0 AS BIGINT),
            1, 'lang_match',  n1, n0 - n1,
            2, 'quality',     n2, n1 - n2,
            3, 'exact_dedup', n3, n2 - n3,
            4, 'near_dedup',  n4, n3 - n4,
            5, 'train_split', n5, n4 - n5)""")
          .as(Seq("stage", "stage_name", "n_surviving", "n_dropped")))
        .orderBy("stage")
    },
    Some {
      s"""$funnelFlagsCteSql, tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(k_lang) AS BIGINT) AS n1,
        CAST(SUM(k_lang * k_qual) AS BIGINT) AS n2,
        CAST(SUM(k_lang * k_qual * k_exact) AS BIGINT) AS n3,
        CAST(SUM(k_lang * k_qual * k_exact * k_near) AS BIGINT) AS n4,
        CAST(SUM(k_lang * k_qual * k_exact * k_near * k_train) AS BIGINT) AS n5
      FROM flags
    )
    SELECT 0 AS stage, 'total' AS stage_name, n0 AS n_surviving,
           CAST(0 AS BIGINT) AS n_dropped FROM tot
    UNION ALL SELECT 1, 'lang_match', n1, n0 - n1 FROM tot
    UNION ALL SELECT 2, 'quality', n2, n1 - n2 FROM tot
    UNION ALL SELECT 3, 'exact_dedup', n3, n2 - n3 FROM tot
    UNION ALL SELECT 4, 'near_dedup', n4, n3 - n4 FROM tot
    UNION ALL SELECT 5, 'train_split', n5, n4 - n5 FROM tot
    ORDER BY stage"""
    },
    headline = true)

  // ---------------------------------------------------------------- q81
  /** Hybrid lexical–semantic near-dup audit: every MinHash-LSH candidate
    * pair (q48's banded machinery, hot-bucket-guarded) is scored BOTH
    * ways — true shingle Jaccard (the lexical verdict) and embedding
    * cosine (the semantic verdict, documents joined to embeddings on
    * id) — and the audit reports where the two disagree: paraphrases
    * the lexical filter misses, boilerplate the semantic filter misses.
    * Embedding coverage is partial at scale (sf0.1 embeds 2 000 of
    * 5 000 docs); un-embedded pairs keep a NULL cosine and default to
    * sem_dup = 0 rather than vanishing. Shapes: band-bucket equi-joins
    * for candidates, two broadcast-or-keyed id joins for payloads —
    * no all-pairs anywhere.
    */
  val q81 = Q("q81_hybrid_neardup",
    (s, dir) => {
      val docs = Tables(s, dir, "documents", spreadOk = true)
      val emb = Tables(s, dir, "embeddings")
      // bands handle stays cached for the query's duration; the harness
      // clears it after the query (same contract as q39)
      val (cand, _) = dedupCandidates(docs)
      val txt = docs.select(col("doc_id"), col("text"))
      val jm = cand
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .withColumn("ov", expr(s"shingle_overlap(ta, tb, $N)"))
        .select(col("id_a"), col("id_b"),
          when(col("ov.n_union") > 0,
            col("ov.n_inter").cast("double") / col("ov.n_union"))
            .otherwise(lit(0.0)).as("jaccard"))
      val n2Expr =
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
      val em = emb.select(col("vec_id"), col("embedding"), expr(n2Expr).as("n2"))
      val dotOrd =
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
      jm
        .join(em.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("n2").as("na")), Seq("id_a"), "left")
        .join(em.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("n2").as("nb")), Seq("id_b"), "left")
        .withColumn("cos_sim", when(col("na") > 0 && col("nb") > 0,
          expr(dotOrd) / (sqrt(col("na")) * sqrt(col("nb")))))
        .withColumn("lex_dup", (col("jaccard") >= 0.8).cast("int"))
        .withColumn("sem_dup",
          when(col("cos_sim").isNotNull && col("cos_sim") >= 0.30, 1).otherwise(0))
        .withColumn("agree", (col("lex_dup") === col("sem_dup")).cast("int"))
        .select("id_a", "id_b", "jaccard", "cos_sim", "lex_dup", "sem_dup", "agree")
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    Some(s"""WITH $candChainSql, shd AS (
      SELECT doc_id, $shinglesSqlExpr AS s FROM documents
    ), jm AS (
      SELECT c.id_a, c.id_b,
        CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
             THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s)))
             ELSE 0.0::DOUBLE END AS jaccard
      FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b
    ), em AS (
      SELECT vec_id, embedding,
        list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding, x ->
          CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x) AS n2
      FROM embeddings
    ), wc AS (
      SELECT j.id_a, j.id_b, j.jaccard,
        CASE WHEN ea.n2 > 0 AND eb.n2 > 0 THEN
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(list_zip(ea.embedding, eb.embedding), p ->
              CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)
          / (sqrt(ea.n2) * sqrt(eb.n2)) END AS cos_sim
      FROM jm j
      LEFT JOIN em ea ON ea.vec_id = j.id_a
      LEFT JOIN em eb ON eb.vec_id = j.id_b
    )
    SELECT id_a, id_b, jaccard, cos_sim,
      CAST(jaccard >= 0.8::DOUBLE AS INTEGER) AS lex_dup,
      CASE WHEN cos_sim IS NOT NULL AND cos_sim >= 0.30::DOUBLE
           THEN 1 ELSE 0 END AS sem_dup,
      CAST(CAST(jaccard >= 0.8::DOUBLE AS INTEGER) =
           (CASE WHEN cos_sim IS NOT NULL AND cos_sim >= 0.30::DOUBLE
                 THEN 1 ELSE 0 END) AS INTEGER) AS agree
    FROM wc ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q84
  /** KMV distinct-cardinality sketch WITH an exact accuracy audit — the
    * oracle-able sketch q42's HLL/theta row-checks can't be: per
    * source, the k = 64 minimum 48-bit shingle-hash values estimate the
    * distinct-shingle-hash cardinality as (k−1)·2⁴⁸ div v₍ₖ₎ (all
    * integer math, so the estimate — not just the exact count —
    * hash-matches DuckDB). The k-mins ride the existing `exact_topk`
    * TypedImperativeAggregate on negated values: O(k) buffer, map-side
    * combinable — each partition ships ≤ 64 doubles per source where
    * the exact distinct-count audit shuffles every (source, hash48)
    * once (longs from the `shingle_hash48` kernel, not shingle
    * strings). The audit column reports the sketch's real per-mille
    * error against the exact count; sources with < k distinct shingles
    * yield NULL (the sketch is undefined there, not silently exact).
    */
  val q84 = Q.sql("q84_kmv_distinct",
    s"""WITH hv AS (
      SELECT DISTINCT source,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS v
      FROM (SELECT source, unnest($shinglesSqlExpr) AS sh FROM documents)
    ), rk AS (
      SELECT source, v, ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn
      FROM hv
    ), ex AS (
      SELECT source, COUNT(*) AS n_exact FROM hv GROUP BY source
    ), kv AS (
      SELECT source, v AS v_k FROM rk WHERE rn = 64
    )
    SELECT e.source, e.n_exact, kv.v_k,
      CAST((63 * 281474976710656) // kv.v_k AS BIGINT) AS kmv_est,
      abs(CAST((63 * 281474976710656) // kv.v_k AS BIGINT) - e.n_exact) * 1000 // e.n_exact
        AS err_permille
    FROM ex e LEFT JOIN kv ON kv.source = e.source
    ORDER BY e.source""")

  // ---------------------------------------------------------------- q85
  /** Contrastive pair mining — the SimCSE/CLIP-style training-data op:
    * POSITIVES are same-near-dup-group pairs (the q48 component memo —
    * paraphrase pairs the pipeline already found), each anchor paired
    * with its smallest group-mate; NEGATIVES are 4 deterministic
    * strided picks `(doc_id + stride) mod N` (contiguous-id corpus —
    * the id-ring stand-in for a hash ring; strides that divide N are
    * skipped so no anchor draws itself). Every sampled negative is
    * AUDITED against the group table: `is_false_neg` marks negatives
    * that are secretly near-dups of their anchor — the contamination
    * contrastive training must measure, not assume away. Shapes: group
    * sizes bound the positive self-join, negatives are id-equi-joins;
    * the only driver value is the corpus count.
    */
  val q85 = Q("q85_contrastive_pairs",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = dedupGroups(s, dir)
      // the strided ring sampler below assumes doc_ids are dense 0..N-1;
      // on a gapped corpus the neg_id equi-join would silently shrink the
      // per-anchor negative count (identically in both engines, so the
      // oracle can't see it) — fail loudly instead of sampling quietly
      val idStats = docs.agg(count(lit(1)), min("doc_id"), max("doc_id")).head()
      val n = idStats.getLong(0)
      require(n == 0 || (idStats.getLong(1) == 0L && idStats.getLong(2) == n - 1),
        s"q85 strided negative sampling requires contiguous doc_ids 0..N-1; " +
          s"got n=$n min=${idStats.get(1)} max=${idStats.get(2)} — " +
          "sample over a dense rank instead for gapped corpora")
      val pos = labels.as("a").join(labels.as("b"),
          col("a.comp") === col("b.comp") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_id")).agg(min(col("b.doc_id")).as("pos_id"))
      val strides = Seq(1L, 11L, 37L, 101L).filter(_ % n != 0)
      labels.select(col("doc_id"), col("comp").as("group_id"))
        .withColumn("stride", explode(array(strides.map(lit(_)): _*)))
        .withColumn("neg_id", (col("doc_id") + col("stride")) % n)
        .join(labels.select(col("doc_id").as("neg_id"), col("comp").as("neg_comp")),
          "neg_id")
        .join(pos, Seq("doc_id"), "left")
        .select(col("doc_id"), col("group_id"), col("pos_id"), col("stride"),
          col("neg_id"), (col("neg_comp") === col("group_id")).cast("int").as("is_false_neg"))
        .transform(graft.Q.presentSorted(_, "doc_id", "stride"))
    },
    Some(s"""$dedupCteSql, nn AS (
      SELECT COUNT(*) AS n FROM documents
    ), pos AS (
      SELECT a.doc_id, MIN(b.doc_id) AS pos_id
      FROM comp a JOIN comp b ON a.group_id = b.group_id AND b.doc_id != a.doc_id
      GROUP BY a.doc_id
    ), st AS (
      SELECT unnest([1, 11, 37, 101]) AS stride
    ), negs AS (
      SELECT c.doc_id, c.group_id, CAST(s.stride AS BIGINT) AS stride,
        (c.doc_id + s.stride) % nn.n AS neg_id
      FROM comp c, st s, nn
      WHERE (s.stride % nn.n) != 0
    )
    SELECT g.doc_id, g.group_id, p.pos_id, g.stride, g.neg_id,
      CAST(cn.group_id = g.group_id AS INTEGER) AS is_false_neg
    FROM negs g
    JOIN comp cn ON cn.doc_id = g.neg_id
    LEFT JOIN pos p ON p.doc_id = g.doc_id
    ORDER BY g.doc_id, g.stride"""))

  // ---------------------------------------------------------------- q93
  /** Tokenizer fertility by language — subword tokens per whitespace
    * word, the metric multilingual tokenizer audits report (fertility
    * ≫ 1 where the vocab underserves a script; Rust et al., "How Good
    * is Your Tokenizer?", arXiv:2012.15613), plus chars/token and
    * bytes/token — byte and char fertility diverge exactly where
    * non-ASCII scripts live, which is why both are reported. Token
    * counts use q57's lookahead-free BPE pre-tokenizer (identical
    * token streams in both engines); byte lengths are
    * octet_length ↔ strlen. One map-side-combinable groupBy(lang);
    * every ratio is a single IEEE division of exact BIGINT sums, so
    * the rollup is engine-exact at any corpus size.
    */
  val q93 = Q.sql("q93_tokenizer_fertility",
    s"""WITH tk AS (
      SELECT lang,
        len(regexp_extract_all(text, '$bpePatSql')) AS n_tokens,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_words,
        length(text) AS n_chars, strlen(text) AS n_bytes
      FROM documents
    ), g AS (
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_words) AS BIGINT) AS sum_words,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes
      FROM tk GROUP BY lang
    )
    SELECT lang, n_docs, sum_words, sum_tokens, sum_chars, sum_bytes,
      CASE WHEN sum_words > 0 THEN CAST(sum_tokens AS DOUBLE) / sum_words END AS fertility,
      CASE WHEN sum_tokens > 0 THEN CAST(sum_chars AS DOUBLE) / sum_tokens END AS chars_per_token,
      CASE WHEN sum_tokens > 0 THEN CAST(sum_bytes AS DOUBLE) / sum_tokens END AS bytes_per_token
    FROM g ORDER BY lang""")

  // --------------------------------------------------------------- q102
  /** MinHash calibration audit — "how much should we trust the sketch":
    * for every LSH candidate pair, the 16-component signature-agreement
    * estimate (n_agree/16, the unbiased MinHash similarity estimator)
    * side by side with the TRUE shingle Jaccard, and the absolute
    * error. This is the measurement that justifies (or indicts) the
    * 0.8 verify threshold and the 4×4 band geometry — run it before
    * trusting a dedup sweep at fleet scale.
    *
    * Shape: candidate pairs come from the same hot-bucket-guarded band
    * join as q48 (never all-pairs); signatures are one O(len) kernel
    * pass per doc; the truth side is the O(len) `shingle_overlap`
    * kernel per pair. est/true/err are single IEEE divisions and one
    * subtract — bit-identical across engines.
    */
  val q102 = Q("q102_minhash_calibration",
    (s, dir) => {
      val docs = Tables(s, dir, "documents", spreadOk = true)
      val sig = docs
        .withColumn("sig", expr(s"minhash_spans(text, $N, 4)"))
        .select(col("doc_id") +: (for { k <- 0 to 3; j <- 0 to 3 }
          yield element_at(col("sig"), 4 * k + j + 1).as(s"c${k}_$j")): _*)
      val agree = (for { k <- 0 to 3; j <- 0 to 3 }
        yield when(col(s"a.c${k}_$j") === col(s"b.c${k}_$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      val out = scoredPairs(s, dir)
        .filter(col("n_union") > 0)
        .join(sig.as("a"), col("id_a") === col("a.doc_id"))
        .join(sig.as("b"), col("id_b") === col("b.doc_id"))
        .withColumn("n_agree", agree)
        .select(col("id_a"), col("id_b"), col("n_agree"),
          (col("n_agree").cast("double") / lit(16)).as("est_sim"),
          (col("n_inter").cast("double") / col("n_union")).as("true_sim"))
        .withColumn("abs_err", abs(col("est_sim") - col("true_sim")))
      graft.Q.presentSorted(out, "id_a", "id_b")
    },
    Some(s"""WITH $candChainSql, est AS (
      SELECT c.id_a, c.id_b,
        CAST(${(for { k <- 0 to 3; j <- 0 to 3 }
          yield s"CAST(a.c${k}_$j = b.c${k}_$j AS INTEGER)").mkString(" + ")}
          AS BIGINT) AS n_agree
      FROM cand c
      JOIN sig a ON a.doc_id = c.id_a
      JOIN sig b ON b.doc_id = c.id_b
    ), shd AS (
      SELECT doc_id, $shinglesSqlExpr AS s FROM documents
    ), tru AS (
      SELECT e.id_a, e.id_b, e.n_agree,
        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter,
        CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT) AS n_union
      FROM est e
      JOIN shd sa ON sa.doc_id = e.id_a
      JOIN shd sb ON sb.doc_id = e.id_b
    )
    SELECT id_a, id_b, n_agree,
      CAST(n_agree AS DOUBLE) / 16 AS est_sim,
      CAST(n_inter AS DOUBLE) / n_union AS true_sim,
      abs(CAST(n_agree AS DOUBLE) / 16 - CAST(n_inter AS DOUBLE) / n_union) AS abs_err
    FROM tru WHERE n_union > 0
    ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q103
  /** Rendezvous (highest-random-weight) sharding — deterministic
    * routing for distributed corpus writes: each doc goes to the shard
    * maximizing md5(doc_id # shard) over 8 shards, entirely map-side
    * (an array HOF argmax — no per-doc window, no shuffle before the
    * 8-row rollup). The second half is HRW's selling point measured:
    * re-derive the assignment with a 9th shard available and count the
    * docs each shard loses — consistent hashing moves only ~1/9 of the
    * corpus, all of it TO the new shard, while a mod-N rehash would
    * move ~8/9. `n_moved / n_docs` per shard is the observable that
    * makes the routing safe to scale out under load.
    */
  val q103 = Q.sql("q103_hrw_sharding",
    """WITH x AS (
      SELECT doc_id, n_chars, sh,
        md5(CAST(doc_id AS VARCHAR) || '#' || CAST(sh AS VARCHAR)) AS h
      FROM documents, (SELECT unnest(generate_series(0, 8)) AS sh)
    ), m8 AS (
      SELECT doc_id, MAX(h) AS mh FROM x WHERE sh <= 7 GROUP BY doc_id
    ), m9 AS (
      SELECT doc_id, MAX(h) AS mh FROM x GROUP BY doc_id
    ), a8 AS (
      SELECT x.doc_id, x.n_chars, CAST(x.sh AS BIGINT) AS shard
      FROM x JOIN m8 ON m8.doc_id = x.doc_id AND m8.mh = x.h
      WHERE x.sh <= 7
    ), a9 AS (
      SELECT x.doc_id, CAST(x.sh AS BIGINT) AS shard9
      FROM x JOIN m9 ON m9.doc_id = x.doc_id AND m9.mh = x.h
    ), a AS (
      SELECT a8.doc_id, a8.n_chars, a8.shard, a9.shard9
      FROM a8 JOIN a9 USING (doc_id)
    )
    SELECT shard, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(CASE WHEN shard9 != shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      CAST(SUM(CASE WHEN shard9 != shard THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        AS moved_frac
    FROM a GROUP BY shard ORDER BY shard""")

  /** q70's per-document filter verdicts as a reusable oracle fragment
    * (q70, q106): WITH chain ending in
    * `flags(doc_id, k_train, k_lang, k_qual, k_exact, k_near)`.
    */
  private lazy val funnelFlagsCteSql: String = {
    val scores = TextMetrics.langMarkers.map { case (l, words) =>
      words.map(occSql).mkString(" + ") + s" AS s_$l"
    }.mkString(", ")
    val langCase = """CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
           WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
           WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END"""
    s"""$dedupCteSql, scoredq AS (
      SELECT c.doc_id, c.group_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ), bestq AS (
      SELECT group_id, max(n_chars) AS best_chars FROM scoredq GROUP BY group_id
    ), keepq AS (
      SELECT s.group_id, min(s.doc_id) AS keep_id
      FROM scoredq s JOIN bestq b ON b.group_id = s.group_id AND s.n_chars = b.best_chars
      GROUP BY s.group_id
    ), nearf AS (
      SELECT s.doc_id, CASE WHEN s.doc_id = k.keep_id THEN 1 ELSE 0 END AS k_near
      FROM scoredq s JOIN keepq k USING (group_id)
    ), langf AS (
      SELECT doc_id, CASE WHEN $langCase = lang THEN 1 ELSE 0 END AS k_lang
      FROM (SELECT doc_id, lang, $scores FROM documents) sc
    ), $qualityCteSql, exactf AS (
      SELECT doc_id,
        CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
             THEN 1 ELSE 0 END AS k_exact
      FROM documents
    ), flags AS (
      SELECT d.doc_id,
        CASE WHEN (d.doc_id * 2654435761) % 1000 < 900 THEN 1 ELSE 0 END AS k_train,
        l.k_lang, q.k_qual, e.k_exact, n.k_near
      FROM documents d
      JOIN langf l USING (doc_id) JOIN qualf q USING (doc_id)
      JOIN exactf e USING (doc_id) JOIN nearf n USING (doc_id)
    )"""
  }

  /** q58's quality verdict as a reusable oracle fragment (q70, q105):
    * CTE chain `qbase → … → qualf(doc_id, k_qual)`, the repetition
    * rules verbatim.
    */
  private lazy val qualityCteSql: String = {
    val t = "string_split_regex(trim(lower(text)), '\\s+')"
    s"""qbase AS (
      SELECT doc_id, text,
        len(string_split(text, chr(10))) AS n_lines,
        len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines,
        $t AS toks,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($t) END AS n_words
      FROM documents
    ), qtri AS (
      SELECT doc_id, n_lines, n_distinct_lines, n_words, toks,
        CASE WHEN n_words >= 3
             THEN list_transform(generate_series(1, n_words - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS trigrams
      FROM qbase
    ), qtrid AS (
      SELECT doc_id, n_lines, n_distinct_lines, n_words, toks,
        len(trigrams) AS n_tri, len(list_distinct(trigrams)) AS n_distinct_tri
      FROM qtri
    ), qbg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, n_words - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM qtrid WHERE n_words >= 2
    ), qbc AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM qbg GROUP BY doc_id, gram
    ), qbs AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_cnt, SUM(cnt) AS n_bigrams
      FROM qbc GROUP BY doc_id
    ), qualf AS (
      SELECT t.doc_id,
        CASE WHEN CAST(1.0::DOUBLE - CAST(t.n_distinct_lines AS DOUBLE) / t.n_lines
                    > 0.30::DOUBLE AS INTEGER)
           + COALESCE(CAST(CAST(bs.top_bigram_cnt AS DOUBLE) / bs.n_bigrams
                    > 0.20::DOUBLE AS INTEGER), 0)
           + COALESCE(CAST(CASE WHEN t.n_tri > 0
                    THEN 1.0::DOUBLE - CAST(t.n_distinct_tri AS DOUBLE) / t.n_tri END
                    > 0.60::DOUBLE AS INTEGER), 0) = 0
             THEN 1 ELSE 0 END AS k_qual
      FROM qtrid t LEFT JOIN qbs bs ON bs.doc_id = t.doc_id
    )"""
  }

  // --------------------------------------------------------------- q104
  /** Canonical-document ranking by degree centrality — the q48 keep
    * policy (min id) and q51 (longest) are blunt; the copy most densely
    * connected to its near-dup group is usually the cleanest exemplar
    * (edited/truncated variants verify against IT, not each other).
    * Ranks every member of a non-singleton dedup group by verified-edge
    * degree (ties → smaller id) and flags groups where the centrality
    * canonical disagrees with the min-id keeper — the audit a retention
    * policy upgrade starts from.
    *
    * Shape: rides the memoized edge set AND component table (one band
    * join + verify pass shared with the q48 family); degree is a
    * partial-aggregable count over edge endpoints; the ranking window
    * partitions by component — bounded by group size, never the corpus.
    */
  val q104 = Q.sql("q104_canonical_rank",
    s"""$dedupCteSql, deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS doc_id FROM ver
        UNION ALL SELECT id_b AS doc_id FROM ver
      ) GROUP BY doc_id
    ), g AS (
      SELECT c.doc_id, c.group_id, COALESCE(d.degree, 0) AS degree,
        ROW_NUMBER() OVER (PARTITION BY c.group_id
          ORDER BY COALESCE(d.degree, 0) DESC, c.doc_id) AS rk,
        COUNT(*) OVER (PARTITION BY c.group_id) AS sz
      FROM comp c LEFT JOIN deg d USING (doc_id)
    )
    SELECT group_id, doc_id, CAST(degree AS BIGINT) AS degree,
      CAST(rk AS BIGINT) AS rnk,
      CAST(rk = 1 AS INTEGER) AS is_canonical,
      CAST(rk = 1 AND doc_id != group_id AS INTEGER) AS min_id_disagrees
    FROM g WHERE sz > 1 ORDER BY group_id, rnk""")

  // --------------------------------------------------------------- q105
  /** Quality-vs-duplication lift — do the repetition-quality screens
    * and the near-dup sweep agree about which documents are junk? Per
    * quality verdict (q58 pass/fail), the fraction of docs that are
    * REDUNDANT near-dup copies (non-keeper members of a q48 group).
    * A big lift for the fail bucket means the two independent filters
    * corroborate; none means the dedup sweep is finding something the
    * quality rules can't see (or vice versa) — the sanity dashboard a
    * curation pipeline checks before multiplying its filters.
    *
    * Shape: composes two memoized/owned operator outputs on a doc_id
    * equi-join, then a 2-row rollup. Rates are single IEEE divisions.
    */
  val q105 = Q.sql("q105_quality_dup_lift",
    s"""$dedupCteSql, sz AS (
      SELECT group_id, COUNT(*) AS n FROM comp GROUP BY group_id
    ), dup AS (
      SELECT c.doc_id,
        CAST(s.n > 1 AND c.doc_id != c.group_id AS BIGINT) AS is_redundant
      FROM comp c JOIN sz s USING (group_id)
    ), $qualityCteSql
    SELECT q.k_qual AS quality_pass, COUNT(*) AS n_docs,
      CAST(SUM(d.is_redundant) AS BIGINT) AS n_redundant,
      CAST(SUM(d.is_redundant) AS DOUBLE) / COUNT(*) AS redundant_rate
    FROM qualf q JOIN dup d USING (doc_id)
    GROUP BY q.k_qual ORDER BY quality_pass""")

  // --------------------------------------------------------------- q106
  /** Filter-overlap contingency — before multiplying curation filters,
    * measure how they overlap: the 2⁴ contingency table over the four
    * keep verdicts (lang, quality, exact-dedup, near-dedup). Cells with
    * exactly one zero are that filter's UNIQUE catch; a filter whose
    * only zeros co-occur with another filter's is redundant and can be
    * dropped from the pipeline. The q70 funnel shows order-dependent
    * attrition; this shows the order-free attribution.
    *
    * Shape: composes the same per-doc verdicts as q70 (each from its
    * owning operator, dedup sides memoized) and folds them into ≤ 16
    * rows with one partial-aggregable groupBy.
    */
  val q106 = Q("q106_filter_overlap",
    (s, dir) => {
      val flags = funnelFlags(s, dir)
      val tot = flags.agg(count(lit(1)).cast("long").as("n_total"))
      flags.groupBy("k_lang", "k_qual", "k_exact", "k_near")
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("k_lang"), col("k_qual"), col("k_exact"), col("k_near"),
          (lit(4L) - col("k_lang") - col("k_qual") - col("k_exact") - col("k_near"))
            .as("n_filters_failed"),
          col("n_docs"),
          (col("n_docs").cast("double") / col("n_total")).as("frac"))
        .orderBy("k_lang", "k_qual", "k_exact", "k_near")
    },
    Some(s"""$funnelFlagsCteSql, cells AS (
      SELECT CAST(k_lang AS BIGINT) AS k_lang, CAST(k_qual AS BIGINT) AS k_qual,
        CAST(k_exact AS BIGINT) AS k_exact, CAST(k_near AS BIGINT) AS k_near,
        COUNT(*) AS n_docs
      FROM flags GROUP BY 1, 2, 3, 4
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM cells
    )
    SELECT c.k_lang, c.k_qual, c.k_exact, c.k_near,
      4 - c.k_lang - c.k_qual - c.k_exact - c.k_near AS n_filters_failed,
      c.n_docs,
      CAST(c.n_docs AS DOUBLE) / t.n_total AS frac
    FROM cells c, tot t
    ORDER BY c.k_lang, c.k_qual, c.k_exact, c.k_near"""))

  // --------------------------------------------------------------- q108
  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm; reference scope: "document fingerprinting" as in q53,
    * upgraded to the guaranteed-detection selection): over each doc's
    * per-position Rabin window-8 hashes (the q53 `rolling_hash` kernel),
    * slide a window of 4 consecutive hashes and keep each window's
    * minimum — any shared substring of ≥ 11 chars is guaranteed to
    * contribute a shared fingerprint, while only ~2/(4+1) of positions
    * are retained. The fingerprint SET is tie-break-independent (the
    * position tie-break affects selection multiplicity, never which hash
    * values survive), so both engines compute `distinct(window minima)`.
    *
    * The overlap report then inverts fingerprint → docs and counts
    * shared fingerprints per pair. Scale shape: everything up to the
    * inversion is map-side per-doc array HOFs; the pair blowup is
    * bounded by dropping "stop fingerprints" shared by > 50 docs
    * (MOSS's boilerplate guard) before the self-join, so a fingerprint
    * group contributes at most 50²/2 pairs regardless of corpus size.
    */
  val q108 = Q("q108_winnowing_overlap",
    (s, dir) => {
      // MATERIALIZE the per-doc fingerprint arrays before exploding:
      // explode(computed_array) lets CollapseProject inline the whole
      // HOF chain into the Generate, which re-evaluates it per OUTPUT
      // row — measured 15 s for this ~200-wide explode at sf0.1 vs
      // 1.3 s to build + 0.3 s to explode from storage. The cache holds
      // ~5000 rows × ~200 longs and is dropped by the harness after the
      // query; at cluster scale the same barrier is a checkpoint or an
      // exchange, never a re-derivation per generated row.
      val fps = Tables(s, dir, "documents", spreadOk = true)
        .withColumn("wins", expr("rolling_hash(text, 8, 131, 1000000007).wins"))
        .select(col("doc_id"),
          expr("""array_distinct(transform(
                    sequence(1, greatest(size(wins) - 3, 1)),
                    j -> array_min(slice(wins, j, 4))))""").as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"), col("fps"))
        .cache()
      val exploded = fps.select(col("doc_id"), col("n_fp"), explode(col("fps")).as("fp"))
      val kept = exploded
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .filter(col("df") <= 50)
        .select("doc_id", "n_fp", "fp")
      val a = kept.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a"), col("fp"))
      val b = kept.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b"), col("fp"))
      a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "fp_a", "fp_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("fp_a"), col("fp_b"),
          expr("n_shared * 1000 div least(fp_a, fp_b)").as("containment_permille"))
        // expensive upstream (fp self-join + pair agg): cache before the
        // presentation sort so the orderBy's range-sampling pass doesn't
        // re-execute the join (see Q.presentSorted)
        .cache()
        .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
    },
    Some("""WITH c AS (
      SELECT doc_id,
        list_transform(generate_series(1, length(text)), i ->
          CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes,
        length(text) AS n
      FROM documents
    ), r AS (
      SELECT doc_id,
        list_transform(generate_series(1, greatest(n - 7, 1)), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+7]),
            (acc, x) -> (acc * 131 + x) % 1000000007)) AS wins
      FROM c
    ), f AS (
      SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(len(wins) - 3, 1)),
          j -> list_min(wins[j:j+3]))) AS fps
      FROM r
    ), e AS (
      SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS fp FROM f
    ), kept AS (
      SELECT doc_id, n_fp, fp FROM (
        SELECT doc_id, n_fp, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM e
      ) WHERE df <= 50
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared,
      a.n_fp AS fp_a, b.n_fp AS fp_b,
      COUNT(*) * 1000 // least(a.n_fp, b.n_fp) AS containment_permille
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n_fp, b.n_fp
    HAVING COUNT(*) >= 5
    ORDER BY n_shared DESC, doc_a, doc_b"""))

  // --------------------------------------------------------------- q109
  /** Count–min sketch frequency audit — the heavy-hitter sketch a
    * streaming ingest tier would use, built EXACTLY so its error is
    * measurable: 4 hash rows × 256 buckets over the whitespace-token
    * stream, with every increment derived from the exact token-count
    * table (CMS is linear, so feeding it compressed (token, count)
    * pairs is identical to feeding the raw stream — one tokenize pass,
    * and the 4 bucket aggregations reduce 256-row frames, not the token
    * stream). The audit joins the top-50 exact counts against their
    * min-over-rows estimates: CMS never undercounts, so
    * `overest = est − exact ≥ 0` and `err_permille` quantifies the
    * collision noise this (d=4, w=256) geometry buys at corpus scale.
    * Hashing is the 48-bit md5-prefix integer both engines share.
    */
  val q109 = Q("q109_cms_heavy_hitters",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val counts = docs.filter(length(trim(col("text"))) > 0)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_exact"))
      def bucket(r: Int): org.apache.spark.sql.Column =
        expr(s"CAST(conv(substr(md5(CAST(concat('$r#', token) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % 256")
      val withB = counts.select(col("token"), col("n_exact"),
        bucket(0).as("b0"), bucket(1).as("b1"), bucket(2).as("b2"), bucket(3).as("b3"))
      val sums = (0 to 3).map { r =>
        withB.groupBy(col(s"b$r").as("bkt")).agg(sum("n_exact").as(s"s$r"))
      }
      val top = withB.orderBy(desc("n_exact"), col("token")).limit(50)
      val est = (0 to 3).foldLeft(top) { (df, r) =>
        df.join(broadcast(sums(r)), df(s"b$r") === sums(r)("bkt")).drop("bkt")
      }
      est.select(col("token"), col("n_exact"),
          least(col("s0"), col("s1"), col("s2"), col("s3")).as("cms_est"))
        .withColumn("overest", col("cms_est") - col("n_exact"))
        .withColumn("err_permille", expr("overest * 1000 div n_exact"))
        .transform(graft.Q.presentSorted(_, "token"))
        .orderBy(desc("n_exact"), col("token"))
    },
    Some("""WITH counts AS (
      SELECT token, COUNT(*) AS n_exact FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY token
    ), wb AS (
      SELECT token, n_exact,
        list_transform(generate_series(0, 3), r ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, 12), i ->
              CAST(strpos('0123456789abcdef',
                substr(md5(CAST(r AS VARCHAR) || '#' || token), i, 1)) - 1 AS BIGINT))),
            (acc, x) -> acc * 16 + x) % 256) AS bs
      FROM counts
    ), cells AS (
      SELECT r, bs[r + 1] AS bkt, CAST(SUM(n_exact) AS BIGINT) AS s
      FROM wb, (SELECT unnest(generate_series(0, 3)) AS r)
      GROUP BY r, bs[r + 1]
    ), top AS (
      SELECT token, n_exact, bs FROM wb ORDER BY n_exact DESC, token LIMIT 50
    ), est AS (
      SELECT t.token, t.n_exact, MIN(c.s) AS cms_est
      FROM top t JOIN cells c ON c.bkt = t.bs[c.r + 1]
      GROUP BY t.token, t.n_exact
    )
    SELECT token, n_exact, cms_est, cms_est - n_exact AS overest,
      (cms_est - n_exact) * 1000 // n_exact AS err_permille
    FROM est ORDER BY n_exact DESC, token"""))

  // --------------------------------------------------------------- q110
  /** HyperLogLog register audit — q84's KMV companion from the other
    * classic cardinality family, built bit-exactly so the estimate is
    * cross-engine-reproducible: each distinct shingle's 48-bit hash
    * (the `shingle_hash48` kernel / md5-prefix fold) splits into a
    * 6-bit register index and a 42-bit suffix whose leading-zero count
    * (+1) is the register observable; registers take the MAX — a
    * partial-aggregable integer agg, so the shuffle carries ≤ 64 rows
    * per source no matter the corpus size (THE reason HLL is the
    * distributed default over KMV's top-k heap).
    *
    * The harmonic mean is kept exact by scaling: Σ 2^(−M_j) over 64
    * registers (empty ⇒ M=0) is S/2⁴³ with integer
    * S = Σ 2^(43−M_j), so raw_est = α₆₄·m²/Z =
    * (363008·2⁴³) div (125·S) — one integer division, identical in
    * both engines (α₆₄ = 0.709 as the rational 363008/512000).
    * No small-range correction (needs ln): registers are saturated at
    * every gate scale, and `n_empty_regs` makes that visible.
    */
  val q110 = Q.sql("q110_hll_distinct_audit",
    s"""WITH hv AS (
      SELECT DISTINCT source,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS v
      FROM (SELECT source, unnest($shinglesSqlExpr) AS sh FROM documents)
    ), rr AS (
      SELECT source, v % 64 AS idx,
        MAX(CASE WHEN v // 64 = 0 THEN 43
                 ELSE 43 - length(bin(v // 64)) END) AS m
      FROM hv GROUP BY source, v % 64
    ), h AS (
      SELECT source, COUNT(*) AS n_regs,
        CAST(SUM(CAST(1 AS BIGINT) << (43 - m)) AS BIGINT) AS s_present
      FROM rr GROUP BY source
    ), ex AS (
      SELECT source, COUNT(*) AS n_exact FROM hv GROUP BY source
    )
    SELECT h.source, ex.n_exact,
      64 - h.n_regs AS n_empty_regs,
      h.s_present + (64 - h.n_regs) * 8796093022208 AS s_scaled,
      3193052135805681664 // (125 * (h.s_present + (64 - h.n_regs) * 8796093022208))
        AS hll_est,
      abs(3193052135805681664 // (125 * (h.s_present + (64 - h.n_regs) * 8796093022208))
        - ex.n_exact) * 1000 // ex.n_exact AS err_permille
    FROM h JOIN ex USING (source)
    ORDER BY h.source""")

  /** OR-folds a single-column `pos` frame (values in [0, 2²⁴)) into the
    * m = 2²⁴-bit Bloom bit array: a map-side-combinable groupBy on the
    * 64-bit word index (≤ m/64 = 2¹⁸ result rows — 2 MiB — regardless
    * of input size), collected into one Long array. The bounded driver
    * collect is the guide-§3.2 filter build (`df.stat.bloomFilter` does
    * the same aggregate-to-driver internally); per-word `bit_or` is
    * insensitive to duplicate positions, so no pre-distinct pass.
    */
  private[graft] def q112Bitmap(pos: DataFrame): Array[Long] = {
    val arr = new Array[Long](1 << 18)
    pos.groupBy(expr("pos div 64").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").as("bits"))
      .collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Map-side Bloom probe: 1L iff all four hash positions are set in the
    * broadcast bitmap, else 0L. A Scala UDF over four longs — the four
    * md5 position expressions stay codegen'd Catalyst columns; only the
    * ~ns bit tests run in the closure (guide §3.2's broadcast-filter
    * probe shape, `mightContainLong` with an exact bitmap).
    */
  private[graft] def bloomProbe(
      bm: org.apache.spark.broadcast.Broadcast[Array[Long]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (p0: Long, p1: Long, p2: Long, p3: Long) =>
      val w = bm.value
      def t(p: Long): Boolean = (w((p >>> 6).toInt) & (1L << (p & 63L).toInt)) != 0L
      if (t(p0) && t(p1) && t(p2) && t(p3)) 1L else 0L
    }

  // --------------------------------------------------------------- q112
  /** Bloom-filter decontamination screen with an exact false-positive
    * audit — the cheap FIRST pass of the q66 benchmark-decontam family
    * at 100 TB: build a Bloom filter (k=4 hashes, m=2²⁴ bits) over the
    * train split's distinct shingle hashes, probe every eval-split
    * shingle, and measure what the filter's false positives would cost
    * against the exact semi-join truth. The bit array IS one broadcast
    * bitmap (round 18 — previously a set-bit table shuffle-joined by a
    * 4-way exploded probe, the catalog's worst anti-scaler at 8v32 ratio
    * 0.18: per-task overhead × 32 partitions of tiny exploded rows beat
    * the work): the k·|train| positions OR-fold map-side into ≤ m/64
    * (word, bits) rows — 2 MiB regardless of corpus size — and every
    * eval shingle tests its 4 positions in-row against the broadcast
    * array ([[bloomProbe]]), exactly the guide-§3.2 broadcast-filter
    * probe. The k hash positions stay the same codegen'd md5
    * expressions, so DuckDB audits the identical filter bit-for-bit.
    *
    * Output per source: eval shingle volume, bloom hits, exact hits,
    * false positives, and the realized FPR over true negatives —
    * `fp_permille` is THE number that says whether (k, m) is sized
    * right for the corpus (the 48-bit shingle hash is the element key,
    * so hash collisions are shared with q84/q110 by construction).
    */
  val q112 = Q("q112_bloom_decontam",
    (s, dir) => {
      // spread: the shingle kernel + the 4 md5 probe hashes are the
      // per-row hot loop, evaluated directly above a single-row-group
      // scan (Tables.spread scaladoc)
      val docs = Tables(s, dir, "documents", spreadOk = true)
      val sh = docs
        .select(col("doc_id"), col("source"),
          (expr("doc_id * 2654435761") % 1000 < 900).as("is_train"),
          explode(expr(s"shingle_hash48(text, $N)")).as("v"))
      // persisted: read twice (bitmap build — an eager job — and the
      // exact-truth join), and each read would otherwise re-run the
      // shingle kernel over the train 90 % of the corpus
      val trainV = sh.filter(col("is_train")).select("v").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def posCol(r: Int) =
        expr(s"CAST(conv(substr(md5(CAST(concat('$r#', CAST(v AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) % 16777216")
      val bitmap = q112Bitmap(trainV.select(
        explode(array((0 to 3).map(posCol): _*)).as("pos")))
      val probe = bloomProbe(s.sparkContext.broadcast(bitmap))
      // probe BEFORE the distinct exchange: bloom_hit is a pure function
      // of v, so distinct-with-it equals distinct-then-probe — but placed
      // map-side it runs on the spread scan's tasks instead of the
      // AQE-coalesced (1-task at this SF) post-shuffle side, which
      // measured as the stage holding half the query's CPU
      val evalSh = sh.filter(!col("is_train"))
        .withColumn("bloom_hit", probe(posCol(0), posCol(1), posCol(2), posCol(3)))
        .select("doc_id", "source", "v", "bloom_hit").distinct()
      val truth = evalSh
        .join(trainV.select(col("v"), lit(1L).as("true_hit")), Seq("v"), "left")
      truth
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_eval_docs"),
          count(lit(1)).as("n_shingles"),
          sum(col("bloom_hit")).as("n_bloom_hits"),
          sum(coalesce(col("true_hit"), lit(0L))).as("n_true_hits"))
        .select(col("source"), col("n_eval_docs"), col("n_shingles"),
          col("n_bloom_hits"), col("n_true_hits"),
          (col("n_bloom_hits") - col("n_true_hits")).as("n_false_pos"),
          expr("""CASE WHEN n_shingles > n_true_hits
                  THEN (n_bloom_hits - n_true_hits) * 1000 div (n_shingles - n_true_hits)
                  END""").as("fp_permille"))
        .orderBy("source")
    },
    Some(s"""WITH hv AS (
      SELECT DISTINCT doc_id, source,
        (doc_id * 2654435761) % 1000 < 900 AS is_train,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef', substr(md5(sh), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS v
      FROM (SELECT doc_id, source, unnest($shinglesSqlExpr) AS sh FROM documents)
    ), trainv AS (
      SELECT DISTINCT v FROM hv WHERE is_train
    ), bits AS (
      SELECT DISTINCT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef',
              substr(md5(CAST(r AS VARCHAR) || '#' || CAST(v AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) % 16777216 AS pos
      FROM trainv, (SELECT unnest(generate_series(0, 3)) AS r)
    ), ev AS (
      SELECT DISTINCT doc_id, source, v FROM hv WHERE NOT is_train
    ), probes AS (
      SELECT doc_id, source, v,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef',
              substr(md5(CAST(r AS VARCHAR) || '#' || CAST(v AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) % 16777216 AS pos
      FROM ev, (SELECT unnest(generate_series(0, 3)) AS r)
    ), bh AS (
      SELECT doc_id, source, v, 1 AS bloom_hit
      FROM probes JOIN bits USING (pos)
      GROUP BY doc_id, source, v HAVING COUNT(*) = 4
    ), j AS (
      SELECT e.source, e.doc_id, e.v,
        CASE WHEN t.v IS NOT NULL THEN 1 ELSE 0 END AS true_hit,
        COALESCE(b.bloom_hit, 0) AS bloom_hit
      FROM ev e
      LEFT JOIN trainv t ON t.v = e.v
      LEFT JOIN bh b ON b.doc_id = e.doc_id AND b.v = e.v
    )
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_eval_docs,
      COUNT(*) AS n_shingles,
      CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
      CAST(SUM(true_hit) AS BIGINT) AS n_true_hits,
      CAST(SUM(bloom_hit) - SUM(true_hit) AS BIGINT) AS n_false_pos,
      CASE WHEN COUNT(*) > SUM(true_hit)
           THEN CAST((SUM(bloom_hit) - SUM(true_hit)) * 1000 AS BIGINT)
                  // (COUNT(*) - CAST(SUM(true_hit) AS BIGINT))
           END AS fp_permille
    FROM j GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- q114
  /** Dedup-graph PageRank — canonical-document authority by ITERATIVE
    * computation over the verified near-dup edge set (the q104 degree
    * heuristic's principled big sibling): 3 damped power-iteration
    * rounds, d = 0.85, over the symmetric edge list. A high-rank doc
    * sits at the center of a duplication family — the natural canonical
    * pick and crawl-frontier seed.
    *
    * Each round is one shuffle: edges join ranks on `src` (both sides
    * hash-partitioned by src; at cluster scale pre-partition the edge
    * list once and every iteration reuses that exchange), then a
    * partial-aggregable sum over `dst`. Lineage stays 3 joins deep —
    * for unbounded iteration counts checkpoint every ~5 rounds.
    *
    * Rank math is pure integer so both engines agree bit-for-bit:
    * ranks scale by 10⁶, per-edge contribution is `rank div outdeg`,
    * update is `150000 + (850·Σcontrib) div 1000`. The symmetric edge
    * list guarantees outdeg ≥ 1 — no dangling-mass term.
    */
  val q114 = Q("q114_dedup_pagerank",
    (s, dir) => {
      val ver = dedupEdges(s, dir)
      val esym = ver.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(ver.select(col("id_b").as("src"), col("id_a").as("dst")))
      val deg = esym.groupBy("src").agg(count(lit(1)).as("outdeg"))
      var ranks = deg.select(col("src").as("id"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        ranks = esym.join(deg, "src")
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dst"), expr("rank div outdeg").as("c"))
          .groupBy("dst")
          .agg(expr("150000 + (850 * sum(c)) div 1000").as("rank"))
          .select(col("dst").as("id"), col("rank"))
      }
      val labels = dedupGroups(s, dir)
      ranks.join(deg, col("id") === col("src"))
        .join(labels, col("id") === col("doc_id"))
        .select(col("doc_id"), col("comp").as("group_id"),
          col("outdeg"), col("rank").as("rank_e6"))
        .transform(graft.Q.presentSorted(_, "doc_id"))
    },
    Some(s"""$dedupCteSql, deg AS (
      SELECT src, COUNT(*) AS outdeg FROM esym GROUP BY src
    ), r0 AS (
      SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg
    ), r1 AS (
      SELECT e.dst AS id,
        150000 + (850 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 1000 AS rank
      FROM esym e JOIN deg d ON d.src = e.src JOIN r0 r ON r.id = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT e.dst AS id,
        150000 + (850 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 1000 AS rank
      FROM esym e JOIN deg d ON d.src = e.src JOIN r1 r ON r.id = e.src
      GROUP BY e.dst
    ), r3 AS (
      SELECT e.dst AS id,
        150000 + (850 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 1000 AS rank
      FROM esym e JOIN deg d ON d.src = e.src JOIN r2 r ON r.id = e.src
      GROUP BY e.dst
    )
    SELECT r3.id AS doc_id, c.group_id, d.outdeg, r3.rank AS rank_e6
    FROM r3 JOIN deg d ON d.src = r3.id JOIN comp c ON c.doc_id = r3.id
    ORDER BY doc_id"""))

  // --------------------------------------------------------------- q122
  /** Edit-distance corroboration of the shingle-Jaccard dedup verdict:
    * every LSH candidate pair (the shared [[scoredPairs]] memo — no new
    * candidate generation) is re-judged by an INDEPENDENT character
    * model, byte-level Levenshtein similarity
    * `1000 − lev·1000/max_bytes` ([[graft.functions.LevBytes]]; DuckDB's
    * built-in `levenshtein` counts byte edits, so the oracle mirrors it
    * directly). The 2×2 contingency over (jaccard ≥ 0.8, edit-sim ≥
    * 900‰) shows where the two families disagree — shingle Jaccard is
    * blind to REORDERED blocks (high edit distance, high Jaccard),
    * edit similarity is blind to small-but-dense scatter edits.
    *
    * All integer: the Jaccard verdict is the cross-multiplied
    * `10·n_inter ≥ 8·n_union`, means are integer-divided permille sums.
    * Scale: the quadratic DP runs ONLY on candidate pairs the LSH
    * already bounded, joined to raw text by id — the same join shape
    * (and cost envelope) as the q48 verify stage.
    */
  val q122 = Q("q122_edit_verified_dedup",
    (s, dir) => {
      val txt = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val cells = scoredPairs(s, dir)
        .filter(col("n_union") > 0)
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .withColumn("lev", expr("CAST(lev_bytes(ta, tb) AS BIGINT)"))
        .withColumn("mb", greatest(length(col("ta").cast("binary")),
          length(col("tb").cast("binary"))).cast("long"))
        .withColumn("edit_sim", expr("1000 - lev * 1000 div greatest(mb, 1)"))
        .withColumn("jacc_dup",
          when(col("n_inter") * 10 >= col("n_union") * 8, 1).otherwise(0))
        .withColumn("edit_dup", when(col("edit_sim") >= 900, 1).otherwise(0))
      cells.groupBy("jacc_dup", "edit_dup")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(n_inter * 1000 div n_union) div count(1)").as("mean_jacc_permille"),
          expr("sum(edit_sim) div count(1)").as("mean_edit_permille"),
          min("edit_sim").as("min_edit_permille"),
          max("edit_sim").as("max_edit_permille"))
        .select("jacc_dup", "edit_dup", "n_pairs", "mean_jacc_permille",
          "mean_edit_permille", "min_edit_permille", "max_edit_permille")
        .orderBy("jacc_dup", "edit_dup")
    },
    Some(s"""WITH $candChainSql, shd AS (
      SELECT doc_id, $shinglesSqlExpr AS s FROM documents
    ), scored AS (
      SELECT c.id_a, c.id_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter,
        CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT) AS n_union,
        CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
        CAST(greatest(octet_length(encode(da.text)),
          octet_length(encode(db.text))) AS BIGINT) AS mb
      FROM cand c
      JOIN shd sa ON sa.doc_id = c.id_a
      JOIN shd sb ON sb.doc_id = c.id_b
      JOIN documents da ON da.doc_id = c.id_a
      JOIN documents db ON db.doc_id = c.id_b
      WHERE len(list_distinct(list_concat(sa.s, sb.s))) > 0
    ), cells AS (
      SELECT id_a, id_b, n_inter, n_union,
        1000 - lev * 1000 // greatest(mb, 1) AS edit_sim,
        CASE WHEN n_inter * 10 >= n_union * 8 THEN 1 ELSE 0 END AS jacc_dup,
        CASE WHEN 1000 - lev * 1000 // greatest(mb, 1) >= 900 THEN 1 ELSE 0 END AS edit_dup
      FROM scored
    )
    SELECT jacc_dup, edit_dup, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(SUM(n_inter * 1000 // n_union) AS BIGINT) // count(*) AS mean_jacc_permille,
      CAST(SUM(edit_sim) AS BIGINT) // count(*) AS mean_edit_permille,
      CAST(MIN(edit_sim) AS BIGINT) AS min_edit_permille,
      CAST(MAX(edit_sim) AS BIGINT) AS max_edit_permille
    FROM cells GROUP BY jacc_dup, edit_dup
    ORDER BY jacc_dup, edit_dup"""))

  // --------------------------------------------------------------- q126
  /** Dedup-component topology audit: for every near-dup group (≥ 2
    * docs), its node count, verified-edge count, edge density, and the
    * canonical's 3-hop eccentricity — the shape report that separates
    * CLIQUES (every member verifiably duplicates every other: safe to
    * keep one) from CHAINS (transitive drift through pairwise-similar
    * links: the "A~B~C but A≁C" risk every connected-components dedup
    * carries). `ecc3` is BFS depth from the component minimum capped
    * at 3 (4 = a member further than 3 hops — pure drift).
    *
    * Rides the shared [[dedupEdges]]/[[dedupGroups]] memos (no new
    * candidate generation); BFS is 3 UNROLLED frontier joins over the
    * symmetrized edge list — the O(diameter) iterate-on-small-state
    * pattern (same shape as [[graft.graph.ConnectedComponents]]), all
    * state bounded by the edge list, never the corpus.
    */
  val q126 = Q("q126_dedup_topology",
    (s, dir) => {
      val edges = dedupEdges(s, dir)
      val labels = dedupGroups(s, dir)
      val esym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      val nodes = labels.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
        .filter(col("n_nodes") >= 2)
      val edgeCnt = edges
        .join(labels.select(col("doc_id").as("id_a"), col("comp").as("g")), "id_a")
        .groupBy("g").agg(count(lit(1)).as("n_edges"))
      var reach = labels.filter(col("doc_id") === col("comp"))
        .select(col("comp").as("g"), col("doc_id").as("id"), lit(0).as("dist"))
      for (d <- 1 to 3) {
        val next = reach.filter(col("dist") === d - 1)
          .join(esym, col("id") === col("src"))
          .select(col("g"), col("dst").as("id"), lit(d).as("dist"))
        reach = reach.union(next)
      }
      val minDist = reach.groupBy("g", "id").agg(min("dist").as("dist"))
      val ecc = labels.select(col("comp").as("g"), col("doc_id").as("id"))
        .join(minDist, Seq("g", "id"), "left")
        .groupBy("g").agg(max(coalesce(col("dist"), lit(4))).cast("long").as("ecc3"))
      nodes.withColumnRenamed("comp", "g")
        .join(edgeCnt, "g").join(ecc, "g")
        .select(col("g").as("group_id"), col("n_nodes"), col("n_edges"),
          expr("n_edges * 2000 div (n_nodes * (n_nodes - 1))").as("density_permille"),
          col("ecc3"))
        .orderBy("group_id")
    },
    Some(s"""$dedupCteSql, bfs(gid, id, dist) AS (
      SELECT group_id, group_id, 0 FROM (SELECT DISTINCT group_id FROM comp)
      UNION
      SELECT b.gid, e.dst, b.dist + 1
      FROM bfs b JOIN esym e ON e.src = b.id WHERE b.dist < 3
    ), md AS (
      SELECT gid, id, min(dist) AS dist FROM bfs GROUP BY gid, id
    ), nodes AS (
      SELECT group_id AS g, CAST(count(*) AS BIGINT) AS n_nodes
      FROM comp GROUP BY group_id HAVING count(*) >= 2
    ), ec AS (
      SELECT c.group_id AS g, CAST(count(*) AS BIGINT) AS n_edges
      FROM ver v JOIN comp c ON c.doc_id = v.id_a GROUP BY c.group_id
    ), ecc AS (
      SELECT c.group_id AS g, CAST(max(COALESCE(m.dist, 4)) AS BIGINT) AS ecc3
      FROM comp c LEFT JOIN md m ON m.gid = c.group_id AND m.id = c.doc_id
      GROUP BY c.group_id
    )
    SELECT n.g AS group_id, n.n_nodes, e.n_edges,
      e.n_edges * 2000 // (n.n_nodes * (n.n_nodes - 1)) AS density_permille,
      x.ecc3
    FROM nodes n JOIN ec e ON e.g = n.g JOIN ecc x ON x.g = n.g
    ORDER BY group_id"""))

  // --------------------------------------------------------------- q128
  /** Dedup threshold-sensitivity sweep: the q48 pipeline's one free
    * parameter (the Jaccard verify threshold) swept over τ ∈ {0.70,
    * 0.80, 0.90} WITHOUT re-running candidates or verification — every
    * τ is a different integer filter (`1000·n_inter ≥ τ‰·n_union`)
    * over the same [[scoredPairs]] memo, then its own
    * connected-components pass. Reports, per τ: verified edges,
    * non-singleton groups, docs inside groups, and the largest group —
    * the stability curve that says whether the production τ = 0.8 sits
    * on a plateau (robust) or a cliff (one more relaxation step and
    * components chain together).
    *
    * Scale: the CC runs iterate on the EDGE lists (tiny — near-dup
    * pairs), never the corpus; three sweeps = three bounded
    * large-star/small-star chains over shrinking label sets.
    */
  val q128 = Q("q128_dedup_threshold_sweep",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val scored = scoredPairs(s, dir).filter(col("n_union") > 0)
      val rows = Seq(700L, 800L, 900L).map { tau =>
        val edges = scored
          .filter(col("n_inter") * 1000 >= col("n_union") * tau)
          .select("id_a", "id_b")
        val nEdges = edges.count()
        val (labels, _) = graft.graph.ConnectedComponents.label(edges, docs)
        val groups = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
          .filter(col("sz") >= 2)
        val st = groups.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_groups"),
          coalesce(sum("sz"), lit(0L)).as("n_docs_grouped"),
          coalesce(max("sz"), lit(0L)).as("max_group")).head()
        (tau, nEdges, st.getLong(0), st.getLong(1), st.getLong(2))
      }
      rows.toDF("tau_permille", "n_edges", "n_groups", "n_docs_grouped", "max_group")
        .orderBy("tau_permille")
    },
    Some {
      def per(t: Int) = s"""ver$t AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b
      WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
        AND len(list_intersect(a.s, b.s)) * 1000
            >= len(list_distinct(list_concat(a.s, b.s))) * $t
    ), esym$t AS (
      SELECT id_a AS src, id_b AS dst FROM ver$t
      UNION ALL SELECT id_b, id_a FROM ver$t
    ), reach$t(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, re.r FROM reach$t re JOIN esym$t e ON e.src = re.id
    ), comp$t AS (
      SELECT id AS doc_id, min(r) AS group_id FROM reach$t GROUP BY id
    ), grp$t AS (
      SELECT group_id, count(*) AS sz FROM comp$t GROUP BY group_id HAVING count(*) >= 2
    ), st$t AS (
      SELECT CAST($t AS BIGINT) AS tau_permille,
        (SELECT CAST(count(*) AS BIGINT) FROM ver$t) AS n_edges,
        CAST(COALESCE(count(*), 0) AS BIGINT) AS n_groups,
        CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_docs_grouped,
        CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_group
      FROM grp$t
    )"""
      s"""WITH RECURSIVE $candChainSql, shd AS (
      SELECT doc_id, $shinglesSqlExpr AS s FROM documents
    ), ${per(700)}, ${per(800)}, ${per(900)}
    SELECT * FROM st700 UNION ALL SELECT * FROM st800 UNION ALL SELECT * FROM st900
    ORDER BY tau_permille"""
    })

  // --------------------------------------------------------------- q135
  /** Skyline (Pareto-front) selection over (length, information
    * density): the documents no other document dominates on BOTH
    * n_chars and distinct-8-gram count — the multi-criteria "best
    * docs" operator (Börzsönyi et al., ICDE 2001) relational engines
    * ship as SKYLINE OF. Strict-dominance semantics: equal points
    * survive together.
    *
    * Plan shape: per-doc metrics are one kernel pass; the skyline
    * itself runs on the DISTINCT (x, y) point set — for points sorted
    * by (x DESC, y DESC), a point survives iff the running max of y
    * over strictly-preceding points is < its own y (any preceding
    * distinct point with y ≥ mine dominates me: its x is ≥ mine by
    * sort order, and equality on both coords is impossible among
    * distinct points). The window runs over the DISTINCT-point frame —
    * bounded by value diversity, not corpus size; at 100 TB the
    * partition-local-skyline-then-merge refinement bounds it further
    * (each partition's skyline is tiny; the merge reruns the same
    * window on the union of local skylines).
    */
  val q135 = Q("q135_skyline_docs",
    (s, dir) => {
      // (doc_id, x, y) is three longs per doc; cache it so the kernel
      // pass runs once — the frame feeds BOTH the distinct-point set and
      // the final join-back (measured 4.6 s -> ~2 s at sf0.1)
      val pts = Tables(s, dir, "documents", spreadOk = true)
        .select(col("doc_id"), col("n_chars").as("x"),
          expr(s"shingle_agg(text, $N).n_distinct").as("y"))
        .cache()
      val distinctPts = pts.select("x", "y").distinct()
        .withColumn("rmax", max("y").over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("x").desc, col("y").desc)
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      val sky = distinctPts.filter(col("rmax").isNull || col("rmax") < col("y"))
        .select("x", "y")
      pts.join(broadcast(sky), Seq("x", "y"))
        .select("doc_id", "x", "y")
        .orderBy("doc_id")
    },
    Some(s"""WITH pts AS (
      SELECT doc_id, n_chars AS x,
        CAST(len($shinglesSqlExpr) AS BIGINT) AS y
      FROM documents
    )
    SELECT p.doc_id, p.x, p.y FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
    ORDER BY p.doc_id"""))

  // --------------------------------------------------------------- q150
  /** CORPUS RELEASE GATE — the capstone composite: q70's funnel
    * verdicts (lang → quality → exact dedup → near dedup) select the
    * survivors, q119's per-source cap (top-20 by n_chars, doc_id
    * tie-break) bounds any hot domain, and the released slice ships as
    * a per-source manifest row — released/candidate/capped counts,
    * char mass, and the q82-style order-sensitive md5-of-md5s content
    * digest that makes the release REPRODUCIBLE: two engines (or two
    * cluster runs) agree on the digest only if they released exactly
    * the same bytes in exactly the same id order.
    *
    * Scale: the gate adds one rank window on source and a 20-row
    * digest aggregate on top of its constituent operators — the flags
    * join is the q70 shape, the cap the q119 shape; if each scales,
    * the gate scales. The digest's collect_list is wrapped in
    * when(rk <= 20, ...) so NULL (dropped) entries keep the per-source
    * group buffer bounded at 20 structs regardless of how many
    * candidates a hot source has — no whole-group buffering anywhere.
    */
  val q150 = Q("q150_release_gate",
    (s, dir) => {
      val flags = funnelFlags(s, dir)
        .filter(col("k_lang") * col("k_qual") * col("k_exact") * col("k_near") === 1)
        .select("doc_id")
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text").cast("binary")).as("h"))
      val ranked = flags.join(docs, "doc_id")
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("rk") <= 20, 1L).otherwise(0L)).as("n_released"),
          sum(when(col("rk") <= 20, col("n_chars")).otherwise(0L)).as("released_chars"),
          // collect_list drops NULL entries, so the when() bounds the
          // group buffer at <= 20 structs per source; the md5 is
          // bit-identical to the unfiltered form because capped rows
          // contributed '' (the concat identity) there.
          md5(concat_ws("",
            transform(array_sort(collect_list(
              when(col("rk") <= 20, struct(col("doc_id"), col("h"))))),
              x => x.getField("h"))).cast("binary")).as("release_md5"))
        .withColumn("n_capped", col("n_candidates") - col("n_released"))
        .select("source", "n_candidates", "n_released", "n_capped",
          "released_chars", "release_md5")
        .transform(graft.Q.presentSorted(_, "source"))
    },
    Some {
      s"""$funnelFlagsCteSql, surv AS (
      SELECT f.doc_id FROM flags f
      WHERE f.k_lang * f.k_qual * f.k_exact * f.k_near = 1
    ), ranked AS (
      SELECT d.doc_id, d.source, d.n_chars, md5(d.text) AS h,
        row_number() OVER (PARTITION BY d.source
          ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM surv s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_candidates,
      CAST(SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_released,
      CAST(count(*) AS BIGINT)
        - CAST(SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
      CAST(SUM(CASE WHEN rk <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS released_chars,
      md5(string_agg(h, '' ORDER BY doc_id) FILTER (WHERE rk <= 20))
        AS release_md5
    FROM ranked GROUP BY source ORDER BY source"""
    })

  // --------------------------------------------------------------- q153
  private val SnmW = 8 // sorted-neighborhood window (rank distance < W)

  /** The SNM pairing over a globally-ranked frame `(doc_id, sh, rn)`,
    * returning SCORED pairs `(id_a, id_b, rank_dist, n_inter, n_union)`.
    *
    * ZERO-JOIN for the bulk: within coarse rank buckets (`rn div B`)
    * each row reads its W−1 successors via `lead(struct(id, sh), i)` —
    * a pipelined projection, never a shuffled/sorted join side — and
    * every pair is scored INLINE in that same projection
    * (`sorted_inter_count` against the W−1 lead arrays), so only four
    * SCALARS per pair ride the explode: at 5 M docs the array-exploding
    * variant memcpy'd ~84 GB of shingle arrays into the pair stream —
    * measured 705 s wall (PERF.md r15) — where this shape copies ~2 GB.
    * The ≤ W−1 rows at each bucket seam pair through a separate
    * equi-join over the 2·(W−1)/B seam slice. Exactness: a pair
    * (rnₐ, rn_b) with 0 < rn_b − rnₐ < W is either same-bucket (the
    * lead pass emits it, rank_dist = the lead offset) or crosses
    * exactly one boundary (rnₐ mod B ≥ B−W+1 ∧ rn_b mod B < W−1 — the
    * seam pass emits it); the two conditions are disjoint, so the
    * union is exact with no dedup step. `b` is a parameter so the spec
    * can shrink it and exercise seams at gate scale.
    */
  /** Broadcast guard for the SNM rank-back join: past this many docs
    * the (doc_id, rn) map (~16 B/row — ~320 MB here) stops being a safe
    * driver/executor broadcast and [[snmJoinRank]] takes the documented
    * shuffle-join swap instead. 2×10⁷ leaves ~5× headroom under a
    * typical 4 GB driver before the 10⁸-doc wall the broadcast hits.
    */
  private[graft] val SnmBcastMaxDocs = 20000000L

  /** Rank-back join with the scale guard: broadcast the slim
    * (doc_id, rn) map while it fits a driver-bounded exchange, else a
    * plain shuffle join (the shingle arrays then ship one extra time —
    * still the floor for a plan that must co-locate rank-adjacent
    * documents). Both sides are value-identical (equi-join on a key
    * both plans hash the same way); DedupScaleGuardSpec forces the
    * threshold both ways and compares.
    */
  private[graft] def snmJoinRank(d: DataFrame, rnMap: DataFrame, nDocs: Long,
                                 bcastMax: Long = SnmBcastMaxDocs): DataFrame = {
    val j = if (nDocs <= bcastMax) d.join(broadcast(rnMap), "doc_id")
            else d.join(rnMap, "doc_id")
    j.select(col("doc_id"), col("sh"), col("rn"))
  }

  private[graft] def snmWindowPairs(ranked: DataFrame, w: Int,
                                    b: Long = 65536L): DataFrame = {
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy(expr(s"rn div ${b}L")).orderBy("rn")
    def score(aSh: org.apache.spark.sql.Column,
              bSh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("sorted_inter_count", aSh, bSh)
    val leadPairs = ranked
      .withColumn("nb", array((1 until w).map(i =>
        lead(struct(col("doc_id").as("id"), col("sh").as("shb")), i)
          .over(wL)): _*))
      // scalar pair records, scored against the in-row lead arrays;
      // null lead = bucket seam (or corpus end) — the seam pass owns it
      .select(col("doc_id").as("id_a"),
        posexplode(array((1 until w).map { i =>
          val nb = col("nb").getItem(i - 1)
          when(nb.isNotNull, struct(
            nb.getField("id").as("id_b"),
            lit(i.toLong).as("rank_dist"),
            score(col("sh"), nb.getField("shb")).as("n_inter"),
            (size(col("sh")) + size(nb.getField("shb"))).cast("long").as("szsum")))
        }: _*)).as(Seq("p0", "pr")))
      .filter(col("pr").isNotNull)
      .select(col("id_a"), col("pr.id_b").as("id_b"),
        col("pr.rank_dist").as("rank_dist"), col("pr.n_inter").as("n_inter"),
        (col("pr.szsum") - col("pr.n_inter")).as("n_union"))
    val seamA = ranked.filter(col("rn") % b >= b - (w - 1))
      .select((expr(s"rn div ${b}L") + 1).as("sb"), col("doc_id").as("id_a"),
        col("sh").as("sh_a"), col("rn").as("rn_a"))
    val seamB = ranked.filter(col("rn") % b < w - 1)
      .select(expr(s"rn div ${b}L").as("sb"), col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("rn").as("rn_b"))
    val seamPairs = seamA.join(seamB, Seq("sb"))
      .filter(col("rn_b") > col("rn_a") && col("rn_b") - col("rn_a") < w)
      .withColumn("n_inter", score(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("rn_b") - col("rn_a")).as("rank_dist"), col("n_inter"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") -
          col("n_inter")).as("n_union"))
    leadPairs.union(seamPairs)
  }

  /** Sorted-neighborhood (SNM) near-dup detection — the third classic
    * dedup blocking family next to LSH banding (q48/q67) and winnowing
    * (q108): sort the corpus by a cheap blocking key, compare each doc
    * only with its W−1 successors in sort order. Near-identical docs
    * have near-identical (lang, n_chars), so they land adjacent; the
    * candidate count is ≤ N·(W−1), linear by construction.
    *
    * Scale shape: the global sort-order rank comes from
    * [[graft.rel.GlobalRank]] (range shuffle + per-partition offsets —
    * no single-partition window), and the "rank distance < W" pairing
    * is ZERO-JOIN: within coarse rank buckets (`rn div 65536`, ~76
    * window partitions at 5 M docs) each row reads its W−1 successors
    * via `lead(struct(id, sh), i)` — the pair stream is a pipelined
    * projection, never a shuffled/sorted join side — and the ≤ W−1
    * rows at each bucket seam pair through a separate equi-join over
    * the 2·(W−1)/65536 seam slice (KB-scale). The round-14 bucket
    * equi-join spelling (kept in the SQL surface text) re-shuffled the
    * 2.4 KB shingle arrays three times and double-replicated them into
    * a sort-merge join — ~84 GB of shuffle+spill at 5 M docs, over
    * this box's disk; the lead plan ships the arrays twice (rank
    * shuffle + window shuffle, ~24 GB) and spills nothing else
    * (PERF.md r15).
    *
    * Shingle-once verification: each document's distinct-shingle set is
    * materialized ONCE as a 48-bit-hash array (`shingle_hash48` kernel)
    * BEFORE the range shuffle — raw text never ships, and no candidate
    * pair re-shingles anything; the verify stage is a pure
    * `array_intersect` over pre-computed long arrays. The oracle folds
    * the identical md5-prefix hash per shingle (the q84 pattern), so
    * both engines intersect the same 48-bit values by construction and
    * integer permille keeps the compare exact.
    */
  val q153 = Q("q153_sorted_neighborhood",
    (s, dir) => {
      // The rank is computed on a SLIM frame (three scalars per doc —
      // GlobalRank's range shuffle, persist and offset pass all move
      // ~24 B rows) and broadcast back onto the shingle-array frame, so
      // the 2.4 KB/doc hash arrays make exactly ONE trip through an
      // exchange: the window's bucket partitioning inside
      // [[snmWindowPairs]], where every pair is also scored, and only
      // scalar pair records leave. The measured ladder at 5 M docs
      // (PERF.md r15): arrays through rank+join+window ≈ 84 GB spill
      // (over this box's disk); arrays through rank+window ≈ 55 GB,
      // 674 s; this shape ≈ one 12 GB exchange. Past SnmBcastMaxDocs
      // the (doc_id, rn) map outgrows a safe broadcast and
      // [[snmJoinRank]] takes the shuffle-join swap automatically. The
      // doc count that drives the guard is a PARQUET METADATA count of
      // the raw table — counting rnMap instead would execute the whole
      // rank pipeline one extra time (measured +55 % at 5 M docs before
      // this was caught).
      val nDocs = Tables(s, dir, "documents").count()
      val slim = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val rnMap = graft.rel.GlobalRank
        .withGlobalRank(slim, Seq(col("lang"), col("n_chars"), col("doc_id")), "rn")
        .select(col("doc_id"), col("rn"))
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"),
          array_sort(expr(s"shingle_hash48(text, $N)")).as("sh"))
      val ranked = snmJoinRank(d, rnMap, nDocs)
      snmWindowPairs(ranked, SnmW)
        .filter(col("n_union") > 0)
        .withColumn("jac_permille", expr("n_inter * 1000 div n_union"))
        .filter(col("jac_permille") >= 500)
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    // NULLS FIRST pins the rank order to Spark's ascending-nulls-first
    // default should the corpus ever gain null blocking keys.
    Some(s"""WITH ranked AS (
      SELECT doc_id, text,
        ROW_NUMBER() OVER (ORDER BY lang NULLS FIRST, n_chars NULLS FIRST,
          doc_id NULLS FIRST) - 1 AS rn
      FROM documents
    ), sh AS (
      SELECT doc_id, rn,
        list_transform($shinglesSqlExpr, g ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, 12), i ->
              CAST(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1 AS BIGINT))),
            (acc, x) -> acc * 16 + x)) AS sh
      FROM ranked
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        b.rn - a.rn AS rank_dist,
        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union
      FROM sh a JOIN sh b ON b.rn > a.rn AND b.rn <= a.rn + ${SnmW - 1}
    )
    SELECT id_a, id_b, rank_dist, n_inter, n_union,
      n_inter * 1000 // n_union AS jac_permille
    FROM p WHERE n_union > 0 AND n_inter * 1000 // n_union >= 500
    ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q156
  /** Group-aware split ASSIGNMENT — the constructive fix for what q73
    * merely measures: assign train/val/test by hashing the near-dup
    * GROUP id (the q48 connected component), so every member of a group
    * lands in the same split and paraphrase leakage across splits is
    * impossible BY CONSTRUCTION. The query both assigns and proves it:
    * per-split group/doc/char-mass shares plus a leakage audit
    * (groups straddling >1 split, docs inside them) that must read 0 —
    * the same audit q73 runs against the per-DOC hash split, where it
    * reads nonzero. Same 90/5/5-style hash convention as q73
    * (multiplicative mod-1000 bucket), applied one level up.
    *
    * Shape: one equi-join of the memoized group table against documents,
    * two partial-aggregable groupBys (per split, per group), and a
    * broadcast of the 1-row audit frame — nothing beyond what q48
    * already paid, which is why a pipeline runs this assignment "for
    * free" right after dedup.
    */
  val q156 = Q("q156_group_split_assign",
    (s, dir) => {
      val labels = dedupGroups(s, dir).withColumnRenamed("comp", "group_id")
      val h = expr("(group_id * 2654435761) % 1000")
      val split = when(h < 800, lit("train")).when(h < 900, lit("val"))
        .otherwise(lit("test"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val assigned = labels.withColumn("split", split).join(docs, "doc_id")
      val per = assigned.groupBy("split").agg(
        countDistinct("group_id").as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
      val audit = assigned.groupBy("group_id")
        .agg(countDistinct("split").as("nsp"), count(lit(1)).as("nm"))
        .agg(sum(when(col("nsp") > 1, 1L).otherwise(0L)).as("n_leaked_groups"),
          sum(when(col("nsp") > 1, col("nm")).otherwise(0L)).as("n_leaked_docs"),
          sum("nm").as("total_docs"))
      per.crossJoin(broadcast(audit))
        .withColumn("docs_permille", expr("n_docs * 1000 div total_docs"))
        .select("split", "n_groups", "n_docs", "sum_chars", "docs_permille",
          "n_leaked_groups", "n_leaked_docs")
        .transform(graft.Q.presentSorted(_, "split"))
    },
    Some(s"""$dedupCteSql, asg AS (
      SELECT c.doc_id, c.group_id,
        CASE WHEN (c.group_id * 2654435761) % 1000 < 800 THEN 'train'
             WHEN (c.group_id * 2654435761) % 1000 < 900 THEN 'val'
             ELSE 'test' END AS split,
        d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ), aud AS (
      SELECT CAST(SUM(CASE WHEN nsp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_groups,
        CAST(SUM(CASE WHEN nsp > 1 THEN nm ELSE 0 END) AS BIGINT) AS n_leaked_docs,
        CAST(SUM(nm) AS BIGINT) AS total_docs
      FROM (SELECT group_id, COUNT(DISTINCT split) AS nsp, COUNT(*) AS nm
            FROM asg GROUP BY group_id)
    )
    SELECT split, CAST(COUNT(DISTINCT group_id) AS BIGINT) AS n_groups,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(COUNT(*) AS BIGINT) * 1000 // a.total_docs AS docs_permille,
      a.n_leaked_groups, a.n_leaked_docs
    FROM asg, aud a
    GROUP BY split, a.n_leaked_groups, a.n_leaked_docs, a.total_docs
    ORDER BY split"""))

  // --------------------------------------------------------------- q163
  private val BpeMergeRounds = 3

  /** BPE merge-rule TRAINING (Sennrich, Haddow, Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016) — the
    * training side of q57's tokenizer application: reduce the corpus to
    * its word-frequency table ONCE (the shuffle that turns 100 TB of
    * text into a vocab-sized frame — exactly how production BPE
    * trainers scale), then run [[BpeMergeRounds]] rounds of
    * count-adjacent-symbol-pairs → pick the most frequent (ties:
    * lexicographic) → apply the merge greedily left-to-right in every
    * word. Emits one row per learned rule with its weighted pair count
    * and the post-merge corpus token count (the compression curve).
    *
    * The merge application is engine-portable by construction: symbols
    * are encoded with TWO-space delimiters ("  t  h  e  </w>  "), so a
    * merge of (a, b) is plain `replace(enc, " a  b ", " ab ")` — the
    * search consumes only the inner halves of the boundary delimiters,
    * which makes standard left-to-right non-overlapping replacement
    * implement greedy BPE exactly (consecutive merges like a a a →
    * (aa) a work, and a symbol can never false-match inside a longer
    * symbol because both of its delimiter halves are anchored).
    * Per-round argmax is a 1-row driver scalar (the q54-seed pattern);
    * every per-round frame is vocab-sized, never corpus-sized.
    */
  val q163 = Q("q163_bpe_merge_train",
    (s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(explode(expr("regexp_extract_all(text, '\\\\p{L}+', 0)")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      var enc = words.withColumn("enc",
          concat(lit("  "),
            array_join(expr(
              "transform(sequence(1, length(word)), i -> substring(word, i, 1))"), "  "),
            lit("  </w>  ")))
        .select("n", "enc")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val symsExpr = "filter(split(enc, ' '), x -> x != '')"
      def tokensAfter(df: org.apache.spark.sql.DataFrame): Long =
        df.select(sum(col("n") * size(expr(symsExpr))).cast("long")).first().getLong(0)
      val rows = (1 to BpeMergeRounds).map { r =>
        val tops = enc
          .select(col("n"), expr(symsExpr).as("s"))
          // single-symbol words have no pairs; the guard matters because
          // Spark's sequence(1, 0) is the DESCENDING [1, 0] (it would
          // index past the array), while DuckDB's generate_series(1, 0)
          // is empty — the filter makes both engines contribute nothing
          .filter(size(col("s")) >= 2)
          .select(col("n"), explode(expr(
            "transform(sequence(1, size(s) - 1), i -> " +
              "struct(element_at(s, i) AS lhs, element_at(s, i + 1) AS rhs))")).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum("n").as("pair_n"))
          .orderBy(desc("pair_n"), col("lhs"), col("rhs"))
          .limit(1).collect()
        require(tops.nonEmpty, s"q163_bpe_merge_train: merge round $r found no " +
          "symbol pairs — the corpus has no multi-character words left to merge")
        val top = tops(0)
        val (lhs, rhs, pairN) = (top.getString(0), top.getString(1), top.getLong(2))
        val next = enc.withColumn("enc",
            call_function("replace", col("enc"),
              lit(s" $lhs  $rhs "), lit(s" $lhs$rhs ")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // tokensAfter materializes `next`; the superseded encoding
        // generation then has no reader — drop it (one live generation)
        val out = (r.toLong, lhs, rhs, pairN, tokensAfter(next))
        enc.unpersist()
        enc = next
        out
      }
      enc.unpersist() // rows are driver-side; the last generation has no reader
      val sess = s
      import sess.implicits._
      rows.toDF("merge_rank", "lhs", "rhs", "pair_n", "tokens_after")
        .orderBy("merge_rank")
    },
    Some {
      def round(r: Int): String = {
        val in = s"e${r - 1}"
        s"""p$r AS (
      SELECT s[i] AS lhs, s[i + 1] AS rhs, CAST(SUM(n) AS BIGINT) AS pair_n
      FROM (
        SELECT n, s, unnest(generate_series(1, len(s) - 1)) AS i FROM (
          SELECT n, list_filter(str_split(enc, ' '), x -> x != '') AS s FROM $in
        )
      ) GROUP BY s[i], s[i + 1]
    ), t$r AS (
      SELECT lhs, rhs, pair_n FROM p$r ORDER BY pair_n DESC, lhs, rhs LIMIT 1
    ), e$r AS (
      SELECT n, replace(enc,
        ' ' || (SELECT lhs FROM t$r) || '  ' || (SELECT rhs FROM t$r) || ' ',
        ' ' || (SELECT lhs || rhs FROM t$r) || ' ') AS enc
      FROM $in
    ), a$r AS (
      SELECT CAST(SUM(n * len(list_filter(str_split(enc, ' '), x -> x != ''))) AS BIGINT)
        AS tokens_after FROM e$r
    )"""
      }
      s"""WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT unnest(regexp_extract_all(text, '[\\p{L}]+')) AS word FROM documents
      ) GROUP BY word
    ), e0 AS (
      SELECT n,
        '  ' || array_to_string(list_transform(generate_series(1, length(word)),
          i -> substr(word, i, 1)), '  ') || '  </w>  ' AS enc
      FROM w
    ), ${(1 to BpeMergeRounds).map(round).mkString(",\n    ")}
    ${(1 to BpeMergeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs, pair_n, " +
          s"(SELECT tokens_after FROM a$r) AS tokens_after FROM t$r")
        .mkString("\n    UNION ALL\n    ")}
    ORDER BY merge_rank"""
    })

  // --------------------------------------------------------------- q169

  /** Record linkage (entity resolution) — the dedup family's
    * approximate-IDENTIFIER leg (q29 is exact rows, q48/q153 are
    * near-dup CONTENT; this is dirty-key matching, the classic
    * Fellegi–Sunter blocking+compare pipeline every training-data
    * metadata join needs): derive an entity "title" per document (first
    * six tokens), corrupt a deterministic quarter of them with one
    * md5-positioned character drop (the dirty side), then link dirty →
    * clean by MULTI-PASS BLOCKING (first-3-chars key ∪ last-3-chars
    * key — two cheap equi-joins whose union recovers pairs either
    * single key loses to the corruption) and verify candidates with
    * the native [[graft.functions.JaroWinkler]] kernel (semantics
    * pinned bit-for-bit to DuckDB's `jaro_winkler_similarity`, so the
    * oracle uses the built-in). Emits per dirty record its best match
    * (max JW, id tie-break), candidate count, whether the match is the
    * true source, and whether it clears the 0.88 accept threshold —
    * blocking recall and match precision are READ OFF the output.
    *
    * Scale shape: blocking keys shard the join (never all-pairs); the
    * JW verify runs only inside blocks; ranking windows partition by
    * dirty key (bounded by block size, no global sort). Duplicate
    * titles resolve to the smallest clean id — the honest
    * unresolvable-by-name case, visible as self_match=0. Scale caveat
    * every production linkage shares: a FIXED blocking alphabet makes
    * in-block pairs quadratic in N (here ~N²/192 — visible as the 10×
    * step ratio rising once pair work dominates fixed cost), so key
    * selectivity must grow with the corpus. [[q173]] is the scale-safe
    * twin: the same entities, corruption, verify, and ranking, with
    * the alphabet blocks replaced by sorted-neighborhood rank windows
    * whose candidate count per record is constant by construction.
    */
  /** Shared entity derivation for the linkage pair q169/q173: per-doc
    * 6-token "title" entities (clean side) and the deterministic
    * quarter corrupted by one md5-positioned character drop (dirty
    * side). Returns (clean(c_key, title), dirty(d_key, dtitle)).
    */
  private[graft] def linkageCleanDirty(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables(s, dir, "documents", spreadOk = true)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        array_join(slice(split(trim(col("text")), " "), 1, 6), " ").as("title"))
    val clean = base.filter(length(col("title")) >= 8)
    val dirty = clean.filter(pmod(col("doc_id"), lit(4)) === 1)
      .withColumn("h", expr("CAST(conv(substr(md5(CAST(concat('rl#', " +
        "CAST(doc_id AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("pos", (lit(1) + col("h") % length(col("title"))).cast("int"))
      .select(col("doc_id").as("d_key"),
        concat(substring(col("title"), lit(1), col("pos") - lit(1)),
          col("title").substr(col("pos") + lit(1), length(col("title"))))
          .as("dtitle"))
    (clean.select(col("doc_id").as("c_key"), col("title")), dirty)
  }

  /** Shared verify + ranking tail for q169/q173: per-leg SCORED
    * candidates (d_key, c_key, jw) → per-dirty best match with
    * candidate count, self-match flag, and the 0.88 accept flag.
    *
    * The JW score is computed map-side INSIDE each blocking leg and
    * only (long, long, double) rides the union + distinct exchange —
    * never the title strings. At 100× (500 k entities, ~180 M
    * candidate pairs) the string-carrying variant spent its 30 CPU-min
    * hashing/shipping titles through the dedup shuffle; jw is
    * functionally dependent on the pair, so distinct-on-the-triple ≡
    * distinct-on-the-pair and a duplicated pair costs one extra
    * map-side kernel eval instead of a wide exchange row. The ranking
    * window partitions by dirty key, so its width is the per-record
    * candidate count — bounded by the blocking scheme, never a global
    * sort.
    */
  private def linkageBest(scoredLegs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredLegs.distinct()
    val w = Window.partitionBy("d_key")
    val ranked = scored
      .withColumn("rn", row_number().over(w.orderBy(desc("jw"), col("c_key"))))
      .withColumn("n_cand", count(lit(1)).over(w))
    ranked.filter(col("rn") === 1)
      .select(col("d_key"), col("c_key").as("match_key"), col("jw").as("best_jw"),
        col("n_cand"),
        (col("c_key") === col("d_key")).cast("int").as("self_match"),
        (col("jw") >= 0.88).cast("int").as("strong"))
      .transform(graft.Q.presentSorted(_, "d_key"))
  }

  /** DuckDB mirror of [[linkageCleanDirty]] (CTEs `clean`, `dirty`). */
  private val linkageCteSql: String = {
    val hashFold =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(1, 12), g -> " +
        "CAST(strpos('0123456789abcdef', substr(md5('rl#' || " +
        "CAST(doc_id AS VARCHAR)), g, 1)) - 1 AS BIGINT))), " +
        "(acc, x) -> acc * 16 + x)"
    s"""WITH base AS (
      SELECT doc_id, array_to_string((string_split(trim(text), ' '))[1:6], ' ') AS title
      FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
    ), clean AS (
      SELECT doc_id, title FROM base WHERE len(title) >= 8
    ), dirty0 AS (
      SELECT doc_id, title, $hashFold AS h FROM clean WHERE doc_id % 4 = 1
    ), dirty AS (
      SELECT doc_id AS d_key,
        concat(substr(title, 1, CAST(1 + h % len(title) AS INT) - 1),
               substr(title, CAST(1 + h % len(title) AS INT) + 1)) AS dtitle
      FROM dirty0
    )"""
  }

  /** DuckDB mirror of [[linkageBest]] on top of a CTE named `cand`. */
  private val linkageBestSql: String =
    """, scored AS (
      SELECT d_key, c_key, jaro_winkler_similarity(title, dtitle) AS jw FROM cand
    ), ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY jw DESC, c_key) AS rn,
        COUNT(*) OVER (PARTITION BY d_key) AS n_cand
      FROM scored
    )
    SELECT d_key, c_key AS match_key, jw AS best_jw,
      CAST(n_cand AS BIGINT) AS n_cand,
      CAST(CASE WHEN c_key = d_key THEN 1 ELSE 0 END AS INT) AS self_match,
      CAST(CASE WHEN jw >= 0.88 THEN 1 ELSE 0 END AS INT) AS strong
    FROM ranked WHERE rn = 1 ORDER BY d_key"""

  val q169 = Q("q169_record_linkage",
    (s, dir) => {
      val (c, dirty) = linkageCleanDirty(s, dir)
      def blocked(keyD: String, keyC: String) =
        dirty.withColumn("bk", expr(keyD))
          .join(c.withColumn("bk", expr(keyC)), "bk")
          .select(col("d_key"), col("c_key"),
            expr("jaro_winkler(title, dtitle)").as("jw"))
      linkageBest(
        blocked("substring(dtitle, 1, 3)", "substring(title, 1, 3)")
          .union(blocked("right(dtitle, 3)", "right(title, 3)")))
    },
    Some(s"""$linkageCteSql, cand AS (
      SELECT d.d_key, c.doc_id AS c_key, c.title, d.dtitle
      FROM dirty d JOIN clean c ON substr(d.dtitle, 1, 3) = substr(c.title, 1, 3)
      UNION
      SELECT d.d_key, c.doc_id, c.title, d.dtitle
      FROM dirty d JOIN clean c ON right(d.dtitle, 3) = right(c.title, 3)
    )$linkageBestSql"""))

  // --------------------------------------------------------------- q173
  private[graft] val SnmLinkW = 12 // rank-window width per pass

  /** Record linkage with SCALE-SAFE blocking — q169's twin, following
    * the q71/q72 precedent (a width-scaled leg next to a fixed-width
    * one). q169's first-3/last-3-char blocking keys have FIXED
    * selectivity, so in-block pairs grow ~N²/192; this leg replaces the
    * alphabet blocks with sorted-neighborhood rank windows (the q153
    * machinery pointed at linkage): union the clean titles and dirty
    * titles into one stream, rank it globally twice — by title and by
    * REVERSED title (the classic multi-pass SNM answer to a corruption
    * anywhere in the key: a single character drop preserves either the
    * prefix order or the suffix order) — and compare each dirty record
    * only with clean records within rank distance < [[SnmLinkW]] in
    * either pass. Candidates per dirty record are ≤ 2·(2W−1) BY
    * CONSTRUCTION — constant, independent of N — so total verify work
    * is linear in the corpus where q169's is quadratic.
    *
    * Scale shape: both global ranks come from [[graft.rel.GlobalRank]]
    * (range shuffle + per-partition offsets, no single-partition
    * window); the rank-distance pairing is the q153 bucket trick — rank
    * div W buckets, clean side replicated to its own ± adjacent buckets
    * (bounded 3×), ONE equi-join per pass, then the exact distance
    * filter. Verify + ranking are shared with q169 ([[linkageBest]]),
    * so blocking recall (self_match rate) is directly comparable
    * between the fixed-alphabet and rank-windowed legs.
    */
  val q173 = Q("q173_record_linkage_snm",
    (s, dir) => {
      val (c, dirty) = linkageCleanDirty(s, dir)
      val stream = c.select(col("c_key").as("id"), lit(0).as("kind"), col("title").as("t"))
        .unionByName(dirty.select(col("d_key").as("id"), lit(1).as("kind"),
          col("dtitle").as("t")))
      def pass(sortKey: org.apache.spark.sql.Column): DataFrame = {
        val ranked = graft.rel.GlobalRank.withGlobalRank(
          stream.withColumn("sk", sortKey),
          Seq(col("sk"), col("kind"), col("id")), "rn")
          .select("id", "kind", "t", "rn")
        val d = ranked.filter(col("kind") === 1)
          .select(col("id").as("d_key"), col("t").as("dtitle"),
            col("rn").as("rn_d"), expr(s"rn div $SnmLinkW").as("bucket"))
        val cc = ranked.filter(col("kind") === 0)
          .select(explode(array(expr(s"rn div $SnmLinkW - 1"),
              expr(s"rn div $SnmLinkW"), expr(s"rn div $SnmLinkW + 1"))).as("bucket"),
            col("id").as("c_key"), col("t").as("title"), col("rn").as("rn_c"))
        d.join(cc, Seq("bucket"))
          .filter(abs(col("rn_c") - col("rn_d")) < SnmLinkW)
          .select(col("d_key"), col("c_key"),
            expr("jaro_winkler(title, dtitle)").as("jw"))
      }
      linkageBest(pass(col("t")).union(pass(reverse(col("t")))))
    },
    // NULLS FIRST pins the rank order to Spark's ascending-nulls-first
    // default (titles are never null here; the pin is for robustness).
    Some(s"""$linkageCteSql, stream AS (
      SELECT doc_id AS id, 0 AS kind, title AS t FROM clean
      UNION ALL
      SELECT d_key AS id, 1 AS kind, dtitle AS t FROM dirty
    ), r1 AS (
      SELECT id, kind, t,
        ROW_NUMBER() OVER (ORDER BY t NULLS FIRST, kind, id) - 1 AS rn
      FROM stream
    ), r2 AS (
      SELECT id, kind, t,
        ROW_NUMBER() OVER (ORDER BY reverse(t) NULLS FIRST, kind, id) - 1 AS rn
      FROM stream
    ), cand AS (
      SELECT d.id AS d_key, c.id AS c_key, c.t AS title, d.t AS dtitle
      FROM r1 d JOIN r1 c
        ON d.kind = 1 AND c.kind = 0 AND abs(c.rn - d.rn) < $SnmLinkW
      UNION
      SELECT d.id, c.id, c.t, d.t
      FROM r2 d JOIN r2 c
        ON d.kind = 1 AND c.kind = 0 AND abs(c.rn - d.rn) < $SnmLinkW
    )$linkageBestSql"""))

  // --------------------------------------------------------------- q172

  /** Exact frequent-itemset mining via SON (Savasere–Omiecinski–Navathe,
    * VLDB 1995 — the two-phase partition algorithm that made Apriori
    * distributed, and the shape `spark.ml`'s FPGrowth parallelizes):
    * baskets are documents, items their distinct tokens, support
    * threshold 60 % of the corpus.
    *
    * Phase 1 (mapPartitions — genuinely per-partition imperative logic,
    * the case the catalog reserves it for): each partition runs in-core
    * Apriori (sizes 1–3, candidate pruning through the lattice) at the
    * PROPORTIONAL local threshold ⌈minsup·n_p/N⌉. The SON lemma makes
    * the union of local winners a provably COMPLETE candidate set: an
    * itemset below threshold in every partition proportionally is below
    * it globally (pigeonhole), so no partitioning can lose a frequent
    * itemset — candidates depend on the partitioning, the OUTPUT never
    * does. Phase 2 broadcasts the Apriori-bounded (≤ thousands)
    * candidates and counts exact support in one scan; `support ≥
    * minsup` filters to the exact answer.
    *
    * Scale shape: phase 1 touches each basket once in memory and ships
    * only candidate ids; phase 2 is scan × broadcast with map-side
    * combinable counts. Nothing is quadratic in the corpus; the lattice
    * work is bounded by the per-basket item count (~23 here) and the
    * Apriori pruning.
    */
  /** SON mining body, parameterized on the support threshold
    * supNum/supDen (the gate query q172 fixes 3/5 = 60 %; the scale
    * probes run lower thresholds where a decorrelated 10× corpus still
    * yields survivors — PERF.md round 10).
    */
  private[graft] def sonItemsets(s: SparkSession, dir: String,
                                 supNum: Long, supDen: Long): DataFrame = {
    {
      val sess = s
      import sess.implicits._
      val docs = Tables(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          array_sort(array_distinct(split(trim(lower(col("text"))), " "))).as("items"))
        .filter(size(col("items")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      val minsup = (supNum * nDocs + supDen - 1) / supDen // ceil, exact integers
      val cands = docs.select("items").as[Seq[String]].mapPartitions { it =>
        val baskets = it.toArray
        val np = baskets.length.toLong
        // SON proportional threshold: ⌈minsup·n_p/N⌉ (≥ 1 so an empty
        // quota can't mark everything frequent in a tiny partition)
        val tp = math.max(1L, (minsup * np + nDocs - 1) / nDocs)
        // dense-id counting: the locally-frequent vocabulary indexes a
        // flat PAIR matrix (boxed-string-tuple HashMaps priced this loop
        // at ~6 s of the bench; int arithmetic runs it in well under a
        // second). Triples are counted in an unboxed-long-keyed sparse
        // map instead of a dense n1³ cube — they are Apriori-pruned and
        // sparse, and the cube was the one allocation that could OOM a
        // task (1 GiB at n1=512) before any require fired. The L1 cap
        // is now only the pair matrix (2048² longs = 32 MB) and the
        // honesty guard: past ~2k locally-frequent tokens the size-3
        // lattice is the wrong algorithm, so fail loudly.
        val sing = scala.collection.mutable.HashMap.empty[String, Long]
        baskets.foreach(_.foreach(t => sing.update(t, sing.getOrElse(t, 0L) + 1L)))
        val l1 = sing.iterator.collect { case (t, c) if c >= tp => t }.toArray.sorted
        val n1 = l1.length
        require(n1 <= 2048,
          s"q172: $n1 locally-frequent tokens — size-3 lattice capped at 2048")
        val idOf = l1.iterator.zipWithIndex.toMap
        val ids = baskets.map(_.iterator.flatMap(idOf.get).toArray) // sorted ids
        val nL = n1.toLong
        val pc = new Array[Long](n1 * n1)
        ids.foreach { f =>
          var i = 0
          while (i < f.length) {
            var j = i + 1
            while (j < f.length) { pc(f(i) * n1 + f(j)) += 1L; j += 1 }
            i += 1
          }
        }
        val isL2 = pc.map(_ >= tp)
        val tc = new scala.collection.mutable.LongMap[Long]()
        ids.foreach { f =>
          var i = 0
          while (i < f.length) {
            var j = i + 1
            while (j < f.length) {
              if (isL2(f(i) * n1 + f(j))) { // Apriori prune at the pair level
                var k = j + 1
                while (k < f.length) {
                  if (isL2(f(j) * n1 + f(k)) && isL2(f(i) * n1 + f(k))) {
                    val key = (f(i) * nL + f(j)) * nL + f(k)
                    tc(key) = tc.getOrElse(key, 0L) + 1L
                  }
                  k += 1
                }
              }
              j += 1
            }
            i += 1
          }
        }
        val out = Iterator.tabulate(n1)(i => Seq(l1(i))) ++
          (0 until n1 * n1).iterator.collect {
            case p if isL2(p) => Seq(l1(p / n1), l1(p % n1))
          } ++
          tc.iterator.collect {
            case (t, c) if c >= tp =>
              Seq(l1((t / (nL * nL)).toInt), l1((t / nL % nL).toInt), l1((t % nL).toInt))
          }
        out
      }.toDF("iset").distinct()
      // GLOBAL L1 refinement before the containment scan. Near the
      // noise floor the per-partition candidate union INFLATES (every
      // borderline token crosses the proportional threshold in some
      // partition — the 100× probe at support 1/125 measured a
      // docs × candidates scan of 23 minutes against a 410-row
      // answer), and phase 2's cost is docs × |candidates|. One
      // linear token count fixes it exactly: candidate singles get
      // their TRUE support from a hash-joined explode (no containment
      // scan at all), and anti-monotonicity prunes every pair/triple
      // with a sub-threshold member before the scan — provably no
      // frequent itemset is lost (a frequent itemset's members are
      // frequent), so the output is unchanged.
      val singleSupport = docs.select(explode(col("items")).as("tok"))
        .join(broadcast(cands.filter(size(col("iset")) === 1)
          .select(element_at(col("iset"), 1).as("tok"))), "tok")
        .groupBy("tok").agg(count(lit(1)).as("support"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val l1Exact = singleSupport.filter(col("support") >= minsup)
      val bigCands = cands.filter(size(col("iset")) >= 2)
        .select(col("iset"), explode(col("iset")).as("tok"))
        .join(broadcast(l1Exact.select("tok")), "tok")
        .groupBy("iset").agg(count(lit(1)).as("nm"))
        .filter(col("nm") === size(col("iset")))
        .select("iset")
      val bigOut = docs.crossJoin(broadcast(bigCands))
        // containment as SHORT-CIRCUITING codegen'd array_contains
        // conjuncts (itemsets are 2–3 tokens): most (doc, candidate)
        // pairs fail on the first missing token, so the scan×candidates
        // filter prices at one probe per miss — a forall/array_contains
        // lambda (interpreted) or array_intersect (builds a set per
        // pair) measured 3–5× slower here
        .filter(
          array_contains(col("items"), element_at(col("iset"), 1)) &&
          array_contains(col("items"), element_at(col("iset"), 2)) &&
          (size(col("iset")) < 3 ||
            array_contains(col("items"), element_at(col("iset"), 3))))
        .groupBy("iset").agg(count(lit(1)).as("support"))
        .filter(col("support") >= minsup)
      val out = l1Exact.select(array(col("tok")).as("iset"), col("support"))
        .unionByName(bigOut)
        .select(size(col("iset")).cast("long").as("k"),
          array_join(col("iset"), ",").as("itemset"), col("support"))
      out.transform(graft.Q.presentSorted(_, "k", "itemset"))
    }
  }

  /** DuckDB mirror of [[sonItemsets]] at supNum/supDen. */
  private[graft] def sonOracleSql(supNum: Long, supDen: Long): String =
    s"""WITH d AS (
      SELECT doc_id, list_sort(list_distinct(string_split(trim(lower(text)), ' '))) AS items
      FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0
    ), dd AS (SELECT * FROM d WHERE len(items) > 0),
    ms AS (SELECT ($supNum * COUNT(*) + $supDen - 1) // $supDen AS minsup FROM dd),
    t AS (SELECT doc_id, unnest(items) AS tok FROM dd),
    s1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok),
    p2 AS (
      SELECT a.tok AS t1, b.tok AS t2, CAST(COUNT(*) AS BIGINT) AS c
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    ), p3 AS (
      SELECT a.tok AS t1, b.tok AS t2, c3.tok AS t3, CAST(COUNT(*) AS BIGINT) AS c
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
      JOIN t c3 ON b.doc_id = c3.doc_id AND b.tok < c3.tok
      GROUP BY 1, 2, 3
    )
    SELECT k, itemset, support FROM (
      SELECT CAST(1 AS BIGINT) AS k, tok AS itemset, c AS support
      FROM s1, ms WHERE c >= minsup
      UNION ALL
      SELECT 2, t1 || ',' || t2, c FROM p2, ms WHERE c >= minsup
      UNION ALL
      SELECT 3, t1 || ',' || t2 || ',' || t3, c FROM p3, ms WHERE c >= minsup
    ) ORDER BY k, itemset"""

  val q172 = Q("q172_frequent_itemsets",
    (s, dir) => sonItemsets(s, dir, 3, 5), // 60 % support, the gate point
    Some(sonOracleSql(3, 5)))

  // --------------------------------------------------------------- q177
  /** Per-group node, edge, wedge and triangle counts plus transitivity
    * of an undirected graph, ordered by group_id: `edges` (id_a, id_b)
    * is distinct with id_a < id_b, and `labels` (doc_id, comp) gives
    * every node its group. Groups of fewer than 2 nodes are left out.
    *
    * The statistics are one aggregation over labels ⋈ per-node
    * (deg, triangles), where each triangle is counted once, at the node
    * its closing edge leaves. n_edges is Σdeg / 2, which holds only if no
    * edge crosses two groups. q177 passes `dedupGroups`, the connected
    * components of the same `dedupEdges`, so every edge lies inside one
    * group, and every group of ≥ 2 nodes has an edge.
    *
    * Scale shape: the per-node frame is built from equi-joins keyed on
    * node ids (degree, orientation, wedge and closing joins); labels
    * join it on node id, and one exchange on group id finishes.
    */
  private[graft] def groupTriangles(edges: org.apache.spark.sql.DataFrame,
                                    labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val esym = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = esym.groupBy("u").agg(count(lit(1)).as("deg"))
    // total (degree, id) order packed into one long join key: doc ids
    // and degrees both stay far below 1e8 at every tested scale
    val ok = deg.select(col("u").as("id"),
      (col("deg") * lit(100000000L) + col("u")).as("okey"))
    val o = edges
      .join(ok.select(col("id").as("id_a"), col("okey").as("ka")), "id_a")
      .join(ok.select(col("id").as("id_b"), col("okey").as("kb")), "id_b")
      .select(
        when(col("ka") < col("kb"), col("id_a")).otherwise(col("id_b")).as("src"),
        when(col("ka") < col("kb"), col("id_b")).otherwise(col("id_a")).as("dst"),
        greatest(col("ka"), col("kb")).as("kd"))
    val tri = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.kd") < col("y.kd"))
      .select(col("x.dst").as("u"), col("y.dst").as("dst"))
      .join(o.select(col("src").as("u"), col("dst")), Seq("u", "dst"))
      .groupBy("u").agg(count(lit(1)).as("tri"))
    labels.select(col("doc_id").as("u"), col("comp").as("g"))
      .join(deg.join(tri, Seq("u"), "left"), Seq("u"), "left")
      .groupBy(col("g").as("group_id"))
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg) div 2").as("n_edges"),
        coalesce(sum(col("tri")), lit(0L)).as("n_triangles"),
        coalesce(expr("sum(deg * (deg - 1) div 2)"), lit(0L)).as("n_wedges"))
      .filter(col("n_nodes") >= 2)
      .withColumn("transitivity_permille", when(col("n_wedges") > 0,
        expr("3000 * n_triangles div n_wedges")))
      .orderBy("group_id")
  }

  /** Triangle count + transitivity of the near-dup graph — the local-
    * density audit q126's component-level stats can't see (a loose chain
    * of borderline pairs and a tight clique have the same n_nodes/
    * n_edges at density < 1; triangles separate them, and transitivity
    * is the standard measure of how "clique-like" each dup group is —
    * i.e. whether keep-one-per-group is safe or the group is a chain of
    * unrelated docs glued by hub false-positives).
    *
    * Scale design: DEGREE-ORDERED wedge enumeration (Chiba–Nishizeki /
    * Schank's forward algorithm). Each verified edge is oriented from
    * its (degree, id)-smaller endpoint, wedges are enumerated only from
    * the two out-edges of a common source, and the closing edge is a
    * hash-join lookup. Work is Σ outdeg² where outdeg is bounded by
    * graph arboricity — O(m^{3/2}) worst case and far less on dedup
    * graphs — instead of Σ deg² of the naive wedge join, which a hub
    * node (one doc near-duplicating thousands) turns quadratic. Both
    * orientation and wedge join are equi-joins on ids; nothing leaves
    * the executors. The group statistics are one aggregation (see
    * [[groupTriangles]]): labels meet the per-node frame on node id and
    * one exchange on group id finishes, where four grouped aggregations
    * each exchanged on group id and three joins read labels again. A
    * steady sf0.001 pass on local[4] runs 15 stages, down from 19.
    */
  val q177 = Q("q177_dup_graph_triangles",
    (s, dir) => groupTriangles(dedupEdges(s, dir), dedupGroups(s, dir)),
    Some(s"""$dedupCteSql, deg AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM esym GROUP BY src
    ), ok AS (
      SELECT id, deg * 100000000 + id AS okey FROM deg
    ), o AS (
      SELECT CASE WHEN a.okey < b.okey THEN v.id_a ELSE v.id_b END AS src,
             CASE WHEN a.okey < b.okey THEN v.id_b ELSE v.id_a END AS dst,
             greatest(a.okey, b.okey) AS kd
      FROM ver v JOIN ok a ON a.id = v.id_a JOIN ok b ON b.id = v.id_b
    ), trig AS (
      SELECT c.group_id AS g, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM o x JOIN o y ON x.src = y.src AND x.kd < y.kd
      JOIN o z ON z.src = x.dst AND z.dst = y.dst
      JOIN comp c ON c.doc_id = x.dst
      GROUP BY c.group_id
    ), wed AS (
      SELECT c.group_id AS g, CAST(SUM(d.deg * (d.deg - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg d JOIN comp c ON c.doc_id = d.id GROUP BY c.group_id
    ), nodes AS (
      SELECT group_id AS g, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM comp GROUP BY group_id HAVING COUNT(*) >= 2
    ), ec AS (
      SELECT c.group_id AS g, CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM ver v JOIN comp c ON c.doc_id = v.id_a GROUP BY c.group_id
    )
    SELECT n.g AS group_id, n.n_nodes, e.n_edges,
      COALESCE(t.n_triangles, 0) AS n_triangles,
      COALESCE(w.n_wedges, 0) AS n_wedges,
      CASE WHEN COALESCE(w.n_wedges, 0) > 0
           THEN 3000 * COALESCE(t.n_triangles, 0) // w.n_wedges END AS transitivity_permille
    FROM nodes n JOIN ec e ON e.g = n.g
    LEFT JOIN trig t ON t.g = n.g LEFT JOIN wed w ON w.g = n.g
    ORDER BY group_id"""))

  def all: Seq[Q] =
    Seq(q27, q28, q29, q30, q31, q32, q33, q48, q51, q53, q57, q67, q69, q70,
      q71, q73, q81, q84, q85, q93, q102, q103, q104, q105, q106, q108, q109,
      q110, q112, q114, q122, q126, q128, q135, q150, q153, q156, q163, q169, q173,
      q172, q177)
}
