package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Search-infrastructure + corpus-serving queries over `documents`:
  * inverted-index compression planning, per-source quota capping, and
  * RAG chunk planning — the layers between a curated corpus and the
  * systems that serve it (retrieval indexes, balanced mixtures,
  * chunked context windows).
  */
object IndexQueries {

  // --------------------------------------------------------------- q118
  /** Inverted-index postings + Elias-γ compression audit: build the
    * (term → sorted posting list) index from one tokenize pass, then
    * cost each list under delta-gap Elias-γ coding (γ(g) = 2·⌊log₂ g⌋+1
    * bits; the first posting encodes doc_id+1 so every coded value is
    * ≥ 1) against raw 64-bit postings. ⌊log₂ g⌋+1 is `length(bin(g))`
    * in BOTH engines — bit-exact integer arithmetic, no float log.
    *
    * Scale: tokenize → ONE term-keyed exchange that serves the whole
    * query: `hashpartitioning(term)` satisfies the (term, doc_id)
    * distinct's clustering requirement AND the gap window's, so the
    * dedup aggregate, the lag walk, and the per-term rollup all run on
    * that single shuffle (pinned by PlanAuditSpec). A naive
    * `.distinct()` first plans a second exchange on (doc_id, term) —
    * and since per-doc term repetition is low, map-side pre-dedup
    * saves little while the extra shuffle ships the postings twice.
    * The final top-k orders a vocabulary-sized aggregate, not the
    * postings stream. Document-frequency skew ("the" appears
    * everywhere) is bounded: a term's row count is ≤ corpus doc count,
    * and the heavy terms are exactly the ones the audit is FOR.
    */
  val q118 = Q("q118_postings_gamma_audit",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .repartition(col("term"))
        .dropDuplicates("term", "doc_id")
      val w = Window.partitionBy("term").orderBy("doc_id")
      val gaps = toks
        .withColumn("gap", coalesce(col("doc_id") - lag("doc_id", 1).over(w),
          col("doc_id") + 1))
      gaps.groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum(lit(2) * length(bin(col("gap"))) - 1).as("gamma_bits"))
        .withColumn("raw_bits", col("df") * 64)
        .withColumn("ratio_permille",
          expr("gamma_bits * 1000 div raw_bits"))
        .select("term", "df", "gamma_bits", "raw_bits", "ratio_permille")
        .orderBy(col("df").desc, col("term")).limit(20)
    },
    Some("""WITH toks AS (
      SELECT DISTINCT doc_id, tok AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), gaps AS (
      SELECT term, doc_id,
        COALESCE(doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
          doc_id + 1) AS gap
      FROM toks
    ), costed AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
        CAST(SUM(2 * length(bin(gap)) - 1) AS BIGINT) AS gamma_bits
      FROM gaps GROUP BY term
    )
    SELECT term, df, gamma_bits, df * 64 AS raw_bits,
      gamma_bits * 1000 // (df * 64) AS ratio_permille
    FROM costed
    ORDER BY df DESC, term LIMIT 20"""))

  // --------------------------------------------------------------- q119
  /** Per-source quota capping (the Common-Crawl-style per-domain cap):
    * rank documents inside each source by (n_chars DESC, doc_id), then
    * for each cap in {5, 10, 20} report what survives — docs kept,
    * chars kept, docs dropped, and the kept-share of the source's char
    * mass (permille, integer division). A cap sweep in ONE window pass:
    * ranks are computed once and every cap is a conditional aggregate
    * over them, not a re-rank.
    *
    * Scale: one shuffle on source for the rank window, one more for the
    * rollup (same key — Catalyst reuses the partitioning). Source skew
    * is the classic hot-domain problem; ranks within a source are a
    * sequential dependency, so a genuinely monster domain would take
    * the q111 two-phase (sample-bound + salted) treatment — here the
    * cap itself bounds what anyone keeps.
    */
  val q119 = Q("q119_source_cap_sweep",
    (s, dir) => {
      val ranked = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))))
      val caps = s.range(0, 3).select(
        element_at(array(lit(5), lit(10), lit(20)), col("id").cast("int") + 1)
          .cast("long").as("cap"))
      ranked.crossJoin(broadcast(caps))
        .groupBy("source", "cap")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= col("cap"), 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("rk") <= col("cap"), col("n_chars")).otherwise(0L)).as("kept_chars"),
          sum("n_chars").as("total_chars"))
        .withColumn("dropped_docs", col("n_docs") - col("kept_docs"))
        .withColumn("share_permille", expr("kept_chars * 1000 div total_chars"))
        .select("source", "cap", "kept_docs", "kept_chars", "dropped_docs", "share_permille")
        .transform(graft.Q.presentSorted(_, "source", "cap"))
    },
    Some("""WITH ranked AS (
      SELECT source, doc_id, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ), caps AS (SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS cap)
    SELECT source, cap,
      CAST(SUM(CASE WHEN rk <= cap THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      CAST(SUM(CASE WHEN rk <= cap THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      CAST(SUM(CASE WHEN rk <= cap THEN 0 ELSE 1 END) AS BIGINT) AS dropped_docs,
      CAST(SUM(CASE WHEN rk <= cap THEN n_chars ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(n_chars) AS BIGINT) AS share_permille
    FROM ranked, caps
    GROUP BY source, cap
    ORDER BY source, cap"""))

  // --------------------------------------------------------------- q120
  /** Chunk-overlap waste audit: sliding CHAR-window chunking (window
    * 256, stride 192 → 64-char overlap) — the serving-side complement
    * of q89's token-window chunk EXTRACTION: this one prices the plan
    * (how much char mass the overlap duplicates, per language) and
    * proves the chunking reversible with an order-sensitive
    * md5-of-md5s over every chunk's text — the digest only matches
    * across engines if every chunk boundary and every chunk's content
    * match exactly. Each doc yields ⌈(n−256)/192⌉+1 chunks (one if it
    * fits a window); overlap waste is permille of original char mass,
    * integer division.
    *
    * Scale: chunking is a generator explode — no shuffle until the
    * per-doc digest groupBy (keyed on doc_id, combinable), then a
    * per-lang rollup of 5 rows. Chunk text never leaves the map side:
    * md5 reduces each chunk to 32 bytes before the exchange.
    */
  val q120 = Q.sql("q120_chunk_overlap_audit",
    """WITH ks AS (
      SELECT doc_id, lang, n_chars, text,
        unnest(generate_series(0,
          CASE WHEN n_chars <= 256 THEN 0 ELSE (n_chars - 256 + 191) // 192 END)) AS k
      FROM documents
    ), chunks AS (
      SELECT doc_id, lang, n_chars, k, substr(text, k * 192 + 1, 256) AS chunk
      FROM ks
    ), perdoc AS (
      SELECT doc_id, lang, n_chars,
        CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(SUM(length(chunk)) AS BIGINT) AS cchars,
        md5(string_agg(md5(chunk), '' ORDER BY k)) AS doc_chunks_md5
      FROM chunks GROUP BY 1, 2, 3
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
      CAST(SUM(cchars) AS BIGINT) AS chunk_chars,
      CAST(SUM(cchars - n_chars) AS BIGINT) AS overlap_chars,
      CAST(SUM(cchars - n_chars) AS BIGINT) * 1000
        // CAST(SUM(n_chars) AS BIGINT) AS overlap_permille,
      md5(string_agg(doc_chunks_md5, '' ORDER BY doc_id)) AS lang_md5
    FROM perdoc GROUP BY lang ORDER BY lang""")

  // --------------------------------------------------------------- q121
  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by how target-like its hashed-unigram
    * profile is. Target model = token counts from the `src0` slice,
    * raw model = everything else, both over 1024 feature-hash buckets
    * (the q82 polynomial char hash mod 1024 — cross-engine exact).
    * Per-token importance weight is the LINEARIZED likelihood ratio
    * `(t_b+1)·2²⁰ / (r_b+1)` in integer fixed-point (add-one
    * smoothing; the paper's log-ratio needs a transcendental, so the
    * stated deviation is summing ratios instead of log-ratios — same
    * ranking intent, bit-exact in both engines). A doc's score is its
    * mean per-token weight; the rollup reports each source's doc
    * count, mean score, and how many of its docs make the global
    * top-100 — the selection a DSIR resampler would feed on.
    *
    * Scale: tokenize → one groupBy(bucket) for a 1024-row model that
    * BROADCASTS to the scoring join (no shuffle of the token stream);
    * per-doc reduce is map-side combinable; top-100 is a sort of the
    * per-doc aggregate, not the token stream.
    */
  val q121 = Q("q121_dsir_importance",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .withColumn("bucket", expr("rolling_hash(term, 1, 131, 1000000007).doc_fp % 1024"))
      val model = toks.groupBy("bucket")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("t_cnt"),
          sum(when(col("source") === "src0", 0L).otherwise(1L)).as("r_cnt"))
        .withColumn("w", expr("(t_cnt + 1) * 1048576 div (r_cnt + 1)"))
      val perDoc = toks.join(broadcast(model.select("bucket", "w")), "bucket")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tok"), sum("w").as("score"))
        .withColumn("spt", expr("score div n_tok"))
      val top = perDoc.select(col("doc_id").as("top_id"), col("spt").as("top_spt"))
        .orderBy(col("top_spt").desc, col("top_id")).limit(100)
      perDoc.join(broadcast(top), col("doc_id") === col("top_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(spt) div count(1)").as("mean_spt"),
          sum(when(col("top_id").isNotNull, 1L).otherwise(0L)).as("n_top100"))
        .select("source", "n_docs", "mean_spt", "n_top100")
        .transform(graft.Q.presentSorted(_, "source"))
    },
    Some("""WITH toks AS (
      SELECT doc_id, source,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, length(tok)), i ->
            CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
          (a, c) -> (a * 131 + c) % 1000000007) % 1024 AS bucket
      FROM (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), model AS (
      SELECT bucket,
        (CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) + 1)
          * 1048576
          // (CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) + 1)
          AS w
      FROM toks GROUP BY bucket
    ), perdoc AS (
      SELECT t.doc_id, t.source,
        CAST(SUM(m.w) AS BIGINT) // CAST(count(*) AS BIGINT) AS spt
      FROM toks t JOIN model m ON m.bucket = t.bucket
      GROUP BY t.doc_id, t.source
    ), top AS (
      SELECT doc_id FROM perdoc ORDER BY spt DESC, doc_id LIMIT 100
    )
    SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(SUM(p.spt) AS BIGINT) // count(*) AS mean_spt,
      CAST(SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_top100
    FROM perdoc p LEFT JOIN top t ON t.doc_id = p.doc_id
    GROUP BY p.source ORDER BY p.source"""))

  // --------------------------------------------------------------- q123
  /** Vocabulary-size sweep — the tokenizer-sizing curve q78's
    * fixed-vocab audit samples one point of: for V ∈ {256, 1024, 4096}
    * top-frequency vocabularies, the per-language OOV token share. One
    * tokenize + one word-count + ONE scoring pass: the ranked vocab
    * (count DESC, term ASC — deterministic) is driver-bounded at 4096
    * rows and broadcast; each language aggregates its three OOV
    * counters in a single groupBy, then unpivots to (lang, v) rows —
    * no per-V re-scan of the token stream.
    *
    * Scale: word-count is the canonical partial-agg shape; the sweep
    * adds one broadcast-hash probe per token. OOV share falls as V
    * grows by construction — what the curve buys is WHERE it flattens
    * per language (zh keeps paying at V=4096 long after en flattens —
    * the under-served-script signal, fertility's (q93) vocabulary-side
    * twin).
    */
  val q123 = Q("q123_vocab_size_sweep",
    (s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(4096)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("term"))))
        .select("term", "rk")
      val scored = tok.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("rk").isNull || col("rk") > 256, 1L).otherwise(0L)).as("oov256"),
          sum(when(col("rk").isNull || col("rk") > 1024, 1L).otherwise(0L)).as("oov1024"),
          sum(when(col("rk").isNull, 1L).otherwise(0L)).as("oov4096"))
      scored.select(col("lang"), col("n_tokens"),
          expr("stack(3, 256L, oov256, 1024L, oov1024, 4096L, oov4096) AS (v, n_oov)"))
        .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
        .select("lang", "v", "n_tokens", "n_oov", "oov_permille")
        .transform(graft.Q.presentSorted(_, "lang", "v"))
    },
    Some("""WITH tok AS (
      SELECT lang, tok AS term FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), vocab AS (
      SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS rk
      FROM (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term)
      ORDER BY cnt DESC, term LIMIT 4096
    ), scored AS (
      SELECT t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN v.rk IS NULL OR v.rk > 256 THEN 1 ELSE 0 END) AS BIGINT) AS oov256,
        CAST(SUM(CASE WHEN v.rk IS NULL OR v.rk > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS oov1024,
        CAST(SUM(CASE WHEN v.rk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov4096
      FROM tok t LEFT JOIN vocab v ON v.term = t.term
      GROUP BY t.lang
    )
    SELECT lang, CAST(v AS BIGINT) AS v, n_tokens, n_oov,
      n_oov * 1000 // n_tokens AS oov_permille
    FROM (
      SELECT lang, 256 AS v, n_tokens, oov256 AS n_oov FROM scored
      UNION ALL
      SELECT lang, 1024, n_tokens, oov1024 FROM scored
      UNION ALL
      SELECT lang, 4096, n_tokens, oov4096 FROM scored
    ) ORDER BY lang, v"""))

  // --------------------------------------------------------------- q124
  /** Heaps-law vocabulary-growth curve: distinct-vocabulary size and
    * token mass after 25 / 50 / 75 / 100 % of the corpus (doc_id
    * order) — the saturation curve that says whether more data still
    * buys new vocabulary (Heaps' V ∝ n^β flattening, reported as the
    * exact type-token permille at each cut, integer division — no
    * float exponent fit).
    *
    * The cut doc_ids are found WITHOUT a global rank window: each is a
    * distributed TakeOrdered (`ORDER BY doc_id LIMIT k` → max), a
    * driver-sized scalar per cut — the same bounded-collect contract
    * as q83's quantile cuts. A term's first appearance is
    * `min(doc_id)` (partial-aggregable); vocabulary at a cut is a
    * conditional count over first appearances, token mass a
    * conditional sum over per-doc token counts — one groupBy(term) +
    * one groupBy(doc) feed all four cuts.
    */
  val q124 = Q("q124_vocab_growth",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      val cuts: Seq[(Long, Long)] = Seq(25L, 50L, 75L, 100L).map { pct =>
        val k = (n * pct / 100L).max(1L)
        // limit() takes an Int: guard the narrowing so a >2.1B-doc
        // corpus fails loudly instead of silently truncating the cut
        // (the TakeOrdered itself never materializes k rows anywhere —
        // it's a per-partition top-k merge — so the Int bound, not
        // memory, is the first wall; past it, recurse this same
        // pruning on doc_id ranges like q125 does on histogram bins).
        require(k <= Int.MaxValue,
          s"q124 cut rank $k exceeds Int.MaxValue; range-partition the cut search")
        val cutId = docs.select(col("doc_id")).orderBy("doc_id")
          .limit(k.toInt).agg(max("doc_id")).head().getLong(0)
        (pct, cutId)
      }
      val tok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val firsts = tok.groupBy("term").agg(min("doc_id").as("first_doc"))
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      // ONE pass over each aggregate feeds all four cuts (conditional
      // sums against literal cut ids), then stack unpivots to rows
      val vocabAggs = cuts.map { case (pct, cutId) =>
        sum(when(col("first_doc") <= cutId, 1L).otherwise(0L)).as(s"v$pct")
      }
      val vocabRow = firsts.agg(vocabAggs.head, vocabAggs.tail: _*)
      val tokAggs = cuts.flatMap { case (pct, cutId) => Seq(
        sum(when(col("doc_id") <= cutId, 1L).otherwise(0L)).as(s"d$pct"),
        sum(when(col("doc_id") <= cutId, col("n_tok")).otherwise(0L)).as(s"t$pct"))
      }
      val tokRow = perDoc.agg(tokAggs.head, tokAggs.tail: _*)
      val stackArgs = cuts.map { case (pct, _) =>
        s"${pct}L, d$pct, t$pct, v$pct" }.mkString(", ")
      vocabRow.crossJoin(tokRow)
        .select(expr(s"stack(${cuts.length}, $stackArgs) AS (pct, n_docs, n_tokens, vocab_size)"))
        .withColumn("type_token_permille", expr("vocab_size * 1000 div n_tokens"))
        .orderBy("pct")
    },
    Some("""WITH ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk,
        COUNT(*) OVER () AS n FROM documents
    ), cuts AS (
      SELECT pct, max(doc_id) AS cut_id FROM ranked,
        (SELECT unnest([25, 50, 75, 100]) AS pct)
      WHERE rk <= greatest(n * pct // 100, 1)
      GROUP BY pct
    ), tok AS (
      SELECT doc_id, tok AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), firsts AS (
      SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY term
    ), perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
    )
    SELECT CAST(c.pct AS BIGINT) AS pct,
      (SELECT CAST(count(*) AS BIGINT) FROM documents d WHERE d.doc_id <= c.cut_id) AS n_docs,
      (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM perdoc p WHERE p.doc_id <= c.cut_id) AS n_tokens,
      (SELECT CAST(count(*) AS BIGINT) FROM firsts f WHERE f.first_doc <= c.cut_id) AS vocab_size,
      (SELECT CAST(count(*) AS BIGINT) FROM firsts f WHERE f.first_doc <= c.cut_id) * 1000
        // (SELECT CAST(SUM(n_tok) AS BIGINT) FROM perdoc p WHERE p.doc_id <= c.cut_id) AS type_token_permille
    FROM cuts c ORDER BY pct"""))

  // --------------------------------------------------------------- q127
  /** Bigram-LM next-token accuracy — the LM-eval-harness shape run on
    * the exact n-gram model: train a bigram argmax predictor on the
    * 90 % doc_id-hash train split (the q113/q60 split function),
    * evaluate top-1 next-token accuracy on the held-out 10 %, per
    * language. Counts are LINEAR, so evaluation never re-scans the
    * token stream: both the train model and the eval set are
    * aggregated (context, next) count tables from ONE conditional
    * groupBy, and accuracy is a join of the two aggregates — `hits =
    * Σ cnt·[next = argmax(context)]`. The argmax tie-break is
    * deterministic (count DESC, token ASC); unseen eval contexts
    * score as misses and are reported (`oov_ctx_permille`).
    *
    * Scale: one shuffle on (split-flag, lang, w1, w2) partial
    * aggregates; the per-context argmax is a rank window over the
    * MODEL table (vocabulary², not the corpus); the final join keys on
    * context — vocabulary-sized both sides.
    */
  val q127 = Q.sql("q127_next_token_accuracy",
    """WITH base AS (
      SELECT lang, (doc_id * 2654435761) % 1000 < 900 AS is_train,
        string_split_regex(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0
    ), pos AS (
      SELECT lang, is_train, tk,
        unnest(generate_series(1, len(tk) - 1)) AS i
      FROM base WHERE len(tk) >= 2
    ), bi AS (
      SELECT lang, is_train, tk[i] AS w1, tk[i + 1] AS w2 FROM pos
    ), counts AS (
      SELECT lang, w1, w2,
        CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
        CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS c_eval
      FROM bi GROUP BY lang, w1, w2
    ), model AS (
      SELECT w1, w2 AS pred FROM (
        SELECT w1, w2, row_number() OVER (PARTITION BY w1
          ORDER BY SUM(c_train) DESC, w2) AS rk
        FROM counts GROUP BY w1, w2 HAVING SUM(c_train) > 0
      ) WHERE rk = 1
    )
    SELECT c.lang, CAST(SUM(c.c_eval) AS BIGINT) AS n_eval,
      CAST(SUM(CASE WHEN c.w2 = m.pred THEN c.c_eval ELSE 0 END) AS BIGINT) AS n_hits,
      CAST(SUM(CASE WHEN c.w2 = m.pred THEN c.c_eval ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(c.c_eval) AS BIGINT) AS acc_permille,
      CAST(SUM(CASE WHEN m.pred IS NULL THEN c.c_eval ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(c.c_eval) AS BIGINT) AS oov_ctx_permille
    FROM counts c LEFT JOIN model m ON m.w1 = c.w1
    WHERE c.c_eval > 0
    GROUP BY c.lang ORDER BY c.lang""")

  // --------------------------------------------------------------- q140
  /** RAKE keyword extraction (Rose et al. 2010, the stopword-delimited
    * co-occurrence method): candidate phrases are maximal runs of
    * non-stopword tokens (q27's stopword set the/and/of), word scores
    * are degree/frequency over the phrase corpus in integer permille
    * (deg = Σ phrase length over a word's occurrences), a phrase
    * scores the sum of its words' scores, top-20 by (score, phrase).
    *
    * Plan: ONE tokenize+posexplode pass; phrase ids are a running sum
    * of stopword boundaries per doc (series window); word stats and
    * phrase reassembly both derive from that stream — word scores are
    * a vocabulary-sized broadcast back onto phrase words.
    */
  val q140 = Q("q140_rake_keywords",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(trim(lower(col("text"))), "\\s+"))
          .as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")
        .withColumn("is_stop", col("tok").isin("the", "and", "of"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val words = toks
        .withColumn("phrase_id",
          sum(when(col("is_stop"), 1).otherwise(0)).over(w))
        .filter(!col("is_stop"))
      val phrases = words.groupBy("doc_id", "phrase_id")
        .agg(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok"))).as("phrase"),
          count(lit(1)).as("plen"))
      val wordStats = words
        .join(phrases.select(col("doc_id"), col("phrase_id"), col("plen")),
          Seq("doc_id", "phrase_id"))
        .groupBy("tok")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .withColumn("wscore", expr("deg * 1000 div freq"))
      words.join(broadcast(wordStats.select("tok", "wscore")), "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(sum("wscore").as("pscore"))
        .join(phrases, Seq("doc_id", "phrase_id"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_occ"), max("pscore").as("score"))
        .select("phrase", "n_occ", "score")
        .orderBy(col("score").desc, col("phrase")).limit(20)
    },
    Some("""WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents
    ), posu AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM base
    ), toks AS (
      SELECT doc_id, i AS pos, tk[i] AS tok,
        tk[i] IN ('the', 'and', 'of') AS is_stop
      FROM posu WHERE tk[i] <> ''
    ), words AS (
      SELECT doc_id, pos, tok,
        SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
        is_stop
      FROM toks
    ), nws AS (
      SELECT doc_id, pos, tok, phrase_id FROM words WHERE NOT is_stop
    ), phrases AS (
      SELECT doc_id, phrase_id,
        string_agg(tok, ' ' ORDER BY pos) AS phrase,
        CAST(count(*) AS BIGINT) AS plen
      FROM nws GROUP BY doc_id, phrase_id
    ), wordstats AS (
      SELECT n.tok, CAST(count(*) AS BIGINT) AS freq,
        CAST(SUM(p.plen) AS BIGINT) AS deg
      FROM nws n JOIN phrases p USING (doc_id, phrase_id)
      GROUP BY n.tok
    ), pscore AS (
      SELECT n.doc_id, n.phrase_id,
        CAST(SUM(ws.deg * 1000 // ws.freq) AS BIGINT) AS pscore
      FROM nws n JOIN wordstats ws ON ws.tok = n.tok
      GROUP BY n.doc_id, n.phrase_id
    )
    SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occ,
      CAST(MAX(s.pscore) AS BIGINT) AS score
    FROM phrases p JOIN pscore s USING (doc_id, phrase_id)
    GROUP BY p.phrase
    ORDER BY score DESC, phrase LIMIT 20"""))

  // --------------------------------------------------------------- q144
  /** Model calibration curve for the q127 bigram predictor: bucket
    * eval contexts by the TRAIN count of their argmax continuation
    * (the model's confidence proxy, HALF-octave integer buckets —
    * 2·⌊log₂⌋ plus the next bit),
    * and report per-bucket top-1 accuracy — does more evidence
    * actually buy more accuracy, and where does the curve flatten.
    * The whole audit runs on the aggregated (context, next) count
    * table (q127's linearity argument): no second pass over tokens.
    */
  val q144 = Q.sql("q144_model_calibration",
    """WITH base AS (
      SELECT (doc_id * 2654435761) % 1000 < 900 AS is_train,
        string_split_regex(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0
    ), pos AS (
      SELECT is_train, tk, unnest(generate_series(1, len(tk) - 1)) AS i
      FROM base WHERE len(tk) >= 2
    ), counts AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2,
        CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
        CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS c_eval
      FROM pos GROUP BY tk[i], tk[i + 1]
    ), model AS (
      SELECT w1, w2 AS pred, c_train AS conf FROM (
        SELECT w1, w2, c_train,
          row_number() OVER (PARTITION BY w1 ORDER BY c_train DESC, w2) AS rk
        FROM counts WHERE c_train > 0
      ) WHERE rk = 1
    )
    SELECT CAST(2 * (length(bin(m.conf)) - 1) +
        (CASE WHEN m.conf * 2 >= 3 * (1 << (length(bin(m.conf)) - 1))
         THEN 1 ELSE 0 END) AS BIGINT) AS conf_bucket,
      CAST(SUM(c.c_eval) AS BIGINT) AS n_eval,
      CAST(SUM(CASE WHEN c.w2 = m.pred THEN c.c_eval ELSE 0 END) AS BIGINT) AS n_hits,
      CAST(SUM(CASE WHEN c.w2 = m.pred THEN c.c_eval ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(c.c_eval) AS BIGINT) AS acc_permille
    FROM counts c JOIN model m ON m.w1 = c.w1
    WHERE c.c_eval > 0
    GROUP BY 2 * (length(bin(m.conf)) - 1) +
      (CASE WHEN m.conf * 2 >= 3 * (1 << (length(bin(m.conf)) - 1))
       THEN 1 ELSE 0 END)
    ORDER BY conf_bucket""")

  // --------------------------------------------------------------- q145
  /** K-fold assignment + balance audit: deterministic 5-fold split by
    * the doc_id multiplicative hash (prime-folded — a bare mod 5 of
    * the product degenerates to doc_id mod 5 since the constant is
    * 1 mod 5), audited the way a leakage-aware
    * pipeline must — per (fold, lang) doc/char counts and each fold's
    * max deviation from its ideal 20 % share in permille. One pass,
    * two small rollups; the audit is the artifact reviewers check
    * before trusting any cross-validation number.
    */
  val q145 = Q("q145_kfold_balance",
    (s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("(doc_id * 2654435761) % 1009 % 5").as("fold"))
      val tot = base.agg(count(lit(1)).as("n_total"), sum("n_chars").as("chars_total"))
      base.groupBy("fold", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .groupBy("fold")
        .agg(sum("n_docs").as("n_docs"), sum("n_chars").as("sum_chars"),
          count(lit(1)).as("n_langs"))
        .crossJoin(broadcast(tot))
        .select(col("fold"), col("n_docs"), col("sum_chars"), col("n_langs"),
          expr("abs(n_docs * 5000 div n_total - 1000)").as("doc_skew_permille"),
          expr("abs(sum_chars * 5000 div chars_total - 1000)").as("char_skew_permille"))
        .orderBy("fold")
    },
    Some("""WITH base AS (
      SELECT doc_id, lang, n_chars, (doc_id * 2654435761) % 1009 % 5 AS fold
      FROM documents
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
        CAST(SUM(n_chars) AS BIGINT) AS chars_total FROM base
    ), fl AS (
      SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM base GROUP BY fold, lang
    )
    SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(count(*) AS BIGINT) AS n_langs,
      abs(CAST(SUM(n_docs) AS BIGINT) * 5000 // t.n_total - 1000) AS doc_skew_permille,
      abs(CAST(SUM(n_chars) AS BIGINT) * 5000 // t.chars_total - 1000) AS char_skew_permille
    FROM fl, tot t
    GROUP BY fold, t.n_total, t.chars_total
    ORDER BY fold"""))

  def all: Seq[Q] = Seq(q118, q119, q120, q121, q123, q124, q127, q140, q144, q145)
}
