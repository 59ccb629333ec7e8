package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators beyond dedup/ANN (builder brief:
  * "the operations a large-scale training-data pipeline would need"):
  * repetition-based quality filtering (the Gopher/MassiveText rule
  * family), concat-and-chunk sequence packing, deterministic train/val/
  * test splitting, and TF-IDF term scoring. Every query keeps the
  * cross-engine exactness contract: integer arithmetic or single IEEE
  * divisions of integers, so DuckDB mirrors hash-match bit-for-bit.
  *
  * Scale notes: everything here is either a per-row projection, a
  * partial-aggregable groupBy on (doc, gram) keys, or a window
  * partitioned by shard — no all-pairs, no driver materialization, no
  * unbounded state. These are the shapes that survive a 100 TB corpus.
  */
object PipelineQueries {

  /** Tokenization shared by q58/q59/q61: lowercase whitespace words with
    * the empty-document guard (mirrors q27's convention).
    */
  private val toks = split(trim(lower(col("text"))), "\\s+")
  private val toksSql = "string_split_regex(trim(lower(text)), '\\s+')"

  // ---------------------------------------------------------------- q58
  /** Repetition-based quality filter (Rae et al., "Scaling Language
    * Models: ... Gopher", arXiv:2112.11446 §A1.1 MassiveText rules,
    * adapted): duplicate-line fraction, most-frequent-2-gram occupancy,
    * duplicate-3-gram fraction — the standard "is this document
    * boilerplate/spam" screens run before training. Thresholds follow
    * the paper's (0.30 dup-lines, 0.20 top-2-gram, 0.60 dup-3-grams).
    *
    * Shape: line/3-gram metrics are per-row projections; the top-2-gram
    * mode goes through ONE explode + (doc, gram) groupBy — the shuffle
    * carries partial counts keyed by (doc, gram), never raw text.
    */
  val q58 = Q.sql("q58_repetition_quality",
    s"""WITH base AS (
      SELECT doc_id, text,
        len(string_split(text, chr(10))) AS n_lines,
        len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines,
        $toksSql AS toks,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_words
      FROM documents
    ), tri AS (
      SELECT *,
        CASE WHEN n_words >= 3
             THEN list_transform(generate_series(1, n_words - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS trigrams
      FROM base
    ), trid AS (
      SELECT doc_id, n_lines, n_distinct_lines, n_words, toks,
        len(trigrams) AS n_tri, len(list_distinct(trigrams)) AS n_distinct_tri
      FROM tri
    ), bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, n_words - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM trid WHERE n_words >= 2
    ), bc AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, gram
    ), bs AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_cnt, SUM(cnt) AS n_bigrams
      FROM bc GROUP BY doc_id
    ), m AS (
      SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
        1.0::DOUBLE - CAST(t.n_distinct_lines AS DOUBLE) / t.n_lines AS dup_line_frac,
        CASE WHEN bs.n_bigrams IS NOT NULL
             THEN CAST(bs.top_bigram_cnt AS DOUBLE) / bs.n_bigrams END AS top2gram_frac,
        CASE WHEN t.n_tri > 0
             THEN 1.0::DOUBLE - CAST(t.n_distinct_tri AS DOUBLE) / t.n_tri END AS dup3gram_frac
      FROM trid t LEFT JOIN bs ON bs.doc_id = t.doc_id
    )
    SELECT doc_id, n_words, dup_line_frac, top2gram_frac, dup3gram_frac,
      CAST(dup_line_frac > 0.30::DOUBLE AS INTEGER) AS fail_dup_lines,
      COALESCE(CAST(top2gram_frac > 0.20::DOUBLE AS INTEGER), 0) AS fail_top2gram,
      COALESCE(CAST(dup3gram_frac > 0.60::DOUBLE AS INTEGER), 0) AS fail_dup3gram,
      CAST(CAST(dup_line_frac > 0.30::DOUBLE AS INTEGER)
         + COALESCE(CAST(top2gram_frac > 0.20::DOUBLE AS INTEGER), 0)
         + COALESCE(CAST(dup3gram_frac > 0.60::DOUBLE AS INTEGER), 0) = 0
        AS INTEGER) AS quality_pass
    FROM m ORDER BY doc_id""",
    headline = true)

  // ---------------------------------------------------------------- q59
  /** Concat-and-chunk sequence packing: concatenate each source shard's
    * token stream in doc_id order and cut fixed context windows of
    * B = 512 tokens — the standard pretraining sample-packing layout.
    * Each document's token offset is a running sum per shard, so its
    * first/last context window (and whether it straddles a boundary) is
    * closed-form integer arithmetic: no sequential fold, one window
    * partitioned by shard. At 100 TB this is the packing scheme you can
    * actually run: shards process independently and the window state is
    * one long per row.
    */
  val q59 = Q("q59_sequence_packing",
    (s, dir) => {
      val B = 512L
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "documents")
        .withColumn("n_tokens",
          when(length(trim(coalesce(col("text"), lit("")))) === 0, lit(0L))
            .otherwise(size(toks).cast("long")))
        .withColumn("tok_start", coalesce(sum("n_tokens").over(w), lit(0L)))
        .withColumn("pack_first", expr(s"tok_start div $B"))
        .withColumn("pack_last",
          when(col("n_tokens") > 0, expr(s"(tok_start + n_tokens - 1) div $B"))
            .otherwise(expr(s"tok_start div $B")))
        .withColumn("crosses_boundary", (col("pack_last") > col("pack_first")).cast("int"))
        .withColumn("n_packs_touched", col("pack_last") - col("pack_first") + 1)
        .select("doc_id", "source", "n_tokens", "tok_start", "pack_first", "pack_last",
          "crosses_boundary", "n_packs_touched")
        .orderBy("doc_id")
    },
    Some(s"""WITH tk AS (
      SELECT doc_id, source,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_tokens
      FROM documents
    ), ofs AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      FROM tk
    )
    SELECT doc_id, source, n_tokens, tok_start,
      tok_start // 512 AS pack_first,
      CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
           ELSE tok_start // 512 END AS pack_last,
      CAST((CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
                 ELSE tok_start // 512 END) > tok_start // 512 AS INTEGER)
        AS crosses_boundary,
      (CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
            ELSE tok_start // 512 END) - tok_start // 512 + 1 AS n_packs_touched
    FROM ofs ORDER BY doc_id"""),
    headline = true)

  // ---------------------------------------------------------------- q60
  /** Deterministic train/val/test split (90/5/5) by multiplicative hash
    * of doc_id — the assignment every pipeline needs to be STABLE across
    * reruns, engines, and partitionings (no RNG, no sampling operator).
    * Emits the 3-row split summary; the per-doc assignment is the same
    * expression inline.
    */
  val q60 = Q.sql("q60_dataset_split",
    s"""WITH a AS (
      SELECT *,
        CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
             WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
             ELSE 'test' END AS split,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_tokens
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      COUNT(DISTINCT lang) AS n_langs,
      MIN(doc_id) AS min_doc_id
    FROM a GROUP BY split ORDER BY split""")

  // ---------------------------------------------------------------- q61
  /** TF-IDF top-terms per document, in pure integer arithmetic so the
    * ranking is cross-engine exact: idf_scaled = (N · 10⁶) div df and
    * score = tf · idf_scaled (a fixed-point variant of tf·N/df;
    * log-free on purpose — ln() differs in last-ulp across engines).
    * Shape: explode → (doc, term) partial-aggregable tf counts; df is a
    * groupBy over the tf table keyed by term; the doc-count scalar
    * broadcasts; top-3 via per-doc window.
    */
  val q61 = Q("q61_tfidf_topterms",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val terms = docs
        .select(col("doc_id"), explode(toks).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val wTop = Window.partitionBy("doc_id").orderBy(desc("score"), col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("idf_scaled", expr("(n_docs * 1000000) div df"))
        .withColumn("score", col("tf") * col("idf_scaled"))
        .withColumn("rk", row_number().over(wTop).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .transform(graft.Q.presentSorted(_, "doc_id", "rk"))
    },
    Some(s"""WITH t AS (
      SELECT doc_id, unnest($toksSql) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term != '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), sc AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        (n.n_docs * 1000000) // df.df AS idf_scaled,
        tf.tf * ((n.n_docs * 1000000) // df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM sc
    )
    SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3
    ORDER BY doc_id, rk"""))

  // ---------------------------------------------------------------- q62
  /** GREEDY bin packing — the other packing layout (q59 chunks the
    * concatenated stream; this keeps documents WHOLE): within each
    * source shard in doc_id order, a document opens a new 512-token
    * pack when it doesn't fit the current one. Sequential within a
    * shard by nature (each decision depends on the running fill), so it
    * runs as one `flatMapGroups` fold per shard — parallel across
    * shards, no driver collect — mirrored by a DuckDB recursive CTE
    * exactly like the VWAP carry fold (q26).
    */
  val q62 = Q("q62_greedy_packing",
    (s, dir) => {
      import s.implicits._
      val B = 512L
      val ins = Tables(s, dir, "documents")
        .withColumn("n_tokens",
          when(length(trim(coalesce(col("text"), lit("")))) === 0, lit(0L))
            .otherwise(size(toks).cast("long")))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .as[(Long, String, Long)]
      ins.groupByKey(_._2).flatMapGroups { (src, it) =>
        val docs = it.toSeq.sortBy(_._1)
        var pack = 0L; var fill = 0L
        docs.map { case (id, _, n) =>
          if (fill > 0 && fill + n > B) { pack += 1; fill = 0 }
          val row = (id, src, n, pack, fill, if (n > B) 1 else 0)
          fill += n
          row
        }
      }.toDF("doc_id", "source", "n_tokens", "pack_id", "pack_pos", "truncated")
        .transform(graft.Q.presentSorted(_, "doc_id"))
    },
    Some(s"""WITH RECURSIVE tk AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len($toksSql) END AS BIGINT) AS n_tokens,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), rec AS (
      SELECT source, rn, doc_id, n_tokens,
        CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_pos,
        n_tokens AS fill
      FROM tk WHERE rn = 1
      UNION ALL
      SELECT t.source, t.rn, t.doc_id, t.n_tokens,
        CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 512
             THEN r.pack_id + 1 ELSE r.pack_id END,
        CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 512
             THEN CAST(0 AS BIGINT) ELSE r.fill END,
        CASE WHEN r.fill > 0 AND r.fill + t.n_tokens > 512
             THEN t.n_tokens ELSE r.fill + t.n_tokens END
      FROM rec r JOIN tk t ON t.source = r.source AND t.rn = r.rn + 1
    )
    SELECT doc_id, source, n_tokens, pack_id, pack_pos,
      CAST(n_tokens > 512 AS INTEGER) AS truncated
    FROM rec ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q63
  /** Deterministic mixture sampling: per-language keep rates (the data-
    * mixing knob of a training run — e.g. upweight en, downsample the
    * rest) applied by multiplicative doc_id hash, so the sample is
    * reproducible across engines and partitionings. Emits the
    * per-stratum audit a pipeline needs: totals, kept counts, kept
    * token mass, and the realized permille vs the configured rate.
    */
  val q63 = Q.sql("q63_mixture_sample",
    s"""WITH a AS (
      SELECT lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_tokens,
        CASE WHEN lang = 'en' THEN 500
             WHEN lang IN ('de', 'fr', 'es') THEN 250
             ELSE 100 END AS rate_permille,
        CASE WHEN (doc_id * 2654435761) % 1000 <
               CASE WHEN lang = 'en' THEN 500
                    WHEN lang IN ('de', 'fr', 'es') THEN 250
                    ELSE 100 END
             THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_total,
      CAST(SUM(kept) AS BIGINT) AS n_kept,
      CAST(SUM(kept * n_tokens) AS BIGINT) AS kept_tokens,
      CAST(MAX(rate_permille) AS BIGINT) AS rate_permille,
      CAST(1000 * SUM(kept) // COUNT(*) AS BIGINT) AS realized_permille
    FROM a GROUP BY lang ORDER BY lang""")

  // ---------------------------------------------------------------- q64
  /** INCREMENTAL near-dedup — the ingestion shape: match a NEW batch
    * (doc_id ≥ split point) against the EXISTING corpus (doc_id below)
    * without ever joining batch×batch or corpus×corpus. Reuses the q48
    * machinery (minhash_spans band signatures → per-(band, hash)
    * equi-join → shingle_overlap Jaccard ≥ 0.8 verify), but the band
    * join is ASYMMETRIC: only (new, base) pairs form, so ingesting a
    * day's batch against a 100 TB corpus shuffles one day of
    * signatures against bucketed base signatures — never the corpus
    * against itself. Each new doc reports its best base match
    * (min doc_id among verified matches) or drops out if none.
    */
  val q64 = Q.sql("q64_incremental_dedup",
    {
      val sh = s"list_distinct(list_transform(generate_series(1, greatest(length(text) - 7, 1)), i -> substr(text, i, 8)))"
      val sigCols = (for { k <- 0 to 3; j <- 0 to 3 }
        yield s"min(substr(h$k, ${1 + 8 * j}, 8)) AS c${k}_$j").mkString(", ")
      val bandRows = (0 to 3).map(k =>
        s"SELECT doc_id, $k AS band_idx, md5(c${k}_0 || c${k}_1 || c${k}_2 || c${k}_3) AS bh FROM sig")
        .mkString("\n      UNION ALL ")
      s"""WITH shs AS (
      SELECT doc_id, unnest($sh) AS sh FROM documents
    ), h AS (
      SELECT doc_id, ${(0 to 3).map(k => s"md5(sh || '#$k') AS h$k").mkString(", ")} FROM shs
    ), sig AS (
      SELECT doc_id, $sigCols FROM h GROUP BY doc_id
    ), bands AS (
      $bandRows
    ), pairs AS (
      SELECT DISTINCT f.doc_id AS new_id, b.doc_id AS base_id
      FROM bands f JOIN bands b
        ON f.band_idx = b.band_idx AND f.bh = b.bh
      WHERE f.doc_id % 5 = 4 AND b.doc_id % 5 < 4
    ), shd AS (
      SELECT doc_id, $sh AS s FROM documents
    ), ver AS (
      SELECT p.new_id, p.base_id,
        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      FROM pairs p JOIN shd a ON a.doc_id = p.new_id JOIN shd b ON b.doc_id = p.base_id
      WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
    )
    SELECT new_id, MIN(base_id) AS matched_base_id,
      MAX(jaccard) AS best_jaccard, COUNT(*) AS n_base_matches
    FROM ver WHERE jaccard >= 0.8::DOUBLE
    GROUP BY new_id ORDER BY new_id"""
    },
    headline = true)

  // ---------------------------------------------------------------- q66
  /** Benchmark decontamination (Brown et al., "Language Models are
    * Few-Shot Learners", arXiv:2005.14165 §C — 13-gram overlap; n = 5
    * here to suit the synthetic corpus's vocabulary): flag every TRAIN
    * document sharing a distinct word 5-gram with any TEST document,
    * using the q60 hash split. The check every serious pretraining
    * pipeline runs before shipping a corpus.
    *
    * Shape: the benchmark side is tiny by construction (5% of docs →
    * distinct grams), so it BROADCASTS; the train side streams through
    * one explode + hash join + per-doc count — no shuffle of corpus
    * text, no all-pairs. At 100 TB the benchmark gram set (benchmarks
    * are MBs, corpora are TBs) still fits in every executor.
    */
  val q66 = Q.sql("q66_benchmark_decontam",
    s"""WITH base AS (
      SELECT doc_id,
        CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
             WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
             ELSE 'test' END AS split,
        $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS nw
      FROM documents
    ), g AS (
      SELECT doc_id, split,
        CASE WHEN nw >= 5
             THEN list_distinct(list_transform(generate_series(1, nw - 4),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))
             ELSE [] END AS grams
      FROM base
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE split = 'test'
    ), tr AS (
      SELECT doc_id, len(grams) AS n_grams,
        unnest(CASE WHEN len(grams) = 0 THEN [NULL] ELSE grams END) AS gram
      FROM g WHERE split = 'train'
    ), c AS (
      SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
        CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      FROM tr t LEFT JOIN bench b ON b.gram = t.gram
      GROUP BY t.doc_id, t.n_grams
    )
    SELECT doc_id, n_grams, n_contaminated,
      CASE WHEN n_grams > 0
           THEN CAST(n_contaminated AS DOUBLE) / n_grams END AS contamination_frac,
      CAST(n_contaminated > 0 AS INTEGER) AS contaminated
    FROM c ORDER BY doc_id""",
    headline = true)

  // ---------------------------------------------------------------- q74
  /** TOKEN-BUDGET selection — "give me B tokens of this corpus,
    * deterministically": docs are priority-ordered by a doc_id hash and
    * greedily taken while the tokens BEFORE a doc stay under the
    * budget. The data-budgeting step of every scoped training run.
    *
    * The running token offset is a GLOBAL prefix sum — the naive window
    * (`ORDER BY p` with no partition key) drags the whole corpus into
    * one task. Here it's the ExactQuantile pattern instead:
    * range-partition by priority, per-partition token sums to the
    * driver (nPart longs — the only driver data), prefix offsets back,
    * then one local running-sum pass per partition. No global sort
    * task, no whole-corpus window state.
    */
  val q74 = Q("q74_token_budget",
    (s, dir) => {
      import org.apache.spark.TaskContext
      val B = 10000L
      val nPart = 32
      val sess = s
      import sess.implicits._
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr("(doc_id * 2654435761) % 1000000007").as("p"),
          when(length(trim(coalesce(col("text"), lit("")))) === 0, lit(0L))
            .otherwise(size(toks).cast("long")).as("n_tokens"))
        .as[(Long, Long, Long)]
      val parted = base.repartitionByRange(nPart, col("p"), col("doc_id"))
        .sortWithinPartitions("p", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val partSums: Map[Int, Long] = parted.mapPartitions { it =>
          Iterator.single((TaskContext.getPartitionId(), it.map(_._3).sum))
        }.collect().toMap
        val offsets: Map[Int, Long] = {
          var acc = 0L
          (0 until nPart).map { pid =>
            val o = pid -> acc; acc += partSums.getOrElse(pid, 0L); o
          }.toMap
        }
        val offB = s.sparkContext.broadcast(offsets)
        parted.mapPartitions { it =>
          var cum = offB.value.getOrElse(TaskContext.getPartitionId(), 0L)
          it.map { case (id, _, n) =>
            val start = cum
            cum += n
            (id, n, start, if (start < B) 1 else 0)
          }
        }.toDF("doc_id", "n_tokens", "tok_start", "selected")
          .orderBy("doc_id")
      } finally parted.unpersist(blocking = false)
    },
    Some(s"""WITH tk AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_tokens,
        (doc_id * 2654435761) % 1000000007 AS p
      FROM documents
    ), o AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY p, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      FROM tk
    )
    SELECT doc_id, n_tokens, tok_start,
      CAST(tok_start < 10000 AS INTEGER) AS selected
    FROM o ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q75
  /** CORPUS DATASHEET — the per-source profile that accompanies a
    * dataset release ("Datasheets for Datasets", Gebru et al.,
    * arXiv:1803.09010, quantitative section): document/token/char
    * volumes, language spread, exact-duplicate rate, and
    * repetition-quality pass rate, one row per source. Everything is
    * integer counts or single integer divisions — cross-engine exact.
    *
    * Shape: one explode-free pass for volumes, the q58 bigram groupBy
    * for quality, one (source, fp) groupBy for dup counts — all
    * partial-aggregable; output is O(sources).
    */
  val q75 = Q("q75_corpus_datasheet",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val qual = q58.run(s, dir).select(col("doc_id"), col("quality_pass"))
      val firstOfFp = Window.partitionBy("fp").orderBy("doc_id")
      val base = docs
        .withColumn("n_tokens",
          when(length(trim(coalesce(col("text"), lit("")))) === 0, lit(0L))
            .otherwise(size(toks).cast("long")))
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("is_first", (row_number().over(firstOfFp) === 1).cast("long"))
        .join(qual, "doc_id")
      base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          (count(lit(1)) - sum("is_first")).as("n_exact_dups"),
          sum("quality_pass").cast("long").as("n_quality_pass"),
          expr("CAST(sum(n_chars) div greatest(sum(n_tokens), 1) AS BIGINT)")
            .as("chars_per_token"))
        .orderBy("source")
    },
    Some(s"""WITH tk AS (
      SELECT doc_id, source, lang, n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len($toksSql) END AS n_tokens,
        CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
             THEN 1 ELSE 0 END AS is_first,
        $toksSql AS toks,
        string_split(text, chr(10)) AS lns
      FROM documents
    ), tri AS (
      SELECT doc_id, source, lang, n_chars, n_tokens, is_first,
        len(lns) AS n_lines, len(list_distinct(lns)) AS n_distinct_lines,
        CASE WHEN n_tokens >= 3
             THEN list_transform(generate_series(1, n_tokens - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS trigrams,
        toks
      FROM tk
    ), trid AS (
      SELECT *, len(trigrams) AS n_tri, len(list_distinct(trigrams)) AS n_distinct_tri
      FROM tri
    ), bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, n_tokens - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM trid WHERE n_tokens >= 2
    ), bc AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, gram
    ), bs AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_cnt, SUM(cnt) AS n_bigrams
      FROM bc GROUP BY doc_id
    ), q AS (
      SELECT t.doc_id, t.source, t.lang, t.n_chars, t.n_tokens, t.is_first,
        CASE WHEN CAST(1.0::DOUBLE - CAST(t.n_distinct_lines AS DOUBLE) / t.n_lines
                    > 0.30::DOUBLE AS INTEGER)
           + COALESCE(CAST(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams
                    > 0.20::DOUBLE AS INTEGER), 0)
           + COALESCE(CAST(CASE WHEN t.n_tri > 0
                    THEN 1.0::DOUBLE - CAST(t.n_distinct_tri AS DOUBLE) / t.n_tri END
                    > 0.60::DOUBLE AS INTEGER), 0) = 0
             THEN 1 ELSE 0 END AS quality_pass
      FROM trid t LEFT JOIN bs b ON b.doc_id = t.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      COUNT(DISTINCT lang) AS n_langs,
      CAST(COUNT(*) - SUM(is_first) AS BIGINT) AS n_exact_dups,
      CAST(SUM(quality_pass) AS BIGINT) AS n_quality_pass,
      CAST(SUM(n_chars) // greatest(SUM(n_tokens), 1) AS BIGINT) AS chars_per_token
    FROM q GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- q76
  /** REFERENCE-corpus likelihood scoring — the statistical twin of the
    * q58 heuristics (the CCNet/Wenzek et al. arXiv:1911.00359 idea:
    * score documents by how typical their text is under a language
    * model trained on a REFERENCE corpus; here a bigram model over the
    * q60 TRAIN split, LOG-FREE so the ranking is cross-engine exact):
    * each document's score is the mean scaled conditional bigram
    * probability `avg(count_ref(w1, w2) · 10⁶ div count_ref(w1))` over
    * its token bigrams, with unseen bigrams backing off to 0. Low
    * scores = garbled/out-of-distribution docs (what a perplexity
    * filter drops). The reference must be a SEPARATE slice: a model
    * trained on the scored text itself awards singleton bigrams
    * p = 1 and word salad scores HIGHEST.
    *
    * Shape: model counts are partial-aggregable over the train slice;
    * scoring is one shuffle join keyed by the bigram, then a per-doc
    * partial agg. The (pruned) model tables are what you'd broadcast
    * at fleet scale.
    */
  /** The q76 scoring chain up to per-doc aggregates — shared with q83:
    * (doc_id, n_bigrams, mean_p_scaled, min_p_scaled), bigram-less docs
    * absent.
    */
  private def likelihoodScores(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.util.SessionMemo.getOrCompute(s, s"likelihood-scores:$dir")(
      computeLikelihoodScores(s, dir))

  /** Memoized per (session, dir): q76, q83 and q101 all consume the
    * scored-corpus frame; the tokenize + model + scoring chain runs
    * ONCE and the tiny (doc_id, 3 longs) result is checkpointed so it
    * survives the harness's per-query `clearCache()` without pinning
    * executor storage (the bigram cache the computation takes is
    * unpersisted before returning).
    */
  private def computeLikelihoodScores(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, dir, "documents")
    val bigrams = docs
      .withColumn("tk", toks)
      .withColumn("nw",
        when(length(trim(col("text"))) === 0, lit(0)).otherwise(size(col("tk"))))
      .filter(col("nw") >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), col("nw") - 2),
        i => struct(element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      // the bigram stream is read twice (model build + scoring join);
      // materialize the single tokenize+explode pass instead of paying
      // it per consumer — this is the layer a 100 TB pipeline would
      // write to scratch storage once
      .persist()
    val ref = bigrams.filter(expr("(doc_id * 2654435761) % 1000 < 900"))
    val bgCnt = ref.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c1(w1) — the ref bigram instances sharing the head word — is by
    // definition sum(c2) over w2, so it derives from the already
    // aggregated bigram counts (a window over the SMALL model table)
    // rather than a second full groupBy pass over raw ref bigrams; the
    // scoring side then needs ONE join instead of two. A bigram absent
    // from the model scores 0 either way, so the two-left-join oracle
    // formulation is value-identical.
    val model = bgCnt.withColumn("c1",
      sum("c2").over(Window.partitionBy("w1")))
    val agg = bigrams
      .join(model, Seq("w1", "w2"), "left")
      .withColumn("p_scaled", expr(
        "CASE WHEN c2 IS NULL THEN CAST(0 AS BIGINT) " +
          "ELSE (c2 * 1000000) div c1 END"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_scaled) div count(1)").as("mean_p_scaled"),
        min("p_scaled").as("min_p_scaled"))
    graft.util.Ckpt.ensureDir(s.sparkContext)
    val out = agg.checkpoint()
    bigrams.unpersist()
    out
  }

  /** Oracle mirror of [[likelihoodScores]]: WITH-chain body ending in
    * `agg(doc_id, n_bigrams, mean_p_scaled, min_p_scaled)`.
    */
  private val likelihoodCteSql: String = s"""tk AS (
      SELECT doc_id, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS nw
      FROM documents
    ), bigrams AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, nw - 1), i -> tk[i])) AS w1,
        unnest(list_transform(generate_series(1, nw - 1), i -> tk[i+1])) AS w2
      FROM tk WHERE nw >= 2
    ), ref AS (
      SELECT * FROM bigrams WHERE (doc_id * 2654435761) % 1000 < 900
    ), bg AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM ref GROUP BY w1, w2
    ), ug AS (
      SELECT w1, COUNT(*) AS c1 FROM ref GROUP BY w1
    ), scored AS (
      SELECT b.doc_id,
        CASE WHEN bg.c2 IS NULL OR ug.c1 IS NULL THEN 0
             ELSE (bg.c2 * 1000000) // ug.c1 END AS p_scaled
      FROM bigrams b
      LEFT JOIN bg ON bg.w1 = b.w1 AND bg.w2 = b.w2
      LEFT JOIN ug ON ug.w1 = b.w1
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(p_scaled) // COUNT(*) AS BIGINT) AS mean_p_scaled,
        CAST(MIN(p_scaled) AS BIGINT) AS min_p_scaled
      FROM scored GROUP BY doc_id
    )"""

  val q76 = Q("q76_corpus_likelihood",
    (s, dir) => {
      likelihoodScores(s, dir)
        .withColumn("atypical", (col("mean_p_scaled") < 33500).cast("int"))
        .select("doc_id", "n_bigrams", "mean_p_scaled", "min_p_scaled", "atypical")
        .orderBy("doc_id")
    },
    Some(s"""WITH $likelihoodCteSql
    SELECT doc_id, n_bigrams, mean_p_scaled, min_p_scaled,
      CAST(mean_p_scaled < 33500 AS INTEGER) AS atypical
    FROM agg ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q78
  /** Vocabulary-coverage / OOV audit — the tokenizer-design feedback
    * loop: build the top-16 corpus vocabulary (count desc, word asc —
    * fully deterministic, no RNG) and measure each document's
    * out-of-vocabulary token fraction. Corpus term counts are
    * partial-aggregable; the vocabulary is driver-sized and BROADCAST
    * back; per-doc stats are one explode + groupBy(doc_id). At 100 TB
    * the vocab build is the classic word-count shape and the audit adds
    * one map-side hash-probe pass — no extra shuffle of text.
    */
  val q78 = Q.sql("q78_vocab_oov",
    s"""WITH base AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN [] ELSE $toksSql END AS tk
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(tk) AS tok FROM base
    ), vocab AS (
      SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
      ORDER BY cnt DESC, tok LIMIT 16
    ), st AS (
      SELECT t.doc_id, COUNT(*) AS n_toks,
        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY t.doc_id
    )
    SELECT b.doc_id, COALESCE(st.n_toks, 0) AS n_toks,
      COALESCE(st.n_oov, 0) AS n_oov,
      CASE WHEN st.n_toks > 0 THEN CAST(st.n_oov AS DOUBLE) / st.n_toks END AS oov_frac
    FROM base b LEFT JOIN st USING (doc_id) ORDER BY b.doc_id""")

  // ---------------------------------------------------------------- q79
  /** Cross-source contamination matrix: 3-gram Jaccard overlap between
    * every source pair — the "is corpus B secretly corpus A" audit run
    * before mixing training sources. Per-source DISTINCT shingle sets
    * are partial-aggregable (the shuffle carries each (source, gram)
    * once); intersections form by equi-join on the gram key; the
    * source×source matrix is driver-sized. No document text crosses a
    * shuffle and there is no all-pairs join over documents anywhere.
    */
  val q79 = Q.sql("q79_source_overlap",
    s"""WITH base AS (
      SELECT source, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS nw
      FROM documents
    ), tri AS (
      SELECT DISTINCT source, gram FROM (
        SELECT source, unnest(list_transform(generate_series(1, nw - 2),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        FROM base WHERE nw >= 3)
    ), sz AS (
      SELECT source, COUNT(*) AS n_grams FROM tri GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      FROM tri a JOIN tri b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
      sa.n_grams AS n_a, sb.n_grams AS n_b,
      COALESCE(i.n_inter, 0) AS n_inter,
      CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
        (sa.n_grams + sb.n_grams - COALESCE(i.n_inter, 0)) AS jaccard
    FROM sz sa JOIN sz sb ON sa.source < sb.source
    LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
    ORDER BY source_a, source_b""")

  // ---------------------------------------------------------------- q80
  /** PII scrub — the redaction pass every released corpus runs before
    * training. The synthetic corpus is PII-free word salad, so
    * deterministic PII spans (emails / IPv4s / phone extensions keyed
    * off doc_id) are appended first — both engines construct the SAME
    * augmented text, then detect with RE2-and-Java-compatible regexes
    * (no lookaround, no backrefs), count, and redact to typed
    * placeholders. The output carries the redacted-text md5 so the
    * oracle pins the exact rewritten bytes, not just the counts. Pure
    * per-row projection — no shuffle at all, trivially 100 TB-shaped.
    */
  val q80 = Q.sql("q80_pii_redaction",
    {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phonePat = "\\b555-\\d{4}\\b"
      s"""WITH aug AS (
      SELECT doc_id, text ||
        CASE doc_id % 5
          WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          WHEN 1 THEN ' node 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' ||
                      CAST(doc_id % 250 AS VARCHAR) || ' up'
          WHEN 2 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
          WHEN 3 THEN ' mail ops' || CAST(doc_id AS VARCHAR) || '@mail.example.org via 192.168.' ||
                      CAST(doc_id % 100 AS VARCHAR) || '.7'
          ELSE '' END AS t
      FROM documents
    ), c AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ip,
        CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phone,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g'),
          '$phonePat', '<PHONE>', 'g')) AS redacted_md5
      FROM aug
    )
    SELECT doc_id, n_email, n_ip, n_phone,
      n_email + n_ip + n_phone AS pii_total,
      redacted_md5,
      CAST(n_email + n_ip + n_phone = 0 AS INTEGER) AS clean
    FROM c ORDER BY doc_id"""
    })

  // ---------------------------------------------------------------- q82
  /** Release manifest — the artifact a corpus RELEASE ships: per
    * (split, lang) partition, document/char volumes plus TWO content
    * checksums. `release_md5` is the content-address (md5 over per-doc
    * md5s concatenated in doc_id order — any changed byte, dropped doc,
    * or reordered id changes it); `fp_sum` is the order-INDEPENDENT
    * Σ doc_fp twin (the q53 Rabin–Karp kernel) that partial-aggregates
    * map-side — the checksum you'd actually verify at 100 TB, where an
    * ordered concat-of-hashes per partition is a deliberate single
    * reduction over a driver-bounded group list, not a corpus sort.
    */
  val q82 = Q("q82_release_manifest",
    (s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .withColumn("split", expr(
          "CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train' " +
            "WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END"))
        .withColumn("h", md5(col("text").cast("binary")))
        .withColumn("doc_fp", expr("rolling_hash(text, 8, 131, 1000000007).doc_fp"))
      base.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("doc_fp").as("fp_sum"),
          md5(concat_ws("",
            transform(array_sort(collect_list(struct(col("doc_id"), col("h")))),
              x => x.getField("h"))).cast("binary")).as("release_md5"))
        .select("split", "lang", "n_docs", "sum_chars", "fp_sum", "release_md5")
        .transform(graft.Q.presentSorted(_, "split", "lang"))
    },
    Some("""WITH c AS (
      SELECT doc_id, lang, n_chars,
        CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
             WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val' ELSE 'test' END AS split,
        md5(text) AS h,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, length(text)), i ->
            CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          (acc, x) -> (acc * 131 + x) % 1000000007) AS doc_fp
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(doc_fp) AS BIGINT) AS fp_sum,
      md5(string_agg(h, '' ORDER BY doc_id)) AS release_md5
    FROM c GROUP BY split, lang ORDER BY split, lang"""))

  // ---------------------------------------------------------------- q83
  /** Curriculum difficulty bucketing — order training data easy→hard:
    * quartile the corpus by its q76 reference-likelihood score using
    * the DISTRIBUTED exact-quantile cuts (rel.ExactQuantile — never the
    * group-buffering `percentile`, never a single-partition NTILE
    * window), then profile each difficulty bucket. The three cut values
    * are driver-sized (one row per quantile) and embed as literals in
    * the bucketing projection, so the second pass is shuffle-free up to
    * the final 4-row profile agg. Bucket boundaries use strict `<`
    * (ties promote to the harder bucket); bigram-less docs carry no
    * score and are absent, as in q76.
    */
  val q83 = Q("q83_curriculum_buckets",
    (s, dir) => {
      // cached: the cut computation (an action inside ExactQuantile) and
      // the bucketing pass both read it; the harness clears it after the
      // query
      val scores = likelihoodScores(s, dir)
        .select(col("doc_id"), col("mean_p_scaled"))
        .cache()
      val cuts = graft.rel.ExactQuantile
        .perGroup(scores.withColumn("g", lit("all")), "g", "mean_p_scaled",
          Seq(0.25, 0.5, 0.75))
        .orderBy("p").select("q").collect()
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      // degenerate corpus (no doc yields a bigram): no cuts — every score
      // row is gone too, so any bucket expr produces the same empty
      // profile the oracle's NULL-cut CASE does; don't destructure
      val bucketExpr = cuts match {
        case Array(c1, c2, c3) =>
          when(col("mean_p_scaled") < c1, 0)
            .when(col("mean_p_scaled") < c2, 1)
            .when(col("mean_p_scaled") < c3, 2).otherwise(3)
        case _ => lit(3)
      }
      scores
        .withColumn("bucket", bucketExpr)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("mean_p_scaled").as("min_score"),
          max("mean_p_scaled").as("max_score"),
          expr("sum(mean_p_scaled) div count(1)").as("mean_score"))
        .select("bucket", "n_docs", "min_score", "max_score", "mean_score")
        .orderBy("bucket")
    },
    Some(s"""WITH $likelihoodCteSql, cuts AS (
      SELECT quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.25) AS c1,
             quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.50) AS c2,
             quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.75) AS c3
      FROM agg
    ), b AS (
      SELECT a.doc_id, a.mean_p_scaled,
        CASE WHEN a.mean_p_scaled < cuts.c1 THEN 0
             WHEN a.mean_p_scaled < cuts.c2 THEN 1
             WHEN a.mean_p_scaled < cuts.c3 THEN 2 ELSE 3 END AS bucket
      FROM agg a, cuts
    )
    SELECT bucket, COUNT(*) AS n_docs,
      MIN(mean_p_scaled) AS min_score,
      MAX(mean_p_scaled) AS max_score,
      CAST(SUM(mean_p_scaled) // COUNT(*) AS BIGINT) AS mean_score
    FROM b GROUP BY bucket ORDER BY bucket"""))

  // ---------------------------------------------------------------- q86
  /** BM25 top-k lexical retrieval — the keyword-side twin of the ANN
    * queries (RAG data pipelines need both). With k1 = 6/5 and b = 3/4
    * the Robertson tf saturation collapses to an INTEGER rational:
    *
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *     = 44·tf·D / (20·tf·D + 6·D + 18·dl·N)
    *
    * (D = Σ dl, N = corpus size, avgdl = D/N), evaluated at fixed
    * point ×1000 — one integer division per (query term, doc), so
    * scores and therefore the top-10 ranking are engine-exact. idf is the repo's log-free family
    * (N·10⁶ div df, as in q61/q76 — rank-preserving per term; rare
    * terms weigh more than Robertson's log idf, stated deviation).
    * Multi-term query scores sum the per-term integers. Shapes: tokens
    * filter to the 6 query terms BEFORE any shuffle, df/tf/dl are
    * partial-aggregable, the (D, N) scalars broadcast, top-10 is a
    * per-query window over ≤ matched docs.
    */
  /** Shared BM25 scoring leg (q86 and the q174 hybrid fusion): the
    * integer-exact Robertson scores per (query_id, doc_id) — see the
    * q86 scaladoc above for the rational-arithmetic derivation. The
    * SQL twin is [[bm25CteSql]]; edit them together.
    */
  private[text] def bm25ByQuery(s: SparkSession, dir: String): DataFrame = {
      val docs = Tables(s, dir, "documents")
      val terms = Seq(1 -> Seq("table", "scan"), 2 -> Seq("spark", "query"),
        3 -> Seq("merge", "batch"))
      val qdf = {
        val sess = s
        import sess.implicits._
        terms.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }.toDF("query_id", "term")
      }
      val base = docs.select(col("doc_id"),
        when(length(trim(col("text"))) === 0, array().cast("array<string>"))
          .otherwise(toks).as("tk"))
        .withColumn("dl", size(col("tk")).cast("long"))
      val scal = base.agg(sum("dl").as("big_d"), count(lit(1)).as("n_docs"))
      val tok = base.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
        .join(broadcast(qdf.select("term").distinct()), Seq("term"))
      val tf = tok.groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), Seq("term"))
        .crossJoin(broadcast(scal))
        .withColumn("idf_scaled", expr("(n_docs * 1000000) div df"))
        .withColumn("term_score", expr(
          "idf_scaled * ((44 * tf * big_d * 1000) div " +
            "(20 * tf * big_d + 6 * big_d + 18 * dl * n_docs))"))
        .join(broadcast(qdf), Seq("term"))
      scored.groupBy("query_id", "doc_id")
        .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms_hit"))
  }

  val q86 = Q("q86_bm25_topk",
    (s, dir) => {
      val byQuery = bm25ByQuery(s, dir)
      val w = Window.partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
      byQuery.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("query_id", "rnk", "doc_id", "score", "n_terms_hit")
        .orderBy("query_id", "rnk")
    },
    Some(s"""WITH $bm25CteSql, r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM byq
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_terms_hit
    FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** DuckDB mirror of [[bm25ByQuery]] as a WITH-chain ending in
    * `byq(query_id, doc_id, score, n_terms_hit)`.
    */
  private[text] lazy val bm25CteSql: String = s"""qt AS (
      SELECT * FROM (VALUES (1, 'table'), (1, 'scan'), (2, 'spark'), (2, 'query'),
        (3, 'merge'), (3, 'batch')) AS t(query_id, term)
    ), base AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN [] ELSE $toksSql END AS tk
      FROM documents
    ), dld AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM base
    ), scal AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS big_d, COUNT(*) AS n_docs FROM dld
    ), tok AS (
      SELECT doc_id, dl, term FROM (
        SELECT b.doc_id, d.dl, unnest(b.tk) AS term
        FROM base b JOIN dld d USING (doc_id))
      WHERE term IN (SELECT DISTINCT term FROM qt)
    ), tf AS (
      SELECT term, doc_id, dl, COUNT(*) AS tf FROM tok GROUP BY term, doc_id, dl
    ), dft AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT q.query_id, f.doc_id,
        ((s.n_docs * 1000000) // d.df) *
          ((44 * f.tf * s.big_d * 1000) //
           (20 * f.tf * s.big_d + 6 * s.big_d + 18 * f.dl * s.n_docs))
          AS term_score
      FROM tf f JOIN dft d USING (term) CROSS JOIN scal s JOIN qt q USING (term)
    ), byq AS (
      SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score,
        COUNT(*) AS n_terms_hit
      FROM scored GROUP BY query_id, doc_id
    )"""

  // --------------------------------------------------------------- q174
  /** Hybrid retrieval with reciprocal-rank fusion — the step a RAG /
    * training-data retrieval pipeline runs on top of its two index legs
    * (Cormack–Clarke–Büttcher, SIGIR'09): the BM25 lexical leg
    * ([[bm25ByQuery]], integer-exact) and a dense cosine leg over the
    * aligned embeddings (doc_id = vec_id, exact decimal dot products as
    * in q36), each truncated to its top-50 ranks, fused by
    * RRF(d) = Σ_legs 1/(60 + rank_leg(d)) at integer fixed-point
    * (10⁶ div (60 + rank) — engine-exact, no float rank math).
    *
    * Scale design: fusion consumes RANKS ONLY, so each leg is free to
    * be whatever index the corpus size demands — the brute-force dense
    * leg here is the gate-scale choice; at fleet scale you swap in the
    * IVF (q44) or clustered-graph (q168) leg unchanged, because the
    * fused frame is (query, doc, rank): k·|queries| rows per leg, never
    * corpus-sized. The lexical leg prunes to query terms BEFORE any
    * shuffle; the full-outer rank join and re-rank run on 2·k rows per
    * query.
    */
  /** RRF fusion core — consumes RANK FRAMES ONLY, `(query_id, doc_id,
    * lex_rnk)` × `(query_id, doc_id, dense_rnk)`, so either leg swaps
    * for any other index's top-k (IVF q44, graph q168, truncated-dim
    * q138) without touching this body; Round10bOpsSpec proves it by
    * fusing the same lexical leg with a truncated-dimension dense leg.
    */
  private[graft] def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_scaled",
        coalesce(expr("1000000 div (60 + lex_rnk)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + dense_rnk)"), lit(0L)))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf_scaled"), col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("query_id", "rnk", "doc_id", "rrf_scaled", "lex_rnk", "dense_rnk")
      .orderBy("query_id", "rnk")
  }

  /** The q174 lexical leg: BM25 top-`k` ranks per query. */
  private[graft] def lexTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val lexW = Window.partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
    bm25ByQuery(s, dir)
      .withColumn("lex_rnk", row_number().over(lexW).cast("long"))
      .filter(col("lex_rnk") <= k)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"), col("lex_rnk"))
  }

  /** The q174 dense leg: exact-cosine top-`k` ranks per query vector,
    * optionally on a dimension prefix (`dims` < 64 gives the q138-style
    * truncated approximate leg the spec uses to prove leg-agnosticism).
    */
  private[graft] def denseTopK(s: SparkSession, dir: String, k: Int,
                              dims: Option[Int] = None): DataFrame = {
    val emb = dims.fold(col("embedding"))(d => slice(col("embedding"), 1, d))
    val en = Tables(s, dir, "embeddings")
      .withColumn("e", emb)
      .withColumn("n2", expr("dec_dot8(e, e)"))
    val qv = en.filter(col("vec_id").between(1, 3))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("n2").as("qn2"))
    val cv = en.select(col("vec_id").as("doc_id"), col("e").as("ce"), col("n2").as("cn2"))
    val denseW = Window.partitionBy("query_id").orderBy(desc("cos_sim"), col("doc_id"))
    broadcast(qv).join(cv, col("doc_id") =!= col("query_id"))
      .withColumn("dot", expr("dec_dot8(qe, ce)"))
      .withColumn("cos_sim", when(col("qn2") > 0 && col("cn2") > 0,
        col("dot") / (sqrt(col("qn2")) * sqrt(col("cn2")))))
      .withColumn("dense_rnk", row_number().over(denseW).cast("long"))
      .filter(col("dense_rnk") <= k)
      .select("query_id", "doc_id", "dense_rnk")
  }

  val q174 = Q("q174_hybrid_rrf_fusion",
    (s, dir) => rrfFuse(lexTopK(s, dir, 50), denseTopK(s, dir, 50)),
    Some(s"""WITH $bm25CteSql, lexr AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, lex_rnk FROM (
        SELECT query_id, doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rnk
        FROM byq)
      WHERE lex_rnk <= 50
    ), en AS (
      SELECT vec_id, embedding,
        CAST(list_sum(list_transform(embedding, x ->
          CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 8) AS DECIMAL(38,8)))) AS DOUBLE) AS n2
      FROM embeddings
    ), dp AS (
      SELECT q.vec_id AS query_id, c.vec_id AS doc_id, q.n2 AS qn2, c.n2 AS cn2,
        CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding), p ->
          CAST(round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE), 8) AS DECIMAL(38,8)))) AS DOUBLE) AS dot
      FROM en q JOIN en c ON c.vec_id != q.vec_id
      WHERE q.vec_id BETWEEN 1 AND 3
    ), dsc AS (
      SELECT query_id, doc_id,
        CASE WHEN qn2 > 0 AND cn2 > 0 THEN dot / (sqrt(qn2) * sqrt(cn2)) END AS cos_sim
      FROM dp
    ), dense AS (
      SELECT query_id, doc_id, dense_rnk FROM (
        SELECT query_id, doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS dense_rnk
        FROM dsc)
      WHERE dense_rnk <= 50
    ), fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rnk, d.dense_rnk,
             COALESCE(1000000 // (60 + l.lex_rnk), 0) +
               COALESCE(1000000 // (60 + d.dense_rnk), 0) AS rrf_scaled
      FROM lexr l FULL OUTER JOIN dense d
        ON d.query_id = l.query_id AND d.doc_id = l.doc_id
    ), rr AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS rnk
      FROM fused
    )
    SELECT query_id, rnk, doc_id, rrf_scaled, lex_rnk, dense_rnk
    FROM rr WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- q87
  /** Positional phrase search — the inverted-index build q86's bag-of-
    * words scoring can't answer: per (term, doc) posting lists carry
    * SORTED token positions, and a two-term phrase hit is an
    * intersection of (positions(t1) + 1) with positions(t2) — exact
    * adjacency, no text rescan. Shapes: tokens filter to the 6 phrase
    * terms before any shuffle, posting lists are one groupBy away
    * (collect_list bounded by per-doc tf), the phrase join is per-doc
    * equi. The positional index is what a 100 TB retrieval corpus
    * materializes once and queries forever.
    */
  val q87 = Q("q87_phrase_search",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val phrases = Seq((1, "table", "scan"), (2, "spark", "query"), (3, "merge", "batch"))
      val pdf = {
        val sess = s
        import sess.implicits._
        phrases.toDF("query_id", "t1", "t2")
      }
      val base = docs.select(col("doc_id"),
        when(length(trim(col("text"))) === 0, array().cast("array<string>"))
          .otherwise(toks).as("tk"))
      val wanted = phrases.flatMap(p => Seq(p._2, p._3)).distinct
      val tok = base.select(col("doc_id"), posexplode(col("tk")).as(Seq("pos0", "term")))
        .filter(col("term").isInCollection(wanted))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("term"))
      val plist = tok.groupBy("doc_id", "term")
        .agg(sort_array(collect_list(col("pos"))).as("ps"),
          count(lit(1)).as("tf"))
      broadcast(pdf)
        .join(plist.select(col("doc_id"), col("term").as("t1"),
          col("ps").as("ps1"), col("tf").as("tf1")), Seq("t1"))
        .join(plist.select(col("doc_id"), col("term").as("t2"),
          col("ps").as("ps2"), col("tf").as("tf2")), Seq("t2", "doc_id"))
        .withColumn("n_phrase_hits",
          size(array_intersect(transform(col("ps1"), p => p + 1), col("ps2"))).cast("long"))
        .filter(col("n_phrase_hits") >= 1)
        .select("query_id", "doc_id", "tf1", "tf2", "n_phrase_hits")
        .orderBy("query_id", "doc_id")
    },
    Some(s"""WITH pq AS (
      SELECT * FROM (VALUES (1, 'table', 'scan'), (2, 'spark', 'query'),
        (3, 'merge', 'batch')) AS t(query_id, t1, t2)
    ), base AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN [] ELSE $toksSql END AS tk
      FROM documents
    ), tok AS (
      SELECT doc_id, pos, term FROM (
        SELECT doc_id,
          unnest(generate_series(1, len(tk))) AS pos,
          unnest(tk) AS term
        FROM base)
      WHERE term IN (SELECT t1 FROM pq UNION SELECT t2 FROM pq)
    ), plist AS (
      SELECT doc_id, term, list_sort(list(CAST(pos AS BIGINT))) AS ps,
        COUNT(*) AS tf
      FROM tok GROUP BY doc_id, term
    ), hits AS (
      SELECT q.query_id, a.doc_id, a.tf AS tf1, b.tf AS tf2,
        CAST(len(list_intersect(list_transform(a.ps, p -> p + 1), b.ps)) AS BIGINT)
          AS n_phrase_hits
      FROM pq q
      JOIN plist a ON a.term = q.t1
      JOIN plist b ON b.term = q.t2 AND b.doc_id = a.doc_id
    )
    SELECT query_id, doc_id, tf1, tf2, n_phrase_hits
    FROM hits WHERE n_phrase_hits >= 1
    ORDER BY query_id, doc_id"""))

  // ---------------------------------------------------------------- q88
  /** Cross-document duplicated-substring screen (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the ExactSubstr idea at word-8-gram
    * granularity): a window occurring in MORE THAN ONE document is
    * "shared"; each document reports how much of its distinct window
    * set is shared. Doc-level MinHash (q48) misses partial overlap —
    * two documents pasting the same boilerplate paragraph into
    * otherwise-different text score low Jaccard but high
    * shared-window fraction; this screen catches them.
    *
    * Shapes: windows hash to 48-bit md5 prefixes inside a per-doc
    * projection (distinct on PRIMITIVE longs, not the O(n²)
    * `array_distinct` over strings); the cross-doc doc-frequency
    * groupBy shuffles (hash, doc) longs once — map-side combinable,
    * no raw text, no all-pairs; the per-doc rollup joins back on the
    * same hash key. 48-bit collisions (~N²/2⁴⁹) are negligible and
    * identical in both engines by construction. The small projected
    * base (doc_id + hash array) is cached for its three consumers;
    * at corpus scale persist it to disk or recompute — it is one
    * tokenize pass either way.
    */
  val q88 = Q("q88_dup_substrings",
    (s, dir) => {
      val W = 8
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("tk", toks)
        .withColumn("n_words",
          when(length(trim(col("text"))) === 0, lit(0L))
            .otherwise(size(col("tk")).cast("long")))
        .withColumn("grams", when(col("n_words") >= W,
          transform(sequence(lit(0), size(col("tk")) - W),
            i => concat_ws(" ", (0 until W).map(j => element_at(col("tk"), i + j + 1)): _*)))
          .otherwise(array().cast("array<string>")))
        .select(col("doc_id"), size(col("grams")).cast("long").as("n_windows"),
          array_distinct(transform(col("grams"),
            g => conv(substring(md5(g.cast("binary")), 1, 12), 16, 10).cast("long")))
            .as("hs"))
        .withColumn("n_distinct", size(col("hs")).cast("long"))
        .cache()
      val exploded = base.select(col("doc_id"), explode(col("hs")).as("h"))
      // rows are (doc, hash)-distinct already, so COUNT(*) IS the
      // document frequency
      val docFreq = exploded.groupBy("h").agg(count(lit(1)).as("df"))
      val shared = exploded.join(docFreq.filter(col("df") >= 2), "h")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      base.select("doc_id", "n_windows", "n_distinct")
        .join(shared, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("shared_frac",
          when(col("n_distinct") > 0,
            col("n_shared").cast("double") / col("n_distinct")))
        .orderBy("doc_id")
    },
    Some(s"""WITH base AS (
      SELECT doc_id, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_words
      FROM documents
    ), g AS (
      SELECT doc_id, n_words,
        CASE WHEN n_words >= 8
             THEN list_transform(generate_series(1, n_words - 7),
                    i -> array_to_string(tk[i:i+7], ' '))
             ELSE [] END AS grams
      FROM base
    ), hs AS (
      SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_windows,
        list_distinct(list_transform(grams, s ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, 12), i ->
              CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT))),
            (acc, x) -> acc * 16 + x))) AS hv
      FROM g
    ), e AS (
      SELECT doc_id, unnest(hv) AS h FROM hs
    ), dfq AS (
      SELECT h, COUNT(*) AS df FROM e GROUP BY h
    ), sh AS (
      SELECT e.doc_id, COUNT(*) AS n_shared
      FROM e JOIN dfq USING (h) WHERE dfq.df >= 2 GROUP BY e.doc_id
    )
    SELECT b.doc_id, b.n_windows, CAST(len(b.hv) AS BIGINT) AS n_distinct,
      CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
      CASE WHEN len(b.hv) > 0
           THEN CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / len(b.hv) END AS shared_frac
    FROM hs b LEFT JOIN sh s USING (doc_id) ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q89
  /** RAG chunk extraction — fixed 64-token windows at stride 48
    * (16-token overlap), the op between curation and embedding in a
    * retrieval pipeline. Chunk count is closed-form integer math
    * (`1 + ceil(max(n−W, 0)/S)` — full coverage, tail chunk may run
    * short, empty docs emit nothing), so the row set needs no window
    * function; each chunk carries its token offset, length, and an
    * md5 over the space-joined token slice — the content address a
    * chunk store / vector index would key on. Pure per-row explode:
    * no shuffle at all until the presentation sort.
    */
  val q89 = Q.sql("q89_rag_chunks",
    s"""WITH base AS (
      SELECT doc_id, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_words
      FROM documents
    ), c AS (
      SELECT doc_id, n_words, tk,
        unnest(generate_series(0, (greatest(n_words - 64, 0) + 47) // 48)) AS chunk_idx
      FROM base WHERE n_words > 0
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
      CAST(least(n_words - chunk_idx * 48, 64) AS BIGINT) AS n_tok,
      md5(array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx""")

  // ---------------------------------------------------------------- q90
  /** Temperature-scaled source mixture — the sampling-weight table a
    * multi-source training run reads (Arivazhagan et al.,
    * arXiv:1907.05019 §4; Conneau & Lample use α = 0.7 — here
    * α = 0.5, i.e. w ∝ √count, because sqrt is a single IEEE op both
    * engines evaluate identically while pow(x, 0.7) is not; stated
    * deviation). Upweights tail sources; `boost` reports each
    * source's resulting over/under-sampling factor vs natural
    * frequency, and `quota_100k` its integer allocation of a 100k-doc
    * epoch. The denominator is an ordered fold over the per-source
    * √counts (source-ascending, prepended 0 — same adds, same order
    * in both engines), the one scalar a 100 TB corpus would broadcast.
    */
  val q90 = Q.sql("q90_mixture_weights",
    """WITH cnt AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), d AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
          (a, x) -> a + x) AS denom
      FROM cnt
    ), w AS (
      SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
        CAST(c.n_docs AS DOUBLE) / d.n_total AS p_natural,
        sqrt(CAST(c.n_docs AS DOUBLE)) / d.denom AS w_temp
      FROM cnt c, d
    )
    SELECT source, n_docs, p_natural, w_temp,
      CAST(floor(w_temp * 100000) AS BIGINT) AS quota_100k,
      w_temp / p_natural AS boost
    FROM w ORDER BY source""")

  // ---------------------------------------------------------------- q91
  /** Hard-negative mining for retrieval training — for each anchor
    * document, BM25-retrieve the top-10 lexically-closest documents
    * that are NOT near-duplicates of it (q48's dedup groups are the
    * positives a contrastive trainer must exclude — a near-dup ranked
    * as a "negative" poisons the loss; cf. q85's is_false_neg audit,
    * which MEASURES the contamination this query REMOVES). Each
    * anchor's query is its 5 rarest distinct terms (corpus df
    * ascending, ties by term — deterministic), scored with q86's
    * integer-rational BM25, so ranking is engine-exact end-to-end.
    *
    * Shapes: corpus df is one map-side-combinable groupBy over
    * per-doc DISTINCT terms; the ≤15 (anchor, term) rows broadcast;
    * the token stream filters to those terms BEFORE any shuffle; the
    * dedup-group exclusion is an equi-join against the memoized group
    * table. No all-pairs, no driver data beyond the anchor list.
    */
  val q91 = Q("q91_hard_negatives",
    (s, dir) => {
      val anchors = Seq(0L, 7L, 23L)
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        when(length(trim(col("text"))) === 0, array().cast("array<string>"))
          .otherwise(toks).as("tk"))
        .withColumn("dl", size(col("tk")).cast("long"))
      val scal = base.agg(sum("dl").as("big_d"), count(lit(1)).as("n_docs"))
      val corpusDf = base.select(explode(array_distinct(col("tk"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val aw = Window.partitionBy("query_id").orderBy(col("df"), col("term"))
      val qterms = base.filter(col("doc_id").isInCollection(anchors))
        .select(col("doc_id").as("query_id"), explode(array_distinct(col("tk"))).as("term"))
        .join(corpusDf, "term")
        .withColumn("trk", row_number().over(aw)).filter(col("trk") <= 5)
        .select("query_id", "term", "df")
      val tok = base.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      val tf = tok.groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      val scored = tf.join(broadcast(qterms), Seq("term"))
        .crossJoin(broadcast(scal))
        .withColumn("idf_scaled", expr("(n_docs * 1000000) div df"))
        .withColumn("term_score", expr(
          "idf_scaled * ((44 * tf * big_d * 1000) div " +
            "(20 * tf * big_d + 6 * big_d + 18 * dl * n_docs))"))
      val byQuery = scored.groupBy("query_id", "doc_id")
        .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms_hit"))
      val labels = TextQueries.dedupGroups(s, dir)
      val acomp = labels.filter(col("doc_id").isInCollection(anchors))
        .select(col("doc_id").as("query_id"), col("comp").as("qcomp"))
      val w = Window.partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
      byQuery
        .join(broadcast(acomp), "query_id")
        .join(labels, "doc_id")
        .filter(col("comp") =!= col("qcomp"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("query_id", "rnk", "doc_id", "score", "n_terms_hit")
        .orderBy("query_id", "rnk")
    },
    Some(s"""${TextQueries.dedupCteSql}, base AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN [] ELSE $toksSql END AS tk
      FROM documents
    ), dld AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM base
    ), scal AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS big_d, COUNT(*) AS n_docs FROM dld
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM (
        SELECT doc_id, unnest(list_distinct(tk)) AS term FROM base)
      GROUP BY term
    ), aterm AS (
      SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS term
      FROM base WHERE doc_id IN (0, 7, 23)
    ), qt AS (
      SELECT query_id, term, df FROM (
        SELECT a.query_id, a.term, d.df,
          ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY d.df, a.term) AS trk
        FROM aterm a JOIN dfq d USING (term))
      WHERE trk <= 5
    ), tok AS (
      SELECT doc_id, dl, term FROM (
        SELECT b.doc_id, d.dl, unnest(b.tk) AS term
        FROM base b JOIN dld d USING (doc_id))
      WHERE term IN (SELECT DISTINCT term FROM qt)
    ), tf AS (
      SELECT term, doc_id, dl, COUNT(*) AS tf FROM tok GROUP BY term, doc_id, dl
    ), scored AS (
      SELECT q.query_id, f.doc_id,
        ((s.n_docs * 1000000) // q.df) *
          ((44 * f.tf * s.big_d * 1000) //
           (20 * f.tf * s.big_d + 6 * s.big_d + 18 * f.dl * s.n_docs))
          AS term_score
      FROM tf f JOIN qt q USING (term) CROSS JOIN scal s
    ), byq AS (
      SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score,
        COUNT(*) AS n_terms_hit
      FROM scored GROUP BY query_id, doc_id
    ), ac AS (
      SELECT doc_id AS query_id, group_id AS qcomp FROM comp WHERE doc_id IN (0, 7, 23)
    ), r AS (
      SELECT b.query_id, b.doc_id, b.score, b.n_terms_hit,
        ROW_NUMBER() OVER (PARTITION BY b.query_id ORDER BY b.score DESC, b.doc_id) AS rnk
      FROM byq b
      JOIN ac USING (query_id)
      JOIN comp c ON c.doc_id = b.doc_id
      WHERE c.group_id != ac.qcomp
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_terms_hit
    FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- q95
  /** Stratified exact sampling — downsample the corpus to a 20 % budget
    * with per-source quotas apportioned by LARGEST REMAINDER (exact:
    * quotas sum to the global target, no rounding drift) and membership
    * decided by md5-rank within each stratum (deterministic, seedless,
    * uniform over the stratum). This is the "make a representative dev
    * slice" operator: `sample(fraction)` can't hit exact per-stratum
    * counts and TABLESAMPLE isn't stratified.
    *
    * Shape: stratum counts are one partial agg; the quota table is
    * driver-sized (one row per source) and BROADCAST; the pick is one
    * per-source rank window — sources are a bounded dimension (like
    * symbols in the book layer), so each window partition is a constant
    * fraction of the corpus. The two tiny windows over the quota table
    * itself are single-partition BY DESIGN (≤ #sources rows).
    */
  val q95 = Q("q95_stratified_sample",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = cnt.agg(
        sum("n_docs").cast("long").as("n_total"),
        expr("CAST(sum(n_docs) div 5 AS BIGINT)").as("t_target"))
      val wr = cnt.crossJoin(broadcast(tot))
        .withColumn("base", expr("(n_docs * t_target) div n_total"))
        .withColumn("rem", expr("(n_docs * t_target) % n_total"))
      val quotas = wr
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("rem"), col("source"))))
        .withColumn("extra",
          col("t_target") - sum("base").over(
            Window.partitionBy(lit(1))))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
        .select("source", "quota")
      val wS = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      docs.select(col("doc_id"), col("source"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("pick_rank", row_number().over(wS).cast("long"))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("pick_rank") <= col("quota"))
        .select("doc_id", "source", "pick_rank")
        .transform(graft.Q.presentSorted(_, "source", "pick_rank"))
    },
    Some("""WITH cnt AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             CAST(SUM(n_docs) // 5 AS BIGINT) AS t_target FROM cnt
    ), wr AS (
      SELECT c.source, c.n_docs,
        (c.n_docs * t.t_target) // t.n_total AS base,
        (c.n_docs * t.t_target) % t.n_total AS rem,
        t.t_target
      FROM cnt c, tot t
    ), quotas AS (
      SELECT source,
        base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                    <= t_target - SUM(base) OVER () THEN 1 ELSE 0 END AS quota
      FROM wr
    ), ranked AS (
      SELECT doc_id, source,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pick_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, r.pick_rank
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.pick_rank <= q.quota
    ORDER BY source, pick_rank"""))

  // ---------------------------------------------------------------- q96
  /** Release-to-release corpus diff — the "what changed since the last
    * snapshot" audit a dataset release pipeline runs before shipping:
    * per (source, status) counts of added / removed / changed /
    * unchanged documents, where the previous snapshot is a deterministic
    * simulation on the same table (bucket < 980 existed before, buckets
    * 960–979 were edited since — simulated by case-folding — and
    * buckets < 20 have been retired from the current release).
    *
    * Shape: one self-equi-join on doc_id (co-partitioned scans of the
    * same table) feeding a partial-aggregable (source, status) count —
    * at 100 TB this is the standard two-snapshot reconciliation join,
    * shuffle keyed by doc_id only, text never leaves the map side
    * (statuses derive from md5 fingerprints computed at scan).
    */
  val q96 = Q.sql("q96_release_diff",
    """WITH prev AS (
      SELECT doc_id, source AS source_p,
        md5(CASE WHEN (doc_id * 2654435761) % 1000 >= 960
                 THEN upper(text) ELSE text END) AS fp_prev,
        CAST(length(text) AS BIGINT) AS len_p
      FROM documents WHERE (doc_id * 2654435761) % 1000 < 980
    ), curr AS (
      SELECT doc_id, source AS source_c, md5(text) AS fp_curr,
        CAST(length(text) AS BIGINT) AS len_c
      FROM documents WHERE (doc_id * 2654435761) % 1000 >= 20
    )
    SELECT COALESCE(source_c, source_p) AS source,
      CASE WHEN fp_curr IS NULL THEN 'removed'
           WHEN fp_prev IS NULL THEN 'added'
           WHEN fp_prev != fp_curr THEN 'changed'
           ELSE 'unchanged' END AS status,
      COUNT(*) AS n_docs,
      CAST(SUM(COALESCE(len_c, len_p)) AS BIGINT) AS sum_chars
    FROM prev FULL OUTER JOIN curr USING (doc_id)
    GROUP BY 1, 2 ORDER BY source, status""")

  // ---------------------------------------------------------------- q97
  /** PMI collocation mining — the top-50 word pairs whose adjacency is
    * most above chance, the standard signal for tokenizer merge-rule
    * and stop-phrase curation. LOG-FREE integer PMI so the ranking is
    * cross-engine exact: score = ((c12·N div c1)·10⁶) div c2 where c1 /
    * c2 are the head / tail marginals of the bigram table itself —
    * both derive from the aggregated bigram counts via window sums
    * (the q76 trick), so the corpus is tokenized ONCE and nothing
    * re-aggregates raw text. Support floor c12 ≥ 5 kills noise pairs.
    *
    * Shape: one explode + (w1, w2) partial agg, two window passes over
    * the already-aggregated model table, global top-50 via
    * TakeOrdered (no full sort shuffle).
    */
  val q97 = Q("q97_pmi_collocations",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bg = docs
        .withColumn("tk", toks)
        .withColumn("nw",
          when(length(trim(col("text"))) === 0, lit(0)).otherwise(size(col("tk"))))
        .filter(col("nw") >= 2)
        .select(explode(transform(sequence(lit(0), col("nw") - 2),
          i => struct(element_at(col("tk"), i + 1).as("w1"),
            element_at(col("tk"), i + 2).as("w2")))).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        // the aggregated model is read twice (marginal windows + the
        // global total); materialize it so the corpus tokenizes once
        .persist()
      bg
        .withColumn("c1", sum("c12").over(Window.partitionBy("w1")))
        .withColumn("c2", sum("c12").over(Window.partitionBy("w2")))
        .crossJoin(broadcast(bg.agg(sum("c12").cast("long").as("n_big"))))
        .filter(col("c12") >= 5)
        .withColumn("pmi_scaled",
          expr("(((c12 * n_big) div c1) * 1000000) div c2"))
        .select("w1", "w2", "c12", "c1", "c2", "pmi_scaled")
        .orderBy(desc("pmi_scaled"), col("w1"), col("w2"))
        .limit(50)
    },
    Some(s"""WITH tk AS (
      SELECT doc_id, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS nw
      FROM documents
    ), bg AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT
          unnest(list_transform(generate_series(1, nw - 1), i -> tk[i])) AS w1,
          unnest(list_transform(generate_series(1, nw - 1), i -> tk[i+1])) AS w2
        FROM tk WHERE nw >= 2
      ) GROUP BY w1, w2
    ), m AS (
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        CAST(SUM(c12) OVER (PARTITION BY w2) AS BIGINT) AS c2,
        CAST(SUM(c12) OVER () AS BIGINT) AS n_big
      FROM bg
    )
    SELECT w1, w2, c12, c1, c2,
      (((c12 * n_big) // c1) * 1000000) // c2 AS pmi_scaled
    FROM m WHERE c12 >= 5
    ORDER BY pmi_scaled DESC, w1, w2 LIMIT 50"""))

  // ---------------------------------------------------------------- q98
  /** Truncation-loss curve — for candidate context lengths, how many
    * documents exceed the window and what fraction of corpus tokens the
    * tail truncation throws away. This is the measurement behind
    * "train at 512 or 1024?": the loss fraction is the direct cost of
    * each choice. One tokenize pass computes per-doc token counts; the
    * 4-point curve is a broadcastable constant dimension exploded
    * against the counts, then a partial-aggregable per-ctx fold; the
    * loss fraction is a single IEEE division of exact longs.
    */
  val q98 = Q.sql("q98_truncation_curve",
    s"""WITH nt AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len($toksSql) END AS n_toks
      FROM documents
    ), x AS (
      SELECT n_toks, CAST(unnest([128, 256, 512, 1024]) AS BIGINT) AS ctx FROM nt
    ), agg AS (
      SELECT ctx, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN n_toks > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        CAST(SUM(least(n_toks, ctx)) AS BIGINT) AS toks_kept,
        CAST(SUM(greatest(n_toks - ctx, 0)) AS BIGINT) AS toks_lost
      FROM x GROUP BY ctx
    )
    SELECT ctx, n_docs, n_truncated, toks_kept, toks_lost,
      CASE WHEN toks_kept + toks_lost > 0
           THEN CAST(toks_lost AS DOUBLE) / (toks_kept + toks_lost) END AS loss_frac
    FROM agg ORDER BY ctx""")

  // --------------------------------------------------------------- q101
  /** Curriculum training order — materialize the easy→hard round-robin
    * schedule the trainer actually consumes: each doc's rank WITHIN its
    * q83 difficulty bucket and its interleaved global position
    * `bucket_rank · 4 + bucket` (one doc from each difficulty per
    * 4-step cycle, so every gradient window sees the full spread).
    *
    * The per-bucket rank is computed DISTRIBUTED by q74's two-phase
    * idiom — range-partition by (bucket, doc_id), per-(partition,
    * bucket) counts to the driver (≤ 32·4 longs), prefix offsets back,
    * one local running count per partition — never a 4-partition
    * ranking window over the corpus. Rides the memoized likelihood
    * scores (paid once by q76/q83/q101 together).
    */
  val q101 = Q("q101_curriculum_order",
    (s, dir) => {
      import org.apache.spark.TaskContext
      val sess = s
      import sess.implicits._
      val scores = likelihoodScores(s, dir)
        .select(col("doc_id"), col("mean_p_scaled")).cache()
      val cuts = graft.rel.ExactQuantile
        .perGroup(scores.withColumn("g", lit("all")), "g", "mean_p_scaled",
          Seq(0.25, 0.5, 0.75))
        .orderBy("p").select("q").collect()
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      val bucketExpr = cuts match {
        case Array(c1, c2, c3) =>
          when(col("mean_p_scaled") < c1, 0L)
            .when(col("mean_p_scaled") < c2, 1L)
            .when(col("mean_p_scaled") < c3, 2L).otherwise(3L)
        case _ => lit(3L)
      }
      val nPart = 32
      val base = scores.select(col("doc_id"), bucketExpr.as("bucket"))
        .as[(Long, Long)]
      val parted = base.repartitionByRange(nPart, col("bucket"), col("doc_id"))
        .sortWithinPartitions("bucket", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val counts: Array[(Int, Long, Long)] = parted.mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          val m = scala.collection.mutable.LinkedHashMap[Long, Long]()
          it.foreach { case (_, b) => m.update(b, m.getOrElse(b, 0L) + 1L) }
          m.iterator.map { case (b, n) => (pid, b, n) }
        }.collect()
        val offsets: Map[(Int, Long), Long] =
          counts.groupBy(_._2).flatMap { case (b, rows) =>
            var acc = 0L
            rows.sortBy(_._1).map { case (pid, _, n) =>
              val o = ((pid, b), acc); acc += n; o
            }
          }
        val offB = s.sparkContext.broadcast(offsets)
        parted.mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          val cum = scala.collection.mutable.HashMap[Long, Long]()
          it.map { case (id, b) =>
            val r = cum.getOrElse(b, offB.value.getOrElse((pid, b), 0L))
            cum.update(b, r + 1L)
            (id, b, r, r * 4 + b)
          }
        }.toDF("doc_id", "bucket", "bucket_rank", "global_pos")
          .orderBy("doc_id")
      } finally parted.unpersist(blocking = false)
    },
    Some(s"""WITH $likelihoodCteSql, cuts AS (
      SELECT quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.25) AS c1,
             quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.50) AS c2,
             quantile_cont(CAST(mean_p_scaled AS DOUBLE), 0.75) AS c3
      FROM agg
    ), b AS (
      SELECT a.doc_id,
        CAST(CASE WHEN a.mean_p_scaled < cuts.c1 THEN 0
             WHEN a.mean_p_scaled < cuts.c2 THEN 1
             WHEN a.mean_p_scaled < cuts.c3 THEN 2 ELSE 3 END AS BIGINT) AS bucket
      FROM agg a, cuts
    ), r AS (
      SELECT doc_id, bucket,
        CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
          AS BIGINT) AS bucket_rank
      FROM b
    )
    SELECT doc_id, bucket, bucket_rank,
      bucket_rank * 4 + bucket AS global_pos
    FROM r ORDER BY doc_id"""))

  // --------------------------------------------------------------- q107
  /** Length-bucketed batching planner — the inference/serving twin of
    * q98: route each doc to the smallest context bucket that fits
    * (64/128/256/512; longer docs truncate into 512), pack batches at a
    * 4096-token budget (batch_size = 4096 div ctx), and measure the
    * padding waste per bucket AGAINST the single-bucket alternative
    * (everything padded to 512). The waste delta is the throughput a
    * serving fleet recovers by bucketing — the number that decides
    * whether dynamic batching is worth its complexity.
    *
    * Shape: one tokenize pass → closed-form bucket id per row →
    * map-side-combined per-bucket rollup; every figure is integer math
    * plus single IEEE divisions.
    */
  val q107 = Q.sql("q107_bucketed_batching",
    s"""WITH nt AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len($toksSql) END AS n_toks
      FROM documents
    ), b AS (
      SELECT n_toks,
        CAST(CASE WHEN n_toks <= 64 THEN 64 WHEN n_toks <= 128 THEN 128
             WHEN n_toks <= 256 THEN 256 ELSE 512 END AS BIGINT) AS ctx,
        least(n_toks, 512) AS kept
      FROM nt
    ), agg AS (
      SELECT ctx, COUNT(*) AS n_docs,
        CAST(SUM(kept) AS BIGINT) AS sum_toks,
        CAST(SUM(512 - kept) AS BIGINT) AS pad_single
      FROM b GROUP BY ctx
    )
    SELECT ctx, n_docs, sum_toks, pad_single,
      4096 // ctx AS batch_size,
      (n_docs + (4096 // ctx) - 1) // (4096 // ctx) AS n_batches,
      ctx * n_docs - sum_toks AS pad_bucketed,
      CAST(ctx * n_docs - sum_toks AS DOUBLE) / (ctx * n_docs) AS waste_frac,
      CAST(pad_single - (ctx * n_docs - sum_toks) AS DOUBLE) / (512 * n_docs)
        AS saving_vs_single
    FROM agg ORDER BY ctx""")

  // --------------------------------------------------------------- q113
  /** Contamination SPAN excision map — q66 tells you WHICH train docs
    * contain benchmark n-grams; this tells you WHERE, so the pipeline
    * can cut the spans instead of dropping whole documents (the decontam
    * policy modern corpus releases actually use). Every char-8-gram of
    * a train doc that appears in the test split becomes interval
    * [pos, pos+8); overlapping intervals merge by island detection —
    * a per-doc window: `new span ⇔ pos > max(end) over preceding rows`,
    * then a running sum numbers the islands. Output per contaminated
    * doc: hit count, merged span count, covered chars, and coverage
    * permille of the doc.
    *
    * Scale shape: the window partitions by doc_id (never global), the
    * test-gram probe set is ~5 % of the corpus' distinct 8-grams and
    * broadcasts; the 1-row-per-position explode never shuffles — it
    * flows map-side into the hash-join probe. All integer math.
    */
  val q113 = Q("q113_contamination_spans",
    (s, dir) => {
      val h = expr("(doc_id * 2654435761) % 1000")
      // materialize the per-doc gram array BEFORE exploding (the
      // explode-of-computed-array pathology, see q108: the Generate
      // re-evaluates the O(n) array build per output row), via the
      // one-loop char_grams kernel (the interpreted
      // transform+substring lambda alone cost ~4 s at sf0.1); the
      // exploded stream feeds TWO consumers (bench set + train scan)
      val grams = Tables(s, dir, "documents", spreadOk = true)
        .withColumn("split",
          when(h < 900, lit("train")).when(h < 950, lit("val")).otherwise(lit("test")))
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("split"), col("n_chars"),
          expr("char_grams(text, 8)").as("ws"))
        .cache()
      val base = grams
        .select(col("doc_id"), col("split"), col("n_chars"),
          posexplode(col("ws")).as(Seq("idx", "g")))
        .select(col("doc_id"), col("split"), col("n_chars"),
          (col("idx") + 1).cast("long").as("pos"), col("g"))
      val bench = base.filter(col("split") === "test").select("g").distinct()
      val win = Window.partitionBy("doc_id").orderBy("pos")
      base.filter(col("split") === "train")
        .join(broadcast(bench), Seq("g"), "left_semi")
        .withColumn("prev_end",
          max(col("pos") + 8).over(win.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_span",
          (col("prev_end").isNull || col("pos") > col("prev_end")).cast("long"))
        .withColumn("span_id", sum("new_span").over(win))
        .groupBy("doc_id", "n_chars", "span_id")
        .agg(min("pos").as("sp_start"), max(col("pos") + 8).as("sp_end"),
          count(lit(1)).as("hits"))
        .groupBy("doc_id", "n_chars")
        .agg(sum("hits").as("n_hits"), count(lit(1)).as("n_spans"),
          sum(col("sp_end") - col("sp_start")).as("covered_chars"))
        .select(col("doc_id"), col("n_hits"), col("n_spans"), col("covered_chars"),
          expr("covered_chars * 1000 div n_chars").as("coverage_permille"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
      SELECT doc_id,
        CASE WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'train'
             WHEN (doc_id * 2654435761) % 1000 < 950 THEN 'val'
             ELSE 'test' END AS split,
        n_chars, pos, substr(text, CAST(pos AS INTEGER), 8) AS g
      FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 7)) AS pos)
      WHERE length(text) >= 8
    ), bench AS (
      SELECT DISTINCT g FROM base WHERE split = 'test'
    ), hits AS (
      SELECT b.doc_id, b.n_chars, b.pos
      FROM base b WHERE b.split = 'train' AND EXISTS (SELECT 1 FROM bench t WHERE t.g = b.g)
    ), isl AS (
      SELECT doc_id, n_chars, pos,
        CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS new_span
      FROM hits
    ), sp AS (
      SELECT doc_id, n_chars, pos,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    ), agg1 AS (
      SELECT doc_id, n_chars, span_id,
        MIN(pos) AS sp_start, MAX(pos + 8) AS sp_end, COUNT(*) AS hits
      FROM sp GROUP BY doc_id, n_chars, span_id
    )
    SELECT doc_id,
      CAST(SUM(hits) AS BIGINT) AS n_hits,
      COUNT(*) AS n_spans,
      CAST(SUM(sp_end - sp_start) AS BIGINT) AS covered_chars,
      CAST(SUM(sp_end - sp_start) AS BIGINT) * 1000 // n_chars AS coverage_permille
    FROM agg1 GROUP BY doc_id, n_chars ORDER BY doc_id"""))

  // --------------------------------------------------------------- q115
  /** Zone-map layout planner — "which key should 100 TB be clustered
    * by": for each candidate physical sort order, bucket the rank-
    * ordered rows into fixed 32-row blocks, keep per-block (min, max)
    * of the two predicate columns — exactly the parquet row-group
    * statistics a scan sees — and count the blocks each benchmark
    * predicate could skip. `scan_permille` is the fraction of ROWS a
    * zone-map-aware scan still reads: the layout decision in one
    * number per (layout, predicate).
    *
    * At fleet scale the physical rewrite behind a layout is
    * `repartitionByRange(keys).sortWithinPartitions(keys)` and the
    * block stats fall out of the parquet footers; the rank here is
    * computed by the SAME range-partitioned strategy
    * ([[graft.rel.GlobalRank]]: range shuffle + per-partition offsets),
    * so the audit runs distributed on the full table — no global
    * single-partition window.
    */
  val q115 = Q("q115_zonemap_pruning",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val layouts = Seq(
        "natural" -> Seq(col("doc_id")),
        "by_lang" -> Seq(col("lang"), col("doc_id")),
        "by_length" -> Seq(col("n_chars"), col("doc_id")),
        "by_source" -> Seq(col("source"), col("doc_id")))
      val blocks = layouts.map { case (name, keys) =>
        graft.rel.GlobalRank.withGlobalRank(docs, keys, "rn")
          .groupBy((col("rn") / 32).cast("long").as("block_id"))
          .agg(count(lit(1)).as("n_rows"),
            min("lang").as("lo_lang"), max("lang").as("hi_lang"),
            min("n_chars").as("lo_nc"), max("n_chars").as("hi_nc"))
          .withColumn("layout", lit(name))
      }.reduce(_ unionByName _)
        // three predicate branches read the block stats: without the
        // cache each branch re-executes all four rank pipelines (the
        // frame is tiny — ≤ n/32 rows per layout)
        .cache()
      val preds = Seq(
        ("p_lang_eq", "NOT (lo_lang > 'de' OR hi_lang < 'de')"),
        ("p_len_range", "NOT (lo_nc > 1000 OR hi_nc < 500)"),
        ("p_lang_and_len", "NOT (lo_lang > 'de' OR hi_lang < 'de' OR hi_nc < 800)"))
      preds.map { case (pname, mustScan) =>
        blocks.withColumn("predicate", lit(pname))
          .withColumn("scanned", expr(s"CASE WHEN $mustScan THEN n_rows ELSE 0 END"))
          .withColumn("skipped_block", expr(s"CASE WHEN $mustScan THEN 0 ELSE 1 END"))
      }.reduce(_ unionByName _)
        .groupBy("layout", "predicate")
        .agg(count(lit(1)).as("n_blocks"),
          sum("skipped_block").as("n_skip_blocks"),
          sum("n_rows").as("n_rows_total"),
          sum("scanned").as("n_rows_scanned"))
        .select(col("layout"), col("predicate"), col("n_blocks"), col("n_skip_blocks"),
          expr("n_rows_scanned * 1000 div n_rows_total").as("scan_permille"))
        .orderBy("layout", "predicate")
    },
    Some("""WITH d AS (
      SELECT doc_id, lang, source, n_chars FROM documents
    ), ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn_nat,
        ROW_NUMBER() OVER (ORDER BY lang NULLS FIRST, doc_id) - 1 AS rn_lang,
        ROW_NUMBER() OVER (ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS rn_len,
        ROW_NUMBER() OVER (ORDER BY source NULLS FIRST, doc_id) - 1 AS rn_src
      FROM d
    ), lay AS (
      SELECT 'natural' AS layout, rn_nat // 32 AS block_id, lang, n_chars FROM ranked
      UNION ALL
      SELECT 'by_lang', rn_lang // 32, lang, n_chars FROM ranked
      UNION ALL
      SELECT 'by_length', rn_len // 32, lang, n_chars FROM ranked
      UNION ALL
      SELECT 'by_source', rn_src // 32, lang, n_chars FROM ranked
    ), blocks AS (
      SELECT layout, block_id, COUNT(*) AS n_rows,
        MIN(lang) AS lo_lang, MAX(lang) AS hi_lang,
        MIN(n_chars) AS lo_nc, MAX(n_chars) AS hi_nc
      FROM lay GROUP BY layout, block_id
    ), pb AS (
      SELECT *, 'p_lang_eq' AS predicate,
        NOT (lo_lang > 'de' OR hi_lang < 'de') AS must_scan FROM blocks
      UNION ALL
      SELECT *, 'p_len_range',
        NOT (lo_nc > 1000 OR hi_nc < 500) FROM blocks
      UNION ALL
      SELECT *, 'p_lang_and_len',
        NOT (lo_lang > 'de' OR hi_lang < 'de' OR hi_nc < 800) FROM blocks
    )
    SELECT layout, predicate, COUNT(*) AS n_blocks,
      CAST(SUM(CASE WHEN must_scan THEN 0 ELSE 1 END) AS BIGINT) AS n_skip_blocks,
      CAST(SUM(CASE WHEN must_scan THEN n_rows ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(n_rows) AS BIGINT) AS scan_permille
    FROM pb GROUP BY layout, predicate ORDER BY layout, predicate"""))

  // --------------------------------------------------------------- q154
  private val PsK = 32 // priority-sample size per source

  /** Weighted priority sampling + estimator audit (Duffield–Lund–Thorup,
    * "Priority sampling for estimation of arbitrary subset sums"): draw
    * K docs per source with probability ∝ weight (w = n_chars), then
    * estimate each source's TOTAL character mass from the K samples
    * alone via ŵᵢ = max(wᵢ, τ) with τ the (K+1)-th priority — the
    * curation move that prices a source's contribution from a fixed-size
    * sample instead of a full scan. Complements q95 (uniform stratified
    * quota sampling): same shuffle shape, weighted semantics.
    *
    * Cross-engine determinism: priority = w · 2⁴⁸ / u′ where
    * u′ ∈ [1, 2⁴⁸] is a 12-hex-digit md5 integer — every input converts
    * to double exactly, and IEEE multiply/divide are correctly rounded,
    * so both engines compute bit-identical priorities and τ; the
    * estimator sum uses the [[graft.Exact]] decimal recipe.
    *
    * No-sort τ: the (K+1)-th priority per source comes from the
    * [[graft.functions.ExactTopK]] aggregator — O(K+1) heap state per
    * group, map-side combinable, each partition ships ≤ K+1 doubles per
    * source — instead of a per-source full-sort window (a billion-doc
    * source would pay a full sort for 33 rows). Sample membership is
    * the strict compare `p > τ` in BOTH engines, so the contract stays
    * exact without a rank tiebreak (priority ties are measure-zero and
    * resolve identically on each side).
    */
  val q154 = Q("q154_priority_sample_audit",
    (s, dir) => {
      // three consumers read the priority projection (τ aggregation, the
      // membership join, the true-mass audit) — persist it so the md5
      // fold, the dominant per-row cost, runs once per doc, not thrice
      // (the q42 binned-projection pattern; harness clears per query)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("u", expr(
          "CAST(conv(substr(md5(CAST(concat('ps#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT) + 1"))
        .withColumn("p",
          col("n_chars").cast("double") * lit(281474976710656.0) / col("u").cast("double"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tau = docs.groupBy("source")
        .agg(expr(s"exact_topk(p, ${PsK + 1})").as("tp"))
        .select(col("source"),
          when(size(col("tp")) >= PsK + 1, element_at(col("tp"), PsK + 1)).as("tau"))
      docs.join(broadcast(tau), Seq("source"))
        .filter(col("tau").isNull || col("p") > col("tau"))
        .groupBy("source")
        .agg(count(lit(1)).as("k_eff"),
          max(col("tau")).as("tau_p"),
          graft.Exact.sumExactR(
            greatest(col("n_chars").cast("double"), coalesce(col("tau"), lit(0.0))), 6, 6)
            .as("est_mass"))
        .join(broadcast(docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("true_mass"))),
          Seq("source"))
        .withColumn("err_permille", expr(
          "CAST(ROUND((est_mass - CAST(true_mass AS DOUBLE)) * 1000.0 / CAST(true_mass AS DOUBLE), 0) AS BIGINT)"))
        .select("source", "n_docs", "k_eff", "tau_p", "est_mass", "true_mass", "err_permille")
        .transform(graft.Q.presentSorted(_, "source"))
    },
    Some(s"""WITH d AS (
      SELECT doc_id, source, n_chars,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef',
              substr(md5('ps#' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) + 1 AS u
      FROM documents
    ), pr AS (
      SELECT doc_id, source, n_chars,
        CAST(n_chars AS DOUBLE) * 281474976710656.0 / CAST(u AS DOUBLE) AS p
      FROM d
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS rnk
      FROM pr
    ), tau AS (
      SELECT source, p AS tau FROM ranked WHERE rnk = ${PsK + 1}
    ), est AS (
      SELECT r.source, CAST(COUNT(*) AS BIGINT) AS k_eff,
        MAX(t.tau) AS tau_p,
        ${graft.Exact.sumExactRSql("greatest(CAST(r.n_chars AS DOUBLE), COALESCE(t.tau, 0.0))", 6, 6)} AS est_mass
      FROM pr r LEFT JOIN tau t ON r.source = t.source
      WHERE t.tau IS NULL OR r.p > t.tau GROUP BY r.source
    ), tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS true_mass
      FROM documents GROUP BY source
    )
    SELECT e.source, n_docs, k_eff, tau_p, est_mass, true_mass,
      CAST(ROUND((est_mass - CAST(true_mass AS DOUBLE)) * 1000.0 / CAST(true_mass AS DOUBLE), 0) AS BIGINT) AS err_permille
    FROM est e JOIN tot USING (source) ORDER BY source"""))

  // --------------------------------------------------------------- q155
  private val ShardDocs = 64 // documents per output shard

  /** Deterministic global shuffle → fixed-size shard manifest — the
    * release-time layout step of a training-data pipeline: order the
    * corpus by a seeded hash (so "shuffled" is a REPRODUCIBLE total
    * order, not an RNG side effect), cut it into fixed-size shards, and
    * emit one manifest row per shard (counts, char mass, language
    * spread, rank span, and an order-sensitive md5 fingerprint) — the
    * artifact a trainer uses to verify it read exactly the bytes the
    * curation run released, shard by shard.
    *
    * Scale shape: the hash order comes from [[graft.rel.GlobalRank]]
    * (range shuffle + per-partition offsets — no single-partition
    * window), which at fleet scale IS the shard write: range-partition
    * by hash, write each partition, manifest per shard. The fingerprint
    * buffer is bounded at ShardDocs structs per group (collect_list of
    * 12-hex prefixes, array_sorted by rank), and the language spread is
    * a plain distinct count — everything map-side combinable except the
    * bounded fingerprint list. The hash-order shuffle also de-clusters
    * source/time locality (each shard's n_langs shows the mix), which
    * is exactly why trainers shuffle at the corpus level rather than in
    * the data loader.
    */
  val q155 = Q("q155_shard_manifest",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("substr(md5(CAST(concat('shard#', CAST(doc_id AS STRING)) AS BINARY)), 1, 12)")
            .as("hh"))
      graft.rel.GlobalRank.withGlobalRank(d, Seq(col("hh"), col("doc_id")), "rn")
        .withColumn("shard", expr(s"rn div $ShardDocs"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"),
          countDistinct("lang").as("n_langs"),
          min("rn").as("first_rn"), max("rn").as("last_rn"),
          md5(concat_ws("",
            transform(array_sort(collect_list(struct(col("rn"), col("hh")))),
              x => x.getField("hh"))).cast("binary")).as("shard_md5"))
        .transform(graft.Q.presentSorted(_, "shard"))
    },
    Some(s"""WITH h AS (
      SELECT doc_id, lang, n_chars,
        substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 12) AS hh
      FROM documents
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY hh NULLS FIRST, doc_id NULLS FIRST)
        - 1 AS rn FROM h
    )
    SELECT rn // $ShardDocs AS shard,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      MIN(rn) AS first_rn, MAX(rn) AS last_rn,
      md5(string_agg(hh, '' ORDER BY rn)) AS shard_md5
    FROM r GROUP BY 1 ORDER BY 1"""))

  private val SaK = 8 // suffix-ranking window (tokens): 3 doubling rounds

  /** Corpus-size guard for [[q157FlaggedPositions]]: past this many
    * documents the flagged-position plan switches from the lead-window
    * shape (every position ships its full SaK-rank tuple — SaK longs —
    * through the prune groupBy, two semi-joins and the class-count
    * window) to Manber–Myers prefix doubling (one extra dense-rank
    * round compacts each half-key to ONE long, so the wide stages ship
    * 2 longs per position instead of SaK). The doubling round costs two
    * fixed exchanges (range shuffle of distinct half-keys + join-back),
    * which at gate scale outweigh the byte savings — sf0.1's measured
    * winner is the lead-window shape — while at fleet scale the
    * per-position byte width is the whole game (ExactSubstr runs at
    * K=50: 400 B/position vs 16 B). 2×10⁶ docs ≈ where the wide
    * exchanges pass ~10 GB and dwarf two fixed small shuffles.
    */
  private[graft] val Q157DoubleMinDocs = 2000000L

  /** Positions whose forward SaK-gram occurs ≥ 2 times anywhere in the
    * corpus — the flagged set feeding q157's islands merge — via one of
    * two value-identical plans chosen by the corpus-size guard
    * (`doubleMinDocs`; a caller may pass any threshold to force a side):
    *
    *   - lead-window (small corpora): materialize all SaK−1 forward
    *     ranks per position in one doc window, duplicate-half prune on
    *     the two half-tuples, count exact SaK-rank classes in a window.
    *   - prefix doubling (large corpora): dense-rank the DISTINCT
    *     half-gram tuples once more ([[graft.rel.GlobalRank]], carrying
    *     the class count), join the single long rank back, and read the
    *     hi half-rank with `lead(rk4, SaK/2)` in the same doc window
    *     that numbers positions — the exact SaK-gram class is then the
    *     (rk4, rk4hi) PAIR, so the prune filter and the class-count
    *     window move 2 longs per position, never the SaK-rank tuple.
    *
    * Equivalence: dense rank is injective on half-gram classes, so
    * (rk4 at p, rk4 at p+SaK/2) equal ⟺ the two SaK-grams are equal
    * token-for-token — the same no-hashing exactness as the rank tuple;
    * LakehouseOpsSpec forces both plans and compares them
    * position-for-position.
    */
  private[graft] def q157FlaggedPositions(docs: DataFrame, nDocs: Long,
      doubleMinDocs: Long = Q157DoubleMinDocs): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val useDoubling = nDocs > doubleMinDocs
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wLen = Window.partitionBy("doc_id")
    val half = SaK / 2
    val tk = docs
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = graft.rel.GlobalRank
      .withGlobalRank(tk.select("tok").distinct(), Seq(col("tok")), "r")
    if (!useDoubling) {
      val leadCols = (1 until SaK).map(j =>
        coalesce(lead("r", j).over(wDoc), lit(-1L)).as(s"r$j"))
      val quad = tk.join(vocab, "tok")
        .select(Seq(col("doc_id"), col("pos"), col("r")) ++ leadCols :+
          count(lit(1)).over(wLen).as("len"): _*)
        .persist(StorageLevel.MEMORY_AND_DISK) // consumers: prune agg + pair stage
      val loKey = (0 until half).map(j => if (j == 0) "r" else s"r$j")
      val hiKey = (half until SaK).map(j => s"r$j")
      val dup4 = quad.filter(col("pos") <= col("len") - half)
        .groupBy(loKey.map(col): _*).agg(count(lit(1)).as("c4"))
        .filter(col("c4") >= 2).drop("c4")
        .cache() // both semi-joins read it; duplicated classes only
      quad.filter(col("pos") <= col("len") - SaK)
        .join(dup4, loKey, "leftsemi")
        .join(dup4.toDF(hiKey: _*), hiKey, "leftsemi")
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy((loKey ++ hiKey).map(col): _*)))
        .filter(col("cnt") >= 2)
    } else {
      // half-gram rank tuple per position: half−1 leads (not SaK−1) —
      // end-padding sentinel −1 as in the lead-window shape
      val leadCols = (1 until half).map(j =>
        coalesce(lead("r", j).over(wDoc), lit(-1L)).as(s"r$j"))
      val loKey = (0 until half).map(j => if (j == 0) "r" else s"r$j")
      val base = tk.join(vocab, "tok")
        .select(Seq(col("doc_id"), col("pos"), col("r")) ++ leadCols :+
          count(lit(1)).over(wLen).as("len"): _*)
        .filter(col("pos") <= col("len") - half)
        .persist(StorageLevel.MEMORY_AND_DISK) // consumers: class agg + join-back
      // ONE dense-rank round over the distinct half-keys, class count
      // rides along (groupBy result is distinct, so row_number ≡ dense
      // rank; no tiebreak column needed)
      val ranked4 = graft.rel.GlobalRank.withGlobalRank(
        base.groupBy(loKey.map(col): _*).agg(count(lit(1)).as("c4")),
        loKey.map(col), "rk4")
      // join the slim (rank, count) back — the LAST time the wide tuple
      // is a key; every stage below moves longs
      val pos4 = base.join(ranked4, loKey)
        .select(col("doc_id"), col("pos"), col("len"), col("rk4"), col("c4"))
      // positions surviving the half filter are the consecutive ints
      // 0..len−half, so the row `half` ahead in pos order IS pos+half:
      // its rank/count arrive via lead, no second join
      val withHi = pos4
        .withColumn("rk4hi", lead("rk4", half).over(wDoc))
        .withColumn("c4hi", lead("c4", half).over(wDoc))
        .filter(col("pos") <= col("len") - SaK)
      withHi
        .filter(col("c4") >= 2 && col("c4hi") >= 2) // duplicate-half prune
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("rk4", "rk4hi")))
        .filter(col("cnt") >= 2)
    }
  }

  /** ExactSubstr-style duplicated-span extraction via DISTRIBUTED
    * PREFIX-DOUBLING suffix ranking (Manber–Myers by way of the
    * suffix-array dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 §4.1): mark every
    * token position whose forward SaK-gram occurs ≥2 times ANYWHERE in
    * the corpus (cross- OR within-doc — the ExactSubstr semantics, vs
    * q88 which counts distinct grams shared across ≥2 docs), then merge
    * flagged positions into maximal per-doc spans.
    *
    * Construction — why not just explode grams like q88: a K-token gram
    * explode ships K copies of every token string through the shuffle
    * and identifies grams by a 48-bit hash; the real ExactSubstr runs
    * at K=50, where that is a 50× text blowup and a collision caveat.
    * Here instead:
    *   1. ROUND 0 — rank compaction: the vocabulary gets dense ids from
    *      [[graft.rel.GlobalRank]] (range shuffle, no single-partition
    *      window), so every later stage moves longs, never text.
    *   2. ONE doc-keyed window exchange materializes all SaK−1 forward
    *      ranks per position (`lead(r, j)`, −1 end-padding — a sentinel
    *      no real id collides with, so padded windows can never alias
    *      full ones) plus the doc length (count frame on the SAME
    *      exchange).
    *   3. DUPLICATE-HALF PRUNE — the suffix-array dedup filter: an
    *      8-gram can only repeat if BOTH its 4-gram halves repeat, so a
    *      map-side-combinable groupBy counts 4-gram classes and two
    *      broadcast-able semi-joins keep only positions whose two
    *      halves are each corpus-duplicated. On a near-dup-sparse
    *      corpus this kills almost every position BEFORE the wide key
    *      ever shuffles — the step that makes the op linear at 100 TB.
    *   4. Survivors shuffle once more, partitioned by the exact 8-rank
    *      key (a window count ≥ 2) — ranks-equal ⟺ grams-equal with NO
    *      hashing — and flagged positions merge gaps-and-islands style
    *      into per-doc spans [tok_start, tok_end].
    * For K beyond a round's lead width this generalizes to prefix
    * doubling (dense-rank the half-keys via GlobalRank, lead by K/2,
    * prune, repeat): payload stays bounded per round while rounds grow
    * log K — the trade that wins over the K× gram blowup precisely when
    * K grows.
    */
  val q157 = Q("q157_suffix_dup_spans",
    (s, dir) => {
      // metadata count (q153's guard recipe — counting a derived frame
      // would re-execute the token pipeline)
      val nDocs = Tables(s, dir, "documents").count()
      val flagged = q157FlaggedPositions(Tables(s, dir, "documents"), nDocs)
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      flagged
        .withColumn("grp", col("pos") - row_number().over(wDoc))
        .groupBy("doc_id", "grp")
        .agg(min("pos").cast("long").as("tok_start"),
          (max("pos") + SaK - 1).cast("long").as("tok_end"),
          count(lit(1)).as("n_dup_grams"))
        .withColumn("span_tokens", col("tok_end") - col("tok_start") + 1L)
        .select("doc_id", "tok_start", "tok_end", "span_tokens", "n_dup_grams")
        .transform(graft.Q.presentSorted(_, "doc_id", "tok_start"))
    },
    // the oracle states the SEMANTICS directly (explode exact grams,
    // count classes, islands) — gram-equality, not rank plumbing
    Some(s"""WITH tk AS (
      SELECT doc_id, $toksSql AS tk FROM documents
    ), p AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+${SaK - 1}], ' ') AS gram
      FROM tk, UNNEST(generate_series(1, len(tk) - ${SaK - 1})) AS u(i)
    ), c AS (
      SELECT gram, COUNT(*) AS cnt FROM p GROUP BY gram
    ), f AS (
      SELECT p.doc_id, p.pos FROM p JOIN c USING (gram) WHERE c.cnt >= 2
    ), isl AS (
      SELECT doc_id, pos,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM f
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS tok_start,
      CAST(MAX(pos) + ${SaK - 1} AS BIGINT) AS tok_end,
      CAST(MAX(pos) + ${SaK - 1} - MIN(pos) + 1 AS BIGINT) AS span_tokens,
      COUNT(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, tok_start"""))

  // --------------------------------------------------------------- q164
  private val KmvK = 256 // sketch size: K smallest distinct gram hashes per source

  /** KMV-sketched cross-source overlap — q79's SCALE path (Beyer et al.,
    * "On Synopses for Distinct-Value Estimation Under Multiset
    * Operations", SIGMOD 2007; the K-minimum-values θ-Jaccard
    * estimator): q79's exact matrix equi-joins every distinct gram
    * across sources, which at 100 TB ships the whole gram universe;
    * here each source is reduced to its K smallest distinct 48-bit gram
    * hashes — a bounded, mergeable synopsis — and every pairwise
    * Jaccard is estimated from two K-row sketches: take the K smallest
    * of the sketch UNION, count how many live in both sketches, ρ =
    * common/|M|. The audit computes the exact Jaccard on the SAME
    * hashed universe (pure sketch error, no hash-collision confound)
    * and reports the signed permille error — the K-vs-accuracy curve a
    * fleet deployment needs before trusting the estimate.
    *
    * Scale shape: the (source, hash) frame is partial-aggregable
    * distinct; per-source top-K is a bounded window; everything
    * downstream of the sketch build is (n_sources choose 2) rows of
    * ≤2K-element arrays. The exact audit leg is gate-scale
    * instrumentation — at fleet scale you'd run sketches only, which
    * is the point being measured.
    */
  val q164 = Q("q164_kmv_source_overlap",
    (s, dir) => {
      // spread: re-A/B'd round 18 after r17's receipt read against it —
      // ON won both fresh windows (min-of-3 wall 1.78/2.38 vs 2.19/2.65;
      // receipts/spread_reab_r18.json); the gram explode + md5 above the
      // scan is the per-row hot loop the floor parallelizes
      val docs = Tables(s, dir, "documents", spreadOk = true)
      val gramsH = docs.select(col("source"), col("text"))
        .withColumn("tk", toks)
        .withColumn("nw",
          when(length(trim(col("text"))) === 0, lit(0)).otherwise(size(col("tk"))))
        .filter(col("nw") >= 3)
        .select(col("source"), explode(transform(sequence(lit(0), col("nw") - 3),
          i => concat_ws(" ", element_at(col("tk"), i + 1),
            element_at(col("tk"), i + 2), element_at(col("tk"), i + 3)))).as("gram"))
        .select(col("source"),
          expr("CAST(conv(substr(md5(CAST(gram AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
            .as("h"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sketches = gramsH
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("h")))
        .filter(col("rk") <= KmvK)
        .groupBy("source")
        .agg(sort_array(collect_list(col("h"))).as("sk"))
      val sizes = gramsH.groupBy("source").agg(count(lit(1)).as("n_h"))
      val exact = gramsH.as("a")
        .join(gramsH.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      val left = sketches.select(col("source").as("source_a"), col("sk").as("ska"))
        .join(broadcast(sizes.select(col("source").as("source_a"), col("n_h").as("n_a"))),
          "source_a")
      val right = sketches.select(col("source").as("source_b"), col("sk").as("skb"))
        .join(broadcast(sizes.select(col("source").as("source_b"), col("n_h").as("n_b"))),
          "source_b")
      left.join(broadcast(right), col("source_a") < col("source_b"))
        .withColumn("m", slice(array_sort(array_union(col("ska"), col("skb"))), 1, KmvK))
        .withColumn("k_used", size(col("m")).cast("long"))
        .withColumn("n_common", size(expr(
          "filter(m, v -> array_contains(ska, v) AND array_contains(skb, v))")).cast("long"))
        .join(exact, Seq("source_a", "source_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("est_jaccard", col("n_common").cast("double") / col("k_used"))
        .withColumn("exact_jaccard", col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
        .withColumn("err_permille", expr(
          "CAST(FLOOR((est_jaccard - exact_jaccard) * 1000.0) AS BIGINT)"))
        .select("source_a", "source_b", "n_a", "n_b", "k_used", "n_common",
          "est_jaccard", "exact_jaccard", "err_permille")
        .transform(graft.Q.presentSorted(_, "source_a", "source_b"))
    },
    Some(s"""WITH base AS (
      SELECT source, $toksSql AS tk,
        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS nw
      FROM documents
    ), gr AS (
      SELECT DISTINCT source,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS h
      FROM (
        SELECT source, unnest(list_transform(generate_series(1, nw - 2),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        FROM base WHERE nw >= 3)
    ), sk AS (
      SELECT source, list_sort(list(h)) AS sk FROM (
        SELECT source, h,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM gr
      ) WHERE rk <= $KmvK GROUP BY source
    ), sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h FROM gr GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM gr a JOIN gr b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    ), pairs AS (
      SELECT sa.source AS source_a, sb.source AS source_b,
        za.n_h AS n_a, zb.n_h AS n_b,
        list_sort(list_distinct(list_concat(sa.sk, sb.sk)))[1:$KmvK] AS m,
        sa.sk AS ska, sb.sk AS skb
      FROM sk sa JOIN sk sb ON sa.source < sb.source
      JOIN sz za ON za.source = sa.source
      JOIN sz zb ON zb.source = sb.source
    ), est AS (
      SELECT source_a, source_b, n_a, n_b,
        CAST(len(m) AS BIGINT) AS k_used,
        CAST(len(list_filter(m, v ->
          list_contains(ska, v) AND list_contains(skb, v))) AS BIGINT) AS n_common
      FROM pairs
    )
    SELECT e.source_a, e.source_b, n_a, n_b, k_used, n_common,
      CAST(n_common AS DOUBLE) / k_used AS est_jaccard,
      CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
        (n_a + n_b - COALESCE(i.n_inter, 0)) AS exact_jaccard,
      CAST(FLOOR((CAST(n_common AS DOUBLE) / k_used -
        CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
          (n_a + n_b - COALESCE(i.n_inter, 0))) * 1000.0) AS BIGINT) AS err_permille
    FROM est e LEFT JOIN inter i USING (source_a, source_b)
    ORDER BY source_a, source_b"""))

  def all: Seq[Q] =
    Seq(q58, q59, q60, q61, q62, q63, q64, q66, q74, q75, q76, q78, q79, q80,
      q82, q83, q86, q87, q88, q89, q90, q91, q95, q96, q97, q98, q101, q107,
      q113, q115, q154, q155, q157, q164, q174)
}
