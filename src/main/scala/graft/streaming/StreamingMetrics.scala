package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics extensions (SURVEY.md §2.9: the reference has no
  * in-stream windows — these are the natural Structured Streaming
  * generalizations the north-star asks for).
  */
object StreamingMetrics {

  /** Event-time 1-minute bars with watermark over a stream carrying
    * epoch-µs `ts_us` + `sym` + a price column.
    */
  def minuteBars(stream: DataFrame, lateness: String = "10 minutes"): DataFrame =
    stream
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), "1 minute"), col("sym"))
      .agg(count(lit(1)).as("n_ticks"),
        min("px").as("low"), max("px").as("high"),
        first("px").as("open_px"), last("px").as("close_px"))

  /** Streaming exact dedup with BOUNDED state (the LLM-pipeline q29
    * analog for streams): fingerprint each document, then
    * `dropDuplicatesWithinWatermark` — a fingerprint's state is evicted
    * once the watermark passes its event time plus the lateness bound,
    * so state size is bounded by the dedup horizon, not stream length.
    * That is the only dedup contract that survives an unbounded 100 TB
    * stream; global-forever dedup belongs to the batch pipeline (q48).
    */
  def dedupStream(docs: DataFrame, lateness: String = "10 minutes"): DataFrame =
    docs
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Event-time SESSION windows with watermark (the streaming twin of
    * batch q55): activity bursts per key, closed once the watermark
    * passes `last_event + gap`. Session state is one open window per
    * active key — bounded by key cardinality × gap, not stream length.
    */
  def sessionBars(stream: DataFrame, gap: String = "30 minutes",
                  lateness: String = "10 minutes"): DataFrame =
    stream
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
      .groupBy(col("sym"), session_window(col("event_time"), gap).as("sw"))
      .agg(count(lit(1)).as("n_ticks"), sum("px").as("sum_px"))
      .select(col("sym"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_ticks"), col("sum_px"))

  /** Stream-stream AS-OF enrichment (the streaming twin of the batch J2
    * as-of match): each trade joins every quote of its symbol inside the
    * look-back `horizon`, then a chained event-time aggregate keeps the
    * LATEST such quote per trade. Both stateful operators are
    * watermark-bounded — join state holds `horizon + lateness` of each
    * stream per symbol, the aggregate one group per in-flight trade —
    * so state is O(rate × horizon), never O(stream length). Trades with
    * no in-horizon quote are dropped (inner as-of), matching
    * `AsOf.backward`'s no-match semantics.
    *
    * trades: `trade_id, ts_us, sym, trade_px`; quotes: `qts_us, qsym,
    * bid, ask`. `trade_id` must be unique per trade — it anchors the
    * per-trade re-aggregation, so two trades that share (ts_us, sym,
    * trade_px) still come back as two enriched rows with per-trade
    * quote counts rather than collapsing into one pooled group.
    */
  def asofEnrich(trades: DataFrame, quotes: DataFrame,
                 horizon: String = "5 seconds",
                 lateness: String = "10 seconds"): DataFrame = {
    val t = trades
      .withColumn("trade_time", timestamp_micros(col("ts_us")))
      .withWatermark("trade_time", lateness)
    val q = quotes
      .withColumn("quote_time", timestamp_micros(col("qts_us")))
      .withWatermark("quote_time", lateness)
    t.join(q, expr(
        s"sym = qsym AND quote_time BETWEEN trade_time - INTERVAL $horizon AND trade_time"))
      .groupBy(col("trade_time"), col("trade_id"), col("sym"), col("ts_us"), col("trade_px"))
      .agg(max_by(col("bid"), col("quote_time")).as("bid"),
        max_by(col("ask"), col("quote_time")).as("ask"),
        unix_micros(max(col("quote_time"))).as("quote_ts_us"),
        count(lit(1)).as("n_quotes_in_horizon"))
      .select(col("trade_id"), col("ts_us"), col("sym"), col("trade_px"), col("bid"),
        col("ask"), col("quote_ts_us"), col("n_quotes_in_horizon"))
  }

  /** Banded MinHash signatures for the stream-static near-dedup join:
    * one row per (doc, band) with the band's md5 id — the q48/q64
    * signature scheme (4 salted md5 span-min components per band).
    */
  private def bandSignatures(docs: DataFrame, idAs: String, textAs: String): DataFrame =
    docs.withColumn("sig", expr("minhash_spans(text, 8, 4)"))
      .select(col(docs.columns.head) +: docs.columns.tail.map(col) :+
        posexplode(array((0 to 3).map(k =>
          graft.text.TextMetrics.bandId((0 to 3).map(j =>
            element_at(col("sig"), 4 * k + j + 1)))): _*)).as(Seq("band_idx", "bh")): _*)
      .withColumnRenamed("doc_id", idAs).withColumnRenamed("text", textAs)

  /** Slim-signature broadcast wall for [[streamNearDedup]]: 4 band
    * rows/doc × ~50 B ≈ 200 B/doc → 10⁷ docs ≈ 2 GB, comfortable
    * headroom under Spark's 8 GB broadcast limit (the snmJoinRank /
    * SnmBcastMaxDocs convention).
    */
  private[graft] val NdSigBcastMaxDocs = 10000000L

  /** Text-side broadcast wall for [[streamNearDedup]]: ~1 KB/doc
    * typical → 2×10⁶ docs ≈ 2 GB. Past it the verify join ships the
    * (tiny) band-hit candidate stream to the corpus, not the corpus to
    * every executor.
    */
  private[graft] val NdTxtBcastMaxDocs = 2000000L

  /** Streaming INGESTION near-dedup — the streaming twin of batch q64:
    * each arriving document's band signatures equi-join the STATIC
    * corpus signature table, the exact `shingle_overlap` Jaccard
    * verifies, and `dropDuplicatesWithinWatermark` collapses the ≤ 4
    * band hits per (new, base) pair with horizon-bounded state. Emits
    * one row per verified (new doc, matching base doc).
    *
    * Static-side shape (the round-15 watch item, fixed): a
    * stream-static join re-evaluates the static plan EVERY micro-batch,
    * and recomputing the base corpus's minhash signatures per trigger
    * was the 9.0 s max-trigger at the 1 M-row probe
    * (receipts/stream_scale_1m_r15.json). The static side is now
    * materialized ONCE (persist + eager count, before the first
    * trigger) and broadcast SLIM: (band_idx, bh, base_id) for the band
    * match — the micro-batch side stays a pipelined map-side join, its
    * texts never shuffle — and (base_id, base_text) attached only for
    * band-hit candidates at verify time, via a session-lifetime
    * broadcast-variable lookup (collected once, reused every trigger —
    * a DataFrame broadcast join would rebuild its exchange per
    * micro-batch, the measured fixed leg of the trigger cost). At 100 TB the slim signature
    * table is the thing an ingestion pipeline maintains incrementally
    * (bucketed on (band_idx, bh) once it outgrows a broadcast); stream
    * state stays bounded by the dedup horizon regardless. The two
    * persisted frames live until the caller clears the cache (the
    * harness does per query) — the [[graft.rel.GlobalRank]] lifecycle
    * convention.
    *
    * BROADCAST GUARDS (round 17, the snmJoinRank pattern): both static
    * sides are broadcast only while the base corpus fits — the one
    * count() that already materializes the persisted frames drives the
    * decision. Past [[NdSigBcastMaxDocs]] the slim signature join
    * degrades to a shuffle join; past [[NdTxtBcastMaxDocs]] (a far
    * lower wall — text rows are ~KB where signature rows are ~50 B)
    * the verify-time text join does. Degrading is a strategy change
    * only, never a value change (StreamingDedupSpec forces both
    * thresholds and compares); without the guard a base corpus past
    * driver memory or Spark's 8 GB broadcast wall would OOM the
    * stream instead of slowing it.
    */
  def streamNearDedup(stream: DataFrame, base: DataFrame,
                      lateness: String = "10 minutes",
                      threshold: Double = 0.8,
                      sigBcastMaxDocs: Long = NdSigBcastMaxDocs,
                      txtBcastMaxDocs: Long = NdTxtBcastMaxDocs): DataFrame = {
    graft.functions.Kernels.register(base.sparkSession)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val baseSig = bandSignatures(
        base.select(col("doc_id"), col("text")), "base_id", "base_text")
      .select("band_idx", "bh", "base_id").persist(lvl)
    val baseTxt = base.select(col("doc_id").as("base_id"),
      col("text").as("base_text")).persist(lvl)
    baseSig.count()
    val nDocs = baseTxt.count()
    val sigSide = if (nDocs <= sigBcastMaxDocs) broadcast(baseSig) else baseSig
    val newSig = bandSignatures(
      stream.select(col("doc_id"), col("text"), col("ts_us")), "new_id", "new_text")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
    val bandHits = newSig.join(sigSide, Seq("band_idx", "bh"))
    // Text attach (round 17): a stream-static JOIN re-executes its
    // broadcast exchange EVERY micro-batch — rebuilding the ~MB-scale
    // text relation per trigger was the fixed leg of the addBatch cost
    // at the 1 M-row probe (receipts/stream_scale_1m_r16/17). Below the
    // guard the texts ride a session-lifetime broadcast VARIABLE
    // instead (ONE driver collect, reused across every trigger) and a
    // lookup expression attaches base_text to the tiny band-hit
    // candidate stream; past the guard, a plain shuffle join (the
    // candidates ship to the corpus, never the reverse).
    val withTxt =
      if (nDocs <= txtBcastMaxDocs) {
        val bc = base.sparkSession.sparkContext.broadcast(
          baseTxt.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
        val lookupTxt = udf((id: Long) => bc.value.getOrElse(id, null))
        bandHits.withColumn("base_text", lookupTxt(col("base_id")))
      } else bandHits.join(baseTxt, "base_id")
    withTxt
      .withColumn("ov", expr("shingle_overlap(new_text, base_text, 8)"))
      .withColumn("jaccard",
        when(col("ov.n_union") > 0, col("ov.n_inter").cast("double") / col("ov.n_union")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "base_id", "jaccard", "event_time")
      .dropDuplicatesWithinWatermark("new_id", "base_id")
  }

  /** Streaming SEMANTIC dedup — the streaming twin of batch q77
    * (SemDeDup): each arriving embedding is assigned to its nearest
    * centroid cell with a pure PER-ROW fold over the driver-sized
    * centroid list (no stream-side aggregation state, no shuffle for
    * the assignment), then stream-static equi-joins the corpus within
    * its cell and emits matches at cosine ≥ τ, with per-pair emission
    * state bounded by the watermark. Cross-cell near-dups are invisible
    * by construction — the same nprobe trade-off as batch IVF (q52).
    *
    * `cent` is the learned/label centroid list (cell id, vector) — at
    * fleet scale k ∝ corpus size but stays driver-broadcastable (q54
    * trains it); base rows carry (vec_id, embedding).
    */
  def streamSemanticDedup(stream: DataFrame, base: DataFrame,
                          cent: Seq[(Int, Seq[Double])],
                          lateness: String = "10 minutes",
                          tau: Double = 0.30): DataFrame = {
    val centArr = array(cent.sortBy(_._1).map { case (cid, v) =>
      struct(lit(cid).as("cell"), array(v.map(lit(_)): _*).as("cvec"))
    }: _*)
    // nearest-centroid argmin as one codegen'd fold: d2 = ‖c‖² − 2·x·c,
    // strict < keeps the first (smallest) cell id on ties
    def assignCell(embCol: String): org.apache.spark.sql.Column = {
      val dot = s"aggregate(zip_with($embCol, c.cvec, (x, y) -> CAST(x AS DOUBLE) * y), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
      val cn2 = "aggregate(c.cvec, CAST(0 AS DOUBLE), (acc, y) -> acc + y * y)"
      expr(s"""aggregate(centarr,
        named_struct('d2', CAST('Infinity' AS DOUBLE), 'cell', -1),
        (acc, c) -> CASE WHEN $cn2 - 2.0D * $dot < acc.d2
                         THEN named_struct('d2', $cn2 - 2.0D * $dot, 'cell', c.cell)
                         ELSE acc END).cell""")
    }
    val n2 = (c: String) =>
      expr(s"aggregate($c, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    val baseCells = base
      .withColumn("centarr", centArr)
      .select(col("vec_id").as("base_id"), col("embedding").as("base_emb"),
        n2("embedding").as("base_n2"), assignCell("embedding").as("cell"))
    val newCells = stream
      .withColumn("centarr", centArr)
      .select(col("vec_id").as("new_id"), col("embedding").as("new_emb"),
        n2("embedding").as("new_n2"), assignCell("embedding").as("cell"),
        timestamp_micros(col("ts_us")).as("event_time"))
      .withWatermark("event_time", lateness)
    newCells.join(baseCells, Seq("cell"))
      .withColumn("cos_sim", when(col("new_n2") > 0 && col("base_n2") > 0,
        expr("aggregate(zip_with(new_emb, base_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0 AS DOUBLE), (acc, v) -> acc + v)") /
          (sqrt(col("new_n2")) * sqrt(col("base_n2")))))
      .filter(col("cos_sim") >= tau)
      .select("new_id", "base_id", "cell", "cos_sim", "event_time")
      .dropDuplicatesWithinWatermark("new_id", "base_id")
  }

  case class Tick(sym: String, seq: Long, px: Double)
  case class OfiState(prevPx: Double, prevSeq: Long, cum: Double)
  case class OfiOut(sym: String, seq: Long, dPx: Double, cum: Double)

  /** Stateful per-symbol running delta/cumsum via mapGroupsWithState —
    * the streaming form of the batch cumulative-OFI windows (W4): state
    * is one tuple per key, so it scales to any number of symbols.
    */
  case class EmbRow(label: Int, vecId: Long, emb: Seq[Double])
  case class DriftState(n: Long, sum: Array[Double])
  case class DriftOut(label: Int, n: Long, cosBaseline: Double, drifted: Boolean)

  /** Streaming embedding-drift monitor — q99's streaming twin: per
    * label, maintain the running component sum of arriving vectors in
    * `mapGroupsWithState` custom state (one Array[Double] + count per
    * label — bounded by labels × dim, NOT by stream length) and emit,
    * every trigger, the cosine between the running centroid and a
    * BROADCAST baseline centroid (last release's). `cos < tau` raises
    * the drifted flag while the batch pipeline is still hours away —
    * the alarm that stops a poisoned encoder from filling an ANN index.
    *
    * The group iterator folds in vecId order so a replay with different
    * batch boundaries produces the same sums; state merges are
    * associative component adds.
    */
  def streamDriftMonitor(rows: Dataset[EmbRow],
                         baseline: Map[Int, Seq[Double]],
                         tau: Double = 0.5): Dataset[DriftOut] = {
    implicit val outEnc: Encoder[DriftOut] = Encoders.product[DriftOut]
    implicit val stEnc: Encoder[DriftState] = Encoders.product[DriftState]
    val spark = rows.sparkSession
    val baseB = spark.sparkContext.broadcast(baseline)
    rows.groupByKey(_.label)(Encoders.scalaInt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (label: Int, it: Iterator[EmbRow], state: GroupState[DriftState]) =>
          val batch = it.toSeq.sortBy(_.vecId)
          if (batch.isEmpty) Iterator.empty
          else {
            val dim = batch.head.emb.length
            var st = state.getOption.getOrElse(DriftState(0L, new Array[Double](dim)))
            val sum = st.sum.clone()
            batch.foreach { r =>
              var i = 0
              while (i < dim) { sum(i) += r.emb(i); i += 1 }
            }
            st = DriftState(st.n + batch.length, sum)
            state.update(st)
            val out = baseB.value.get(label) match {
              case Some(b) if b.length == dim =>
                var dot = 0.0; var n2s = 0.0; var n2b = 0.0; var i = 0
                while (i < dim) {
                  dot += sum(i) * b(i); n2s += sum(i) * sum(i); n2b += b(i) * b(i)
                  i += 1
                }
                // centroid = sum/n scales out of the cosine
                val cos = if (n2s > 0 && n2b > 0) dot / (math.sqrt(n2s) * math.sqrt(n2b))
                          else Double.NaN
                DriftOut(label, st.n, cos, !(cos >= tau))
              case _ => DriftOut(label, st.n, Double.NaN, true)
            }
            Iterator.single(out)
          }
      }
  }

  case class PsRow(source: String, docId: Long, w: Double, p: Double)
  case class PsItem(p: Double, w: Double, docId: Long)
  case class PsState(nSeen: Long, items: Seq[PsItem])
  case class PsOut(source: String, nSeen: Long, tau: Double, kEff: Int,
                   estMass: Double)

  /** Streaming weighted priority sampler — q154's streaming twin
    * (Duffield–Lund–Thorup over an unbounded stream): per source,
    * maintain the top-(K+1) priorities as `flatMapGroupsWithState`
    * state (O(K) per key, NOT stream-length) and emit, every trigger,
    * the current τ (the (K+1)-th priority), the live sample size, and
    * the subset-sum estimate ŵ = Σ max(wᵢ, τ) of the source's TOTAL
    * mass seen so far — a fixed-memory running price of each source's
    * contribution, available while the corpus is still arriving.
    *
    * Batch-boundary invariance: the state is the top-(K+1) set under
    * the total order (p desc, docId asc), and top-K-set merge is
    * associative and commutative, so any replay with different batch
    * cuts converges to the same sample, τ, and estimate — the same
    * property the batch q154 proves against DuckDB. Callers compute p
    * with q154's hash (w·2⁴⁸/u, 12-hex md5 u) upstream as a column;
    * the stateful operator is agnostic to how priorities were drawn.
    * At fleet scale, pre-aggregate per partition with the exact_topk
    * kernel before the shuffle so each partition ships ≤ K+1 rows per
    * source into the stateful stage.
    */
  def streamPrioritySample(rows: Dataset[PsRow], k: Int = 32): Dataset[PsOut] = {
    implicit val outEnc: Encoder[PsOut] = Encoders.product[PsOut]
    implicit val stEnc: Encoder[PsState] = Encoders.product[PsState]
    rows.groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[PsRow], state: GroupState[PsState]) =>
          val st = state.getOption.getOrElse(PsState(0L, Seq.empty))
          var n = st.nSeen
          val merged = scala.collection.mutable.ArrayBuffer.from(st.items)
          it.foreach { r => n += 1; merged += PsItem(r.p, r.w, r.docId) }
          val top = merged.sortBy(x => (-x.p, x.docId)).take(k + 1).toSeq
          state.update(PsState(n, top))
          val full = top.size >= k + 1
          val tau = if (full) top.last.p else 0.0
          val sample = if (full) top.dropRight(1) else top
          val est = sample.foldLeft(0.0)((a, x) => a + math.max(x.w, tau))
          Iterator.single(PsOut(source, n, tau, sample.size, est))
      }
  }

  case class CdcRow(userId: Long, k: Option[Long], tsUs: Long, eventId: Long,
                    isDel: Boolean, value: Option[Double])
  case class CdcState(tsUs: Long, eventId: Long, isDel: Boolean,
                      value: Option[Double], nOps: Long, nDeletes: Long)
  case class CdcOut(userId: Long, k: Option[Long], live: Boolean,
                    lastValue: Option[Double], lastTsUs: Long,
                    lastEventId: Long, nOps: Long, nDeletes: Long)

  /** Streaming changelog → snapshot maintenance — q158's streaming twin
    * (the continuously-maintained MERGE a lakehouse runs on a CDC feed):
    * per key (userId, k), keep ONE candidate struct — the max under the
    * version order (tsUs, eventId) — plus two op counters as
    * `flatMapGroupsWithState` state (O(1) per key, not log-length), and
    * emit the key's current snapshot row every trigger it changes:
    * `live=false` rows are retractions a downstream sink applies as
    * deletes.
    *
    * Batch-boundary invariance: max-by-version and the counters are
    * associative + commutative, so any replay with different batch cuts
    * converges to the batch q158 answer — the spec proves it. At fleet
    * scale, pre-aggregate `max(struct(version, payload))` per partition
    * before the shuffle (exactly q158's map-side combine) so the
    * stateful stage receives one candidate per key per partition.
    */
  def streamChangelogSnapshot(rows: Dataset[CdcRow]): Dataset[CdcOut] = {
    implicit val outEnc: Encoder[CdcOut] = Encoders.product[CdcOut]
    implicit val stEnc: Encoder[CdcState] = Encoders.product[CdcState]
    implicit val keyEnc: Encoder[(Long, Option[Long])] =
      Encoders.product[(Long, Option[Long])]
    rows.groupByKey(r => (r.userId, r.k))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Option[Long]), it: Iterator[CdcRow], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(
            CdcState(Long.MinValue, Long.MinValue, isDel = false, None, 0L, 0L))
          it.foreach { r =>
            val newer = r.tsUs > st.tsUs || (r.tsUs == st.tsUs && r.eventId > st.eventId)
            st = CdcState(
              if (newer) r.tsUs else st.tsUs,
              if (newer) r.eventId else st.eventId,
              if (newer) r.isDel else st.isDel,
              if (newer) r.value else st.value,
              st.nOps + 1,
              st.nDeletes + (if (r.isDel) 1L else 0L))
          }
          state.update(st)
          Iterator.single(CdcOut(key._1, key._2, live = !st.isDel,
            if (st.isDel) None else st.value, st.tsUs, st.eventId,
            st.nOps, st.nDeletes))
      }
  }

  case class MvRow(day: Long, eventType: String, value: Option[Double])
  case class MvState(n: Long, nVals: Long, sumUnscaled: Long,
                     minV: Option[Double], maxV: Option[Double])
  case class MvOut(day: Long, eventType: String, nEvents: Long, nVals: Long,
                   sumValue: Option[Double], minValue: Option[Double],
                   maxValue: Option[Double])

  /** Streaming MV maintenance — q162's streaming twin: the daily rollup
    * kept continuously fresh as `flatMapGroupsWithState` with O(1) state
    * per group (count / non-null count / sum / min / max), emitting the
    * group's current view row every trigger it changes. The sum rides
    * the state as its UNSCALED decimal long (the DecSum carrier —
    * `round(value, 8)` exact at scale 8): order-independent and exact,
    * so ANY micro-batch cut converges to q162's batch-merged view, and
    * overflow is loud (`addExact`) rather than silently wrapped. At
    * fleet scale the same monoid pre-aggregates per partition before
    * the stateful shuffle — exactly q162's batch partial states.
    */
  def streamMvMaintenance(rows: Dataset[MvRow]): Dataset[MvOut] = {
    implicit val outEnc: Encoder[MvOut] = Encoders.product[MvOut]
    implicit val stEnc: Encoder[MvState] = Encoders.product[MvState]
    implicit val keyEnc: Encoder[(Long, String)] = Encoders.product[(Long, String)]
    rows.groupByKey(r => (r.day, r.eventType))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[MvRow], state: GroupState[MvState]) =>
          var st = state.getOption.getOrElse(MvState(0L, 0L, 0L, None, None))
          it.foreach { r =>
            val u = r.value.map(v => java.math.BigDecimal.valueOf(v)
              .setScale(8, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact())
            st = MvState(
              st.n + 1,
              st.nVals + (if (r.value.isDefined) 1L else 0L),
              u.fold(st.sumUnscaled)(x => Math.addExact(st.sumUnscaled, x)),
              (st.minV.toSeq ++ r.value.toSeq).reduceOption[Double](math.min),
              (st.maxV.toSeq ++ r.value.toSeq).reduceOption[Double](math.max))
          }
          state.update(st)
          Iterator.single(MvOut(key._1, key._2, st.n, st.nVals,
            if (st.nVals == 0L) None
            else Some(new java.math.BigDecimal(
              java.math.BigInteger.valueOf(st.sumUnscaled), 8).doubleValue()),
            st.minV, st.maxV))
      }
  }

  case class KmvRow(source: String, h: Long)
  case class KmvState(nSeen: Long, mins: List[Long]) // asc-sorted, distinct, ≤ K
  case class KmvOut(source: String, nSeen: Long, kUsed: Long,
                    theta: Option[Long], estDistinct: Option[Double])

  /** Streaming KMV sketch maintenance — q164's streaming twin: per
    * source, keep the K smallest DISTINCT 48-bit hashes as
    * `flatMapGroupsWithState` state (O(K) per source, independent of
    * stream length) and emit the current cardinality estimate per
    * trigger: exact while the sketch isn't full (the K-min set IS the
    * distinct set), (K−1)·2⁴⁸/θ once it is (θ = the Kth smallest — the
    * Beyer et al. unbiased estimator). The K-min-set merge is
    * associative + commutative + idempotent (duplicates and anything ≥
    * the current θ are no-ops), so any micro-batch cut converges to
    * the batch sketch — the spec proves it, plus equality with a batch
    * groupBy of the same K smallest. This is the production shape for
    * "distinct grams per source, live" on a feed too big to count.
    */
  def streamKmvSketch(rows: Dataset[KmvRow], k: Int = 256): Dataset[KmvOut] = {
    implicit val outEnc: Encoder[KmvOut] = Encoders.product[KmvOut]
    implicit val stEnc: Encoder[KmvState] = Encoders.product[KmvState]
    rows.groupByKey(_.source)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[KmvRow], state: GroupState[KmvState]) =>
          val st = state.getOption.getOrElse(KmvState(0L, Nil))
          var n = st.nSeen
          val batch = it.map { r => n += 1; r.h }.toList
          val mins = (st.mins ++ batch).distinct.sorted.take(k)
          state.update(KmvState(n, mins))
          val full = mins.size >= k
          Iterator.single(KmvOut(source, n, mins.size.toLong,
            if (full) Some(mins.last) else None,
            if (mins.isEmpty) Some(0.0)
            else if (full) Some((k - 1).toDouble * 281474976710656.0 / mins.last.toDouble)
            else Some(mins.size.toDouble)))
      }
  }

  case class TtRow(userId: Long, k: Option[Long], day: Long, tsUs: Long,
                   eventId: Long, isDel: Boolean, value: Option[Double])
  // per-cutoff candidate; tsUs = Long.MinValue marks "key not yet
  // present at this cutoff" (avoids Option-inside-Seq in the encoder)
  case class TtCand(cutoffDay: Long, tsUs: Long, eventId: Long, isDel: Boolean,
                    value: Option[Double])
  case class TtState(cands: Seq[TtCand], nOps: Long)
  case class TtOut(userId: Long, k: Option[Long], cutoffDay: Long, live: Boolean,
                   value: Option[Double], eventId: Long, nOps: Long)

  /** Streaming time-travel maintenance — q170's streaming twin (the
    * retained-version state a lakehouse keeps so `VERSION AS OF` stays
    * answerable on a live CDC feed), completing the lakehouse triple:
    * q158 MERGE and q162 MV already have streaming twins. Per key,
    * ONE candidate struct per version cutoff — the max-(tsUs, eventId)
    * operation whose ingest day precedes that cutoff — held as
    * `flatMapGroupsWithState` state: O(cutoffs) per key, not
    * log-length. Every trigger emits the key's current per-cutoff
    * snapshot rows (exactly the rows q170's conditional max-struct
    * aggregation unpivots in batch).
    *
    * Batch-boundary invariance: each cutoff's candidate is a max under
    * the total version order (tsUs, eventId) — associative, commutative,
    * idempotent — so any micro-batch cut converges to the batch q170
    * reconstruction; the spec proves it against the batch query on the
    * same events. At fleet scale, pre-aggregate the per-cutoff
    * conditional max per partition before the stateful shuffle (q170's
    * own map-side combine), so state updates see ≤ cutoffs candidates
    * per key per batch.
    */
  def streamTimeTravel(rows: Dataset[TtRow],
                       cuts: Seq[Long] = Seq(19733L, 19743L, 19753L)): Dataset[TtOut] = {
    implicit val outEnc: Encoder[TtOut] = Encoders.product[TtOut]
    implicit val stEnc: Encoder[TtState] = Encoders.product[TtState]
    implicit val keyEnc: Encoder[(Long, Option[Long])] =
      Encoders.product[(Long, Option[Long])]
    val cutsI = cuts.toIndexedSeq
    rows.groupByKey(r => (r.userId, r.k))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Option[Long]), it: Iterator[TtRow], state: GroupState[TtState]) =>
          var st = state.getOption.getOrElse(TtState(
            cutsI.map(c => TtCand(c, Long.MinValue, Long.MinValue,
              isDel = false, None)), 0L))
          it.foreach { r =>
            st = TtState(st.cands.map { c =>
              val newer = r.day < c.cutoffDay &&
                (r.tsUs > c.tsUs || (r.tsUs == c.tsUs && r.eventId > c.eventId))
              if (newer) TtCand(c.cutoffDay, r.tsUs, r.eventId, r.isDel, r.value)
              else c
            }, st.nOps + 1)
          }
          state.update(st)
          st.cands.iterator.filter(_.tsUs != Long.MinValue).map(c =>
            TtOut(key._1, key._2, c.cutoffDay, live = !c.isDel,
              if (c.isDel) None else c.value, c.eventId, st.nOps))
      }
  }

  case class LinkRow(dKey: Long, dtitle: String)
  case class LinkState(bestJw: Double, matchKey: Long, nCand: Long)
  case class LinkOut(dKey: Long, matchKey: Long, bestJw: Double, nCand: Long,
                     selfMatch: Boolean, strong: Boolean)

  /** Streaming record linkage — the q169 family's streaming leg: a
    * stream of dirty entity titles resolves against the STATIC clean
    * entity table (the reference side a production linkage holds as an
    * index) through the same multi-pass blocking (first-3 ∪ last-3 char
    * keys as one exploded stream-static equi-join) and the same
    * bit-exact `jaro_winkler` verify as the batch query, then a
    * per-dirty-key running best as `flatMapGroupsWithState` state —
    * O(1) per key: (best jw, match key, candidate count).
    *
    * The blocking keys are PASS-TAGGED ("p:" prefix / "s:" suffix) so
    * the one exploded equi-join reproduces exactly the batch's
    * prefix-with-prefix ∪ suffix-with-suffix candidate set, never a
    * cross-pass match. Candidate dedup (a pair found by both passes)
    * happens inside the trigger's group iterator — a dirty record's
    * candidates all arrive in its own micro-batch, so in-trigger
    * dedup plus the associative + commutative state merge (max by
    * (jw, −key), distinct-candidate count sum) makes any micro-batch
    * cut of the dirty stream converge to the batch q169 row for that
    * key — the spec proves the equality. (Re-delivery of a whole dirty
    * record in a later trigger would re-count its candidates; the
    * at-most-once cut model is the contract here, as in the other
    * twins.)
    */
  def streamLinkage(dirty: Dataset[LinkRow],
                    clean: org.apache.spark.sql.DataFrame): Dataset[LinkOut] = {
    graft.functions.Kernels.register(dirty.sparkSession)
    implicit val outEnc: Encoder[LinkOut] = Encoders.product[LinkOut]
    implicit val stEnc: Encoder[LinkState] = Encoders.product[LinkState]
    val cand = dirty
      .select(col("dKey"), col("dtitle"),
        explode(array(expr("concat('p:', substring(dtitle, 1, 3))"),
          expr("concat('s:', right(dtitle, 3))"))).as("bk"))
      .join(clean.select(col("c_key").as("cKey"), col("title"),
        explode(array(expr("concat('p:', substring(title, 1, 3))"),
          expr("concat('s:', right(title, 3))"))).as("bk")), "bk")
      .select(col("dKey"), col("cKey"),
        expr("jaro_winkler(title, dtitle)").as("jw"))
    cand.groupByKey(_.getAs[Long]("dKey"))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (dKey: Long, it: Iterator[org.apache.spark.sql.Row], state: GroupState[LinkState]) =>
          var st = state.getOption.getOrElse(LinkState(-1.0, Long.MaxValue, 0L))
          val seen = scala.collection.mutable.HashSet.empty[Long]
          it.foreach { r =>
            val cKey = r.getAs[Long]("cKey")
            if (seen.add(cKey)) { // both passes can surface the same pair
              val jw = r.getAs[Double]("jw")
              val better = jw > st.bestJw || (jw == st.bestJw && cKey < st.matchKey)
              st = LinkState(if (better) jw else st.bestJw,
                if (better) cKey else st.matchKey, st.nCand + 1L)
            }
          }
          state.update(st)
          if (st.nCand == 0L) Iterator.empty
          else Iterator.single(LinkOut(dKey, st.matchKey, st.bestJw, st.nCand,
            st.matchKey == dKey, st.bestJw >= 0.88))
      }
  }

  case class BarTick(sym: String, seq: Long, bar: Long, mid: Double, vol: Long)
  case class BarState(openSeq: Long, open: Double, closeSeq: Long, close: Double,
                      high: Double, low: Double, nTicks: Long, vol: Long,
                      pvUnscaled: Long)
  case class BarOut(sym: String, bar: Long, open: Double, high: Double,
                    low: Double, close: Double, nTicks: Long, l1Volume: Long,
                    barVwap: Option[Double])

  /** Streaming OHLC time bars — q176's streaming twin: per (sym, bar)
    * O(1) state (open/close carried with their seq so min_by/max_by
    * semantics survive out-of-order arrival inside a bar; high/low/
    * count/volume as plain monoids; the VWAP numerator as its UNSCALED
    * decimal long, the DecSum carrier — `round(mid·vol, 6)` exact at
    * scale 6, order-independent, loud on overflow). Any micro-batch cut
    * therefore converges to the batch bars exactly; the spec proves the
    * equality. At fleet scale the same monoid pre-aggregates map-side
    * before the stateful shuffle — exactly q176's batch partials.
    */
  def streamOhlcBars(ticks: Dataset[BarTick]): Dataset[BarOut] = {
    implicit val outEnc: Encoder[BarOut] = Encoders.product[BarOut]
    implicit val stEnc: Encoder[BarState] = Encoders.product[BarState]
    implicit val keyEnc: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    ticks.groupByKey(t => (t.sym, t.bar))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[BarTick], state: GroupState[BarState]) =>
          var st = state.getOption.orNull
          it.foreach { t =>
            val u = java.math.BigDecimal.valueOf(t.mid * t.vol)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
            st =
              if (st == null)
                BarState(t.seq, t.mid, t.seq, t.mid, t.mid, t.mid, 1L, t.vol, u)
              else BarState(
                if (t.seq < st.openSeq) t.seq else st.openSeq,
                if (t.seq < st.openSeq) t.mid else st.open,
                if (t.seq > st.closeSeq) t.seq else st.closeSeq,
                if (t.seq > st.closeSeq) t.mid else st.close,
                math.max(st.high, t.mid), math.min(st.low, t.mid),
                st.nTicks + 1L, st.vol + t.vol,
                Math.addExact(st.pvUnscaled, u))
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            val vwap =
              if (st.vol > 0)
                Some(new java.math.BigDecimal(
                  java.math.BigInteger.valueOf(st.pvUnscaled), 6).doubleValue() / st.vol)
              else None
            Iterator.single(BarOut(key._1, key._2, st.open, st.high, st.low,
              st.close, st.nTicks, st.vol, vwap))
          }
      }
  }

  case class WmTick(sym: String, seq: Long, tsUs: Long, mid: Double, vol: Long)
  case class WmSymState(maxTs: Long, bars: Map[Long, BarState],
                        lateAccepted: Map[Long, Long])
  case class WmBarOut(sym: String, bar: Long, isDrop: Boolean,
                      open: Double, high: Double, low: Double, close: Double,
                      nTicks: Long, l1Volume: Long, barVwap: Option[Double],
                      nLateAccepted: Long, dropSeq: Option[Long],
                      isFinalOnTimeout: Boolean = false)

  /** Event-time OHLC bars with an EXPLICIT lateness horizon and a
    * late-data audit — the watermark-semantics extension of
    * [[streamOhlcBars]] (SURVEY §2.9's "event-time windows + watermark"
    * item, round 12).
    *
    * Why not `withWatermark` + `window()` (as [[minuteBars]] uses)?
    * Spark's built-in watermark advances only at micro-batch
    * boundaries, so WHICH late rows are dropped depends on where the
    * batch cuts land — correct streaming semantics, but untestable
    * against a batch oracle. This twin pins a DATA-DEFINED horizon
    * instead: per symbol, ticks are processed in `seq` order (the
    * stream's total order; each batch's group is sorted before
    * folding), the running max event time plays the watermark, and a
    * tick is
    *
    *   - DROPPED  when its bar finalized before it arrived
    *     (`barEnd + lateness <= maxTs` at arrival) → an audit row
    *     (`isDrop=true`, `dropSeq` = the tick) emits, so late data is
    *     observable, never silent;
    *   - LATE-ACCEPTED when its bar had closed (`maxTs >= barEnd`) but
    *     not yet finalized → merged normally and counted in the bar's
    *     `nLateAccepted` audit column;
    *   - a bar FINALIZES (emits exactly once, then leaves state) as
    *     soon as `maxTs` passes `barEnd + lateness`.
    *
    * Every decision is a function of the seq-ordered tick sequence
    * alone, so the emitted row SET is identical under ANY micro-batch
    * cut (StreamingStateSpec pins it with randomized cuts) — the
    * determinism the batch≡stream equality harness needs. State per
    * symbol is the open-bar map, bounded by `lateness/barUs + 1` bars,
    * never by stream length.
    *
    * End-of-stream finalize (round 14, advice item 6): with the default
    * `flushTimeoutMs = 0` bars still open at stream end never emit (feed
    * a flush tick past the horizon, as a real feed's heartbeat would).
    * With `flushTimeoutMs > 0` the operator arms a processing-time
    * timeout per symbol; when a symbol sees no data for that long, its
    * open bars emit ONCE, flagged `isFinalOnTimeout = true`, and the
    * symbol's state clears (a feed outage no longer silently holds
    * data). The flushed row VALUES are cut-invariant (the open-bar state
    * at any data prefix is), only their emission time is wall-clock —
    * the audit flag is what lets a consumer segregate the two
    * determinism classes.
    */
  def streamOhlcBarsWatermarked(ticks: Dataset[WmTick],
                                barUs: Long = 3600000000L,
                                latenessUs: Long = 1800000000L,
                                flushTimeoutMs: Long = 0L): Dataset[WmBarOut] = {
    implicit val outEnc: Encoder[WmBarOut] = Encoders.product[WmBarOut]
    implicit val stEnc: Encoder[WmSymState] = Encoders.product[WmSymState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val timeoutConf =
      if (flushTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ticks.groupByKey(_.sym)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (sym: String, it: Iterator[WmTick], state: GroupState[WmSymState]) =>
          var st = state.getOption
            .getOrElse(WmSymState(Long.MinValue, Map.empty, Map.empty))
          val out = scala.collection.mutable.ArrayBuffer[WmBarOut]()
          def barRow(b: Long, bs: BarState, late: Long,
                     onTimeout: Boolean = false): WmBarOut = {
            val vwap =
              if (bs.vol > 0)
                Some(new java.math.BigDecimal(
                  java.math.BigInteger.valueOf(bs.pvUnscaled), 6)
                  .doubleValue() / bs.vol)
              else None
            WmBarOut(sym, b, isDrop = false, bs.open, bs.high, bs.low,
              bs.close, bs.nTicks, bs.vol, vwap, late, None, onTimeout)
          }
          if (flushTimeoutMs > 0 && state.hasTimedOut) {
            // feed went quiet: flush every still-open bar exactly once,
            // flagged, and clear the key's state (a restart after the
            // flush begins a fresh horizon, like a reconnected feed)
            val flushed = st.bars.toSeq.sortBy(_._1).map { case (b, bs) =>
              barRow(b, bs, st.lateAccepted.getOrElse(b, 0L), onTimeout = true)
            }
            state.remove()
            flushed.iterator
          } else {
          it.toSeq.sortBy(_.seq).foreach { t =>
            val bar = Math.floorDiv(t.tsUs, barUs)
            val barEnd = (bar + 1L) * barUs
            if (barEnd + latenessUs <= st.maxTs)
              out += WmBarOut(sym, bar, isDrop = true, 0.0, 0.0, 0.0, 0.0,
                0L, 0L, None, 0L, Some(t.seq))
            else {
              val u = java.math.BigDecimal.valueOf(t.mid * t.vol)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .unscaledValue().longValueExact()
              val merged = st.bars.get(bar) match {
                case None =>
                  BarState(t.seq, t.mid, t.seq, t.mid, t.mid, t.mid, 1L, t.vol, u)
                case Some(s0) => BarState(
                  if (t.seq < s0.openSeq) t.seq else s0.openSeq,
                  if (t.seq < s0.openSeq) t.mid else s0.open,
                  if (t.seq > s0.closeSeq) t.seq else s0.closeSeq,
                  if (t.seq > s0.closeSeq) t.mid else s0.close,
                  math.max(s0.high, t.mid), math.min(s0.low, t.mid),
                  s0.nTicks + 1L, s0.vol + t.vol,
                  Math.addExact(s0.pvUnscaled, u))
              }
              val lateHit = if (st.maxTs >= barEnd) 1L else 0L
              st = st.copy(
                bars = st.bars.updated(bar, merged),
                lateAccepted = st.lateAccepted
                  .updated(bar, st.lateAccepted.getOrElse(bar, 0L) + lateHit))
            }
            if (t.tsUs > st.maxTs) st = st.copy(maxTs = t.tsUs)
            val (done, open) = st.bars.partition { case (b, _) =>
              (b + 1L) * barUs + latenessUs <= st.maxTs
            }
            if (done.nonEmpty) {
              done.toSeq.sortBy(_._1).foreach { case (b, bs) =>
                out += barRow(b, bs, st.lateAccepted.getOrElse(b, 0L))
              }
              st = st.copy(bars = open, lateAccepted = st.lateAccepted -- done.keys)
            }
          }
          state.update(st)
          if (flushTimeoutMs > 0) state.setTimeoutDuration(flushTimeoutMs)
          out.iterator
          }
      }
  }

  case class VpinTick(sym: String, seq: Long, mid: Double, vol: Long)
  case class VpinBucket(bucket: Long, buy: Long, sell: Long)
  case class VpinState(dir: Int, prevMid: Double, cum: Long, ring: Seq[VpinBucket])
  case class VpinOut(sym: String, bucket: Long, buyVol: Long, sellVol: Long,
                     imbalance: Long, bucketVol: Long, vpinPermille: Option[Long],
                     finalized: Boolean)

  /** Streaming VPIN — q181's twin: per-sym O(1) state (carried tick-rule
    * direction AND previous mid — the sign alone would misclassify the
    * first tick after a batch cut that lands exactly on a mid change;
    * cumulative volume; a ≤5-entry ring of the current bucket plus its
    * 4 trailing EXISTING buckets — q181's ROWS window, not a bucket-id
    * range, so stripe slots skipped by an over-V tick behave
    * identically). A bucket's final row is emitted the moment its
    * successor opens — while the ring still holds its own trailing
    * window — and the open bucket's running row is re-emitted each
    * trigger that touches it. Each bucket finalizes exactly once
    * (volume is monotone), so taking each (sym, bucket)'s finalized
    * row (else its last partial) reconstructs q181 exactly under ANY
    * micro-batch cut; the spec proves both the invariance and the
    * batch equality.
    */
  def streamVpin(ticks: Dataset[VpinTick], v: Long = 256L): Dataset[VpinOut] = {
    implicit val outEnc: Encoder[VpinOut] = Encoders.product[VpinOut]
    implicit val stEnc: Encoder[VpinState] = Encoders.product[VpinState]
    ticks.groupByKey(_.sym)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, it: Iterator[VpinTick], state: GroupState[VpinState]) =>
          var st = state.getOption.getOrElse(VpinState(1, Double.NaN, 0L, Seq.empty))
          var dir = st.dir
          var prevMid = st.prevMid
          var cum = st.cum
          var ring = st.ring
          val out = scala.collection.mutable.ArrayBuffer.empty[VpinOut]
          def row(bk: VpinBucket, fin: Boolean): VpinOut = {
            // ring ends at bk when this is called: its last ≤5 entries
            // ARE the bucket's trailing-5-rows window
            val window = ring.filter(_.bucket <= bk.bucket).takeRight(5)
            val winImb = window.map(b => math.abs(b.buy - b.sell)).sum
            val winVol = window.map(b => b.buy + b.sell).sum
            VpinOut(sym, bk.bucket, bk.buy, bk.sell, math.abs(bk.buy - bk.sell),
              bk.buy + bk.sell,
              if (winVol > 0) Some(1000L * winImb / winVol) else None, fin)
          }
          it.toSeq.sortBy(_.seq).foreach { t =>
            if (!prevMid.isNaN) {
              if (t.mid > prevMid) dir = 1 else if (t.mid < prevMid) dir = -1
            }
            prevMid = t.mid
            val bucket = cum / v
            cum += t.vol
            ring.lastOption match {
              case Some(b) if b.bucket == bucket =>
                ring = ring.init :+ (if (dir == 1) b.copy(buy = b.buy + t.vol)
                                     else b.copy(sell = b.sell + t.vol))
              case last =>
                // previous bucket (if any) is final: emit it NOW, while
                // the ring still ends at it
                last.foreach(b => out += row(b, fin = true))
                ring = (ring :+ VpinBucket(bucket,
                  if (dir == 1) t.vol else 0L, if (dir == 1) 0L else t.vol))
                  .takeRight(5)
            }
          }
          state.update(VpinState(dir, prevMid, cum, ring))
          // the open bucket's running row (the function only runs for
          // keys present in the trigger, so the ring is never empty here)
          ring.lastOption.foreach(b => out += row(b, fin = false))
          out.iterator
      }
  }

  case class WmVpinTick(sym: String, seq: Long, tsUs: Long, mid: Double, vol: Long)
  case class WmVpinState(maxTs: Long, buf: Seq[WmVpinTick],
                         dir: Int, prevMid: Double, cum: Long, ring: Seq[VpinBucket])
  case class WmVpinOut(sym: String, bucket: Long, buyVol: Long, sellVol: Long,
                       imbalance: Long, bucketVol: Long, vpinPermille: Option[Long],
                       isDrop: Boolean, dropSeq: Option[Long],
                       isFinalOnTimeout: Boolean)

  /** Watermarked streaming VPIN — [[streamVpin]] with a DATA-DEFINED
    * lateness horizon and a drop audit (round 14, advice item 8).
    *
    * VPIN is inherently SEQUENTIAL (tick-rule direction and cumulative
    * volume both depend on processing order), so out-of-order arrival
    * cannot be merged bar-style — it must be REORDERED. Per symbol the
    * state carries a reorder buffer: an arriving tick is
    *
    *   - DROPPED (audit row, `isDrop = true`, `dropSeq` = the tick) when
    *     its event time is already behind the drained frontier
    *     (`tsUs + lateness < maxTs` at arrival — its slot in the
    *     event-time order was folded and can't be reopened);
    *   - otherwise BUFFERED; the running max event time plays the
    *     watermark, and every buffered tick whose horizon has passed
    *     (`tsUs + lateness < maxTs`) drains — in (tsUs, seq) order —
    *     through exactly [[streamVpin]]'s fold (carried direction +
    *     previous mid, cumulative-volume bucketing, ≤5-bucket ring), a
    *     bucket's final row emitting the moment its successor opens.
    *
    * Both rules are strict (`<`), so equal-max-ts ticks are never
    * dropped or force-drained — a lateness of 0 on an in-order feed
    * accepts everything. Every decision is a function of the seq-ordered
    * tick sequence alone → the emitted row SET is micro-batch-cut
    * invariant; buffer size is bounded by the ticks inside one lateness
    * window, never by stream length. With `flushTimeoutMs > 0`, a
    * symbol going quiet for that long force-drains its buffer and emits
    * the still-open bucket, all flagged `isFinalOnTimeout = true`, then
    * clears state (same contract as [[streamOhlcBarsWatermarked]]).
    */
  def streamVpinWatermarked(ticks: Dataset[WmVpinTick], v: Long = 256L,
                            latenessUs: Long = 0L,
                            flushTimeoutMs: Long = 0L): Dataset[WmVpinOut] = {
    implicit val outEnc: Encoder[WmVpinOut] = Encoders.product[WmVpinOut]
    implicit val stEnc: Encoder[WmVpinState] = Encoders.product[WmVpinState]
    val timeoutConf =
      if (flushTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ticks.groupByKey(_.sym)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (sym: String, it: Iterator[WmVpinTick], state: GroupState[WmVpinState]) =>
          var st = state.getOption
            .getOrElse(WmVpinState(Long.MinValue, Seq.empty, 1, Double.NaN, 0L, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[WmVpinOut]
          def row(ring: Seq[VpinBucket], bk: VpinBucket, onTimeout: Boolean): WmVpinOut = {
            val window = ring.filter(_.bucket <= bk.bucket).takeRight(5)
            val winImb = window.map(b => math.abs(b.buy - b.sell)).sum
            val winVol = window.map(b => b.buy + b.sell).sum
            WmVpinOut(sym, bk.bucket, bk.buy, bk.sell, math.abs(bk.buy - bk.sell),
              bk.buy + bk.sell,
              if (winVol > 0) Some(1000L * winImb / winVol) else None,
              isDrop = false, None, onTimeout)
          }
          // streamVpin's fold, one tick at a time over the mutable state
          def fold(t: WmVpinTick, onTimeout: Boolean): Unit = {
            if (!st.prevMid.isNaN) {
              if (t.mid > st.prevMid) st = st.copy(dir = 1)
              else if (t.mid < st.prevMid) st = st.copy(dir = -1)
            }
            st = st.copy(prevMid = t.mid)
            val bucket = st.cum / v
            st = st.copy(cum = st.cum + t.vol)
            st.ring.lastOption match {
              case Some(b) if b.bucket == bucket =>
                st = st.copy(ring = st.ring.init :+
                  (if (st.dir == 1) b.copy(buy = b.buy + t.vol)
                   else b.copy(sell = b.sell + t.vol)))
              case last =>
                // the previous bucket is final: emit while the ring still
                // ends at it (its own trailing-5 window)
                last.foreach(b => out += row(st.ring, b, onTimeout))
                st = st.copy(ring = (st.ring :+ VpinBucket(bucket,
                  if (st.dir == 1) t.vol else 0L,
                  if (st.dir == 1) 0L else t.vol)).takeRight(5))
            }
          }
          def drain(all: Boolean, onTimeout: Boolean): Unit = {
            val (safe, hold) =
              if (all) (st.buf, Seq.empty[WmVpinTick])
              else st.buf.partition(t => t.tsUs + latenessUs < st.maxTs)
            safe.sortBy(t => (t.tsUs, t.seq)).foreach(fold(_, onTimeout))
            st = st.copy(buf = hold)
          }
          if (flushTimeoutMs > 0 && state.hasTimedOut) {
            drain(all = true, onTimeout = true)
            st.ring.lastOption.foreach(b => out += row(st.ring, b, onTimeout = true))
            state.remove()
            out.iterator
          } else {
            it.toSeq.sortBy(_.seq).foreach { t =>
              if (t.tsUs + latenessUs < st.maxTs)
                out += WmVpinOut(sym, -1L, 0L, 0L, 0L, 0L, None,
                  isDrop = true, Some(t.seq), isFinalOnTimeout = false)
              else {
                st = st.copy(buf = st.buf :+ t)
                if (t.tsUs > st.maxTs) st = st.copy(maxTs = t.tsUs)
                drain(all = false, onTimeout = false)
              }
            }
            state.update(st)
            if (flushTimeoutMs > 0) state.setTimeoutDuration(flushTimeoutMs)
            out.iterator
          }
      }
  }

  case class WmLinkRow(dKey: Long, seq: Long, tsUs: Long, dtitle: String)
  case class WmLinkAgg(dKey: Long, tsUs: Long, bestJw: Double, matchKey: Long, nCand: Long)
  case class WmLinkState(maxTs: Long, open: Seq[WmLinkAgg])
  case class WmLinkOut(dKey: Long, matchKey: Long, bestJw: Double, nCand: Long,
                       selfMatch: Boolean, strong: Boolean,
                       isDrop: Boolean, dropCKey: Option[Long],
                       isFinalOnTimeout: Boolean)

  /** Watermarked streaming record linkage — [[streamLinkage]] with a
    * DATA-DEFINED lateness horizon, FINAL-once emission and a drop audit
    * (round 14, advice item 8).
    *
    * [[streamLinkage]] re-emits a dirty key's running best every trigger
    * that touches it; this twin instead emits each key's best-match row
    * EXACTLY ONCE — when the horizon passes its event time — which is
    * the append-only contract a downstream sink wants. The stateful
    * stage is keyed by a SHARD of the dirty key space (the per-key
    * grouping of the running-best twin can't see a cross-key watermark);
    * within a shard the running max candidate event time plays the
    * watermark:
    *
    *   - a candidate row whose dirty record's event time is already
    *     finalized (`tsUs + lateness < maxTs` at arrival) is DROPPED
    *     with an audit row (`isDrop = true`, `dropCKey` = the clean
    *     candidate) — late re-deliveries are observable, never silently
    *     merged into an already-emitted best;
    *   - otherwise it merges into the key's open best (same tie-breaks
    *     as the batch q169: jw desc, clean key asc; candidate dedup
    *     within the trigger group);
    *   - an open key FINALIZES (emits once, leaves state) as soon as
    *     `maxTs` passes `tsUs + lateness`.
    *
    * Processing order inside a trigger is (seq, cKey) — `seq` is the
    * dirty stream's total arrival order, IN the data, exactly as in
    * [[streamOhlcBarsWatermarked]] — so every drop/merge/finalize
    * decision is a pure function of the seq-ordered row sequence and the
    * emitted row SET is micro-batch-cut invariant (given the twin's
    * delivery contract: a dirty record's candidates arrive in its own
    * micro-batch, as the stream-static join guarantees).
    * State per shard is bounded by the dirty records inside
    * one lateness window. `flushTimeoutMs > 0` force-finalizes a quiet
    * shard's open keys, flagged `isFinalOnTimeout = true`.
    */
  def streamLinkageWatermarked(dirty: Dataset[WmLinkRow],
                               clean: org.apache.spark.sql.DataFrame,
                               latenessUs: Long = 0L,
                               flushTimeoutMs: Long = 0L,
                               nShards: Int = 16): Dataset[WmLinkOut] = {
    graft.functions.Kernels.register(dirty.sparkSession)
    implicit val outEnc: Encoder[WmLinkOut] = Encoders.product[WmLinkOut]
    implicit val stEnc: Encoder[WmLinkState] = Encoders.product[WmLinkState]
    // the same pass-tagged multi-blocking + bit-exact jaro_winkler verify
    // as streamLinkage, with the dirty record's event time carried
    val cand = dirty
      .select(col("dKey"), col("seq"), col("tsUs"), col("dtitle"),
        explode(array(expr("concat('p:', substring(dtitle, 1, 3))"),
          expr("concat('s:', right(dtitle, 3))"))).as("bk"))
      .join(clean.select(col("c_key").as("cKey"), col("title"),
        explode(array(expr("concat('p:', substring(title, 1, 3))"),
          expr("concat('s:', right(title, 3))"))).as("bk")), "bk")
      .select(col("dKey"), col("seq"), col("tsUs"), col("cKey"),
        expr("jaro_winkler(title, dtitle)").as("jw"))
    cand.groupByKey(r => Math.floorMod(r.getAs[Long]("dKey"), nShards.toLong))(
      Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        if (flushTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[org.apache.spark.sql.Row], state: GroupState[WmLinkState]) =>
          var st = state.getOption.getOrElse(WmLinkState(Long.MinValue, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[WmLinkOut]
          def finalRow(a: WmLinkAgg, onTimeout: Boolean): WmLinkOut =
            WmLinkOut(a.dKey, a.matchKey, a.bestJw, a.nCand,
              a.matchKey == a.dKey, a.bestJw >= 0.88,
              isDrop = false, None, onTimeout)
          if (flushTimeoutMs > 0 && state.hasTimedOut) {
            val flushed = st.open.sortBy(_.dKey).map(finalRow(_, onTimeout = true))
            state.remove()
            flushed.iterator
          } else {
            val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
            it.toSeq
              .map(r => (r.getAs[Long]("dKey"), r.getAs[Long]("seq"),
                r.getAs[Long]("tsUs"), r.getAs[Long]("cKey"), r.getAs[Double]("jw")))
              .sortBy { case (_, seq, _, c, _) => (seq, c) }
              .foreach { case (dKey, _, tsUs, cKey, jw) =>
                if (seen.add((dKey, cKey))) { // both passes can surface the pair
                  if (tsUs + latenessUs < st.maxTs)
                    out += WmLinkOut(dKey, -1L, -1.0, 0L, selfMatch = false,
                      strong = false, isDrop = true, Some(cKey),
                      isFinalOnTimeout = false)
                  else {
                    val idx = st.open.indexWhere(_.dKey == dKey)
                    if (idx < 0)
                      st = st.copy(open = st.open :+
                        WmLinkAgg(dKey, tsUs, jw, cKey, 1L))
                    else {
                      val a = st.open(idx)
                      val better = jw > a.bestJw || (jw == a.bestJw && cKey < a.matchKey)
                      st = st.copy(open = st.open.updated(idx, a.copy(
                        bestJw = if (better) jw else a.bestJw,
                        matchKey = if (better) cKey else a.matchKey,
                        nCand = a.nCand + 1L)))
                    }
                    if (tsUs > st.maxTs) st = st.copy(maxTs = tsUs)
                    val (done, open) =
                      st.open.partition(a => a.tsUs + latenessUs < st.maxTs)
                    done.sortBy(_.dKey).foreach(a => out += finalRow(a, onTimeout = false))
                    st = st.copy(open = open)
                  }
                }
              }
            state.update(st)
            if (flushTimeoutMs > 0) state.setTimeoutDuration(flushTimeoutMs)
            out.iterator
          }
      }
  }

  def runningDelta(ticks: Dataset[Tick]): Dataset[OfiOut] = {
    implicit val outEnc: Encoder[OfiOut] = Encoders.product[OfiOut]
    implicit val stEnc: Encoder[OfiState] = Encoders.product[OfiState]
    ticks.groupByKey(_.sym)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, it: Iterator[Tick], state: GroupState[OfiState]) =>
          val sorted = it.toSeq.sortBy(_.seq)
          var st = state.getOption.getOrElse(OfiState(Double.NaN, -1L, 0.0))
          val out = sorted.map { t =>
            val d = if (st.prevSeq < 0) 0.0 else t.px - st.prevPx
            st = OfiState(t.px, t.seq, st.cum + d)
            OfiOut(sym, t.seq, d, st.cum)
          }
          state.update(st)
          out.iterator
      }
  }
}
