package graft.multimodal

import graft.Q
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog queries over the multimodal asset layer: near-dup detection
  * on OPAQUE BINARY payloads — the image/audio analog of text dedup,
  * run entirely on bytes the engine never decodes (the builder brief's
  * multimodal plumbing: a real codec would slot into
  * [[Multimodal.extractFeatures]]'s partition boundary without touching
  * this plan).
  */
object MultimodalQueries {

  // --------------------------------------------------------------- q117
  /** Binary perceptual-hash near-dup: 64-bit byte-bigram aHash
    * ([[graft.functions.AHashBands]]) split into four 16-bit bands;
    * candidate pairs via the band-equality self-join (the q48 LSH
    * pattern on Hamming space: for τ ≤ 3 pigeonhole makes banding
    * EXACT — a pair at Hamming ≤ 3 cannot differ in all 4 bands);
    * verify = exact Hamming over the band codes, keep τ ≤ 2 (the
    * corpus's ±4-char-edit families sit at ≤ 2, background mass starts
    * at 3+).
    *
    * Scale: the hash is one O(n) codegen'd pass per payload; the join
    * shuffles 4 small (id, code) rows per asset, never payload bytes.
    * Band buckets are bounded the same way q48's LSH buckets are — a
    * hot code (e.g. all-zero bands from tiny payloads) is the salting
    * candidate at 100 TB, and AQE's skew-join split handles the
    * residual. Hamming verification touches only candidate pairs.
    */
  val q117 = Q("q117_binary_ahash_neardup",
    (s, dir) => {
      val hashed = Multimodal.syntheticAssets(s, dir, spread = true).toDF()
        .select(col("asset_id"), expr("ahash_bands(payload)").as("bands"))
      val banded = hashed.select(col("asset_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_code")))
      banded.as("a").join(banded.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_code") === col("b.band_code") &&
            col("a.asset_id") < col("b.asset_id"))
        .select(col("a.asset_id").as("id_a"), col("b.asset_id").as("id_b"),
          col("a.bands").as("ba"), col("b.bands").as("bb"))
        .groupBy("id_a", "id_b", "ba", "bb")
        .agg(count(lit(1)).as("n_bands_equal"))
        .withColumn("hamming",
          expr("CAST(aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)"))
        .filter(col("hamming") <= 2)
        .select("id_a", "id_b", "n_bands_equal", "hamming")
        .transform(graft.Q.presentSorted(_, "id_a", "id_b"))
    },
    // The oracle rebuilds the same hash from hex(encode(text)) nibbles —
    // the payload IS the UTF-8 text bytes ([[Multimodal.syntheticAssets]]),
    // so both engines hash identical octet streams with identical integer
    // math, then mirror the banding + Hamming verify bit-for-bit.
    Some("""WITH bytes AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents
    ), blist AS (
      SELECT doc_id, greatest(n - 1, 0) AS ng,
        list_transform(generate_series(1, n), k ->
          (strpos('0123456789ABCDEF', substr(hx, 2*k-1, 1)) - 1) * 16 +
          (strpos('0123456789ABCDEF', substr(hx, 2*k, 1)) - 1)) AS bs
      FROM bytes
    ), grams AS (
      SELECT doc_id, ng,
        list_transform(generate_series(1, ng), k ->
          (bs[k] * 31 + bs[k+1]) % 64) AS gs
      FROM blist
    ), hist AS (
      SELECT doc_id, ng,
        list_transform(generate_series(0, 63), i ->
          len(list_filter(gs, g -> g = i))) AS bins
      FROM grams
    ), bands AS (
      SELECT doc_id,
        list_transform(generate_series(0, 3), j ->
          list_reduce(list_prepend(0, list_transform(generate_series(0, 15), k ->
            CASE WHEN bins[16*j + k + 1] > ng // 64 THEN 1 << k ELSE 0 END)),
            (a, x) -> a + x)) AS bands
      FROM hist
    ), banded AS (
      SELECT doc_id, j AS band_idx, bands[j + 1] AS band_code, bands
      FROM bands, generate_series(0, 3) t(j)
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.bands AS ba, b.bands AS bb,
        count(*) AS nbe
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_code = b.band_code
        AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), scored AS (
      SELECT id_a, id_b, CAST(nbe AS BIGINT) AS n_bands_equal,
        CAST(list_reduce(list_prepend(0, list_transform(generate_series(1, 4), j ->
          bit_count(xor(CAST(ba[j] AS BIGINT), CAST(bb[j] AS BIGINT))))),
          (a, x) -> a + x) AS BIGINT) AS hamming
      FROM cand
    )
    SELECT id_a, id_b, n_bands_equal, hamming
    FROM scored WHERE hamming <= 2
    ORDER BY id_a, id_b"""))

  // --------------------------------------------------------------- q129
  /** Asset feature rollup through the REAL decode path: the
    * [[Multimodal.extractFeatures]] `mapPartitions` batch boundary
    * (where a vectorized codec lives) feeds a per-kind rollup — asset
    * count, byte mass, header checksum mass, distinct content
    * fingerprints (exact-dup count across modality). This routes the
    * partition-local decode plumbing through the ORACLED catalog: the
    * oracle recomputes every feature from the payload bytes
    * (octet_length / first-16-byte sum via hex nibbles / md5), so a
    * drift in the decode stub's byte handling fails the gate.
    *
    * Scale: decode is embarrassingly parallel map-side work; the
    * rollup shuffles 4 longs per asset — payloads never cross the
    * exchange. `n_distinct_fp` is the one distinct-agg (fingerprints
    * are 32-byte strings, the shuffle the dedup layer already pays).
    */
  val q129 = Q("q129_asset_feature_rollup",
    (s, dir) => {
      val feats = Multimodal.extractFeatures(Multimodal.syntheticAssets(s, dir)).toDF()
      feats.groupBy("kind")
        .agg(count(lit(1)).as("n_assets"),
          sum("n_bytes").as("sum_bytes"),
          sum("header_sum").as("sum_header"),
          countDistinct("fingerprint").as("n_distinct_fp"))
        .select("kind", "n_assets", "sum_bytes", "sum_header", "n_distinct_fp")
        .orderBy("kind")
    },
    Some("""WITH assets AS (
      SELECT doc_id AS asset_id,
        ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
        encode(text) AS payload, hex(encode(text)) AS hx,
        octet_length(encode(text)) AS n
      FROM documents
    ), feats AS (
      SELECT asset_id, kind, CAST(n AS BIGINT) AS n_bytes,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, least(n, 16)), k ->
            CAST((strpos('0123456789ABCDEF', substr(hx, 2*k-1, 1)) - 1) * 16 +
                 (strpos('0123456789ABCDEF', substr(hx, 2*k, 1)) - 1) AS BIGINT))),
          (a, x) -> a + x) AS BIGINT) AS header_sum,
        md5(text) AS fingerprint
      FROM assets JOIN documents ON documents.doc_id = assets.asset_id
    )
    SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
      CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
      CAST(SUM(header_sum) AS BIGINT) AS sum_header,
      CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_distinct_fp
    FROM feats GROUP BY kind ORDER BY kind"""))

  // --------------------------------------------------------------- q178
  /** Frame sampling + scene-cut detection over the video assets — the
    * missing third multimodal leg (q117 = perceptual near-dup, q129 =
    * whole-asset features; this is the PER-FRAME pass a video curation
    * pipeline runs). The payload is modeled as 16-byte frames; every
    * 4th frame is sampled at the [[Multimodal.sampleFrameEnergies]]
    * batched decode boundary and reduced to its byte energy; a cut is
    * an adjacent-sample energy jump > 512 (the stand-in for a real
    * histogram-difference detector). Per asset: frame/sample counts,
    * sampled energy mass, cut count, integer mean energy, first cut.
    *
    * Scale: decode is map-side; only (asset, frame, energy) longs cross
    * the exchange (|frames|/stride per asset, never payload bytes); the
    * cut window partitions by asset. The oracle recomputes every frame
    * energy from hex nibbles, so byte-handling drift fails the gate.
    */
  val q178 = Q("q178_frame_sample_scenes",
    (s, dir) => {
      val assets = Multimodal.syntheticAssets(s, dir).filter(col("kind") === "video")
      val frames = Multimodal.sampleFrameEnergies(assets, 16, 4).toDF()
      val w = Window.partitionBy("asset_id").orderBy("frame_idx")
      val cut = col("prev_e").isNotNull && abs(col("energy") - col("prev_e")) > 512
      val roll = frames.withColumn("prev_e", lag("energy", 1).over(w))
        .withColumn("is_cut", when(cut, 1L).otherwise(0L))
        .withColumn("cut_at", when(cut, col("frame_idx")))
        .groupBy("asset_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum("energy").as("sampled_energy"),
          sum("is_cut").as("n_cuts"),
          min("cut_at").as("first_cut_frame"))
      assets.select(col("asset_id"),
          expr("(cast(length(payload) as bigint) + 15) div 16").as("n_frames"))
        .join(roll, Seq("asset_id"), "left")
        .select(col("asset_id"), col("n_frames"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("sampled_energy"), lit(0L)).as("sampled_energy"),
          coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
          when(coalesce(col("n_sampled"), lit(0L)) > 0,
            expr("sampled_energy div n_sampled")).as("mean_frame_energy"),
          col("first_cut_frame"))
        .orderBy("asset_id")
    },
    Some("""WITH assets AS (
      SELECT doc_id AS asset_id, encode(coalesce(text, '')) AS payload
      FROM documents WHERE doc_id % 3 = 2
    ), meta AS (
      SELECT asset_id, hex(payload) AS hx,
        CAST(octet_length(payload) AS BIGINT) AS n,
        CAST((octet_length(payload) + 15) // 16 AS BIGINT) AS n_frames
      FROM assets
    ), fr AS (
      SELECT asset_id, CAST(f AS BIGINT) AS frame_idx,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(16*f + 1, least(16*f + 16, n)), k ->
            CAST((strpos('0123456789ABCDEF', substr(hx, 2*k-1, 1)) - 1) * 16 +
                 (strpos('0123456789ABCDEF', substr(hx, 2*k, 1)) - 1) AS BIGINT))),
          (a, x) -> a + x) AS BIGINT) AS energy
      FROM meta, unnest(generate_series(0, n_frames - 1)) AS t(f)
      WHERE f % 4 = 0
    ), cuts AS (
      SELECT asset_id, frame_idx, energy,
        lag(energy) OVER (PARTITION BY asset_id ORDER BY frame_idx) AS prev_e
      FROM fr
    ), roll AS (
      SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        CAST(SUM(energy) AS BIGINT) AS sampled_energy,
        CAST(SUM(CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) > 512
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        MIN(CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) > 512
                 THEN frame_idx END) AS first_cut_frame
      FROM cuts GROUP BY asset_id
    )
    SELECT m.asset_id, m.n_frames,
      COALESCE(r.n_sampled, 0) AS n_sampled,
      COALESCE(r.sampled_energy, 0) AS sampled_energy,
      COALESCE(r.n_cuts, 0) AS n_cuts,
      CASE WHEN COALESCE(r.n_sampled, 0) > 0
           THEN r.sampled_energy // r.n_sampled END AS mean_frame_energy,
      r.first_cut_frame
    FROM meta m LEFT JOIN roll r ON r.asset_id = m.asset_id
    ORDER BY m.asset_id"""))

  // --------------------------------------------------------------- q180
  /** Image resize audit — the last verb of the brief's multimodal list
    * (decode q129, feature-extract q117/q129, frame-sample q178,
    * RESIZE here): the image-kind assets run the batched
    * [[Multimodal.resize2x]] 2×2 box-downsample kernel and the rollup
    * groups by output mean-intensity octave. The oracle recomputes the
    * full 32×32 output raster per asset from hex nibbles (4 byte
    * lookups per output pixel, zero-padded), so any drift in block
    * addressing, padding, or integer-mean rounding fails the gate —
    * the kernel is verified bit-for-bit, not statistically.
    *
    * Scale: the kernel is pure map-side batch work (the plan-audit pin
    * on q178 applies identically — payloads never shuffle); the rollup
    * ships 3 longs per asset into one partial-aggregable groupBy.
    */
  val q180 = Q("q180_image_resize_audit",
    (s, dir) => {
      val assets = Multimodal.syntheticAssets(s, dir).filter(col("kind") === "image")
      // octave = floor(log2(mean)) via an exact integer CASE ladder —
      // libm log2 differs by ulps across engines and a flipped floor at
      // a power-of-two boundary would break the hash; mean ≤ 255 so the
      // ladder is 8 branches
      Multimodal.resize2x(assets).toDF()
        .withColumn("octave",
          when(col("mean_out") >= 128, lit(7L)).when(col("mean_out") >= 64, lit(6L))
            .when(col("mean_out") >= 32, lit(5L)).when(col("mean_out") >= 16, lit(4L))
            .when(col("mean_out") >= 8, lit(3L)).when(col("mean_out") >= 4, lit(2L))
            .when(col("mean_out") >= 2, lit(1L)).otherwise(lit(0L)))
        .groupBy("octave")
        .agg(count(lit(1)).as("n_assets"),
          sum("n_bytes_used").as("bytes_used"),
          sum("out_checksum").as("checksum_mass"),
          min("out_checksum").as("min_checksum"),
          max("out_checksum").as("max_checksum"))
        .orderBy("octave")
    },
    Some("""WITH assets AS (
      SELECT doc_id AS asset_id, encode(coalesce(text, '')) AS payload
      FROM documents WHERE doc_id % 3 = 0
    ), meta AS (
      SELECT asset_id, hex(payload) AS hx,
        least(CAST(octet_length(payload) AS BIGINT), 4096) AS n
      FROM assets
    ), res AS (
      SELECT asset_id, n AS n_bytes_used,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(0, 1023), o ->
            (((CASE WHEN (o // 32) * 128 + (o % 32) * 2 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + (o % 32) * 2 + 1 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2 + 1) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2 + 1) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + 64 + (o % 32) * 2 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + 64 + (o % 32) * 2 + 1 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2 + 1) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2 + 1) + 2, 1)) - 1)
               ELSE 0 END)) // 4) * (o + 1))),
          (a, x) -> a + x) AS BIGINT) AS out_checksum,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(0, 1023), o ->
            (((CASE WHEN (o // 32) * 128 + (o % 32) * 2 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + (o % 32) * 2 + 1 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2 + 1) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + (o % 32) * 2 + 1) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + 64 + (o % 32) * 2 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2) + 2, 1)) - 1)
               ELSE 0 END) +
              (CASE WHEN (o // 32) * 128 + 64 + (o % 32) * 2 + 1 < n THEN
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2 + 1) + 1, 1)) - 1) * 16 +
                (strpos('0123456789ABCDEF', substr(hx, 2*((o // 32) * 128 + 64 + (o % 32) * 2 + 1) + 2, 1)) - 1)
               ELSE 0 END)) // 4))),
          (a, x) -> a + x) // 1024 AS BIGINT) AS mean_out
      FROM meta
    ), oct AS (
      SELECT asset_id, n_bytes_used, out_checksum,
        CAST(CASE WHEN mean_out >= 128 THEN 7 WHEN mean_out >= 64 THEN 6
                  WHEN mean_out >= 32 THEN 5 WHEN mean_out >= 16 THEN 4
                  WHEN mean_out >= 8 THEN 3 WHEN mean_out >= 4 THEN 2
                  WHEN mean_out >= 2 THEN 1 ELSE 0 END AS BIGINT) AS octave
      FROM res
    )
    SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_assets,
      CAST(SUM(n_bytes_used) AS BIGINT) AS bytes_used,
      CAST(SUM(out_checksum) AS BIGINT) AS checksum_mass,
      MIN(out_checksum) AS min_checksum,
      MAX(out_checksum) AS max_checksum
    FROM oct GROUP BY octave ORDER BY octave"""))

  def all: Seq[Q] = Seq(q117, q129, q178, q180)
}
