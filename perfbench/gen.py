"""Seeded input generator for the benchmark.

Writes parquet files in the layouts the engine reads:

* ``events.parquet`` -- same schema as the committed test tables
  (event_id, ts, user_id, event_type, value, props), one row group.
* ``recording.parquet`` -- a flat order-book recording in the reference
  layout (``graft.book.BookSchema.forDepth``): 8 meta columns, then
  ``bidK_{price,size}`` and ``askK_{price,size}`` for K = 1..depth.
  Many series (exchange_id x symbol), with injected NULL levels, NULL
  bests and crossed books at fixed rates.
* ``embeddings.parquet`` / ``documents.parquet`` -- clustered 64-dim
  vectors and a word-salad corpus with injected near-duplicate groups.

The same seed always gives the same bytes of data.  The description of
what was written (rows, series, depth, injected rates) is returned and
recorded with the run.

Usage: python3 gen.py <out_dir> <seed> <workload>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# injected data-quality rates of the recording
NULL_BEST_RATE = 0.01
CROSSED_RATE = 0.01
NULL_LEVEL_RATE = 0.02


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def events(out_dir, seed, rows):
    rng = np.random.default_rng([seed, 1])
    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
    # ~26 s mean spacing: 100k rows span a month, like the test tables
    ts = start_us + np.cumsum(rng.integers(1, 52_000_000, rows))
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, rows), type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, rows)]),
    })
    _write(table, os.path.join(out_dir, "events.parquet"))
    return {"rows": rows}


def recording(out_dir, seed, rows, series, depth):
    rng = np.random.default_rng([seed, 2])
    n_ex = 4
    sid = np.arange(rows) % series  # round-robin: every series sees rows/series ticks
    tick = np.arange(rows) // series
    exchange = np.array(["EX%d" % (s % n_ex) for s in range(series)])[sid]
    symbol = np.array(["SYM%03d" % (s // n_ex) for s in range(series)])[sid]
    ts_ms = 1704067200000 + tick * 250 + rng.integers(0, 200, rows)
    # per-series random walk of the mid in 0.01 ticks
    steps = rng.integers(-2, 3, rows).astype(np.float64) * 0.01
    mid = np.empty(rows)
    base = 100.0 + np.arange(series) * 1.5
    walk = np.zeros(series)
    for i in range(0, rows, series):  # vectorised per tick across series
        j = slice(i, min(i + series, rows))
        walk[: j.stop - j.start] += steps[j]
        mid[j] = base[: j.stop - j.start] + walk[: j.stop - j.start]
    half = 0.005 * rng.integers(1, 4, rows)
    bid = np.round(mid - half, 2)
    ask = np.round(mid + half, 2)
    crossed = rng.random(rows) < CROSSED_RATE
    bid = np.where(crossed, ask + 0.01, bid)
    null_bid = rng.random(rows) < NULL_BEST_RATE
    null_ask = rng.random(rows) < NULL_BEST_RATE
    cols = {
        "ts_ms": pa.array(ts_ms, type=pa.int64()),
        "iso": pa.array([None] * rows, type=pa.string()),
        "exchange_id": pa.array(exchange),
        "symbol": pa.array(symbol),
        "book_level": pa.array(["L%d" % depth] * rows),
        "raw_nonce": pa.array(np.arange(rows, dtype=np.int64)),
        "best_bid": pa.array(bid, mask=null_bid),
        "best_ask": pa.array(ask, mask=null_ask),
    }
    for side, sign, best in (("bid", -1.0, bid), ("ask", 1.0, ask)):
        for k in range(1, depth + 1):
            price = np.round(best + sign * 0.01 * (k - 1), 2)
            size = rng.integers(1, 50, rows).astype(np.float64)
            cols["%s%d_price" % (side, k)] = pa.array(
                price, mask=rng.random(rows) < NULL_LEVEL_RATE)
            cols["%s%d_size" % (side, k)] = pa.array(
                size, mask=rng.random(rows) < NULL_LEVEL_RATE)
    order = [c for c in cols if not c.startswith(("bid", "ask"))]
    order += ["bid%d_%s" % (k, f) for k in range(1, depth + 1) for f in ("price", "size")]
    order += ["ask%d_%s" % (k, f) for k in range(1, depth + 1) for f in ("price", "size")]
    _write(pa.table({c: cols[c] for c in order}), os.path.join(out_dir, "recording.parquet"))
    return {"rows": rows, "series": series, "depth": depth,
            "null_best_rate": NULL_BEST_RATE, "crossed_rate": CROSSED_RATE,
            "null_level_rate": NULL_LEVEL_RATE,
            "null_best_rows": int(null_bid.sum() + null_ask.sum()),
            "crossed_rows": int(crossed.sum())}


def embeddings(out_dir, seed, rows, clusters=10, dim=64):
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0.0, 0.15, (clusters, dim))
    label = rng.integers(0, clusters, rows)
    vec = (centers[label] + rng.normal(0.0, 0.05, (rows, dim))).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    _write(table, os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": rows, "clusters": clusters, "dim": dim}


def documents(out_dir, seed, rows, dup_rate=0.04):
    rng = np.random.default_rng([seed, 4])
    texts = []
    n_dups = 0
    for i in range(rows):
        if texts and rng.random() < dup_rate:
            # near-duplicate of a recent document: one word replaced
            words = texts[int(rng.integers(max(0, i - 50), i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            n_dups += 1
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(rows, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), rows)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(rows)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return {"rows": rows, "near_dup_rows": n_dups, "dup_rate": dup_rate}


# Inputs of each workload: generator -> size arguments.
SIZES = {
    "lob_scaled": {"events": (20_000,), "recording": (10_000, 64, 10)},
    "catalog_iterative": {"embeddings": (1000,), "documents": (2000,)},
}


def generate(out_dir, seed, workload):
    """Writes the workload's inputs; returns what was written."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events, "recording": recording,
              "embeddings": embeddings, "documents": documents}
    return {name: makers[name](out_dir, seed, *size)
            for name, size in SIZES[workload].items()}


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
