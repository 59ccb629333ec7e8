"""Output checks of the benchmark, run after the timed region.

Every dumped catalog query is compared with its DuckDB oracle
(``graft.SparkEntry.oracleSql``) over the same generated tables: same
columns, same dtypes, same values in emitted order or after a row sort
(the comparison ``tools/check_oracle.py`` makes).  The ``metrics_job``
dump -- ``MetricsJob``'s 10-decimal formatted row metrics -- is compared
with q11's row-metric formulas at 10-decimal resolution.

q177's oracle finds connected components with a recursive CTE that runs
for minutes in DuckDB.  Its check runs the oracle's own edge chain (the
MinHash LSH candidates verified at Jaccard >= 0.8) in DuckDB and derives
components, triangles, wedges and transitivity from those edges here.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _exact(got, exp):
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return "columns %s != %s" % (list(got.columns), list(exp.columns))
    if got.shape != exp.shape:
        return "shape %s != %s" % (got.shape, exp.shape)
    bad = [c for c in got.columns if str(got[c].dtype) != str(exp[c].dtype)]
    if bad:
        return "dtypes differ: %s" % ", ".join(
            "%s spark=%s duck=%s" % (c, got[c].dtype, exp[c].dtype) for c in bad[:4])
    same = all(((got[c] == exp[c]) | (got[c].isna() & exp[c].isna())).all() for c in got.columns)
    if same:
        return None
    gs = got.sort_values(list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    return None if gs.equals(es) else "values differ"


def _formatted(got, exp, key):
    """MetricsJob renders each metric as a 10-decimal string ('' = NULL)."""
    got = got[list(exp.columns)].sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    if got.shape != exp.shape or not (got[key] == exp[key]).all():
        return "rows differ: %s vs %s" % (got.shape, exp.shape)
    for c in exp.columns:
        if c == key:
            continue
        a = pd.to_numeric(got[c].replace("", np.nan)).to_numpy(dtype=float)
        b = exp[c].to_numpy(dtype=float)
        both_null = np.isnan(a) & np.isnan(b)
        close = np.abs(a - b) <= 5.1e-11 + 1e-15 * np.abs(b)
        bad = ~(both_null | close)
        if bad.any():
            i = int(np.argmax(bad))
            return "%s: %d rows differ, first %r vs %r" % (c, int(bad.sum()), a[i], b[i])
    return None


def graph_triangles(edges):
    """q177's rows from an undirected edge list: per connected component
    (id = its smallest node) with at least one edge, the node, edge,
    triangle and wedge counts and 3000 * triangles div wedges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for v in adj:
        groups.setdefault(find(v), []).append(v)
    rows = []
    for g, nodes in groups.items():
        n_edges = sum(len(adj[v]) for v in nodes) // 2
        tri = sum(len(adj[a] & adj[b]) for a in nodes for b in adj[a] if a < b) // 3
        wedges = sum(len(adj[v]) * (len(adj[v]) - 1) // 2 for v in nodes)
        rows.append((min(nodes), len(nodes), n_edges, tri, wedges,
                     3000 * tri // wedges if wedges else None))
    return sorted(rows)


def _q177(con, sql, got):
    cut = sql.index("), esym AS (")
    edges = con.execute(sql[:cut] + ") SELECT id_a, id_b FROM ver").fetchall()
    exp = graph_triangles(edges)
    cols = ["group_id", "n_nodes", "n_edges", "n_triangles", "n_wedges",
            "transitivity_permille"]
    have = sorted(tuple(None if pd.isna(x) else int(x) for x in r)
                  for r in got[cols].itertuples(index=False))
    if have != exp:
        return "graph rows differ: %d vs %d expected" % (len(have), len(exp))
    return None


def check_dump(dump, data_dir):
    """Returns {name: None | reason} for every query in the dump."""
    oracle_path = os.path.join(dump, "oracle_sql.json")
    if not os.path.exists(oracle_path):
        return {}
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-8], os.path.join(data_dir, f)))
    results = {}
    for name, sql in sorted(json.load(open(oracle_path)).items()):
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/*.parquet')"
                              % os.path.join(dump, name)).fetchdf()
            if name == "q177_dup_graph_triangles":
                results[name] = _q177(con, sql, got)
                continue
            exp = con.execute(sql).fetchdf()
            results[name] = (_formatted(got, exp, "raw_nonce") if name == "metrics_job"
                             else _exact(got, exp))
        except Exception as e:  # a failing oracle is a failed check, not a crash
            results[name] = "error: %s" % str(e)[:300]
    con.close()
    return results
