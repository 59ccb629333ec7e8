#!/usr/bin/env python3
"""Per-pass, per-call stage ledger of a traced perfbench run.

    python3 tools/stage_ledger.py <workload | path/to/record.json>

A workload name reads ``.bench_build/work/<workload>/record.json`` under
the repository root, the record that ``perfbench/run.py --trace 1`` keeps
from its last run.  For every traced pass it prints one row per call
(a catalog query, a job, a streaming twin) and one row for the whole
pass: Spark jobs, stages, tasks, stages that ran a single task, and the
wall time of the call.  Only traced passes carry listener records; the
untraced ones are listed without counts.

Jobs and stages are attributed through their job group, which the
harness sets to the id of the innermost build/exec span (streaming runs
map onto that span through ``group_alias``).  The tool reads the record
only; it writes nothing.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(arg):
    path = arg if arg.endswith(".json") else os.path.join(
        ROOT, ".bench_build", "work", arg, "record.json")
    with open(path) as f:
        return json.load(f)


def ledger(rec):
    """Rows (pass id, pass kind, call name, jobs, stages, tasks, 1-task
    stages, wall ms); counts are None for an untraced pass."""
    spans = {s["id"]: s for s in rec["spans"]}
    alias = {g: str(i) for g, i in rec.get("group_alias", {}).items()}

    def owner(group, kind):
        """Id of the `kind` span enclosing the leaf span of a job group."""
        g = alias.get(group, group)
        sid = int(g) if g.isdigit() else None
        while sid in spans:
            if spans[sid]["kind"] == kind:
                return sid
            sid = spans[sid]["parent"]
        return None

    def counts(sid, kind):
        jobs = sum(1 for j in rec["jobs"] if owner(j["group"], kind) == sid)
        st = [s for s in rec["stages"] if owner(s["group"], kind) == sid]
        return [jobs, len(st), sum(s["tasks"] for s in st),
                sum(1 for s in st if s["tasks"] == 1)]

    traced_pass = {s["pass"]: s for s in rec["spans"] if s["kind"] == "pass" and s["pass"] >= 0}
    rows = []
    for p in rec["passes"]:
        ps = traced_pass.get(p["id"]) if p["traced"] else None
        if ps is None:
            rows.append((p["id"], p["kind"], "(pass)", None, None, None, None,
                         p["wall_s"] * 1000.0))
            continue
        calls = sorted((s for s in rec["spans"] if s["kind"] == "call" and s["parent"] == ps["id"]),
                       key=lambda s: s["start_ns"])
        for c in calls:
            rows.append((p["id"], p["kind"], c["name"], *counts(c["id"], "call"),
                         (c["end_ns"] - c["start_ns"]) / 1e6))
        rows.append((p["id"], p["kind"], "(pass)", *counts(ps["id"], "pass"),
                     (ps["end_ns"] - ps["start_ns"]) / 1e6))
    return rows


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    rec = load(argv[1])
    head = ("pass", "kind", "call", "jobs", "stages", "tasks", "1-task", "wall_ms")
    fmt = "%4s  %-6s  %-40s %6s %7s %6s %7s %9s"
    print(fmt % head)
    for r in ledger(rec):
        cells = [("-" if v is None else v) for v in r[:7]]
        print(fmt % (*cells, "%.0f" % r[7]))


if __name__ == "__main__":
    main(sys.argv)
