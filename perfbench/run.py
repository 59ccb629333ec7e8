#!/usr/bin/env python3
"""Benchmark of the engine's public entry points, one JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the engine and the harness
(``perfbench/build.py``) if their sources changed, generates the seeded
inputs (``perfbench/gen.py``), runs ``perfbench.Harness`` in a fresh JVM,
checks the outputs (``perfbench/check.py``) and prints one line per
metric followed by a JSON summary as the last line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with spans, job groups and Spark listeners on and prints the
per-layer metrics.  Every file the run writes goes under
``.bench_build/`` in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

MB = 1024.0 * 1024.0

# Fixed for every workload, never read from the environment.  local[N],
# shuffle partitions, set-up repetitions and pass counts are constants of
# perfbench.Harness; input sizes are in gen.SIZES.
WORKLOADS = ("lob_scaled", "catalog_iterative")
HEAP = "2g"
JVM_TIMEOUT_S = 165

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(root, work, data, workload, seconds, trace):
    out = os.path.join(work, "record.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP]
           + [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.local.dir=" + os.path.join(work, "local"),
              "-cp", build.classpath(root), "perfbench.Harness",
              "--workload", workload, "--data", data, "--work", work, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness JVM timed out after %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness JVM failed (exit %d):\n%s" % (rc, tail))
    with open(out) as f:
        return json.load(f)


def timed(rec, traced=None):
    ps = [p for p in rec["passes"] if p["kind"] == "timed"]
    return ps if traced is None else [p for p in ps if p["traced"] == traced]


def trigger_ms(passes):
    return [b["durations_ms"].get("triggerExecution", 0)
            for p in passes for b in p["stream_progress"]]


def end_to_end(rec):
    """(value, samples) per end-to-end metric."""
    ps = timed(rec, traced=False)
    first = [p for p in rec["passes"] if p["kind"] == "first"][0]
    batches = trigger_ms(ps) or [c for p in ps for c in p["call_ms"]]
    return {
        "setup_s": (stats.median(rec["setup_s"]), len(rec["setup_s"])),
        "first_pass_s": (first["wall_s"], 1),
        "pass_s": (stats.median([p["wall_s"] for p in ps]), len(ps)),
        "pass_cpu_s": (stats.median([p["cpu_s"] for p in ps]), len(ps)),
        "heap_live_mb": (max(p["live_heap_b"] for p in rec["passes"]) / MB, len(rec["passes"])),
        "batch_ms_p50": (stats.median(batches), len(batches)),
    }


def _ms_interval(x):
    return (x["submit_ms"], x["end_ms"])


def _spark_pass(rec, p_span, stages, phases, cores):
    lo, hi = p_span["start_ns"] / 1e6, p_span["end_ns"] / 1e6
    wall = (hi - lo) / 1e3
    st = sorted((s for s in stages if lo <= s["submit_ms"] <= hi), key=lambda s: s["submit_ms"])
    jobs = [j for j in rec["jobs"] if lo <= j["start_ms"] <= hi]
    seen, rereads = set(), 0
    for s in st:
        for sh in s["reads_shuffles"]:
            rereads += sh in seen
            seen.add(sh)
    run_s = sum(s["run_ms"] for s in st) / 1e3
    planning = sum(ph["end_ms"] - ph["start_ms"] for ph in phases
                   if lo <= ph["start_ms"] <= hi and ph["phase"] != "parsing")
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(st),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "spark.shuffle_mb": sum(s["shuffle_write_b"] for s in st) / MB,
        "spark.spill_mb": sum(s["spill_b"] for s in st) / MB,
        "spark.planning_ms": planning,
        "spark.driver_gap_s": stats.driver_gap((lo, hi), [_ms_interval(s) for s in st]) / 1e3,
        "spark.busy_core_frac": run_s / (wall * cores),
        "spark.single_task_stage_s": (sum(s["end_ms"] - s["submit_ms"] for s in st
                                          if s["tasks"] == 1) / 1e3 if cores > 1 else 0.0),
        "spark.shuffle_rereads": rereads,
    }


def per_layer(rec, query_names, cores):
    """Median over the traced timed passes of every per-layer metric;
    set-up metrics come from the traced (last) set-up.

    Time in a layer that only one workload calls is given as a share of
    the pass (``*_frac``), so the workload that bypasses the layer reads
    a zero share rather than a zero time."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    alias = {g: i for g, i in rec["group_alias"].items()}

    def span_of_group(g):
        if g in alias:
            return by_id.get(alias[g])
        return by_id.get(int(g)) if g.isdigit() else None

    stages = rec["stages"]
    for s in stages:
        sp = span_of_group(s["group"])
        s["span"] = sp["id"] if sp else None
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def named(pass_id, name, kind):
        return [s for s in spans if s["pass"] == pass_id and s["name"] == name
                and s["kind"] == kind]

    # set-up (pass -1): Tables.apply build+exec and the stages they ran
    tables_spans = named(-1, "Tables.apply", "build") + named(-1, "Tables.apply", "exec")
    t_ids = {s["id"] for s in tables_spans}
    t_stages = [s for s in stages if s["span"] in t_ids]
    setup = {
        "Tables.load_s": sum(dur(s) for s in tables_spans),
        "Tables.scan_tasks": sum(s["tasks"] for s in t_stages),
        "Tables.input_rows": sum(s["input_rows"] for s in t_stages),
    }

    rows = []
    for p in timed(rec, traced=True):
        pid = p["id"]
        p_span = [s for s in spans if s["pass"] == pid and s["kind"] == "pass"][0]
        m = _spark_pass(rec, p_span, stages, rec["phases"], cores)
        mj_exec = {s["id"] for s in named(pid, "jobs.MetricsJob.run", "exec")}
        mj_stages = [s for s in stages if s["span"] in mj_exec]
        seen, rereads = set(), 0
        for s in sorted(mj_stages, key=lambda s: s["submit_ms"]):
            for sh in s["reads_shuffles"]:
                rereads += sh in seen
                seen.add(sh)
        calls = [s for s in spans if s["pass"] == pid and s["kind"] == "call"]
        prog = p["stream_progress"]
        last = {}
        for b in prog:  # last progress of each streaming query
            last[b["run_id"]] = b
        trig = sum(b["durations_ms"].get("triggerExecution", 0) for b in prog)
        wall = dur(p_span)

        def frac(name, kind):
            return sum(dur(s) for s in named(pid, name, kind)) / wall

        def trig_frac(key):
            return sum(b["durations_ms"].get(key, 0) for b in prog) / trig if trig else 0.0
        m.update({
            "io.read_frac": frac("io.BookIO.readAny", "build"),
            "io.write_frac": frac("io.BookIO.writeAnyWithFallback", "exec"),
            "io.write_mb": p_span["attrs"].get("io_write_bytes", 0) / MB,
            "jobs.MetricsJob.build_frac": frac("jobs.MetricsJob.run", "build"),
            "jobs.MetricsJob.exec_frac": frac("jobs.MetricsJob.run", "exec"),
            "jobs.MetricsJob.stages": len(mj_stages),
            "jobs.MetricsJob.max_stage_tasks": max([s["tasks"] for s in mj_stages] or [0]),
            "jobs.MetricsJob.single_task_stage_frac": sum(
                s["end_ms"] - s["submit_ms"] for s in mj_stages if s["tasks"] == 1) / 1e3 / wall,
            "jobs.MetricsJob.shuffle_rereads": rereads,
            "util.ckpt_files": p["ckpt_files"],
            "util.ckpt_mb": p["ckpt_b"] / MB,
            "Q.cache_blocks": sum(s["attrs"].get("cache_blocks", 0) for s in calls),
            "Q.cache_mb": sum(s["attrs"].get("cache_bytes", 0) for s in calls) / MB,
            "streaming.batches": len(prog),
            "streaming.queryPlanning_frac": trig_frac("queryPlanning"),
            "streaming.walCommit_frac": trig_frac("walCommit"),
            "streaming.commitOffsets_frac": trig_frac("commitOffsets"),
            "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
            "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / MB,
            "streaming.rows_per_s": (sum(b["rows"] for b in prog) / (trig / 1e3)) if trig else 0.0,
            "jvm.jit_timed_s": p["jit_ms"] / 1e3,
            "jvm.gc_s": p["gc_ms"] / 1e3,
            "jvm.old_gen_peak_mb": p["peak_old_b"] / MB,
            "pass.self_s": stats.self_time(
                (p_span["start_ns"], p_span["end_ns"]),
                [(c["start_ns"], c["end_ns"]) for c in children.get(p_span["id"], [])]) / 1e9,
        })
        for q in query_names:
            m["query.%s.wall_frac" % q] = sum(
                dur(s) for s in calls if s["name"] == "query." + q) / wall
        rows.append(m)
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    out.update(setup)
    first = [p for p in rec["passes"] if p["kind"] == "first"][0]
    out["jvm.jit_s"] = first["jit_ms"] / 1e3
    traced = [p["wall_s"] for p in timed(rec, traced=True)]
    plain = [p["wall_s"] for p in timed(rec, traced=False)]
    out["trace.overhead_frac"] = stats.median(traced) / stats.median(plain) - 1.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build.build(root)

    # the work directory of the last run of each workload is kept for
    # inspection (inputs, outputs, jvm.log, record.json)
    work = os.path.join(root, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    t0 = time.time()
    inputs = gen.generate(data, a.seed, a.workload)
    t1 = time.time()
    host0, own0 = stats.read_proc_stat(), os.times()
    rec = run_jvm(root, work, data, a.workload, a.seconds, a.trace)
    host1, own1 = stats.read_proc_stat(), os.times()
    t2 = time.time()
    jiffies = ((own1.children_user - own0.children_user)
               + (own1.children_system - own0.children_system)) * os.sysconf("SC_CLK_TCK")
    ext = stats.ext_cpu_frac(host0, host1, jiffies)
    oracle = check.check_dump(rec["dump"], data)
    print("run phases: inputs %.1f s, JVM %.1f s, DuckDB checks %.1f s"
          % (t1 - t0, t2 - t1, time.time() - t2), file=sys.stderr)

    failures = [n for n, r in oracle.items() if r is not None]
    for n, c in (rec["jvm_checks"] or {}).items():
        if not isinstance(c, dict) or c.get("mismatched", 1) != 0:
            failures.append(n)
    if rec["error"]:
        failures.append(rec["error"])
    # an operation is a pass; the first pass also fails if its outputs fail a check
    attempted = len(rec["passes"])
    failed = sum(not p["ok"] or (p["kind"] == "first" and bool(failures))
                 for p in rec["passes"])

    print("inputs: %s" % json.dumps(inputs))
    print("checks: %d oracle comparisons, %d JVM-side; failures: %s"
          % (len(oracle), len(rec["jvm_checks"] or {}), failures or "none"))
    print("host.cpu_ext_frac %.4f (other processes' share of machine CPU)" % ext)
    if a.trace:
        names = [m["name"][len("query."):-len(".wall_frac")] for m in bench["per_layer"]
                 if m["name"].startswith("query.")]
        values = per_layer(rec, names, rec["cores"])
        values["host.cpu_ext_frac"] = ext
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        for m in wanted:
            print("%-48s %14.6f %s" % (m["name"], values[m["name"]], m["unit"]))
    else:
        values = end_to_end(rec)
        metrics = {}
        for m in bench["end_to_end"]:
            v, n = values[m["name"]]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print("%-16s %12.6f %-3s n=%d" % (m["name"], v, m["unit"], n))
    print("attempted %d failed %d" % (attempted, failed))
    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
