#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --selftest

Builds graft and the harness from source on first use (perfbench/build.sbt),
runs the workload in a fresh directory under perfbench/.runs/ that is
deleted afterwards, checks the outputs, and prints the metrics. The last
line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to perfbench/out/. The exit code is
non-zero when an output is wrong or an operation failed. --selftest plants one fault in the
workload's output and exits 0 only if the check catches it.

See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
# the workloads BENCHMARK.json lists, then stream_append, which runs only by
# name: four workloads do not fit the benchmark's run budget (README.md)
WORKLOADS = ["sync_catalog", "stream_scd2", "curation_batch", "stream_append"]
STARTED = time.monotonic()
# a run must end within 180 s; the one that builds first may take 900 s
RUN_LIMIT_S, BUILD_LIMIT_S = 170, 880
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", BENCH / "src", ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless this exact source tree was
    built already; returns (classpath, JVM options)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources next to {BENCH.name}/; run from a graft checkout")
    digest = sources_digest()
    stamp, spec = TARGET / "built.sha256", TARGET / "launch.txt"
    if not (stamp.is_file() and spec.is_file() and stamp.read_text() == digest):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                       + (f" -Dsbt.repository.config={repos}" if repos.is_file() else ""))
        log = BENCH / "build.log"
        with open(log, "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=BUILD_LIMIT_S - (time.monotonic() - STARTED))
        if r.returncode != 0 or not spec.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            fail("build failed")
        stamp.write_text(digest)
    lines = spec.read_text().splitlines()
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]


def run_jvm(classpath, opts, args, run_root, limit_s):
    cpus = str(len(os.sched_getaffinity(0)))
    for d in ("tmp", "local"):
        (run_root / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=str(run_root / "local"))
    env.pop("SPARK_HOME", None)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_root / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={run_root / 'warehouse'}",
            f"-Dderby.system.home={run_root}"] + opts
           + ["-cp", classpath, "perfbench.Main"] + args)
    log = run_root / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"the workload did not finish within {limit_s:.0f} s")
    if p.returncode != 0:
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"the JVM exited with code {p.returncode}")


def oracle_check(info, run_root):
    """The curation results against their DuckDB oracle SQL, compared by
    graft's own scripts/check_oracle.py (sorted columns, normalised
    dtypes, row-for-row)."""
    res = Path(info["results_dir"])
    (res / "oracle_sql.json").write_text(json.dumps(info["oracle_sql"]))
    r = subprocess.run([sys.executable, str(ROOT / "scripts" / "check_oracle.py"),
                        info["data_dir"], str(res)], capture_output=True, text=True,
                       cwd=run_root, timeout=120)
    lines = r.stdout.strip().splitlines()
    bad = [l for l in lines if l.startswith("FAIL")]
    return [{"name": "curation.oracle", "ok": r.returncode == 0 and not bad,
             "detail": "; ".join(bad[:3]) or (lines[-1] if lines else r.stderr[-300:])}]


# ------------------------------------------------------------------ metrics

def tail(values):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples). Fewer than 11 samples: the maximum."""
    v, n = sorted(values), len(values)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def geomean(values):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in values) / len(values))


def per_name(ops):
    """Each distinct operation (a table, a query, a micro-batch) once, at
    the median of its runs over the passes."""
    runs = {}
    for o in ops:
        runs.setdefault(o["name"], []).append(o["seconds"])
    return [statistics.median(v) for v in runs.values()]


def end_to_end(s):
    ops = [o for o in s["ops"] if not o["traced"]]
    secs = per_name(ops)
    passes = [p["seconds"] for p in s["passes"] if not p["traced"]]
    if s["workload"] == "curation_batch":
        # the corpus rows the mix reads, per second of mix
        rows = sum(s["info"]["input_rows"].values()) * len(passes)
        busy = sum(passes)
    else:
        rows, busy = sum(o["rows"] for o in ops), sum(o["seconds"] for o in ops)
    t, pct, n = tail(secs)
    m = {
        "setup_s": (s["session_start_s"] + s["setup_once_s"] + statistics.median(s["setup_reps_s"]), "s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "op_geomean_s": (geomean(secs), "s"),
        "pass_s": (statistics.median(passes), "s"),
        "rows_per_s": (rows / busy, "1/s"),
    }
    # a run has 4 to 8 operations, so its tail is one sample: printed, not
    # reported (its spread over seeds exceeded every allowed bound)
    print(f"  op_tail_s {t:.6f} s (p{pct:.1f} of {n} operations; not a reported metric)")
    notes = {"op_p50_s": f"{n} operations",
             "pass_s": f"median of {len(passes)} passes",
             "setup_s": f"session {s['session_start_s']:.3f} s + once {s['setup_once_s']:.3f} s"
                        f" + median of {len(s['setup_reps_s'])} set-ups {s['setup_reps_s']}"}
    return m, notes


def nest(spans, tol=1.0):
    """Assigns each span its parent: the smallest span that contains it
    (within `tol` ms, the resolution of Spark's event times)."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i]["start"], -spans[i]["end"]))
    stack = []
    for i in order:
        s = spans[i]
        while stack and spans[stack[-1]]["end"] + tol < s["end"]:
            stack.pop()
        s["parent"] = stack[-1] if stack else None
        stack.append(i)


def union_len(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


OP_LAYERS = {"sync", "stream", "curation"}


def per_layer(s, spans):
    """Per-layer metrics of the traced passes, each op's numbers taken from
    the spans inside its interval; every metric is present in every
    workload, 0 where the workload does not reach the layer."""
    cores = s["cores"]
    traced = [o for o in s["ops"] if o["traced"]]
    # the first pass runs some code paths for the first time; the overhead
    # compares traced passes with the untraced ones after it
    untraced = [o for o in s["ops"] if not o["traced"] and o["pass"] > 1]
    for i, sp in enumerate(spans):
        sp["id"] = i
    # micro-batches come from the streaming listener; the other ops from
    # the harness's own spans around each call
    op_spans = [sp for sp in spans if sp["layer"] in OP_LAYERS and sp["name"] != "stream.start"]
    nest(spans)
    assign_traces(spans)
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)

    def inside(op, pred):
        return [x for x in spans if x is not op and pred(x)
                and x["start"] >= op["start"] - 1 and x["end"] <= op["end"] + 1]

    agg = {}

    def add(k, v):
        agg[k] = agg.get(k, 0.0) + v

    for op in op_spans:
        wall = (op["end"] - op["start"]) / 1e3
        stages = inside(op, lambda x: x["layer"] == "spark.stage")
        store = inside(op, lambda x: x["layer"] == "store")
        add("n", 1)
        add("wall", wall)
        add("spark.jobs", len(inside(op, lambda x: x["name"] == "spark.job")))
        add("spark.plan_s", sum(x["end"] - x["start"] for x in inside(op, lambda x: x["layer"] == "spark.plan")) / 1e3)
        for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "input_rows", "output_rows"):
            add(f"spark.{k}", sum(x["attrs"].get(k, 0.0) for x in stages))
        add("busy", union_len([(max(x["start"], op["start"]), min(x["end"], op["end"])) for x in stages]) / 1e3)
        for name in ("read", "watermark", "write", "write_atomic", "append"):
            add(f"store.{name}_s", sum(x["end"] - x["start"] for x in store if x["name"] == f"store.{name}") / 1e3)
        add("store_union", union_len([(x["start"], x["end"]) for x in store]) / 1e3)
        if op["layer"] == "stream":
            a = op["attrs"]
            for ph, key in (("addBatch", "add_batch_s"), ("latestOffset", "latest_offset_s"),
                            ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s"),
                            ("queryPlanning", "query_planning_s")):
                add(f"stream.{key}", a.get(f"phase.{ph}", 0.0))
            add("stream.lifecycle_s", a.get("phase.triggerExecution", 0.0) - a.get("phase.addBatch", 0.0))
            add("stream.input_rows", a.get("input_rows", 0.0))

    n = agg.get("n", 0.0) or 1.0
    mean = lambda k: agg.get(k, 0.0) / n
    wall = agg.get("wall", 0.0) or 1e-9
    delta = sum(o["rows"] for o in traced)
    m = {k: mean(k) for k in ("spark.jobs", "spark.tasks", "spark.plan_s", "spark.executor_run_s",
                              "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
                              "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_rows",
                              "spark.output_rows")}
    m["spark.core_util"] = agg.get("spark.executor_run_s", 0.0) / (wall * cores)
    m["spark.driver_idle_share"] = 1.0 - agg.get("busy", 0.0) / wall
    is_sync, is_stream = s["workload"] == "sync_catalog", s["workload"].startswith("stream_")
    m["sync.run_s"] = mean("wall") if is_sync else 0.0
    m["sync.driver_s"] = (mean("wall") - mean("store_union")) if is_sync else 0.0
    m["store.read_s"] = mean("store.read_s") + mean("store.watermark_s")
    m["store.write_s"] = mean("store.write_s")
    m["sync.rewrite_ratio"] = agg.get("spark.output_rows", 0.0) / delta if is_sync and delta else 0.0
    m["sync.scan_ratio"] = agg.get("spark.input_rows", 0.0) / delta if is_sync and delta else 0.0
    for k in ("add_batch_s", "lifecycle_s", "latest_offset_s", "wal_commit_s", "commit_offsets_s",
              "query_planning_s"):
        m[f"stream.{k}"] = mean(f"stream.{k}") if is_stream else 0.0
    starts = [o["extra"]["start_s"] for o in traced if o["extra"].get("start_s", -1) >= 0]
    m["stream.start_s"] = statistics.mean(starts) if starts else 0.0
    m["stream.source_reads_per_batch"] = agg.get("stream.input_rows", 0.0) / delta if is_stream and delta else 0.0
    m["store.write_atomic_s"] = mean("store.write_atomic_s")
    m["store.append_s"] = mean("store.append_s")
    m["stream.rows_written_per_input_row"] = agg.get("spark.output_rows", 0.0) / delta if is_stream and delta else 0.0
    states = s["info"].get("state_rows", [])
    m["stream.state_rows"] = statistics.mean(states) if states else 0.0
    cold = s["info"].get("cold_s", {})
    for q in s["mix"]:
        warm = [o["seconds"] for o in s["ops"] if o["kind"] == "curation" and o["name"] == q]
        w = statistics.median(warm) if warm else 0.0
        m[f"curation.{q}.wall_s"] = w
        m[f"curation.{q}.cold_minus_warm_s"] = cold[q] - w if q in cold and warm else 0.0
    mt = statistics.mean(o["seconds"] for o in traced) if traced else 0.0
    mu = statistics.mean(o["seconds"] for o in untraced) if untraced else 0.0
    m["trace.overhead_share"] = mt / mu - 1.0 if mt and mu else 0.0
    # peak memory varies by more than a tenth between runs, so it is a
    # per-layer number, not an end-to-end one
    m["jvm.rss_peak_mb"] = s["rss_peak_mb"]

    # self time per layer, over the spans of operations: a span's duration
    # minus what its children cover
    self_t = {}
    for sp in spans:
        if sp["layer"] == "spark.stage" or sp["trace"] is None:
            continue
        kids = [c for c in children.get(sp["id"], []) if c["layer"] != "spark.stage"]
        st = (sp["end"] - sp["start"]) - union_len([(c["start"], c["end"]) for c in kids])
        self_t[sp["layer"]] = self_t.get(sp["layer"], 0.0) + max(st, 0.0) / 1e3
    return {k: (v, unit_of(k)) for k, v in m.items()}, self_t


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.jobs", "spark.tasks", "spark.input_rows", "spark.output_rows", "stream.state_rows"):
        return "count"
    return "ratio"


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft's benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="plant a fault in the output; succeed only if the check catches it")
    a = ap.parse_args()

    built_before = (TARGET / "built.sha256").is_file()
    classpath, opts = build()
    limit = (BUILD_LIMIT_S if not built_before else RUN_LIMIT_S) - (time.monotonic() - STARTED)
    run_root = BENCH / ".runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    try:
        samples_path = run_root / "samples.json"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", str(run_root / "data"), "--out", str(samples_path)]
        run_jvm(classpath, opts, args + (["--plant"] if a.selftest else []), run_root, limit)
        s = json.loads(samples_path.read_text())
        checks = s["checks"]
        if a.workload == "curation_batch":
            checks += oracle_check(s["info"], run_root)
        spans = None
        if a.trace:
            spans = [json.loads(l) for l in (run_root / "samples.json.spans.jsonl").read_text().splitlines() if l]
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    bad = [c for c in checks if not c["ok"]]
    print(f"workload {a.workload}  seed {a.seed}  cores {s['cores']}  trace {a.trace}")
    for c in checks:
        print(f"  check {c['name']:<22} {'ok' if c['ok'] else 'MISMATCH'}  {c['detail']}")
    if a.selftest:
        print(f"selftest: planted fault {'caught' if bad else 'NOT caught'} by "
              f"{', '.join(c['name'] for c in bad) or 'no check'}")
        sys.exit(0 if bad else 1)

    # an operation that threw records no sample, so its failure decides
    # correctness as a wrong output does
    failed_ops = s["failed"]
    correct = not bad and failed_ops == 0
    attempted = len(s["ops"]) + failed_ops + len(checks)
    failed = failed_ops + len(bad)
    if not s["ops"]:
        metrics, notes = {}, {}
    elif a.trace:
        metrics, self_t = per_layer(s, spans)
        write_spans(a, spans)
        total = sum(self_t.values()) or 1.0
        print(f"  self time per layer (traced passes, {sum(1 for o in s['ops'] if o['traced'])} operations):")
        for layer, t in sorted(self_t.items(), key=lambda kv: -kv[1]):
            print(f"    {layer:<12} {t:9.3f} s  {100 * t / total:5.1f}%")
        notes = {}
    else:
        metrics, notes = end_to_end(s)
    print(f"  error_rate {failed / attempted:.4f} ({failed_ops} operations and {len(bad)} checks"
          f" failed, of {attempted} attempted)")
    by_name = {}
    for o in s["ops"]:
        by_name.setdefault(o["name"] if o["kind"] != "stream" else "batch", []).append(o["seconds"])
    print("  median s per operation: " + ", ".join(
        f"{k} {statistics.median(v):.3f} (n={len(v)})" for k, v in by_name.items()))
    for k, (v, unit) in metrics.items():
        print(f"  {k:<45} {v:14.6f} {unit:<6} {notes.get(k, '')}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


def assign_traces(spans):
    """Each span's trace id: the id of the operation span it sits in, or
    None for work between operations (staging inputs, checks)."""
    by_id = {sp["id"]: sp for sp in spans}
    for sp in spans:
        op, p = None, sp
        while p is not None:
            if p["layer"] in OP_LAYERS and p["name"] != "stream.start":
                op = p["id"]
            p = by_id.get(p["parent"]) if p["parent"] is not None else None
        sp["trace"] = op


def write_spans(a, spans):
    """The traced run's spans as JSON lines, with parent and trace id."""
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    with open(out / f"{a.workload}-{a.seed}.spans.jsonl", "w") as f:
        for sp in spans:
            f.write(json.dumps(sp) + "\n")


if __name__ == "__main__":
    main()
