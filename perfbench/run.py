#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 15 --trace 0

Builds the engine from source if needed (`build.py`), generates the input
tables once per checkout (`gen_data.py`), runs the workload in one JVM
(`perfbench.Main`), turns the JVM's record log into metrics (`metrics.py`),
checks the outputs and prints, as its last line, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
The lines before it name every metric with its unit. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(HERE, ".build")
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def bench_metrics():
    """(gated end-to-end, per-layer) metric names -> units, as BENCHMARK.json
    lists them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


END_TO_END, PER_LAYER = bench_metrics()
# printed on untraced runs next to the gated metrics, not gated
REPORTED = {"cdc_live": {"streaming.freshness_p90_ms": "ms", "streaming.lag_end_s": "s"}}


class RunError(Exception):
    pass


# ------------------------------------------------------------------ helpers

def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def ensure_data(scale):
    """Input tables for `scale`, generated once per checkout."""
    import gen_data
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"sf{scale}-{version}")
    if not os.path.exists(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        print(f"[data] generating tables at scale {scale}", file=sys.stderr, flush=True)
        gen_data.generate(out, scale)
        open(os.path.join(out, ".complete"), "w").close()
    return out


def run_jvm(cp, work, main_args, deadline, heap="2g"):
    """Run perfbench.Main; returns (launch time ms, records). The JVM's own
    output goes to stderr so stdout carries only the result."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    records = os.path.join(work, "records.jsonl")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--work", work, "--records", records] + main_args)
    launch_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RunError("workload JVM exceeded the time limit")
    recs = []
    if os.path.exists(records):
        with open(records) as fh:
            recs = [json.loads(line) for line in fh if line.strip()]
    if rc != 0:
        fatal = [r["error"] for r in recs if r["type"] == "fatal"]
        raise RunError(f"workload JVM exited with {rc}: {fatal[:1]}")
    return launch_ms, recs


def of(recs, kind):
    return [r for r in recs if r["type"] == kind]


def one(recs, kind):
    rs = of(recs, kind)
    if not rs:
        raise RunError(f"no '{kind}' record")
    return rs[-1]


# ------------------------------------------------------------ fingerprints

def gate_hash(df):
    """The correctness gate's hash (tools/oracle_check.py): columns sorted by
    name, rows lexsorted, every cell's string form md5'd."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(str(v) for v in row) + "\x1e").encode())
    return h.hexdigest()


def fingerprint(path):
    import pandas as pd
    df = pd.read_parquet(path)
    try:
        digest = gate_hash(df)
    except TypeError:  # unsortable cells (arrays): hash the sorted row strings
        rows = sorted("\x1f".join(str(v) for v in r)
                      for r in df[sorted(df.columns)].itertuples(index=False))
        digest = "rows:" + hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return {"rows": int(len(df)), "hash": digest}


# ----------------------------------------------------------------- metrics

def window(recs):
    start = one(recs, "setup")["end_ms"]
    return start, one(recs, "measured_end")["t_ms"]


def live_metrics(recs, out):
    """cdc_live: tick freshness, end lag, generator lateness, backlog."""
    tag = {r["run_id"]: r["tag"] for r in of(recs, "pipeline")}
    ends = {r["batch_id"]: r["end_ms"] for r in of(recs, "batch") if r["tag"] == "live"}
    prog = [p for p in of(recs, "progress") if tag.get(p["run_id"]) == "live"]
    batches = [dict(p, end_ms=ends.get(p["batch_id"])) for p in prog]
    ticks = sorted(of(recs, "tick"), key=lambda t: t["k"])
    if not ticks:
        raise RunError("no ticks were scheduled")
    landed = M.attribute(ticks, batches)
    fresh = [b["end_ms"] - t["due_ms"] for t, b in zip(ticks, landed)
             if b is not None and b["end_ms"] is not None]
    consumed = [b and b["start_ms"] for b in landed]
    failed = len(ticks) - len(fresh)
    due = [t["due_ms"] for t in ticks]
    sched_end = one(recs, "schedule_end")["t_ms"]
    tail = [d for d in due if d >= due[0] + 0.75 * (sched_end - due[0])]
    lag = statistics.median(M.lag_at(t, ticks, consumed) for t in tail)
    late = [t["sent_ms"] - t["due_ms"] for t in ticks]
    backlog = [M.backlog_at(t["due_ms"], ticks, consumed) for t in ticks]
    quarter = max(1, len(ticks) // 4)
    out["streaming.freshness_p50_ms"] = M.percentile(fresh, 0.5) or 0.0
    out["latency_ms"] = out["streaming.freshness_p50_ms"]
    out["streaming.freshness_p90_ms"] = M.percentile(fresh, 0.9) or 0.0
    out["streaming.lag_end_s"] = lag / 1000
    out["sources.gen_late_max_ms"] = max(late)
    out["sources.gen_late_p50_ms"] = M.percentile(late, 0.5) or 0.0
    out["sources.backlog_rows_median"] = statistics.median(backlog)
    out["sources.backlog_rows_max"] = max(backlog)
    # backlog trend: on a rate the pipeline cannot sustain, q4 keeps growing
    # with the run length; on a sustained one it levels off
    out["sources.backlog_rows_q1"] = statistics.median(backlog[:quarter])
    out["sources.backlog_rows_q4"] = statistics.median(backlog[-quarter:])
    return len(ticks), failed, prog


def catchup_metrics(recs, out):
    """cdc_catchup: drain time and rate; rows land when their chunk does."""
    drains = of(recs, "drain")
    chunks = of(recs, "chunk")
    lat = [c["end_ms"] - c["due_ms"] for c in chunks]
    out["latency_ms"] = sum(x * c["rows"] for x, c in zip(lat, chunks)) / \
        max(1, sum(c["rows"] for c in chunks))
    secs = [(d["end_ms"] - d["start_ms"]) / 1000 for d in drains]
    out["pass_s"] = statistics.median(secs)
    out["streaming.catchup_rows_per_s"] = statistics.median(
        d["rows"] / s for d, s in zip(drains, secs))
    tags = {r["run_id"] for r in of(recs, "pipeline") if r["tag"].startswith("drain")}
    failed = sum(1 for c in chunks if not c["ok"])
    return len(chunks), failed, [p for p in of(recs, "progress") if p["run_id"] in tags]


def streaming_layers(recs, prog, out):
    """Per-trigger engine, state and sink figures over the measured window."""
    lo, hi = window(recs)
    prog = [p for p in prog if lo <= p["start_ms"] <= hi]
    data = [p for p in prog if p["rows"] > 0]
    rows = sum(p["rows"] for p in prog)
    out["streaming.triggers"] = len(prog)
    out["streaming.nodata_triggers"] = len(prog) - len(data)
    out["streaming.batch_rows"] = mean(p["rows"] for p in data)
    for k in ("plan_ms", "log_ms", "source_ms", "add_batch_ms"):
        out[f"streaming.{k}"] = mean(p[k] for p in prog)
    for k in ("commit_ms", "update_ms", "removal_ms"):
        out[f"state.{k}"] = mean(p[f"state_{k}"] for p in prog)
    for k in ("commit_ms", "update_ms"):
        out[f"state.{k}_per_1k_rows"] = \
            sum(p[f"state_{k}"] for p in prog) * 1000 / rows if rows else 0.0
    last = prog[-1] if prog else {}
    out["state.rows"] = last.get("state_rows", 0)
    out["state.bytes"] = last.get("state_bytes", 0)
    out["state.late_dropped"] = sum(p["state_late_dropped"] for p in prog)
    ids = {p["run_id"] for p in prog}
    sink = [b for b in of(recs, "batch") if b["run_id"] in ids and lo <= b["end_ms"] <= hi]
    for k in ("stage_ms", "delta_ms", "upsert_ms"):
        out[f"sinks.{k}"] = mean(b[k] for b in sink)
    out["sinks.upsert_rows"] = sum(b["upsert_rows"] for b in sink)
    return max(1, len(data))


def batch_metrics(recs, out):
    passes = of(recs, "pass")
    runs = of(recs, "query")
    ok = [r for r in runs if r["ok"]]
    by_query = {}
    for r in ok:
        by_query.setdefault(r["name"], []).append(r["end_ms"] - r["start_ms"])
    # each query's median over passes, so one disturbed pass does not move it
    out["latency_ms"] = mean(statistics.median(v) for v in by_query.values())
    out["pass_s"] = statistics.median((p["end_ms"] - p["start_ms"]) / 1000 for p in passes)
    for k in ("lookup_ms", "construct_ms", "execute_ms"):
        out[f"queries.{k}"] = mean(r[k] for r in runs)
    return len(runs), len(runs) - len(ok)


def trace_layers(recs, out, ops, passes):
    """Per-layer figures from the spans of the measured section."""
    lo, hi = window(recs)
    spans = [s for s in of(recs, "span") if s["start_ms"] >= lo and s["end_ms"] <= hi + 1]
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s.get("parent"))
        return False

    stages = [s for s in spans if s["name"].startswith("stage ")]
    jobs = [s for s in spans if s["name"].startswith("job ")]
    per = max(1, passes)
    out["exec.jobs"] = len(jobs) / per
    out["exec.stages"] = len(stages) / per
    out["exec.tasks"] = sum(s["attrs"]["tasks"] for s in stages) / per
    skew = [s["attrs"]["task_ms_max"] / s["attrs"]["task_ms_median"] for s in stages
            if s["attrs"]["tasks"] > 1 and s["attrs"]["task_ms_median"] > 0]
    out["exec.task_skew"] = mean(skew)
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        out[f"exec.{k}"] = sum(s["attrs"][k] for s in stages) / per
    cut_stages = [s for s in stages if under(s, "construct")]
    out["operators.cut_jobs"] = sum(1 for j in jobs if under(j, "construct")) / per
    out["operators.construct_stage_sum_s"] = \
        sum(s["end_ms"] - s["start_ms"] for s in cut_stages) / 1000 / per
    out["operators.construct_critical_s"] = \
        M.union_length((s["start_ms"], s["end_ms"]) for s in cut_stages) / 1000 / per
    qes = [q for q in of(recs, "qe") if lo <= q["end_ms"] <= hi + 1]
    for phase in ("analysis", "optimization", "planning"):
        total = sum(q["phases"][phase]["end_ms"] - q["phases"][phase]["start_ms"]
                    for q in qes if phase in q["phases"])
        out[f"queries.{phase}_ms"] = total / max(1, ops)
    selfs = M.self_times(spans)
    for layer in ("workload", "queries", "operators", "exec", "streaming", "sinks"):
        out[f"self.{layer}_s"] = sum(v for k, v in selfs.items()
                                     if by_id[k]["layer"] == layer) / 1000 / per


# -------------------------------------------------------------------- main

def jvm_args(workload, cfg, seed, seconds, trace, data, extra=()):
    a = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1" if trace else "0", "--data", data] + list(extra)
    if "queries" in cfg:
        a += ["--queries", ",".join(cfg["queries"])]
    return a


def streaming_result(recs, workload, out):
    """Metrics and checks of a CDC run: (ok, attempted, failed, ops, passes)."""
    fn = live_metrics if workload == "cdc_live" else catchup_metrics
    attempted, failed, prog = fn(recs, out)
    ops = streaming_layers(recs, prog, out)
    checks = of(recs, "check")
    for c in checks:
        if not c["ok"]:
            print(f"[check] {c}", file=sys.stderr)
    ok = bool(checks) and all(c["ok"] for c in checks)
    # a wrong balance store makes every tick or chunk wrong
    return ok, attempted, failed if ok else attempted, ops, len(of(recs, "drain")) or 1


def batch_result(recs, out, record_fingerprints):
    """Metrics and fingerprint checks of a batch run: (ok, attempted, failed,
    ops, passes)."""
    attempted, failed = batch_metrics(recs, out)
    ops, passes = attempted, len(of(recs, "pass"))
    path = os.path.join(HERE, "fingerprints.json")
    with open(path) as fh:
        want = json.load(fh)
    got = {}
    for r in of(recs, "result"):
        attempted += 1
        got[r["name"]] = fingerprint(r["path"]) if r["ok"] else None
        if got[r["name"]] is None or want.get(r["name"]) != got[r["name"]]:
            failed += 1
            print(f"[check] {r['name']}: got {got[r['name']]} want "
                  f"{want.get(r['name'])} {r.get('error') or ''}", file=sys.stderr)
    if record_fingerprints:
        with open(path, "w") as fh:
            json.dump(dict(sorted({**want, **got}.items())), fh, indent=2)
            fh.write("\n")
    return failed == 0, attempted, failed, ops, passes


def measure(args, cfg, cp, data, work, deadline, record_fingerprints=False, extra=()):
    launch_ms, recs = run_jvm(cp, work, jvm_args(args.workload, cfg, args.seed, args.seconds,
                                                 args.trace, data, extra), deadline)
    out = dict.fromkeys([*PER_LAYER, "pass_s"], 0.0)
    setup = one(recs, "setup")
    out["setup_s"] = (setup["end_ms"] - launch_ms) / 1000
    out["setup.session_s"] = (one(recs, "session")["end_ms"] - launch_ms) / 1000
    out["setup.feed_s"] = setup["feed_s"]
    out["setup.index_s"] = setup["index_s"]
    out["peak_rss_mb"] = one(recs, "rss")["vmhwm_kb"] / 1024
    if args.workload in ("cdc_live", "cdc_catchup"):
        ok, attempted, failed, ops, passes = streaming_result(recs, args.workload, out)
    else:
        ok, attempted, failed, ops, passes = batch_result(recs, out, record_fingerprints)
    if args.trace:
        trace_layers(recs, out, ops, passes)
        out["trace.latency_ms"] = out["latency_ms"]
        out["trace.pass_s"] = out["pass_s"]
    out["error_rate"] = failed / attempted if attempted else 1.0
    return out, ok, attempted, failed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="store this run's batch result fingerprints as the reference")
    args = ap.parse_args(argv)
    cfg = load_config()
    if args.workload not in cfg:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(cfg)}")
    try:
        cp = build.build()
        data = ensure_data(cfg[args.workload]["scale"])
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out, ok, attempted, failed = measure(args, cfg[args.workload], cp, data, work,
                                             deadline, args.record_fingerprints)
        if args.trace and args.workload == "cdc_catchup":
            # the single-thread baseline: one drain at local[1], untraced
            base = argparse.Namespace(**dict(vars(args), trace=0))
            b_out, _, _, _ = measure(base, cfg[args.workload], cp, data, work + "-local1",
                                     time.time() + RUN_LIMIT_S,
                                     extra=["--cores", "1", "--drains", "1"])
            out["baseline.local1_rows_per_s"] = b_out["streaming.catchup_rows_per_s"]
    except RunError as e:
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-local1", ignore_errors=True)
    names = PER_LAYER if args.trace else END_TO_END
    for k, unit in names.items():
        print(f"{k} = {out[k]:.6g} {unit}")
    if not args.trace:
        extra = {**REPORTED.get(args.workload, {"pass_s": "s"}), "error_rate": "ratio"}
        for k, unit in extra.items():
            print(f"{k} = {out[k]:.6g} {unit}")
    print(json.dumps({"correct": ok and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": out[k], "unit": u} for k, u in names.items()}}))


if __name__ == "__main__":
    main()
