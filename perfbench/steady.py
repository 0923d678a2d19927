#!/usr/bin/env python3
"""Steadiness report: run workloads N times with different seeds and print
each end-to-end metric's median, quartiles and spread ((q3 - q1) / median),
so bounds come from measured spread. With `--trace`, one traced run per
workload follows and its overhead against the untraced median is printed.

    python3 perfbench/steady.py --runs 10 [--workloads cdc_live,graph_gates]
                                [--first-seed 1] [--trace] [--jsonl out.jsonl]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def bench_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench, [w["name"] for w in bench["workloads"]]


def one_run(workload, seed, seconds, trace):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {res.returncode})")
    return json.loads(lines[-1])


def main():
    bench, names = bench_workloads()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--jsonl", help="append every run's result line here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sink = open(args.jsonl, "a") if args.jsonl else None
    for w in args.workloads.split(","):
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            r = one_run(w, seed, args.seconds, False)
            results.append(r)
            if sink:
                sink.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
                sink.flush()
            print(f"{w} seed={seed} correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"== {w}: {args.runs} runs")
        medians = {}
        for k in results[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in results]
            med, q1, q3, rel = M.spread(vals)
            medians[k] = med
            b = bounds.get(k)
            verdict = "" if b is None else ("  ok" if rel < b / 3 else "  WIDE")
            print(f"   {k:<14} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
                  f"spread={rel:.3f} bound={b}{verdict}")
        if args.trace:
            m = one_run(w, args.first_seed, args.seconds, True)["metrics"]
            traced, plain = m["trace.latency_ms"]["value"], medians["latency_ms"]
            print(f"   tracing overhead on latency_ms: {traced:.6g} vs {plain:.6g} untraced "
                  f"({(traced / plain - 1) * 100:+.1f}%)")
        print(flush=True)


if __name__ == "__main__":
    main()
