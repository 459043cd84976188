#!/usr/bin/env python3
"""Steadiness helper: repeat a workload over several seeds and report,
for every end-to-end metric, the median and quartiles of its values and
the quartile spread as a share of the median, against the metric's bound
in BENCHMARK.json.

    python3 perfbench/steady.py --workload store_serve --seeds 1-10
    python3 perfbench/steady.py --workload store_serve --seeds 1-5 --traced
    python3 perfbench/steady.py --workload store_serve --seeds 11-20 \
        --save a.json
    python3 perfbench/steady.py --workload store_serve --seeds 21-30 \
        --against a.json

A metric is flagged UNSTEADY when its spread exceeds a third of its bound
(the margin the benchmark is tuned to) and FAIL when it exceeds the bound
itself, `setup_s` included. Detail figures from the run records
(search_p50_ms, sweep_total_s, ...) are listed after the bounded metrics,
without a bound. With --traced each seed also gets a traced run, and the traced
op_ms is compared with the untraced one: that ratio is the tracing
overhead. --save keeps each metric's values in a file; --against compares
this set's medians with a saved set's and flags WORSE when one is worse by
more than the metric's bound (two sets of runs of the same code must
agree within it). Exit code: 0 when every bounded metric is within a third
of its bound and no median is WORSE, 1 otherwise, 2 when a run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  seed {seed} trace {trace}: exit {p.returncode}", file=sys.stderr)
        return None
    build = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    with open(os.path.join(ROOT, build, "results",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--save", help="write each metric's values to this file")
    ap.add_argument("--against", help="compare medians with a file --save wrote")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    recs, traced = [], []
    for s in seeds(args.seeds):
        r = run(args.workload, s, bench["run_seconds"], 0)
        if r is None:
            sys.exit(2)
        recs.append(r)
        m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['wall_s']:.1f}s {m}", flush=True)
        if args.traced:
            t = run(args.workload, s, bench["run_seconds"], 1)
            if t is None:
                sys.exit(2)
            traced.append(t)
    if len(recs) < 4:
        sys.exit("steady: need at least 4 seeds for quartiles")
    worst_ok = True
    print(f"\n{args.workload}: {len(recs)} runs")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    values = {name: [r["metrics"][name]["value"] for r in recs] for name in bounds}
    for name, spec in bounds.items():
        med, q1, q3, sp = spread(values[name])
        flag = ""
        if sp > spec["bound"]:
            flag, worst_ok = "FAIL", False
        elif sp > spec["bound"] / 3:
            flag, worst_ok = "UNSTEADY", False
        print(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} {spec['bound']:6.2f} {flag}")
    if args.save:
        with open(args.save, "w") as f:
            json.dump(values, f, indent=1)
    if args.against:
        with open(args.against) as f:
            before = json.load(f)
        print(f"\nagainst {args.against}")
        print(f"{'metric':28} {'median before':>14} {'median now':>12} {'worse by':>9} {'bound':>6}")
        for name, spec in bounds.items():
            m0, m1 = statistics.median(before[name]), statistics.median(values[name])
            worse = (m1 - m0) / m0 if spec["better"] == "lower" else (m0 - m1) / m0
            flag = ""
            if worse > spec["bound"]:
                flag, worst_ok = "WORSE", False
            print(f"{name:28} {m0:14.4f} {m1:12.4f} {worse:9.3f} {spec['bound']:6.2f} {flag}")
    detail = sorted({k for r in recs for k in r.get("detail", {})})
    print("\ndetail (no bound)")
    for k in detail:
        vals = [r["detail"][k] for r in recs
                if isinstance(r.get("detail", {}).get(k), (int, float))]
        if len(vals) >= 4 and statistics.median(vals) != 0:
            med, q1, q3, sp = spread(vals)
            print(f"{k:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f}")
    fails = sum(r["failed"] for r in recs)
    print(f"\nfailed ops: {fails} of {sum(r['attempted'] for r in recs)}")
    if traced:
        ratio = [t["metrics"]["trace.op_ms"]["value"] / r["metrics"]["op_ms"]["value"]
                 for t, r in zip(traced, recs)]
        print(f"tracing overhead (traced / untraced op_ms): median "
              f"{statistics.median(ratio):.3f} over {len(ratio)} seeds")
    sys.exit(0 if worst_ok else 1)


if __name__ == "__main__":
    main()
