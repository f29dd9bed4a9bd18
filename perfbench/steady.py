"""Steadiness check: run two sets of runs of one workload on this commit
and say whether they agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload serving_mixed --runs 10

Each run is the benchmark command with its own seed (set s, run i uses
seed 1 + s * runs + i). For every end-to-end metric it prints each set's
median and quartiles, the spread (quartile distance over median) of
each set and of the pooled runs, and whether the two sets agree: every
set's spread within the metric's bound, except for ``setup_s`` (one cold
set-up per run, mostly JVM start, which follows the host more than the
program; its median is still compared), and the two medians apart by at
most the bound, in either direction. It also checks that the share of
failed operations is the same in every run. A JSON report goes to
perfbench/out/steady-<workload>.json.

    python3 perfbench/steady.py --workload serving_mixed --runs 5 --overhead

measures the tracing overhead instead: for each seed one untraced and one
traced run, alternating which goes first, and the end-to-end medians of
both (perfbench/out/overhead-<workload>.json).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    info = [ln for ln in lines if ln.startswith("perfbench: {")]
    result["info"] = json.loads(info[-1].split(": ", 1)[1]) if info else {}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--overhead", action="store_true",
                    help="instead: per seed an untraced and a traced run, alternating "
                         "which goes first, and the end-to-end medians of each")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.overhead:
        return tracing_overhead(spec, args)
    seeds = [[1 + s * args.runs + i for i in range(args.runs)] for s in range(SETS)]
    sets: list[list[dict]] = []
    for s, set_seeds in enumerate(seeds):
        runs = []
        for seed in set_seeds:
            r = run_once(spec, args.workload, seed, 0)
            print(f"set {s} seed {seed}: {r['wall_s']:.1f} s wall, correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)
            runs.append(r)
        sets.append(runs)

    report = {"workload": args.workload, "runs_per_set": args.runs, "metrics": {}}
    ok = all(r["correct"] for runs in sets for r in runs)
    shares = [sorted({r["failed"] / r["attempted"] for r in runs}) for runs in sets]
    report["failed_shares"] = shares
    ok &= all(sh == shares[0] and len(sh) == 1 for sh in shares)
    walls = [r["wall_s"] for runs in sets for r in runs]
    report["wall_s"] = {"max": max(walls), "mean": statistics.mean(walls)}
    print(f"\n{args.workload}: run wall max {max(walls):.1f} s, mean {statistics.mean(walls):.1f} s; "
          f"failed shares per set {shares}")
    print(f"{'metric':34s} {'set':>3s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>7s}")
    for m in spec["end_to_end"]:
        name = m["name"]
        per_set = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
        pooled = [v for vs in per_set for v in vs]
        entry = {"values": per_set, "sets": [], "pooled_spread": spread(pooled)}
        for s, vs in enumerate(per_set):
            q1, q2, q3 = quartiles(vs)
            entry["sets"].append({"q1": q1, "median": q2, "q3": q3, "spread": spread(vs)})
            print(f"{name:34s} {s:3d} {q1:12.5g} {q2:12.5g} {q3:12.5g} {spread(vs):7.3f}")
        first, second = (st["median"] for st in entry["sets"])
        worse = (second - first) / first * (1 if m["better"] == "lower" else -1)
        entry["second_vs_first_worse_by"] = worse
        entry["within_bound"] = abs(worse) <= m["bound"]
        spread_ok = name == "setup_s" or all(st["spread"] <= m["bound"] for st in entry["sets"])
        ok &= entry["within_bound"] and spread_ok
        print(f"{'':34s} pooled spread {entry['pooled_spread']:.3f} (bound {m['bound']}, "
              f"a third {m['bound'] / 3:.3f}); set 2 worse by {worse:+.3f} "
              f"-> {'ok' if entry['within_bound'] and spread_ok else 'NOT OK'}")
        report["metrics"][name] = entry
    report["seeds"] = seeds
    report["info"] = [r["info"] for runs in sets for r in runs]
    report["agree"] = ok
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"steady-{args.workload}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nsets agree within bounds: {ok}")
    return 0 if ok else 1


def tracing_overhead(spec: dict, args) -> int:
    values = {0: {}, 1: {}}
    for i in range(args.runs):
        seed = 1 + i
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            r = run_once(spec, args.workload, seed, trace)
            e2e = ({k: v["value"] for k, v in r["metrics"].items()} if trace == 0
                   else r["info"]["end_to_end"])
            for k, v in e2e.items():
                values[trace].setdefault(k, []).append(v)
            print(f"seed {seed} trace {trace}: {r['wall_s']:.1f} s wall", flush=True)
    report = {"workload": args.workload, "values": values, "overhead": {}}
    print(f"\n{'metric':20s} {'untraced':>12s} {'traced':>12s} {'traced/untraced-1':>18s}")
    for m in spec["end_to_end"]:
        off, on = (statistics.median(values[t][m["name"]]) for t in (0, 1))
        report["overhead"][m["name"]] = on / off - 1
        print(f"{m['name']:20s} {off:12.5g} {on:12.5g} {on / off - 1:+18.3f}")
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"overhead-{args.workload}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
