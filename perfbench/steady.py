#!/usr/bin/env python3
"""Steadiness report: run workloads k times each, with another seed each
time, and print every metric's median, quartiles, interquartile spread and
(max - min) / median, checked against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload tpc_relational,stream_stateful --runs 10 --sets 2

Run from the repository root. With --sets n it makes n sets of runs and
interleaves them (run i of every set and every workload back to back), so
that the host drifting over the session shows as spread within each set
rather than as a shift between sets; it then reports each metric's shift
between the set medians. Set j uses seeds first-seed + j * runs, + 1, ...
With --traced n it also makes n traced runs per workload, one after each
of the first n rounds of untraced runs, and reports the tracing overhead:
traced pass_s and events_per_s against the untraced medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed ({workload}, seed {seed}): {proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        print(f"{workload} seed {seed}: incorrect output ({res['failed']} failed)")
    prov = json.loads(next(ln for ln in lines if ln.startswith("provenance: "))[12:])
    steal = prov.get("host_steal_share")
    print(f"{workload} seed {seed} trace {trace}: host steal share "
          f"{'n/a' if steal is None else f'{steal:.3f}'}", flush=True)
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(vals):
    """(median, q1, q3, iqr / median, range / median)"""
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
    rel = (lambda x: x / med) if med else (lambda x: float("nan"))
    return med, q1, q3, rel(q3 - q1), rel(max(vals) - min(vals))


def report(rows, bounds):
    print(f"{'metric':<30}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'iqr/med':>9}{'range/med':>10}{'bound':>7}")
    for k in rows[0]:
        med, q1, q3, iqr, rng = spread([r[k] for r in rows])
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" else (
            "  OVER BOUND" if iqr > b else "  over bound/3" if iqr > b / 3 else "")
        print(f"{k:<30}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{iqr:>9.3f}{rng:>10.3f}"
              f"{'' if b is None else f'{b:>7.2f}'}{flag}")


def report_shift(sets, bounds):
    print(f"{'metric':<30}" + "".join(f"{f'set {j + 1}':>12}" for j in range(len(sets)))
          + f"{'shift':>9}{'bound':>7}")
    for k in sets[0][0]:
        meds = [statistics.median(r[k] for r in rows) for rows in sets]
        shift = (max(meds) - min(meds)) / min(meds) if min(meds) else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  OVER BOUND" if shift > b else "")
        print(f"{k:<30}" + "".join(f"{m:>12.5g}" for m in meds)
              + f"{shift:>9.3f}{'' if b is None else f'{b:>7.2f}'}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="one name or a comma-separated list")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload for the overhead report")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workload.split(",")
    rows = {(w, j): [] for w in workloads for j in range(args.sets)}
    traced = {w: [] for w in workloads}
    for i in range(args.runs):
        for w in workloads:
            for j in range(args.sets):
                seed = args.first_seed + j * args.runs + i
                rows[w, j].append(run_once(w, seed, seconds, 0))
            if i < args.traced:
                traced[w].append(run_once(w, args.first_seed + i, seconds, 1))
    for w in workloads:
        for j in range(args.sets):
            first = args.first_seed + j * args.runs
            print(f"\n{w}: set {j + 1}, {args.runs} untraced runs, "
                  f"seeds {first}..{first + args.runs - 1}")
            report(rows[w, j], bounds)
        if args.sets > 1:
            print(f"\n{w}: shift between the set medians, (max - min) / min")
            report_shift([rows[w, j] for j in range(args.sets)], bounds)
        if traced[w]:
            print(f"\n{w}: {len(traced[w])} traced runs")
            report(traced[w], {})
            untraced = [r for j in range(args.sets) for r in rows[w, j]]
            for t, u in (("trace.pass_s", "pass_s"), ("trace.events_per_s", "events_per_s")):
                ratio = statistics.median(r[t] for r in traced[w]) / \
                    statistics.median(r[u] for r in untraced)
                print(f"tracing overhead: traced {u} / untraced {u} = {ratio:.3f}")


if __name__ == "__main__":
    main()
