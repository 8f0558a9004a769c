"""Steadiness command: runs one workload n times, one seed each, and
prints every metric's median, quartiles and spread (quartile distance
over median), then each run's drift: the median latency of the first
half of its timed operations against that of the second half.

    python3 perfbench/steady.py --workload sig_etl --runs 10 [--first-seed 1]
        [--seconds 25] [--trace 0] [--json out.json]

The spreads set the bounds in BENCHMARK.json; the drift shows whether
the warm-up is long enough (a run still warming up is faster in its
second half).
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

import build
import run as bench

HERE = os.path.dirname(os.path.abspath(__file__))


def newest_record(workload, seed, trace):
    paths = glob.glob(os.path.join(bench.RECORDS,
                                   f"{workload}-s{seed}-t{trace}-*.json"))
    return max(paths, key=os.path.getmtime) if paths else None


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=bench.WORKLOADS)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write the summary here")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    results, records = [], []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(a.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"run with seed {seed} failed ({p.returncode})")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(newest_record(a.workload, seed, a.trace)) as f:
            rec = json.load(f)
        results.append(res)
        records.append(rec)
        d = rec["drift"]
        ps, pe = rec["pressure"]["start"], rec["pressure"]["end"]
        steal = busy = 0
        if ps.get("steal_jiffies") is not None and pe.get("steal_jiffies") is not None:
            steal = pe["steal_jiffies"] - ps["steal_jiffies"]
            busy = pe["busy_jiffies"] - ps["busy_jiffies"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} drift {d['first_half_p50_ms']:.1f} -> "
              f"{d['second_half_p50_ms']:.1f} ms "
              f"({100 * (d['second_half_p50_ms'] / d['first_half_p50_ms'] - 1):+.1f}%) "
              f"wall {rec['wall_s']:.1f} s "
              f"load {ps['loadavg'].split()[0]} "
              f"steal {100 * steal / max(1, steal + busy):.1f}%",
              flush=True)

    summary = {}
    print(f"\n{a.workload}: {a.runs} runs, {seconds} s each")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "values": vals}
        print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")
    fails = [r["failed"] / r["attempted"] for r in results]
    print(f"failed share per run: {sorted(set(fails))}; "
          f"all correct: {all(r['correct'] for r in results)}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds,
                       "metrics": summary,
                       "drift": [r["drift"] for r in records],
                       "wall_s": [r["wall_s"] for r in records]}, f, indent=1)


if __name__ == "__main__":
    main()
