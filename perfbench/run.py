"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload sig_etl --seed 1 --seconds 12 --trace 0

Builds first when the sources changed (see build.py), then starts one
JVM running graft in local[N] mode (N = min(4, cores)). The last line
of standard output is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full run record (per-operation latencies, drift,
spans, host pressure) goes to .bench_build/records/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("sig_etl", "ann_serve", "corpus_ingest")
RECORDS = os.path.join(build.ROOT, ".bench_build", "records")
LOGS = os.path.join(build.ROOT, ".bench_build", "logs")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def pressure():
    """Host pressure readings: PSI averages, the load average and the
    CPU time stolen by the hypervisor so far. These name a run made in a
    degraded window; they are not metrics."""
    out = {}
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                out[res] = f.read().strip().splitlines()
        except OSError:
            out[res] = None
    try:
        with open("/proc/loadavg") as f:
            out["loadavg"] = f.read().strip()
    except OSError:
        out["loadavg"] = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        out["steal_jiffies"] = int(cpu[8])
        out["busy_jiffies"] = sum(int(x) for x in cpu[1:4])
    except (OSError, IndexError, ValueError):
        out["steal_jiffies"] = None
    return out


def untraced_p50(workload, seed):
    """op_p50_ms of the newest untraced record for this workload and
    seed, for the tracing overhead."""
    best = None
    for p in glob.glob(os.path.join(RECORDS, f"{workload}-s{seed}-t0-*.json")):
        if best is None or os.path.getmtime(p) > os.path.getmtime(best):
            best = p
    if best is None:
        return None
    with open(best) as f:
        return json.load(f).get("metrics", {}).get("op_p50_ms")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    os.makedirs(RECORDS, exist_ok=True)
    os.makedirs(LOGS, exist_ok=True)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(build.ROOT, ".bench_build", "work", run_id)
    record = os.path.join(RECORDS, run_id + ".json")
    os.makedirs(os.path.join(work, "tmp"))
    jvm = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                 "perfbench.Main", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--record", record]

    before = pressure()
    t0 = time.time()
    log_path = os.path.join(LOGS, run_id + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; log {log_path}")
    after = pressure()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: JVM exited {proc.returncode}; log {log_path}")
    result = json.loads(lines[-1])

    with open(record) as f:
        rec = json.load(f)
    rec["pressure"] = {"start": before, "end": after}
    rec["wall_s"] = time.time() - t0
    if a.trace:
        base = untraced_p50(a.workload, a.seed)
        traced = rec["metrics"].get("trace.op_p50_ms")
        if base and traced:
            rec["tracing_overhead"] = traced / base - 1
            print(f"perfbench: tracing overhead {100 * (traced / base - 1):+.1f}% "
                  f"(op_p50 {traced:.1f} ms traced, {base:.1f} ms untraced)",
                  file=sys.stderr)
    with open(record, "w") as f:
        json.dump(rec, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
