#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and spread (distance between the quartiles as a share of
the median, from statistics.quantiles(values, n=4)).

    python3 perfbench/steadiness.py --workloads batch ingest --seeds 1-10 [--sets 2]

Run from the root of a checkout. Each run is one call of perfbench/run.py
for BENCHMARK.json's run_seconds. With --sets K the K sets (set k uses the
seeds shifted by k times the number of seeds) are interleaved run by run,
so that a slow period of the host falls on every set alike and a difference
between the sets' medians is the benchmark's own. Each run's line also
records the share of CPU time the host took from the machine (steal) and
spent waiting on I/O while it ran, to tell a slow host from a slow run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"]


def cpu_times():
    """Aggregate CPU times from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def host_shares(before, after):
    d = [b - a for a, b in zip(before, after)]
    if len(d) < 8 or not sum(d):
        return ""
    return f"steal={100 * d[7] / sum(d):.1f}% iowait={100 * d[4] / sum(d):.1f}%"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    n = hi - lo + 1
    values = {}
    for seed in range(lo, hi + 1):
        for w in a.workloads:
            for k in range(a.sets):
                s = seed + k * n
                c0, t0 = cpu_times(), time.time()
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(s), "--seconds", str(SECONDS), "--trace", "0"],
                                   stdout=subprocess.PIPE, text=True)
                host = host_shares(c0, cpu_times())
                result = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else {}
                print(f"set={k} {w} seed={s} exit={r.returncode} wall={time.time() - t0:.0f}s "
                      f"{host} {json.dumps(result)}", flush=True)
                for m, v in result.get("metrics", {}).items():
                    values.setdefault((k, w, m), []).append(v["value"])
    print(f"\n{'set':>3} {'workload':10} {'metric':18} {'n':>3} {'median':>10} {'q1':>10} "
          f"{'q3':>10} {'spread':>7}")
    for (k, w, m), vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:3d} {w:10} {m:18} {len(vs):3d} {med:10.4f} {q1:10.4f} {q3:10.4f} "
              f"{(q3 - q1) / med:7.3f}")


if __name__ == "__main__":
    main()
