#!/usr/bin/env python3
"""Run one workload over several seeds and print, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload ingest_chunked --seeds 1-10 [--seconds 12]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=12)
    args = ap.parse_args()
    values = {}
    for s in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {s}: rc {p.returncode} wall {time.time() - t0:.1f}s correct {last['correct']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in last["metrics"].items()), flush=True)
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        print(f"{k:<20} median {statistics.median(vs):.4g}  spread {bl.spread(vs):.3f}  n {len(vs)}")


if __name__ == "__main__":
    main()
