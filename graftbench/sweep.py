#!/usr/bin/env python3
"""Sustainable-rate sweep for the ingest_live workload (a one-off step, not
part of the timed runs).

    python3 graftbench/sweep.py [--seconds 20] [--seed 1] [--per-file 4,8,16,32,64]

Steps the offered rate up (trades per released file, at the workload's
200 ms tick) and runs ingest_live at each. A rate is flat when the source's read
lag — files released but not yet committed, sampled at each batch commit
from the second batch until the last release — does not grow over the
run: the mean lag over the last third of those batches stays within 2
files of the first third. Prints one line per rate
and the highest flat rate, which graftbench/README.md records; the
workload then offers a stated fraction of it.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def growing(lag):
    """True when the read lag rises over the run."""
    if len(lag) < 6:
        return True
    k = len(lag) // 3
    first, last = lag[:k], lag[-k:]
    return sum(last) / k > sum(first) / k + 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--per-file", default="4,8,16,32,64")
    args = ap.parse_args()
    best = 0.0
    for n in [int(x) for x in args.per_file.split(",")]:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "ingest_live", "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0", "--trades-per-file", str(n)],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"{n} trades per file: run failed\n{p.stderr[-2000:]}")
            break
        res = json.loads(p.stdout.splitlines()[-1])
        rec = json.load(open(os.path.join(
            ROOT, ".bench_out", "results",
            f"ingest_live-seed{args.seed}-trace0.json")))
        rate = rec["offered_per_s"]
        lag = rec["lag_files"]
        grow = growing(lag)
        m = res["metrics"]
        print(f"rate {rate:7.1f}/s: lag first/last third "
              f"{lag[:max(1, len(lag) // 3)]} .. {lag[-max(1, len(lag) // 3):]} "
              f"{'GROWING' if grow else 'flat'}; median freshness "
              f"{m['latency_ms']['value']:.0f} ms, correct {res['correct']}",
              flush=True)
        if grow or not res["correct"]:
            break
        best = rate
    print(f"highest flat rate: {best:.1f} trades/s")


if __name__ == "__main__":
    main()
