#!/usr/bin/env python3
"""Summarize traced graft benchmark runs.

    python3 graftbench/trace_summary.py [--workload W] [--seed N] [--top 10]

Reads the run records run.py keeps in .bench_out/results/. For each traced
run (--trace 1) it prints:
  - a per-layer self-time table (self time = span duration minus the part
    its child spans cover), by layer and by span name;
  - the tracing overhead: each end-to-end metric of the traced run minus
    that of the untraced run with the same workload and seed, when one
    was kept;
  - for catalog, the layer coverage check (layer self times over measured
    query wall, against LAYER_COVERAGE_TOLERANCE) and the queries ranked
    by fixed-cost share, (planning + codegen + scheduling) / wall, from
    their medians over the passes.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

# how far the summed layer self times may stray from the timer's wall
LAYER_COVERAGE_TOLERANCE = 0.1


def self_time_table(spans):
    selfs = benchlib.self_times(spans)
    by_layer, by_name = {}, {}
    for s in spans:
        us = selfs[s["id"]]
        for table, key in ((by_layer, s["layer"]),
                           (by_name, (s["layer"], s["name"][:60]))):
            n, t = table.get(key, (0, 0))
            table[key] = (n + 1, t + us)
    return by_layer, by_name


def summarize(rec, untraced, top, tolerance):
    w, seed = rec["workload"], rec["seed"]
    print(f"== {w} seed {seed} (traced) ==")
    by_layer, by_name = self_time_table(rec["spans"])
    total = sum(t for _, t in by_layer.values()) or 1
    print(f"{'layer':14s} {'spans':>6s} {'self s':>9s} {'share':>6s}")
    for layer, (n, t) in sorted(by_layer.items(), key=lambda x: -x[1][1]):
        print(f"{layer:14s} {n:6d} {t / 1e6:9.3f} {t / total:6.1%}")
    print(f"\n{'layer / span':62s} {'spans':>6s} {'self s':>9s}")
    for (layer, name), (n, t) in sorted(by_name.items(),
                                        key=lambda x: -x[1][1])[:top]:
        print(f"{layer + ' / ' + name:62s} {n:6d} {t / 1e6:9.3f}")
    if untraced:
        print("\ntracing overhead (traced - untraced, same seed):")
        for k, v in rec["end_to_end"].items():
            u = untraced["end_to_end"][k]
            print(f"  {k:18s} {v - u:+12.4f}  ({(v - u) / u:+.1%} of {u:.4g})"
                  if u else f"  {k:18s} {v - u:+12.4f}")
    else:
        print(f"\n(no untraced run of {w} seed {seed} kept: overhead not shown)")
    if w == "catalog":
        cov = rec["per_layer"]["catalog.layer_coverage"]
        ok = abs(cov - 1) <= tolerance
        print(f"\nlayer coverage {cov:.3f} (median over queries of summed "
              f"layer self time / query wall): "
              f"{'within' if ok else 'OUTSIDE'} tolerance {tolerance}")
        qs = sorted(benchlib.query_medians(rec["passes"]),
                    key=benchlib.fixed_cost_share, reverse=True)
        print(f"\n{'query':32s} {'family':11s} {'wall s':>7s} {'fixed':>6s} "
              f"{'plan':>6s} {'cgen':>6s} {'sched':>6s} {'jobs':>5s}")
        for q in qs[:top]:
            print(f"{q['name']:32s} {q['family']:11s} {q['wall_s']:7.3f} "
                  f"{benchlib.fixed_cost_share(q):6.1%} {q['plan_s']:6.3f} "
                  f"{q['codegen_s']:6.3f} {q['sched_delay_s']:6.3f} "
                  f"{q['jobs']:5g}")
    print()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()
    res = os.path.join(ROOT, ".bench_out", "results")
    found = False
    for f in sorted(glob.glob(os.path.join(res, "*-trace1.json"))):
        rec = json.load(open(f))
        if args.workload and rec["workload"] != args.workload:
            continue
        if args.seed is not None and rec["seed"] != args.seed:
            continue
        found = True
        plain = f.replace("-trace1.json", "-trace0.json")
        untraced = json.load(open(plain)) if os.path.exists(plain) else None
        summarize(rec, untraced, args.top, LAYER_COVERAGE_TOLERANCE)
    if not found:
        raise SystemExit(f"no traced run records under {res}")


if __name__ == "__main__":
    main()
