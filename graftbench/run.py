#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 graftbench/run.py --workload <ingest_live|catalog>
        --seed <n> --seconds <s> --trace <0|1>
        [--trades-per-file N] [--sf X] [--queries q1,q2|all]
        [--setup-reps N]

Run from the root of a graft checkout. The first run builds the benchmark
(graft's sources plus graftbench/src, with sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build while
the sources are unchanged. Inputs derive from --seed; outputs are checked.
The last stdout line is one JSON object: correct, attempted, failed and the
metrics — the end-to-end ones with --trace 0, the per-layer ones (from a
traced run) with --trace 1. Each run's full record, spans included, is kept
under .bench_out/results/ for graftbench/trace_summary.py. The optional
flags shrink or grow a workload (the tests and the rate sweep use them);
without them a run has the size BENCHMARK.json states.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen_tables  # noqa: E402

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
HEAP = "2g"
# a run must end within 180 s; the JVM gets what is left of this
DEADLINE_S = 170
# catalog tables: scale factor (sf 0.01: 60k lineitem, 10k events)
SF = 0.01


def sbt_env():
    """The build resolves nothing over the network: sbt and coursier run
    offline, against the local repositories file."""
    opts = os.environ.get("SBT_OPTS", "-Xmx2g")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config="
                 + os.path.expanduser("~/.sbt/repositories")):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    return dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise SystemExit(f"graft sources not found under {graft}: run from "
                         "the root of a graft checkout")
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (graft, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "graftbench")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        # sbt's own output may have been removed since
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if not ln.startswith("[") and "scala-2.13/classes" in ln][-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, sizes, run_dir, budget_s):
    cmd = ["java"] + [x for o in JAVA_OPENS
                      for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", run_dir]
    for k, v in sizes.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                           cwd=run_dir, timeout=budget_s)
    if r.returncode != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {r.returncode}")


def check_oracle(tables, results, budget_s):
    """The catalog's correctness check: tools/check_oracle.py (DuckDB twins,
    exact comparison). Returns (attempted, [failure lines])."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         tables, results], capture_output=True, text=True, timeout=budget_s)
    lines = p.stdout.splitlines()
    fails = [ln for ln in lines if ln.startswith("FAIL")]
    oks = [ln for ln in lines if ln.startswith("ok ")]
    if not fails and not oks:
        fails = [f"oracle check produced no verdicts: {p.stderr[-500:]}"]
    return len(fails) + len(oks), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_live", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trades-per-file", type=int)
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--queries")
    ap.add_argument("--setup-reps", type=int)
    args = ap.parse_args()
    cp = build()
    t_start = time.time()
    sizes = {k: v for k, v in (("trades_per_file", args.trades_per_file),
                               ("queries", args.queries),
                               ("setup_reps", args.setup_reps))
             if v is not None}
    out_root = os.path.join(ROOT, ".bench_out")
    run_dir = os.path.join(
        out_root, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "catalog":
            # benchmark input, not graft work: made once, outside set-up
            sizes["tables"] = os.path.join(run_dir, "tables")
            gen_tables.write_tables(sizes["tables"], args.sf, args.seed)
        deadline = t_start + DEADLINE_S
        run_jvm(cp, args, sizes, run_dir, deadline - time.time())
        raw = json.load(open(os.path.join(run_dir, "raw.json")))
        failures = list(raw["failures"])
        attempted, failed = raw["attempted"], raw["failed"]
        if args.workload == "catalog":
            n, fails = check_oracle(sizes["tables"],
                                    os.path.join(run_dir, "results"),
                                    max(10.0, deadline + 5 - time.time()))
            attempted += n
            failed += len(fails)
            failures += fails
        spans = []
        if args.trace:
            spans = json.load(open(os.path.join(run_dir, "spans.json")))
        e2e = benchlib.end_to_end(args.workload, raw)
        layers = benchlib.per_layer(args.workload, raw, spans)
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "seconds": args.seconds,
                  "sizes": sizes, "end_to_end": e2e, "per_layer": layers,
                  "attempted": attempted, "failed": failed,
                  "failures": failures,
                  "warmup": raw.get("warmup", []),
                  "passes": raw.get("passes", []),
                  "lag_files": raw.get("lag_files", []),
                  "live": raw.get("live"), "replay": raw.get("replay"),
                  "offered_per_s": (raw["live"]["per_file"] * 1e3
                                    / raw["live"]["tick_ms"]
                                    if "live" in raw else None),
                  "setup": raw["setup"],
                  "marks": dict(raw["marks"], total=time.time() - t_start),
                  "spans": spans}
        os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_root, "results", name), "w") as fh:
            json.dump(record, fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer")
             for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[kind]}
    chosen = layers if args.trace else e2e
    for f in failures[:10]:
        print(f"FAILED: {f}")
    for k, v in chosen.items():
        print(f"{k:34s} {v:14.4f} {units[k]}")
    print(f"noise: box.probe={layers['box.probe']:.4f}s "
          f"gen.release_lag_p90_ms={layers['gen.release_lag_p90_ms']:.2f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in chosen.items()}}))


if __name__ == "__main__":
    main()
