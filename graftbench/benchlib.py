"""Metric rules of the graft benchmark: percentiles, the freshness join and
the reduction of one run's raw record (`raw.json`, written by the benchmark
JVM) to its end-to-end and per-layer metrics."""
import math
import statistics

# dashboard-style relational families; the other nine are training-data ones
RELATIONAL = {"events", "relational", "temporal", "stat"}
FAMILIES = ["events", "relational", "temporal", "stat", "text", "dedup",
            "similarity", "multimodal", "curation", "search", "span",
            "scrub", "bpe"]


def pct(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. 0 for no samples (an idle layer)."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[k - 1])


def median(values):
    return float(statistics.median(values)) if values else 0.0


def mean(values):
    return float(statistics.fmean(values)) if values else 0.0


# trades released this soon after the first wait out the stream's start
# (the first batch plans and compiles cold), not the pipeline's steady state;
# a run shorter than four times this leaves out its first quarter instead
FRESHNESS_WARMUP_MS = 5000


def freshness_ms(live, warmup_ms=FRESHNESS_WARMUP_MS):
    """Per visible trade released after the warm-up (see
    FRESHNESS_WARMUP_MS): the commit time of the micro-batch that wrote it
    minus the scheduled release of the file that first carried it. The
    trade -> batch map comes from the sink's `batch_id=N` directories;
    trade index i was first released in file i // per_file."""
    per_file = live["per_file"]
    sched = live["sched_ms"]
    start = sched[0] + min(warmup_ms, (sched[-1] - sched[0]) / 4)
    out = []
    for batch, trades in live["sink"].items():
        visible = live["visible_ms"][batch]
        out.extend(visible - sched[t // per_file] for t in trades
                   if sched[t // per_file] >= start)
    return out


def setup_s(raw):
    """Median over set-up repetitions of session start + warm-up + input
    generation."""
    return median([r["session_s"] + r["warm_s"] + r["gen_s"]
                   for r in raw["setup"]])


def query_medians(passes):
    """One record per catalog query: each numeric field is its median over
    the passes; name and family as recorded."""
    by_name = {}
    for p in passes:
        for q in p:
            by_name.setdefault(q["name"], []).append(q)
    out = []
    for name, recs in by_name.items():
        m = {"name": name, "family": recs[0]["family"]}
        for k, v in recs[0].items():
            if isinstance(v, (int, float)) and k != "pass":
                m[k] = median([r[k] for r in recs if k in r])
        out.append(m)
    return out


def end_to_end(workload, raw):
    m = {"setup_s": setup_s(raw)}
    if workload == "ingest_live":
        # from the closed backlog replay (the open loop's rate is fixed by
        # the generator): lines per second of a whole pass, query start
        # included, and the time of a micro-batch once the query runs
        passes = raw["replay"]
        m["throughput_per_s"] = raw["input_lines"] / median(
            [p["wall_s"] for p in passes])
        m["cpu_s"] = raw["cpu_s"]
        m["latency_ms"] = median(
            [ms for p in passes for _, ms in p["batches"][1:]])
    else:
        qs = query_medians(raw["passes"])
        rel = [q["wall_s"] for q in qs if q["family"] in RELATIONAL]
        training = [q["wall_s"] for q in qs if q["family"] not in RELATIONAL]
        # the two regimes apart: relational queries per second (fixed cost)
        # and the mean training-data query wall (kernels, shuffle)
        m["throughput_per_s"] = len(rel) / sum(rel) if rel else 0.0
        m["cpu_s"] = float(sum(q["cpu_s"] for q in qs))
        m["latency_ms"] = mean(training) * 1e3
    m["read_ms"] = median(raw["read_ms"])
    return m


def catalog_layers(queries):
    """Catalog per-layer figures, summed over the queries (per-query
    medians over the passes, from `query_medians`)."""
    def tot(k):
        return float(sum(q.get(k, 0) for q in queries))
    wall = tot("wall_s")
    out = {"catalog.plan_s": tot("plan_s"),
           "catalog.codegen_s": tot("codegen_s"),
           "catalog.codegen_compiles": tot("codegen_compiles"),
           "catalog.jobs": tot("jobs"), "catalog.stages": tot("stages"),
           "catalog.tasks": tot("tasks"),
           "catalog.sched_delay_s": tot("sched_delay_s"),
           "catalog.build_s": tot("build_s"),
           "catalog.exec_run_s": tot("exec_run_s"),
           "catalog.exec_cpu_s": tot("exec_cpu_s"),
           "catalog.gc_s": tot("gc_s"),
           "catalog.scan_bytes": tot("scan_bytes"),
           "catalog.shuffle_read_bytes": tot("shuffle_read_bytes"),
           "catalog.shuffle_write_bytes": tot("shuffle_write_bytes"),
           "catalog.spill_bytes": tot("spill_bytes"),
           "tables.checkpoint_blocks": tot("checkpoint_blocks"),
           "tables.release_ms": tot("release_s") * 1e3}
    out["catalog.fixed_cost_share"] = (
        (out["catalog.plan_s"] + out["catalog.codegen_s"]
         + out["catalog.sched_delay_s"]) / wall if wall else 0.0)
    out["catalog.relational_s"] = float(sum(
        q["wall_s"] for q in queries if q["family"] in RELATIONAL))
    out["catalog.training_s"] = wall - out["catalog.relational_s"]
    for f in FAMILIES:
        out[f"catalog.fam.{f}_s"] = float(sum(
            q["wall_s"] for q in queries if q["family"] == f))
    return out


def fixed_cost_share(q):
    return (q.get("plan_s", 0) + q.get("codegen_s", 0)
            + q.get("sched_delay_s", 0)) / q["wall_s"]


# ---- spans ------------------------------------------------------------------

def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def link_spans(spans):
    """Give each parentless planning span the innermost benchmark span that
    contains it in time (the QueryExecution listener does not know its
    caller)."""
    by_id = {s["id"]: s for s in spans}
    hosts = [s for s in spans if s["layer"] in ("ops", "dash", "ingest")]
    for s in spans:
        if s["parent"] or s["layer"] != "spark.plan":
            continue
        inside = [h for h in hosts if h["start_us"] <= s["start_us"]
                  and s["end_us"] <= h["end_us"] + 1000]
        if inside:
            s["parent"] = min(inside, key=lambda h: h["end_us"] - h["start_us"])["id"]
    return by_id


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover (children clipped to the parent, overlaps counted once).
    Returns {span id: self µs}."""
    by_id = link_spans(spans)
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        cover = _union([(max(lo, c["start_us"]), min(hi, c["end_us"]))
                        for c in kids.get(s["id"], [])
                        if c["end_us"] > lo and c["start_us"] < hi])
        out[s["id"]] = max(0, (hi - lo) - cover)
    return out


def subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        for c in kids.get(i, []):
            out.append(c)
            todo.append(c["id"])
    return out


def layer_coverage(spans, passes):
    """Per timed catalog query: the self times of its span tree, summed over
    the layers, as a share of the query's wall time measured by the timer;
    returns the median share (1.0 when the spans account for the wall)."""
    wall = {(q["name"], q["pass"]): q["wall_s"] * 1e6 for p in passes for q in p}
    selfs = self_times(spans)
    shares = []
    for q in spans:
        key = (q.get("query"), q.get("pass"))
        if q["name"] == "catalog.query" and wall.get(key):
            tree = [q] + subtree(spans, q["id"])
            shares.append(sum(selfs[s["id"]] for s in tree) / wall[key])
    return median(shares)


# ---- per-layer metrics ----------------------------------------------------------

def _mean(k):
    return lambda s: mean(s.get(k, []))


def _sum(k):
    return lambda s: float(sum(s.get(k, [])))


def _pct(k, p):
    return lambda s: pct(s.get(k, []), p)


SAMPLE_RULES = {
    "gen.encode_rows_per_s": _mean("gen.encode_rows_per_s"),
    "gen.release_lag_p90_ms": _pct("gen.release_lag_ms", 90),
    "source.latest_offset_ms": _mean("source.latest_offset_ms"),
    "source.get_batch_ms": _mean("source.get_batch_ms"),
    "source.rows_per_batch": _mean("source.rows_per_batch"),
    "source.read_lag_files": _pct("source.read_lag_files", 90),
    "batch.trigger_ms_p50": _pct("batch.trigger_ms", 50),
    "batch.trigger_ms_p90": _pct("batch.trigger_ms", 90),
    "batch.query_planning_ms": _mean("batch.query_planning_ms"),
    "batch.add_batch_ms": _mean("batch.add_batch_ms"),
    "batch.wal_commit_ms": _mean("batch.wal_commit_ms"),
    "batch.commit_offsets_ms": _mean("batch.commit_offsets_ms"),
    "batch.count": _mean("batch.count"),
    "ingest.parse_rows_per_s": _mean("ingest.parse_rows_per_s"),
    "ingest.poison_rows": _mean("ingest.poison_rows"),
    "ingest.state_rows": _mean("ingest.state_rows"),
    "ingest.state_mb": _mean("ingest.state_mb"),
    "ingest.state_commit_ms": _mean("ingest.state_commit_ms"),
    "ingest.late_rows": _sum("ingest.late_rows"),
    "ingest.dedup_drop_ratio": _mean("ingest.dedup_drop_ratio"),
    "ingest.sink_write_ms": _mean("ingest.sink_write_ms"),
    "ingest.sink_files_per_batch": _mean("ingest.sink_files_per_batch"),
    "ingest.sink_bytes_per_row": _mean("ingest.sink_bytes_per_row"),
    "ingest.empty_batches": _mean("ingest.empty_batches"),
    "dash.read_ms": _pct("dash.read_ms", 50),
    "dash.files_scanned": _mean("dash.files_scanned"),
    "dash.minute_aggs_ms": _pct("dash.minute_aggs_ms", 50),
    "dash.kpi_ms": _pct("dash.kpi_ms", 50),
    "dash.type_dist_ms": _pct("dash.type_dist_ms", 50),
    "dash.top_users_ms": _pct("dash.top_users_ms", 50),
}


def per_layer(workload, raw, spans):
    s = raw.get("samples", {})
    m = {k: rule(s) for k, rule in SAMPLE_RULES.items()}
    fresh = freshness_ms(raw["live"]) if "live" in raw else []
    m["ingest.freshness_p50_ms"] = pct(fresh, 50)
    m["ingest.freshness_p90_ms"] = pct(fresh, 90)
    passes = raw.get("passes", [])
    qs = query_medians(passes)
    m["catalog.query_p90_ms"] = pct([q["wall_s"] * 1e3 for q in qs], 90)
    m.update(catalog_layers(qs))
    # the timed passes reuse generated code; compile cost is the cold
    # warm-up pass's
    warm = raw.get("warmup", [])
    m["catalog.codegen_s"] = float(sum(q.get("codegen_s", 0) for q in warm))
    m["catalog.codegen_compiles"] = float(sum(q.get("codegen_compiles", 0) for q in warm))
    count_s = raw.get("count_s", {})
    m["catalog.count_vs_noop"] = median(
        [count_s[q["name"]] / q["wall_s"] for q in qs if q["name"] in count_s])
    m["catalog.layer_coverage"] = layer_coverage(spans, passes)
    m["tables.warm_s"] = median([r["warm_s"] for r in raw["setup"]]) \
        if workload == "catalog" else 0.0
    m["jvm.heap_peak_mb"] = raw["layers"]["jvm.heap_peak_mb"]
    m["jvm.gc_s"] = raw["layers"]["jvm.gc_s"]
    m["box.probe"] = raw["box_probe_s"][0]
    return m
