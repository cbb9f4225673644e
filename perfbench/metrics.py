"""Arithmetic of the benchmark: turns one run record (written by the
benchmark JVM, see src/main/scala/perfbench/Recorder.scala) into the
end-to-end and per-layer metrics named in BENCHMARK.json.

Kept free of I/O so test_metrics.py can check it on small fixed inputs.
"""
import math
import statistics

# The operation each workload's op_* metrics time.
OP_KIND = {
    "cdc_tail": "epoch",
    "lake_serve": "merge",
    "query_sweep": "query",
}

# Query-name prefixes of the sweep's per-family metrics.
SWEEP_PREFIXES = ["cdc", "d", "ta", "tr", "sim", "s", "t", "q", "mm", "c", "f", "r"]

TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

TAIL_BEYOND = 10


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(n):
    """The highest candidate percentile with at least TAIL_BEYOND samples
    beyond it, or 100 (the maximum) when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= TAIL_BEYOND:
            best = p
    return 100.0 if best is None else best


def tail(values):
    """(percentile, value, sample count) of the tail rule."""
    p = tail_percentile(len(values))
    return p, quantile(values, p / 100.0), len(values)


def fail_frac(failed, attempted):
    return failed / attempted if attempted else 1.0


def space_amp(disk_bytes, logical_bytes):
    return disk_bytes / logical_bytes if logical_bytes else 0.0


def self_times(spans):
    """Span id -> self time in ms: the span's duration minus the durations
    of its direct children (never below zero)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_ms"] - s["start_ms"])
    return {s["id"]: max(0.0, (s["end_ms"] - s["start_ms"]) - child.get(s["id"], 0.0))
            for s in spans}


def self_time_by_name(spans, top=8):
    """Total self time per span name (ms), largest first."""
    st = self_times(spans)
    by = {}
    for s in spans:
        key = s["name"].split(" ")[0]
        by[key] = by.get(key, 0.0) + st[s["id"]]
    return sorted(by.items(), key=lambda kv: -kv[1])[:top]


def setup_seconds(setup):
    """Session start + median of each repeated set-up part, summed."""
    return sum(median(v) for v in setup.values())


def _samples(raw, kind):
    return raw["samples"].get(kind, [])


def end_to_end(raw):
    w = raw["workload"]
    passes = [p for p in raw["passes"] if not p["traced"]] or raw["passes"]
    return {
        "setup_s": (setup_seconds(raw["setup"]), "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "op_p50_s": (median(_samples(raw, OP_KIND[w])), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "heap_peak_mb": (raw["values"].get("heap_peak_bytes", 0.0) / 2 ** 20, "MB"),
    }


def _per(total, n):
    return total / n if n else 0.0


def per_layer(raw):
    w = raw["workload"]
    v = raw["values"]
    tags = raw["tags"]
    traced = max(1, raw.get("traced_passes", 0))
    untraced_walls = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    traced_walls = [p["wall_s"] for p in raw["passes"] if p["traced"]]
    # the run's first pass still pays residual warm-up, so the overhead
    # compares the traced passes with the untraced ones between them
    later_untraced = [p["wall_s"] for p in raw["passes"][1:] if not p["traced"]]
    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    # the workload-level numbers
    put("op_tail_s", tail(_samples(raw, OP_KIND[w]))[1], "s")
    epochs = _samples(raw, "merge" if w == "lake_serve" else "epoch")
    if w == "lake_serve":
        rate = _per(raw["sizing"]["epoch_rows"] * len(epochs), sum(epochs))
    else:
        rate = _per(sum(_samples(raw, "epoch.rows")), sum(epochs))
    ep_pct, ep_tail, _ = tail(epochs)
    lookups = _samples(raw, "lookup")
    put("apply_events_per_s", rate, "1/s")
    put("epoch_p50_s", median(epochs), "s")
    put("epoch_tail_s", ep_tail if epochs else 0.0, "s")
    put("lookup_p50_s", median(lookups), "s")
    put("lookup_tail_s", tail(lookups)[1] if lookups else 0.0, "s")
    put("scan_p50_s", median(_samples(raw, "scan")), "s")
    put("sweep_s", median(untraced_walls) if w == "query_sweep" else 0.0, "s")
    put("space_amp", space_amp(v.get("space.disk_bytes", 0.0), v.get("space.logical_bytes", 0.0)), "ratio")
    put("fail_frac", fail_frac(raw["failed"], raw["attempted"]), "ratio")
    put("trace.overhead_frac",
        median(traced_walls) / median(later_untraced) - 1 if traced_walls and later_untraced else 0.0,
        "ratio")

    # lake: commit records of the traced passes' tables + their tagged Spark work
    work_tag = {"cdc_tail": "cdc", "lake_serve": "lake"}.get(w)
    t = tags.get(work_tag, {}) if work_tag else {}
    merges = v.get("lake.merges", 0.0)
    put("lake.shuffle_write_bytes", _per(t.get("shuffle_write_bytes", 0.0), merges), "bytes")
    put("lake.dup_ratio", _per(v.get("lake.rows_in", 0.0), v.get("lake.rows_applied", 0.0)), "ratio")
    put("lake.jobs_per_epoch", _per(t.get("jobs", 0.0), merges), "count")
    put("lake.merge_s", median(_samples(raw, "lake.merge")), "s")
    put("lake.compacted_buckets", _per(v.get("lake.compacted_buckets_sum", 0.0), merges), "count")
    put("lake.bytes_written_per_byte_in", _per(t.get("output_bytes", 0.0), v.get("lake.bytes_in", 0.0)),
        "ratio")
    put("lake.files_live", v.get("lake.files_live", 0.0), "count")
    put("lake.max_deltas_per_bucket", v.get("lake.max_deltas_per_bucket", 0.0), "count")
    kept = _samples(raw, "lake.scan_files_kept_frac")
    put("lake.scan_files_kept_frac", statistics.fmean(kept) if kept else 0.0, "ratio")
    put("lake.snapshot_read_s", median(_samples(raw, "snapshot_read")), "s")

    # streaming harness; the routed envelope phase of traced cdc_tail runs
    put("cdc.trigger_overhead_s", median(_samples(raw, "epoch.trigger_overhead")), "s")
    put("cdc.route_merge_max_s", median(_samples(raw, "cdc.route_merge_max")), "s")
    put("cdc.dlq_lines", v.get("cdc.dlq_lines", 0.0), "count")
    put("sources.decode_s", median(_samples(raw, "decode")), "s")
    put("sources.malformed_lines", v.get("sources.malformed_lines", 0.0), "count")

    # the sweep per query-name prefix
    for p in SWEEP_PREFIXES:
        names = [k[2:] for k in raw["samples"] if k.startswith("q.") and query_prefix(k[2:]) == p]
        put(f"sweep.{p}_s", sum(median(_samples(raw, "q." + n)) for n in names), "s")
        put(f"sweep.{p}.jobs", _per(sum(tags.get(n, {}).get("jobs", 0.0) for n in names), traced), "count")
        put(f"sweep.{p}.shuffle_bytes",
            _per(sum(tags.get(n, {}).get("shuffle_write_bytes", 0.0) for n in names), traced), "bytes")

    # Spark totals of the traced passes, per pass (the routed phase is apart)
    def total(k):
        return sum(x.get(k, 0.0) for tag, x in tags.items() if tag != "routed")
    put("spark.jobs", _per(total("jobs"), traced), "count")
    put("spark.stages", _per(total("stages"), traced), "count")
    put("spark.tasks", _per(total("tasks"), traced), "count")
    put("spark.task_cpu_s", _per(total("task_cpu_s"), traced), "s")
    put("spark.gc_s", _per(total("gc_s"), traced), "s")
    put("spark.spill_bytes", _per(total("spill_bytes"), traced), "bytes")
    put("spark.shuffle_read_bytes", _per(total("shuffle_read_bytes"), traced), "bytes")
    put("spark.cpu_util", _per(total("task_cpu_s"), sum(traced_walls) * raw["cores"]), "ratio")
    return out


def query_prefix(name):
    """Leading letters of a query name: q1_pricing -> q, ta_tfidf -> ta."""
    i = 0
    while i < len(name) and name[i].isalpha():
        i += 1
    return name[:i]
