"""Metric derivation for the broker benchmark.

The JVM harness writes raw samples (`raw.json`); everything here is a
pure function of those samples, so it is unit-tested without Spark.
"""
import math
import statistics

# The operation sets, shared with the harness (passed as parameters).
MIX_KEYS = [
    "sink_dump_related", "sink_should_dump", "events_windowed_agg", "q1_agg",
    "q8b_approx_distinct", "q28_correlated"]
CORPUS_KEYS = ["ann_ivf", "dedup_minhash_lsh"]

WORKLOADS = ["ingest_stream", "backfill", "query_mix"]

END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "pass_s": "s",
}

STREAMING_PHASES = ["addBatch", "queryPlanning", "getBatch", "walCommit",
                    "commitOffsets"]

LAYER_UNITS = {
    "sources.parse_ms": "ms", "sources.rows_ok": "count",
    "sources.rows_quarantined": "count",
    "streaming.epochs": "count", "streaming.trigger_ms_p50": "ms",
    **{f"streaming.{p}_ms_p50": "ms" for p in STREAMING_PHASES},
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "sink.addBatch_growth": "ratio", "sink.append_ms": "ms",
    "sink.replay_noop_ms": "ms", "sink.replay_rows": "count",
    "sink.view_ms": "ms", "sink.compact_ms": "ms",
    "sink.view_ms_compacted": "ms", "sink.replay_rows_after_compact": "count",
    "sink.log_files": "count", "sink.log_bytes": "bytes",
    "sink.log_rows_per_view_row": "ratio",
    "backfill.batches_planned": "count", "backfill.batches_landed": "count",
    "backfill.batches_failed": "count", "backfill.items_eligible": "count",
    "backfill.items_skipped": "count", "backfill.rows_appended": "count",
    "backfill.nested_rows_appended": "count", "backfill.gate_view_ms": "ms",
    "caches.live_entries": "count", "caches.storage_bytes": "bytes",
    "caches.materialization_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.task_ms_p50": "ms", "spark.task_ms_max": "ms",
    "spark.task_skew": "ratio", "spark.executor_cpu_ms": "ms",
    **{f"query.{k}_ms": "ms" for k in MIX_KEYS},
    **{f"corpus.{k}_{w}_ms": "ms" for k in CORPUS_KEYS for w in ("first", "warm")},
    "host.cpus": "count", "host.calibration_drift": "ratio",
    "host.steal_share": "ratio", "host.peak_rss_mb": "MB",
}

# The end-to-end metrics named per workload, written to the results file.
WORKLOAD_UNITS = {
    "ingest_events_per_s": "events/s", "ingest_batch_p50_ms": "ms",
    "ingest_batch_tail_ms": "ms", "backfill_rows_per_s": "rows/s",
    "backfill_incremental_s": "s", "backfill_noop_s": "s",
    "query_p50_ms": "ms", "query_tail_ms": "ms", "query_pass_s": "s",
    "corpus_warm_s": "s", "corpus_cold_s": "s",
    "ops_failed_ratio": "ratio", "peak_rss_mb": "MB", "setup_s": "s",
}

TAIL_PERCENTILES = [99.9, 99.5, 99, 98, 95, 90, 80, 75, 50]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    return float(statistics.geometric_mean(xs)) if xs else 0.0


def tail_percentile(xs, min_beyond: int = 10):
    """Highest percentile of `xs` with at least `min_beyond` samples above it.

    Returns (percentile, value, n). Nearest-rank: the value at rank
    ceil(p/100 * n) leaves n - rank samples beyond it. Raises ValueError
    when no candidate percentile leaves `min_beyond` samples beyond.
    """
    n = len(xs)
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, float(s[rank - 1]), n
    raise ValueError(f"{n} samples leave fewer than {min_beyond} beyond any "
                     f"of the percentiles {TAIL_PERCENTILES}")


def self_times(spans) -> dict:
    """Span id -> self time in ns: its duration minus the union of its
    children's intervals (clipped to the span), so overlapping children
    such as parallel Spark stages are not subtracted twice."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                    for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0, (hi - lo) - covered)
    return out


def self_time_by_name(spans) -> dict:
    """Total self time in ms per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e6
    return {k: round(v, 3) for k, v in sorted(out.items())}


def _samples(raw, name):
    return raw.get("samples", {}).get(name, [])


def _query_samples(raw, keys):
    return [x for k in keys for x in _samples(raw, f"query.{k}")]


def _best(raw, names):
    """Each operation's best (lowest) sample, or None when any operation
    has none: it failed on every rep, and a figure over the others would
    read as a speed-up."""
    best = [min(_samples(raw, n), default=None) for n in names]
    return None if not best or None in best else best


def _epochs(raw):
    """Sample names of the stream's epochs, one per drop file in order."""
    n = int(raw.get("values", {}).get("epochs_per_pass", 0))
    return [f"epoch_ms.{i}" for i in range(n)]


def _ratio(a, b):
    return None if a is None or not b else a / b


def end_to_end(raw: dict, gen_s: float) -> dict:
    """The metrics every workload reports (see README). A metric whose
    operations failed is None; the run is then reported incorrect."""
    w = raw["workload"]
    setup_s = gen_s + raw["setup_ms"] / 1e3
    if w == "ingest_stream":
        # best pass per epoch, and the best drain
        ops = _best(raw, _epochs(raw))
        pass_s = min(_samples(raw, "drain_s"), default=None)
    else:
        # best cycle per phase, best rep per key: the reps differ only by
        # JIT warm-up and host contention, both of which only add time
        names = ([f"{p}_s" for p in ("p1", "p2", "p3")] if w == "backfill"
                 else [f"query.{k}" for k in MIX_KEYS + CORPUS_KEYS])
        ops = _best(raw, names)
        if ops and w == "backfill":
            ops = [x * 1e3 for x in ops]
        pass_s = sum(ops) / 1e3 if ops else None
    return {"setup_s": setup_s, "op_geomean_ms": geomean(ops) if ops else None,
            "pass_s": pass_s}


def workload_metrics(raw: dict, e2e: dict) -> dict:
    """The end-to-end metrics named for this workload (results file only)."""
    w = raw["workload"]
    vals = raw.get("values", {})
    out = {"setup_s": e2e["setup_s"], "peak_rss_mb": raw["peak_rss_mb"],
           "ops_failed_ratio": raw["failed"] / max(raw["attempted"], 1)}
    extra = {}

    def tail(name, xs):
        try:
            p, v, n = tail_percentile(xs)
            out[name] = v
            extra[name] = {"percentile": p, "n": n}
        except ValueError as e:
            extra[name] = {"refused": str(e)}

    if w == "ingest_stream":
        epochs = [x for n in _epochs(raw) for x in _samples(raw, n)]
        out["ingest_events_per_s"] = _ratio(vals.get("sources.rows_ok"), e2e["pass_s"])
        out["ingest_batch_p50_ms"] = median(epochs) if epochs else None
        tail("ingest_batch_tail_ms", epochs)
    elif w == "backfill":
        best = _best(raw, ["p1_s", "p2_s", "p3_s"]) or [None] * 3
        rows = _samples(raw, "p1_rows")
        out["backfill_rows_per_s"] = _ratio(rows[0] if rows else None, best[0])
        out["backfill_incremental_s"] = best[1]
        out["backfill_noop_s"] = best[2]
    else:
        q = _query_samples(raw, MIX_KEYS)
        out["query_p50_ms"] = median(q) if q else None
        out["query_pass_s"] = e2e["pass_s"]
        tail("query_tail_ms", q)
        warm = [_samples(raw, f"query.{k}") for k in CORPUS_KEYS]
        first = [vals.get(f"corpus.{k}_first_ms") for k in CORPUS_KEYS]
        out["corpus_warm_s"] = (None if not all(warm)
                                else sum(median(x) for x in warm) / 1e3)
        out["corpus_cold_s"] = None if None in first else sum(first) / 1e3
    for k, v in list(out.items()):
        out[k] = {"value": v, "unit": WORKLOAD_UNITS[k], **extra.get(k, {})}
    for k, v in extra.items():
        if k not in out:
            out[k] = {"value": None, "unit": WORKLOAD_UNITS[k], **v}
    return out


def per_layer(raw: dict, wl: dict) -> dict:
    """Every per-layer metric; 0 where the workload does not run the layer."""
    vals = raw.get("values", {})
    m = {k: 0.0 for k in LAYER_UNITS}
    for k, v in vals.items():
        if k in m:
            m[k] = float(v)
    prog = raw.get("progress", [])
    if prog:
        data = [p for p in prog if p["rows"] > 0]
        dur = lambda ps, k: [p["duration_ms"].get(k, 0) for p in ps]
        m["streaming.epochs"] = len(prog)
        m["streaming.trigger_ms_p50"] = median(dur(data, "triggerExecution"))
        for ph in STREAMING_PHASES:
            m[f"streaming.{ph}_ms_p50"] = median(dur(data, ph))
        m["streaming.state_rows"] = prog[-1]["state_rows"]
        m["streaming.state_bytes"] = max(p["state_bytes"] for p in prog)
        m["streaming.late_rows_dropped"] = sum(p["late_dropped"] for p in prog)
        adds = dur(data, "addBatch")
        k = min(10, len(adds) // 2)
        if k and median(adds[:k]) > 0:
            m["sink.addBatch_growth"] = median(adds[-k:]) / median(adds[:k])
    m["backfill.gate_view_ms"] = median(_samples(raw, "gate_view_ms"))
    for name, sample in [("plan.analysis_ms", "phase.analysis"),
                         ("plan.optimization_ms", "phase.optimization"),
                         ("plan.planning_ms", "phase.planning"),
                         ("plan.exec_ms", "exec_ms")]:
        m[name] = median(_samples(raw, sample))
    sp = raw.get("spark")
    if sp:
        tasks = sp["task_ms"]
        m["spark.jobs"] = sp["jobs"]
        m["spark.stages"] = sp["stages"]
        m["spark.tasks"] = sp["tasks"]
        m["spark.shuffle_read_bytes"] = sp["shuffle_read_bytes"]
        m["spark.shuffle_write_bytes"] = sp["shuffle_write_bytes"]
        m["spark.task_ms_p50"] = median(tasks)
        m["spark.task_ms_max"] = max(tasks) if tasks else 0.0
        m["spark.task_skew"] = (m["spark.task_ms_max"] / m["spark.task_ms_p50"]
                                if m["spark.task_ms_p50"] > 0 else 0.0)
        m["spark.executor_cpu_ms"] = sp["cpu_ns"] / 1e6
    if raw["workload"] == "query_mix":
        for k in MIX_KEYS:
            m[f"query.{k}_ms"] = median(_samples(raw, f"query.{k}"))
        for k in CORPUS_KEYS:
            m[f"corpus.{k}_warm_ms"] = median(_samples(raw, f"query.{k}"))
        cold, warm = wl["corpus_cold_s"]["value"], wl["corpus_warm_s"]["value"]
        if cold is not None and warm is not None:
            m["caches.materialization_s"] = cold - warm
    m["host.cpus"] = raw["cpus"]
    c = raw["calibration_ms"]
    m["host.calibration_drift"] = max(c) / min(c) if min(c) > 0 else 0.0
    m["host.steal_share"] = raw.get("steal_share", 0.0)
    m["host.peak_rss_mb"] = raw["peak_rss_mb"]
    return {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in m.items()}
