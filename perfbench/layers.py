"""Per-layer metrics of the traced run: the names, their units, and how
each is folded from the spans (median over the traced operations)."""

from __future__ import annotations

import statistics

SPARK_LAYERS = ("operators.replay", "operators.diff", "operators.state")
COUNTER_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "failed_tasks": "count", "executor_run_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "input_records": "count",
}

# name -> (unit, better); layers a workload does not run report 0
METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "sources.manifest.discover_s": ("s", "lower"),
    "sources.manifest.files_returned": ("count", "lower"),
    "api.snapshot_plan_s": ("s", "lower"),
    "api.validate_fanout": ("ratio", "higher"),
}
for _layer in SPARK_LAYERS:
    for _c, _u in COUNTER_UNITS.items():
        METRICS[f"{_layer}.{_c}"] = (_u, "lower")
METRICS.update({
    "operators.replay.rows_out_per_row_in": ("ratio", "lower"),
    "operators.diff.chunks_compared": ("count", "lower"),
    "operators.diff.mismatched_chunk_ratio": ("ratio", "lower"),
    "operators.state.touched_bucket_ratio": ("ratio", "lower"),
    "operators.state.touched_bucket_ratio_hot_max": ("ratio", "lower"),
    "operators.state.touched_bucket_ratio_backfill_min": ("ratio", "higher"),
    "operators.state.bytes_written": ("bytes", "lower"),
    "operators.state.files_carried_ratio": ("ratio", "higher"),
    "operators.state.write_amp": ("ratio", "lower"),
    "trace.untraced_op_p50_s": ("s", "lower"),
    "trace.traced_op_p50_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
})


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, tracer, layer_runs, session_s, warm, traced) -> dict:
    totals = tracer.layer_totals()
    zero = {"wall_s": 0.0}
    vals: dict[str, list[float]] = {}

    def add(name, v):
        vals.setdefault(name, []).append(v)

    for i, extra in layer_runs:
        t = totals.get(i, {})
        add("sources.manifest.discover_s",
            t.get("sources.manifest.discover", zero)["wall_s"])
        add("api.snapshot_plan_s", t.get("api.snapshot", zero)["wall_s"])
        v = t.get("api.validate", zero)["wall_s"]
        add("api.validate_fanout",
            t.get("operators.diff", zero)["wall_s"] / v if v else 0.0)
        for layer in SPARK_LAYERS:
            for c in COUNTER_UNITS:
                add(f"{layer}.{c}", t.get(layer, {}).get(c, 0))
        for k, x in extra.items():
            add(k, x)

    out = {name: (_med(vals.get(name, [])), unit)
           for name, (unit, _) in METRICS.items()}
    out["session.start_s"] = (session_s, "s")

    stats = getattr(wl, "file_stats", {})
    if stats:
        hot = [s["touched_bucket_ratio"] for s in stats.values() if not s["backfill"]]
        back = [s["touched_bucket_ratio"] for s in stats.values() if s["backfill"]]
        for k in ("touched_bucket_ratio", "bytes_written",
                  "files_carried_ratio", "write_amp"):
            out[f"operators.state.{k}"] = (
                _med([s[k] for s in stats.values()]), METRICS[f"operators.state.{k}"][0])
        out["operators.state.touched_bucket_ratio_hot_max"] = (max(hot, default=0.0), "ratio")
        out["operators.state.touched_bucket_ratio_backfill_min"] = (min(back, default=0.0), "ratio")

    # each operation ran untraced and traced: pair them, so the mix of hot
    # and backfill windows and the JIT warm-up cancel out
    out["trace.untraced_op_p50_s"] = (_med(warm), "s")
    out["trace.traced_op_p50_s"] = (_med(traced), "s")
    out["trace.overhead_ratio"] = (
        _med([t / u for u, t in zip(warm, traced)]) - 1, "ratio")
    return out
