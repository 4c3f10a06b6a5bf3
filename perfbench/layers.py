"""The traced run: per-layer metrics from spans and the Spark event log.

The layered chain is scan → tokens → parser → enrich → cache → route →
aggregate over the whole input, followed by one traced `run_pipeline`
call.  A layer's self time is its span minus its upstream span: each
span recomputes its upstream, because it is materialized on its own.
The traced pass is that `run_pipeline` call.
"""

from __future__ import annotations

from spans import MB, PY_BOOT, PY_RETURNED, PY_RUN, PY_SENT, GroupStats, Tracer

LAYERS = ("scan", "tokens", "parser", "enrich", "cache", "route", "aggregate", "pipeline")

# name -> (unit, better); the order is the order of BENCHMARK.json
PER_LAYER = {
    "scan.s": ("s", "lower"), "scan.in_mb": ("MB", "lower"),
    "tokens.roundtrip_s": ("s", "lower"), "tokens.roundtrip_violations": ("count", "lower"),
    "parser.s": ("s", "lower"), "parser.task_s": ("s", "lower"),
    "parser.py_run_s": ("s", "lower"), "parser.to_py_mb": ("MB", "lower"),
    "parser.from_py_mb": ("MB", "lower"), "parser.null_ts_rows": ("count", "lower"),
    "parser.py_boot_s": ("s", "lower"),
    "enrich.s": ("s", "lower"), "enrich.jobs": ("count", "lower"),
    "cache.s": ("s", "lower"), "cache.mb": ("MB", "lower"),
    "route.s": ("s", "lower"), "route.size_s": ("s", "lower"),
    "route.write_s": ("s", "lower"), "route.shuffle_mb": ("MB", "lower"),
    "route.tasks": ("count", "lower"), "route.task_skew": ("ratio", "lower"),
    "route.files": ("count", "lower"), "route.out_mb": ("MB", "lower"),
    "aggregate.s": ("s", "lower"), "aggregate.base_s": ("s", "lower"),
    "aggregate.host_s": ("s", "lower"), "aggregate.shuffle_mb": ("MB", "lower"),
    "pipeline.s": ("s", "lower"), "pipeline.bucket_s_max": ("s", "lower"),
    "pipeline.overhead_s": ("s", "lower"), "pipeline.first_pass_s": ("s", "lower"),
    "pipeline.peak_rss_mb": ("MB", "lower"),
    **{f"{layer}.gc_s": ("s", "lower") for layer in LAYERS},
    **{f"{layer}.spill_mb": ("MB", "lower") for layer in LAYERS},
    "trace.coverage": ("ratio", "higher"), "trace.overhead_s": ("s", "lower"),
}

# the Python worker timing metrics are millisecond SQL timings
MS = 1e3


def layer_metrics(tracer: Tracer, values: dict, groups: dict[str, GroupStats],
                  app_py: dict, first_pass_s: float, untraced_s: float,
                  peak_rss_mb: float) -> dict:
    """Every PER_LAYER metric from the spans of `tracer`, the values the
    traced chain measured and the event log's per-job-group stats."""
    span, v = tracer.seconds, values
    g = lambda layer: groups.get(layer, GroupStats())  # noqa: E731
    parser, route = g("parser"), g("route")
    size_end = route.first_execution_end()
    size_s = size_end - tracer.epoch_start("route") if size_end else 0.0
    out = {
        "scan.s": span("scan"),
        "scan.in_mb": v["scan_bytes"] / MB,
        "tokens.roundtrip_s": span("tokens") - span("scan"),
        "tokens.roundtrip_violations": v["roundtrip_violations"],
        "parser.s": span("parser") - span("scan"),
        "parser.task_s": parser.run_ms / 1000,
        "parser.py_run_s": parser.py[PY_RUN] / MS,
        "parser.to_py_mb": parser.py[PY_SENT] / MB,
        "parser.from_py_mb": parser.py[PY_RETURNED] / MB,
        "parser.null_ts_rows": v["null_ts_rows"],
        "parser.py_boot_s": app_py.get(PY_BOOT, 0) / MS,
        "enrich.s": span("enrich") - span("parser"),
        "enrich.jobs": len(g("enrich").jobs),
        "cache.s": span("cache") - span("enrich"),
        "cache.mb": v["cache_mb"],
        "route.s": span("route"),
        "route.size_s": size_s,
        "route.write_s": span("route") - size_s,
        "route.shuffle_mb": route.shuffle_write_bytes / MB,
        "route.tasks": route.tasks,
        "route.task_skew": route.last_stage_skew(),
        "route.files": v["route_files"],
        "route.out_mb": v["route_bytes"] / MB,
        "aggregate.s": span("aggregate"),
        "aggregate.base_s": span("aggregate.base"),
        "aggregate.host_s": span("aggregate.host"),
        "aggregate.shuffle_mb": g("aggregate").shuffle_write_bytes / MB,
        "pipeline.s": span("pipeline"),
        "pipeline.bucket_s_max": v["bucket_s_max"],
        "pipeline.first_pass_s": first_pass_s,
        "pipeline.peak_rss_mb": peak_rss_mb,
    }
    # what run_pipeline runs, layer by layer (it counts no hosts)
    layered = sum(out[m] for m in (
        "scan.s", "tokens.roundtrip_s", "parser.s", "enrich.s", "cache.s",
        "route.s", "aggregate.base_s"))
    out["pipeline.overhead_s"] = span("pipeline") - layered
    for layer in LAYERS:
        out[f"{layer}.gc_s"] = g(layer).gc_ms / 1000
        out[f"{layer}.spill_mb"] = g(layer).spill_bytes / MB
    out["trace.coverage"] = layered / span("pipeline")
    out["trace.overhead_s"] = span("pipeline") - untraced_s
    return {k: {"value": float(out[k]), "unit": unit} for k, (unit, _) in PER_LAYER.items()}
