"""Metric definitions: the end-to-end set and the per-layer set.

Both workloads report every metric. A layer a workload does not call
reports 0, which is the predicted "no change" for that workload.
"""

from __future__ import annotations

from statistics import median

from stats import check_metric_name
from workloads import PASS_QUERIES, STREAM_PHASES, WAREHOUSE_STAGES

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}

SPARK_COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)
STREAM_COUNTS = ("batches", "input_rows", "state_rows", "watermark_dropped_rows")
QUERY_PHASES = ("construct_s", "analysis_s", "optimize_s", "planning_s", "exec_s")


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "registry.load_s": "s", "warmup_s": "s"}
    for c in SPARK_COUNTS:
        units[f"spark.{c}"] = "bytes" if c.endswith("bytes") else "count"
    units |= {"spark.task_busy_s": "s", "spark.gc_s": "s", "spark.busy_share": "ratio"}
    units |= {"cli.ingestion_s": "s", "cli.analytics_s": "s", "cli.stream_s": "s"}
    units |= {f"warehouse.{s}_s": "s" for s in WAREHOUSE_STAGES}
    units |= {f"stream.{p}": "ms" for p in STREAM_PHASES}
    units |= {f"stream.{c}": "count" for c in STREAM_COUNTS}
    units["stream.state_bytes"] = "bytes"
    units |= {f"query.{p}": "s" for p in QUERY_PHASES}
    units["query.fixed_share"] = "ratio"
    units |= {f"query.{q}_s": "s" for q in PASS_QUERIES}
    units["trace.overhead_share"] = "ratio"
    return units


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    return {check_metric_name(k): {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(setup_s: float, peak_rss: int, latencies: list[float], wall: float) -> dict:
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "latency_p50_s": median(latencies),
        "throughput_per_s": len(latencies) / wall,
    }
    return _metrics(values, END_TO_END_UNITS)


def _med(xs) -> float:
    return median(xs) if xs else 0.0


def per_layer(
    w,
    *,
    session_s: float,
    registry_s: float,
    warmup_s: float,
    spark_delta: dict[str, int],
    ops: int,
    wall: float,
    cores: int,
    overhead_s: float,
) -> dict:
    """Per-layer metrics over the measured region; Spark counts are per operation."""
    units = per_layer_units()
    values = dict.fromkeys(units, 0.0)
    values |= {
        "session.start_s": session_s,
        "registry.load_s": registry_s,
        "warmup_s": warmup_s,
    }
    for c in SPARK_COUNTS:
        values[f"spark.{c}"] = spark_delta[c] / ops
    values["spark.task_busy_s"] = spark_delta["task_busy_ms"] / 1e3 / ops
    values["spark.gc_s"] = spark_delta["gc_ms"] / 1e3 / ops
    values["spark.busy_share"] = spark_delta["task_busy_ms"] / 1e3 / (wall * cores)
    for layer, xs in getattr(w, "layer_times", {}).items():
        values[f"{layer}_s"] = _med(xs)
    phases = getattr(w, "phases", [])
    for key in (*QUERY_PHASES, "fixed_share"):
        values[f"query.{key}"] = _med([p[key] for p in phases])
    for name, xs in getattr(w, "samples", {}).items():
        values[f"query.{name}_s"] = _med(xs)
    progress = getattr(w, "stream_progress", None)
    if progress is not None and progress.measured:
        values |= stream_values(progress.measured, passes=len(w.latencies()))
    values["trace.overhead_share"] = overhead_s / wall
    return _metrics(values, units)


def stream_values(batches: list, passes: int) -> dict[str, float]:
    """Per-batch medians of the durationMs phases; per-pass batch, row and
    late-row counts; the largest state a pass left."""
    out = {
        f"stream.{name}": _med([b.durationMs.get(key, 0) for b in batches])
        for name, key in STREAM_PHASES.items()
    }
    states = [op for b in batches for op in b.stateOperators]
    out["stream.batches"] = len(batches) / passes
    out["stream.input_rows"] = sum(b.numInputRows for b in batches) / passes
    out["stream.state_rows"] = max((op.numRowsTotal for op in states), default=0)
    out["stream.state_bytes"] = max((op.memoryUsedBytes for op in states), default=0)
    out["stream.watermark_dropped_rows"] = (
        sum(op.numRowsDroppedByWatermark for op in states) / passes
    )
    return out
