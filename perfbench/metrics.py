"""Metric names and units, and the assembly of the per-layer metrics of a
traced run.  BENCHMARK.json lists the same names; a self-test keeps the
two in step.

Every per-layer metric is reported on every workload.  A layer that a
workload does not call reads 0 there (for example `reach.*` on `scan`).
"""

from __future__ import annotations

from perfbench import observe
from perfbench.passes import PASS_GROUPS

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "batch_p50_ms": "ms",
}

BUNDLE = ("user-input-to-read", "source-to-sink", "literal-to-call-arg",
          "eval-like-call", "document-write", "dangerous-prop-assign")

PER_LAYER = {
    "extract.ms_per_doc": "ms",
    **{f"cpg.{g}.ms_per_doc": "ms" for g in PASS_GROUPS},
    "cpg.nodes_per_doc": "count",
    "cpg.edges_per_doc": "count",
    "cpg.reaching_def_edges_per_doc": "count",
    "cpg.ms_per_node.small": "ms",
    "cpg.ms_per_node.large": "ms",
    "cpg.passes_missing": "count",
    **{f"query.{q}.ms_per_doc": "ms" for q in BUNDLE},
    "query.flows_per_doc": "count",
    "build.wall_s": "s",
    "build.rows": "count",
    "store.write_s": "s",
    "arrow.to_python_mb": "MiB",
    "arrow.from_python_mb": "MiB",
    "reach.wall_s": "s",
    "reach.jobs": "count",
    "reach.driver_gap_s": "s",
    "reach.pairs": "count",
    "cc.wall_s": "s",
    "cc.rounds": "count",
    "cc.jobs": "count",
    "cc.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.driver_gap_s": "s",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.input_mb": "MiB",
    "spark.output_mb": "MiB",
    "spark.task_skew": "ratio",
    "stream.batches": "count",
    "stream.rows_per_batch": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "state.rows_total_max": "count",
    "state.memory_mb_max": "MiB",
    "state.commit_ms_p50": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sink.bytes": "bytes",
    "sink.files": "count",
    "checkpoint.bytes": "bytes",
    "cached_frames_left": "count",
    "peak_rss_mb": "MiB",
    "failed_frac": "ratio",
    "batch.samples": "count",
    "batch.tail_percentile": "%",
    "batch.tail_ms": "ms",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    **{f"traced.{k}": v for k, v in END_TO_END.items()},
}

_PROGRESS_KEYS = {
    "stream.add_batch_ms_p50": "addBatch",
    "stream.query_planning_ms_p50": "queryPlanning",
    "stream.wal_commit_ms_p50": "walCommit",
    "stream.commit_offsets_ms_p50": "commitOffsets",
    "stream.latest_offset_ms_p50": "latestOffset",
    "stream.get_batch_ms_p50": "getBatch",
}


def _p50(values) -> float:
    return observe.median(values) if values else 0.0


def stream_layers(wl) -> dict:
    progress = wl.progress
    out = {"stream.batches": len(progress),
           "stream.rows_per_batch": _p50([p["numInputRows"]
                                          for p in progress])}
    for name, key in _PROGRESS_KEYS.items():
        out[name] = _p50([p["durationMs"].get(key, 0) for p in progress])
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    out["state.rows_total_max"] = max((o["numRowsTotal"] for o in ops),
                                      default=0)
    out["state.memory_mb_max"] = max((o["memoryUsedBytes"] for o in ops),
                                     default=0) / (1 << 20)
    out["state.commit_ms_p50"] = _p50([o["commitTimeMs"] for o in ops])
    out["state.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for o in ops)
    out["sink.bytes"], out["sink.files"] = observe.dir_stats(wl.out_dir)
    out["checkpoint.bytes"] = observe.dir_stats(wl.cp_dir)[0]
    return out


def graph_layers(wl, ui) -> dict:
    out = {
        "build.wall_s": wl.window_s("build"),
        "build.rows": wl.counts["build_rows"],
        "store.write_s": wl.window_s("store"),
        "reach.wall_s": wl.window_s("reach"),
        "reach.pairs": len(wl.reach_rows),
        "cc.wall_s": wl.window_s("cc"),
        "cc.rounds": wl.cc_stats.get("rounds", 0),
    }
    for part in ("reach", "cc"):
        stats = ui.job_stats(*wl.windows[part])
        out[f"{part}.jobs"] = stats["jobs"]
        out[f"{part}.driver_gap_s"] = stats["driver_gap_s"]
    return out


def spark_layers(wl, ui) -> dict:
    lo, hi = wl.windows["timed"]
    jobs = ui.job_stats(lo, hi)
    out = {"spark.jobs": jobs["jobs"],
           "spark.driver_gap_s": jobs["driver_gap_s"]}
    for k, v in ui.executor_stats(jobs["stage_ids"]).items():
        out[f"spark.{k}"] = v
    out["arrow.to_python_mb"], out["arrow.from_python_mb"] = \
        ui.python_mb(lo, hi)
    return out


def per_layer(wl, ui, passes: dict, extra: dict) -> dict:
    """All PER_LAYER values for a traced run of workload `wl`."""
    out = dict.fromkeys(PER_LAYER, 0)
    out.update(passes["metrics"])
    out["cpg.passes_missing"] = len(passes["missing"])
    out.update(spark_layers(wl, ui))
    if wl.name == "stream":
        out.update(stream_layers(wl))
    if wl.name == "graph":
        out.update(graph_layers(wl, ui))
    out.update(extra)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out
