"""Per-layer metrics of the traced run, by layer of the engine.

Every traced run prints every name below; a layer a workload does not
exercise reads 0 (no triggers in ``olap_mix``, no mix keys in the streams).
"""

from __future__ import annotations

import statistics

from olap import HEADLINE
from stats import median

PER_LAYER: dict[str, str] = {
    # session + JVM
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.gc_count": "count",
    "jvm.heap_after_gc_mb": "MB",
    # sources (tables.load_table)
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.memo_hit_ratio": "ratio",
    # plans (hints.maybe_broadcast, plan_size_bytes)
    "plans.maybe_broadcast_calls": "count",
    "plans.plan_size_s": "s",
    "plans.broadcast_hint_ratio": "ratio",
    # query build (registry + operator modules) and execution
    "query.build_s": "s",
    "query.exec_s": "s",
    "query.build_share": "ratio",
    **{f"query.{key}.exec_s": "s" for key in HEADLINE},
    # Spark execution (status store)
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.exchanges": "count",
    "exec.broadcast_exchanges": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_busy_share": "ratio",
    "exec.task_gc_s": "s",
    # streaming trigger loop (progress events)
    "streaming.triggers": "count",
    "streaming.rows_per_trigger": "rows",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_max": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.queue_wait_ms_p50": "ms",
    "streaming.scaling_vs_1core": "ratio",
    # state store (stateOperators of the progress events)
    "state.rows_total": "rows",
    "state.rows_updated": "rows",
    "state.memory_mb": "MB",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.coalesce_ratio": "ratio",
    # Python workers (SQL metrics of the Python exec nodes)
    "python.rows_sent": "rows",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "python.exec_s": "s",
    # the benchmark's sink and generator
    "sink.write_ms_p50": "ms",
    "sink.rows": "rows",
    "generator.late_ms_max": "ms",
    "generator.files": "count",
    "source.lag_files_max": "count",
    # the traced run against its own untraced repeat
    "trace.overhead_share": "ratio",
}

_PARTS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}
# execution order of a trigger's parts, for laying them out as spans
PART_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def empty() -> dict[str, float]:
    return dict.fromkeys(PER_LAYER, 0.0)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def listener_metrics(recorded: list[list[dict]], triggers: list[list]) -> dict[str, float]:
    """Trigger count, size and duration as ``recorded_progress`` received
    them, for the measured triggers of each phase (one query per phase)."""
    batches = [
        r for rec, trig in zip(recorded, triggers) for r in rec if r["batch_id"] in {t.batch_id for t in trig}
    ]
    if not batches:
        return {}
    durations = [r["duration_ms"] for r in batches]
    return {
        "streaming.triggers": len(batches),
        "streaming.rows_per_trigger": _mean(r["n_rows"] for r in batches),
        "streaming.trigger_ms_p50": median(durations),
        "streaming.trigger_ms_max": max(durations),
    }


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Trigger-part and state-store readings from the queries' own progress
    reports, over the triggers that read input."""
    trig = [p for p in progress if p["numInputRows"] > 0]
    out: dict[str, float] = {}
    if not trig:
        return out
    rows = sum(p["numInputRows"] for p in trig)
    for name, part in _PARTS.items():
        out[f"streaming.{name}"] = _mean(p["durationMs"].get(part, 0) for p in trig)

    def ops(p, field):
        return sum(op.get(field, 0) or 0 for op in p.get("stateOperators", []))

    updated = sum(ops(p, "numRowsUpdated") for p in trig)
    out["state.rows_total"] = max(ops(p, "numRowsTotal") for p in trig)
    out["state.rows_updated"] = updated
    out["state.memory_mb"] = max(ops(p, "memoryUsedBytes") for p in trig) / 2**20
    out["state.commit_ms"] = _mean(ops(p, "commitTimeMs") for p in trig)
    out["state.update_ms"] = _mean(ops(p, "allUpdatesTimeMs") for p in trig)
    out["state.coalesce_ratio"] = rows / updated if updated else 0.0
    return out


def lag_files_max(latencies, triggers) -> int:
    """Most files that had landed but were not yet committed when a trigger
    started (its own files included): how far reading lagged the input."""
    worst = 0
    for t in triggers:
        lag = sum(1 for f in latencies if f.created <= t.start and f.batch_id >= t.batch_id)
        worst = max(worst, lag)
    return worst
