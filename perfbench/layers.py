"""Per-layer metrics of a traced run, named after the engine's modules.

Extensive figures (seconds, counts, megabytes) are for one traced round:
one pass over the workload's queries, or one ingest round of every spec.
Shares are fractions of the traced calls' wall time. Every metric is
emitted on every workload; a layer the workload never calls reads 0,
which is why module and ingest figures are shares and counts, not
seconds.
"""

from __future__ import annotations

MODULES = (
    "operators.analytics",
    "operators.dedup",
    "operators.finance",
    "operators.multimodal",
    "operators.relational",
    "operators.sampling",
    "operators.semistructured",
    "operators.similarity",
    "operators.text",
    "operators.timeseries",
    "operators.tpch",
    "streaming.jobs",
)

MB = 1024 * 1024
ARROW_SENT = "data sent to Python workers"          # Python-runner SQL metrics
ARROW_RECEIVED = "data returned from Python workers"


def _is_fetch(stage) -> bool:
    """run_batch's eager localCheckpoint job runs the mapInPandas fetch."""
    return "checkpoint" in stage.name.lower()


def _metric(calls, key: str) -> float:
    return sum(s.metrics.get(key, 0.0) for c in calls for s in c.stages)


def layer_metrics(calls, *, cores, setup, probe_s, overhead_pct,
                  ingest=None, batches=()) -> dict:
    """Per-layer metrics from the calls of one traced round."""
    batch_calls = [c for c in calls if c.layer == "ingest.batch"]
    query_calls = [c for c in calls if c.layer != "ingest.batch"]
    query_wall = sum(c.wall for c in query_calls)
    batch_wall = sum(c.wall for c in batch_calls)
    all_wall = query_wall + batch_wall
    stage_wall = sum(c.stage_union() for c in calls)
    task_s = _metric(calls, "internal.metrics.executorRunTime") / 1000

    def share(part: float, whole: float) -> float:
        return part / whole if whole else 0.0

    m = {
        "session.start_s": (setup["session.start_s"], "s"),
        "setup.import_s": (setup["setup.import_s"], "s"),
        "setup.warm_s": (setup["setup.warm_s"], "s"),
        "calib.probe_s": (probe_s, "s"),
        "plan.build_s": (sum(c.build for c in query_calls), "s"),
        "plan.build_share": (share(sum(c.build for c in query_calls), query_wall), "ratio"),
        "exec.jobs": (sum(c.jobs for c in calls), "count"),
        "exec.stages": (sum(len(c.stages) for c in calls), "count"),
        "exec.tasks": (sum(s.tasks for c in calls for s in c.stages), "count"),
        "exec.stage_wall_s": (stage_wall, "s"),
        "exec.driver_s": (all_wall - stage_wall, "s"),
        "exec.task_s": (task_s, "s"),
        "exec.cpu_s": (_metric(calls, "internal.metrics.executorCpuTime") / 1e9, "s"),
        "exec.gc_s": (_metric(calls, "internal.metrics.jvmGCTime") / 1000, "s"),
        "exec.task_util": (share(task_s, stage_wall * cores), "ratio"),
        "exec.scan_mb": (_metric(calls, "internal.metrics.input.bytesRead") / MB, "MB"),
        "exec.shuffle_write_mb": (
            _metric(calls, "internal.metrics.shuffle.write.bytesWritten") / MB, "MB"),
        "exec.shuffle_read_mb": (
            (_metric(calls, "internal.metrics.shuffle.read.localBytesRead")
             + _metric(calls, "internal.metrics.shuffle.read.remoteBytesRead")) / MB, "MB"),
        "exec.spill_mb": (
            (_metric(calls, "internal.metrics.memoryBytesSpilled")
             + _metric(calls, "internal.metrics.diskBytesSpilled")) / MB, "MB"),
        "arrow.to_python_mb": (_metric(calls, ARROW_SENT) / MB, "MB"),
        "arrow.from_python_mb": (_metric(calls, ARROW_RECEIVED) / MB, "MB"),
    }
    for module in MODULES:
        wall = sum(c.wall for c in query_calls if c.layer == module)
        m[f"{module}.share"] = (share(wall, query_wall), "ratio")

    fetch = sum(c.stage_union(_is_fetch) for c in batch_calls)
    sink = sum(c.stage_union(lambda s: not _is_fetch(s)) for c in batch_calls)
    batch_stage = sum(c.stage_union() for c in batch_calls)
    reads = {
        layer: sum(c.wall for c in query_calls if c.layer == layer)
        for layer in ("ingest.read_deduped", "ingest.read_day")
    }
    fetched = sum(b.n_fetched for _, b, _ in batches)
    m.update({
        "ingest.fetch_share": (share(fetch, batch_wall), "ratio"),
        "ingest.sink_share": (share(sink, batch_wall), "ratio"),
        "ingest.driver_share": (share(batch_wall - batch_stage, batch_wall), "ratio"),
        "ingest.read_deduped_share": (share(reads["ingest.read_deduped"], all_wall), "ratio"),
        "ingest.read_day_share": (share(reads["ingest.read_day"], all_wall), "ratio"),
        "ingest.quarantine_ratio": (
            share(sum(b.n_quarantined for _, b, _ in batches), fetched), "ratio"),
        "ingest.files_per_batch": (
            share(sum(f for _, _, f in batches), len(batches)), "count"),
        "ingest.sink_files": ((ingest or {}).get("sink_files", 0), "count"),
        "trace.overhead_pct": (overhead_pct, "%"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
