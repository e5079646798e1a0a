"""Spans for the traced run: benchmark-side spans plus Spark's event log.

The benchmark records one span per call into the engine (query build,
query execute, ``run_batch``, sink read) and tags every Spark job the
call submits with ``setJobGroup(call_id, name)``. While a traced round
runs, an ``EventLoggingListener`` writes Spark's event log (uncompressed)
into a scratch directory; afterwards the jobs and stages in it are
parsed and attached to their calls as child spans. All spans stay in
memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

@dataclass
class Stage:
    start_ms: int
    end_ms: int
    tasks: int
    name: str
    metrics: dict[str, float]


@dataclass
class Call:
    """One call into the engine, timed from outside (epoch seconds)."""

    call_id: str
    name: str
    layer: str            # operators.<module>, streaming.jobs, ingest.batch, ingest.read_*
    start: float
    build_end: float
    end: float
    traced: bool = False
    round: int = 0
    jobs: int = 0
    stages: list[Stage] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def build(self) -> float:
        return self.build_end - self.start

    def stage_union(self, predicate=lambda s: True) -> float:
        """Seconds of this call covered by at least one (selected) stage."""
        spans = sorted(
            (s.start_ms, s.end_ms) for s in self.stages if predicate(s)
        )
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return min(covered / 1000.0, self.wall)


class EventLog:
    """Attach/detach Spark's own event-log writer to a live session."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._bus_owner = sc._jsc.sc()
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        conf = self._bus_owner.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId,
            jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._attached = False

    def attach(self) -> None:
        if not self._attached:
            self._bus_owner.addSparkListener(self._listener)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            self._bus_owner.listenerBus().waitUntilEmpty()
            self._bus_owner.removeSparkListener(self._listener)
            self._attached = False

    def close(self) -> list[dict]:
        """Stop the writer and return every logged event."""
        self.detach()
        self._listener.stop()
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*", "events_*"))):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return events


def attach_stages(calls: list[Call], events: list[dict]) -> None:
    """Attach each completed stage to the call whose job group ran it."""
    by_id = {c.call_id: c for c in calls}
    stage_owner: dict[int, Call] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            call = by_id.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if call is not None:
                call.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_owner[sid] = call
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            call = stage_owner.get(info["Stage ID"])
            if call is None or "Completion Time" not in info:
                continue
            metrics: dict[str, float] = {}
            for acc in info.get("Accumulables", []):
                try:
                    metrics[acc["Name"]] = metrics.get(acc["Name"], 0.0) + float(acc["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
            call.stages.append(
                Stage(
                    info["Submission Time"],
                    info["Completion Time"],
                    info["Number of Tasks"],
                    info.get("Stage Name", ""),
                    metrics,
                )
            )


def spans_json(calls: list[Call]) -> list[dict]:
    """Flat span records (call spans and their stage children)."""
    out = []
    for c in calls:
        out.append({
            "id": c.call_id, "parent": None, "name": c.name, "layer": c.layer,
            "start": c.start, "end": c.end, "build_s": c.build, "jobs": c.jobs,
        })
        for i, s in enumerate(c.stages):
            out.append({
                "id": f"{c.call_id}/s{i}", "parent": c.call_id, "name": s.name,
                "layer": "exec", "start": s.start_ms / 1000, "end": s.end_ms / 1000,
                "tasks": s.tasks, "metrics": s.metrics,
            })
    return out
