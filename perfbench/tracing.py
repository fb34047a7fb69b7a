"""In-memory spans around layer calls, and Spark counters per span.

A ``Tracer`` records one span per layer call (name, start, end, parent,
run id) and sets the Spark job group to the span id while the span is
open, so every job the call submits carries the span in its properties.
Spark's event log (enabled only for the traced session) is parsed after
that session stops; ``attribute`` sums task counters per span.  Jobs
submitted from another thread (streaming micro-batches run on the
query's own thread, under the query's job group) fall back to the
innermost span whose interval holds their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager

# the layers the benchmark times, by module, with their public entry points
LAYERS = {
    "session": "get_spark",
    "operators.assign": "assign_and_expand",
    "operators.sessions": "session_assignments",
    "operators.clip": "clip_tiles + clip_assignments",
    "operators.optimize": "merged_assignments",
    "sinks.manifests": "tile_manifests",
    "sinks.mbtiles": "export_mbtiles",
    "operators.dedup": "hamming_near_dups",
    "operators.components": "connected_components",
    "streaming.dedup_stream": "streaming_hamming_dedup drain",
}
COUNTERS = ["wall_s", "jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "rows_out"]
ARROW_LAYERS = ["operators.sessions", "operators.clip", "operators.optimize",
                "streaming.dedup_stream"]
ARROW_COUNTERS = ["python_sent_bytes", "python_recv_bytes"]
STREAM_COUNTERS = ["add_batch_ms", "commit_ms", "planning_ms", "state_rows", "state_bytes"]
RATIOS = ["operators.clip.kept_ratio", "operators.sessions.rows_out_per_in"]

# SQL metric names of the Arrow-boundary execs (MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandas, ...), as they appear in task accumulables
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_GROUP_KEY = "spark.jobGroup.id"


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"{layer}.{c}" for layer in ARROW_LAYERS for c in ARROW_COUNTERS]
    names += [f"streaming.dedup_stream.{c}" for c in STREAM_COUNTERS]
    return names + RATIOS


class Tracer:
    """Spans kept in memory; ``extra`` holds per-span values the caller
    measures itself (rows out, streaming progress)."""

    def __init__(self, spark_context=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = spark_context

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"{self.run_id}-{len(self.spans)}", "name": name,
              "parent": parent["id"] if parent else None, "run_id": self.run_id,
              "start": time.time(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP_KEY, sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_KEY, parent["id"] if parent else None)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf for an uncompressed local event log (UI stays off)."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _span_for(spans: list[dict], group: str | None, t_ms: float) -> dict | None:
    by_id = {s["id"]: s for s in spans}
    if group in by_id:
        return by_id[group]
    t = t_ms / 1000.0
    inside = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
    return max(inside, key=lambda s: s["start"]) if inside else None


def attribute(spans: list[dict], events: list[dict]) -> dict[str, dict]:
    """span id → summed counters of the jobs and tasks it caused."""
    out = {s["id"]: {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                     "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                     "spill_bytes": 0, "python_sent_bytes": 0,
                     "python_recv_bytes": 0} for s in spans}
    stage_span: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            sp = _span_for(spans, (e.get("Properties") or {}).get(_GROUP_KEY),
                           e["Submission Time"])
            if sp is not None:
                out[sp["id"]]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sp = _span_for(spans, (e.get("Properties") or {}).get(_GROUP_KEY),
                           info.get("Submission Time") or 0)
            if sp is not None:
                stage_span[info["Stage ID"]] = sp["id"]
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            c = out[sid]
            c["tasks"] += 1
            c["task_s"] += m["Executor Run Time"] / 1000.0
            c["gc_s"] += m["JVM GC Time"] / 1000.0
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == _PY_SENT:
                    c["python_sent_bytes"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == _PY_RECV:
                    c["python_recv_bytes"] += int(acc.get("Update") or 0)
    return out


def stream_progress(progress: list) -> dict:
    """Summed micro-batch durations and final state size of one drain,
    from ``StreamingQuery.recentProgress``."""
    add = commit = plan = 0
    rows = size = 0
    for p in progress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        dur = d.get("durationMs", {})
        add += dur.get("addBatch", 0)
        commit += dur.get("commitOffsets", 0) + dur.get("walCommit", 0)
        plan += dur.get("queryPlanning", 0)
        ops = d.get("stateOperators") or []
        if ops:
            rows = ops[0].get("numRowsTotal", 0)
            size = ops[0].get("memoryUsedBytes", 0)
    return {"add_batch_ms": add, "commit_ms": commit, "planning_ms": plan,
            "state_rows": rows, "state_bytes": size}
