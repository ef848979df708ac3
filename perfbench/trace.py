"""Tracing for the benchmark's traced run.

All of it sits outside the engine: spans are recorded around the calls
the benchmark makes into each module, Spark jobs are labelled with
``setJobGroup``, and the engine-side numbers come from Spark's own event
log (enabled from the benchmark process, see ``session.prepare_env``).

``LayerPatch`` swaps an engine function for a wrapper in the namespace of
the module that calls it (e.g. ``pipeline.extract_features``). The
wrapper labels the layer's jobs, materialises and caches its output
DataFrame and records one span, so each layer is timed by itself and the
next layer reads the cached result. The patch is undone on exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: (name, start, end, parent, pass id, counts)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = ""

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.pass_id}:{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]["name"]
                sc.setJobGroup(f"{self.pass_id}:{outer}", outer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: Path, metrics: dict) -> None:
        path.write_text(json.dumps({"spans": self.spans, "metrics": metrics}))


class LayerPatch:
    """Wrap ``module.attr`` so each call runs as one materialised span."""

    def __init__(self, tracer: Tracer, targets: list[tuple[object, str, str]]):
        self.tracer = tracer
        self.targets = targets
        self.saved: list[tuple[object, str, object]] = []
        self.outputs: dict[str, object] = {}

    def _wrap(self, layer: str, fn):
        tracer, outputs = self.tracer, self.outputs

        def traced(*args, **kwargs):
            with tracer.span(layer) as rec:
                df = fn(*args, **kwargs).cache()
                rec["counts"]["rows"] = df.count()
            outputs[layer] = df
            return df

        return traced

    def __enter__(self):
        for module, attr, layer in self.targets:
            fn = getattr(module, attr)
            self.saved.append((module, attr, fn))
            setattr(module, attr, self._wrap(layer, fn))
        return self

    def __exit__(self, *exc):
        for module, attr, fn in reversed(self.saved):
            setattr(module, attr, fn)
        self.saved.clear()


def self_times(spans: list[dict]) -> tuple[dict[tuple[str, str], float], float, float]:
    """Self time per (pass, layer) (span minus the union of its children),
    plus the wall time of ``pass`` spans that no child span covers and the
    total wall of those spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    own: dict[tuple[str, str], float] = {}
    uncovered = 0.0
    pass_wall = 0.0
    for i, s in enumerate(spans):
        covered = _union(children.get(i, []))
        dur = s["end"] - s["start"]
        key = (s["pass"], s["name"])
        own[key] = own.get(key, 0.0) + max(0.0, dur - covered)
        if s["name"] == "pass":
            uncovered += max(0.0, dur - covered)
            pass_wall += dur
    return own, uncovered, pass_wall


def _union(spans: list[dict]) -> float:
    total, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s["start"]):
        lo, hi = max(s["start"], end), s["end"]
        if hi > lo:
            total += hi - lo
        end = max(end, hi)
    return total


# ── Spark event log ─────────────────────────────────────────────────────────

_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
}
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")


def _plan_accumulators(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows" and node["nodeName"].startswith(_JOIN_NODES):
            out[m["accumulatorId"]] = "join_rows"
    for c in node.get("children", []):
        _plan_accumulators(c, out)


def read_event_log(log_dir: Path, app_id: str) -> list[dict]:
    path = next(p for p in log_dir.iterdir() if p.name.startswith(app_id))
    with path.open() as f:
        return [json.loads(line) for line in f]


def task_stats(events: list[dict]) -> dict[str, dict]:
    """Per job group: job and task counts, task time and its spread,
    scheduler delay, GC, shuffle, spill, Python-UDF boundary metrics and
    join output rows."""
    stage_group: dict[int, str] = {}
    join_acc: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": 0, "task_ms": [], "sched_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0,
             "shuffle_read": 0, "spill": 0, "join_rows": 0,
             **{v: 0 for v in _PY_METRICS.values()}},
        )

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            name = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            grp(name)["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = name
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_accumulators(e["sparkPlanInfo"], join_acc)
        elif kind == "SparkListenerTaskEnd":
            g = grp(stage_group.get(e["Stage ID"], ""))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            dur = info["Finish Time"] - info["Launch Time"]
            g["task_ms"].append(dur)
            g["sched_ms"] += max(
                0,
                dur
                - m.get("Executor Run Time", 0)
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            )
            g["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["spill"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is None and join_acc.get(acc.get("ID")) == "join_rows":
                    key = "join_rows"
                if key is not None:
                    g[key] += int(acc.get("Update") or 0)
    return groups
