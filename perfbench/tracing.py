"""Layer attribution from outside the engine.

``Tracer`` wraps the public functions of the engine's layers (module
attributes, patched for the traced run only).  Each call runs under a Spark
job group named after its pipeline and layer, and its DataFrame result is
materialised with an eager ``localCheckpoint`` before the span closes, so
the work a layer's plan describes runs inside that layer's span.  Spans
nest: a layer's wall time is its self time (its span minus its child
spans).

``parse_event_log`` reads Spark's own (uncompressed) event log and sums the
task metrics and SQL metrics of every stage per job group.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# (module, attribute, layer, materialise the returned DataFrame)
# A function imported by name into another module is patched there too.
PATCHES = [
    ("resolve_overlap_and_gap_spark.plans.queries", "derived_polygon_layer", "sources.pages", False),
    ("resolve_overlap_and_gap_spark.operators.overlap_gap", "with_cells", "overlap_gap.with_cells", True),
    ("resolve_overlap_and_gap_spark.operators.resolve", "with_cells", "overlap_gap.with_cells", True),
    ("resolve_overlap_and_gap_spark.operators.border", "with_cells", "overlap_gap.with_cells", True),
    ("resolve_overlap_and_gap_spark.operators.overlap_gap", "assign_balanced_cells",
     "overlap_gap.assign_balanced_cells", True),
    ("resolve_overlap_and_gap_spark.operators.overlap_gap", "detect_all_balanced",
     "overlap_gap.detect_all_balanced", True),
    ("resolve_overlap_and_gap_spark.operators.resolve", "resolve", "resolve.resolve", True),
    ("resolve_overlap_and_gap_spark.operators.resolve", "resolve_balanced", "resolve.resolve_balanced", True),
    ("resolve_overlap_and_gap_spark.operators.border", "reassemble_border_gaps",
     "border.reassemble_border_gaps", True),
    ("resolve_overlap_and_gap_spark.operators.border", "border_gap_merge", "border.border_gap_merge", True),
    ("resolve_overlap_and_gap_spark.operators.dissolve", "dissolve", "dissolve.dissolve", True),
]

COUNT_GROUP = "trace.count"
EXPLODE_LAYER = "overlap_gap.with_cells"  # also counts its input rows
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


class Tracer:
    """Spans around layer calls, each tagged with a Spark job group.

    A span named ``pipeline.<w>`` opens the scope ``w``; every span inside
    it belongs to that scope, and spans outside any pipeline to the root
    scope (``setup``).  A span's job group is ``<scope>/<name>``, so the
    event log separates a layer called by two pipelines."""

    def __init__(self, spark, root: str):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rows: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])  # in, out
        self.count_s = 0.0
        self._stack = [_Frame(root, root)]
        self._saved: list[tuple] = []
        self._counted: dict[int, object] = {}
        self._set_group()

    def _set_group(self, group: str | None = None) -> None:
        group = group or self._stack[-1].group
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        scope = name[len("pipeline."):] if name.startswith("pipeline.") else self._stack[-1].scope
        frame = _Frame(name, scope)
        self._stack.append(frame)
        self._set_group()
        try:
            yield
        finally:
            total = time.perf_counter() - frame.t0
            self._stack.pop()
            self._stack[-1].child_s += total
            self._set_group()
            self.spans.append({"name": name, "scope": scope, "total_s": total,
                               "self_s": total - frame.child_s})

    def count(self, layer: str, df, which: int) -> None:
        """Row count, kept out of every span's self time (tracing overhead)."""
        t0 = time.perf_counter()
        self._set_group(COUNT_GROUP)
        try:
            self.rows[(self._stack[-1].scope, layer)][which] += df.count()
        finally:
            self._set_group()
            dt = time.perf_counter() - t0
            self._stack[-1].child_s += dt
            self.count_s += dt

    def _wrap(self, fn, layer: str, materialise: bool):
        from pyspark.sql import DataFrame

        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
                if materialise and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if isinstance(out, DataFrame) and id(out) not in self._counted:
                self._counted[id(out)] = out   # a memo hit is counted once
                if layer == EXPLODE_LAYER:
                    self.count(layer, args[0], 0)
                self.count(layer, out, 1)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        self._set_group()
        for mod_name, attr, layer, mat in PATCHES:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer, mat))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def self_time(self, scope: str) -> dict[str, float]:
        """Self seconds per span name within ``scope``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["scope"] == scope:
                out[s["name"]] += s["self_s"]
        return dict(out)


class _Frame:
    def __init__(self, name: str, scope: str):
        self.name, self.scope = name, scope
        self.group = f"{scope}/{name}"
        self.t0 = time.perf_counter()
        self.child_s = 0.0


# ------------------------------------------------------------ event log
def _plan_metrics(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for c in node.get("children", []):
        _plan_metrics(c, out)


def _to_seconds(v: float, mtype: str) -> float:
    return v / 1e9 if mtype == "nsTiming" else v / 1e3


def _lines(files):
    for f in files:
        with f.open() as fh:
            yield from fh


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """-> {job group: {tasks, busy_core_s, python_s, arrow_bytes,
    shuffle_bytes, join_rows, task_skew}}."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(Path(log_dir).rglob("events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    accums: dict[int, tuple[str, str, str]] = {}
    tasks: list[dict] = []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), accums)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                accums.setdefault(m["accumulatorId"], ("", m["name"], m.get("metricType", "")))

    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[int, list[float]] = defaultdict(list)
    for ev in tasks:
        sid = ev["Stage ID"]
        group = stage_group.get(sid, "none")
        a = agg[group]
        tm = ev.get("Task Metrics") or {}
        run_ms = float(tm.get("Executor Run Time", 0))
        stage_runs[sid].append(run_ms)
        a["tasks"] += 1
        a["busy_core_s"] += run_ms / 1e3
        a["shuffle_bytes"] += float((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            info = accums.get(acc.get("ID"))
            if info is None:
                continue
            node, name, mtype = info
            try:
                upd = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == "time to run Python workers":
                a["python_s"] += _to_seconds(upd, mtype)
            elif name in ("data sent to Python workers", "data returned from Python workers"):
                a["arrow_bytes"] += upd
            elif name == "number of output rows" and node.startswith(JOIN_NODES):
                a["join_rows"] += upd

    # skew of each group's busiest stage: longest task / median task
    busiest: dict[str, tuple[float, int]] = {}
    for sid, runs in stage_runs.items():
        group = stage_group.get(sid, "none")
        busy = sum(runs)
        if len(runs) > 1 and busy > busiest.get(group, (-1.0, -1))[0]:
            busiest[group] = (busy, sid)
    for group, (_, sid) in busiest.items():
        runs = stage_runs[sid]
        agg[group]["task_skew"] = max(runs) / max(statistics.median(runs), 1.0)
    return {g: dict(v) for g, v in agg.items()}
