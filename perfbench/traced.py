"""The traced run (``--trace 1``): per-layer metrics.

One session with the uncompressed Spark event log on:

1. set-up with the ``tracing.Tracer`` wrappers installed, for every
   pipeline, so the memo layers (``sources.pages``,
   ``overlap_gap.assign_balanced_cells``) are traced in the ``setup`` scope;
2. two untraced passes of the workload (wrappers removed): the first warms
   the JVM, the second is the untraced reference wall and output;
3. the traced pipelines, each in its own scope: the workload's own first,
   then the others, so every per-layer metric is measured in every traced
   run.  Each pipeline runs at its own scale (``run.SF``) on the seed's
   inputs, so a metric means the same whichever workload is traced;
4. the event log is read back and attributed to layers by job group.

Each layer is reported from one scope only: the pipeline that owns it
(``OWNER``), never summed over pipelines.  The joins pass is the first of
its session, so its layers include code generation and JIT warm-up.

Checks (a failure makes the run incorrect): the traced output of the
workload's pipeline equals the untraced output; the named layers' self
times in the workload's own scope cover at least ``MIN_SHARE`` of the
traced pass and sum to the untraced wall to within the tracing overhead
(traced total minus untraced wall) plus ``PASS_NOISE`` of the untraced
wall; the joins outputs equal the registry's DuckDB oracle.
"""

from __future__ import annotations

import sys
import time

import tracing
import workloads

PIPELINES = ("heal", "balanced", "joins")
# layer -> the scope it is reported from
OWNER = {
    "sources.pages": "setup",
    "overlap_gap.assign_balanced_cells": "setup",
    "overlap_gap.with_cells": "heal",
    "resolve.resolve": "heal",
    "border.reassemble_border_gaps": "heal",
    "border.border_gap_merge": "heal",
    "dissolve.dissolve": "heal",
    "resolve.resolve_balanced": "balanced",
    "overlap_gap.detect_all_balanced": "balanced",
    **{layer: "joins" for layer in workloads.JOINS.values()},
}
GEOM_METRICS = [("wall_s", "s"), ("tasks", "count"), ("busy_core_s", "s"),
                ("python_s", "s"), ("arrow_mb", "MB"), ("shuffle_mb", "MB"),
                ("rows_out", "count"), ("task_skew", "ratio")]
# zero at the benchmark's scale on every seed tried: with_cells shuffles
# nothing; no cell-border sliver survives at sf0.001, so the border pass
# reassembles no row and border_gap_merge never runs its Python sliver
# assignment (its only work is the dissolve, a child span)
ALWAYS_ZERO = {"overlap_gap.with_cells.shuffle_mb", "border.reassemble_border_gaps.rows_out",
               "border.border_gap_merge.python_s", "border.border_gap_merge.arrow_mb",
               "border.border_gap_merge.shuffle_mb"}
JOIN_QUERIES = ("pip_join", "pip_polygon", "knn_ring", "dwithin_geo",
                "knn_geo_ring")   # the ones whose plan has a join node
MIN_SHARE = 0.9
# pass-to-pass spread of an untraced heal pass within one session on a
# 4-core host (12.6-16.7 s around 14.5 s)
PASS_NOISE = 0.15


def _names() -> list[tuple[str, str]]:
    out = [(f"{layer}.{m}", u) for layer, scope in OWNER.items() if scope != "joins"
           for m, u in GEOM_METRICS if f"{layer}.{m}" not in ALWAYS_ZERO]
    out += [("overlap_gap.with_cells.explode_ratio", "ratio")]
    for q, layer in workloads.JOINS.items():
        out += [(f"{layer}.wall_s", "s"), (f"{layer}.busy_core_s", "s")]
        if q in JOIN_QUERIES:
            out += [(f"{layer}.tasks", "count"), (f"{layer}.cand_per_out", "ratio")]
    out += [("trace.overhead_s", "s"), ("trace.layer_sum_s", "s"),
            ("trace.attributed_share", "ratio")]
    return out


MB = float(1 << 20)
PER_LAYER = _names()
UNITS = dict(PER_LAYER)


def run(args, work, Session):
    events = work / "events"
    events.mkdir(parents=True, exist_ok=True)
    sess = Session(work, args.workload, args.seed)
    slot = _TracerSlot()
    pipes: dict[str, dict] = {}
    order = [args.workload] + [w for w in PIPELINES if w != args.workload]
    try:
        # set-up with the wrappers installed, so the memo layers are traced
        ins = sess.setup(event_dir=events, before_memos=slot.start, pipelines=PIPELINES)
        t = slot.t
        # 1. untraced passes (same session, wrappers removed): warm-up, reference
        t.uninstall()
        own = workloads.PIPELINES[args.workload]
        for group in ("untraced.warmup", "untraced"):
            sess.spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            ref = own(sess.spark, ins[args.workload][0])
            untraced = time.perf_counter() - t0
        # 2. the traced pipelines, the workload's own first
        t.install()
        for w in order:
            kw = {"span": t.span} if w == "joins" else {}
            c0 = t.count_s
            t0 = time.perf_counter()
            with t.span(f"pipeline.{w}"):
                out = workloads.PIPELINES[w](sess.spark, ins[w][0], **kw)
            pipes[w] = {"out": out, "total_s": time.perf_counter() - t0,
                        "count_s": t.count_s - c0}
    finally:
        if slot.t is not None:
            slot.t.uninstall()
        sess.stop()
    groups = tracing.parse_event_log(events)

    # 3. checks
    own_self = t.self_time(args.workload)
    layer_sum = sum(v for k, v in own_self.items() if not k.startswith("pipeline."))
    traced_total = pipes[args.workload]["total_s"] - pipes[args.workload]["count_s"]
    overhead = traced_total - untraced
    share = layer_sum / traced_total
    failures = []
    if pipes[args.workload]["out"] != ref:
        failures.append(f"traced output {pipes[args.workload]['out']} != untraced {ref}")
    if share < MIN_SHARE:
        failures.append(f"layers cover {share:.3f} of the traced pass")
    if abs(layer_sum - untraced) > abs(overhead) + PASS_NOISE * untraced:
        failures.append(f"layer walls {layer_sum:.3f}s vs untraced {untraced:.3f}s "
                        f"(overhead {overhead:.3f}s)")
    oracle = workloads.joins_oracle(ins["joins"][0])
    if pipes["joins"]["out"] != oracle:
        failures.append(f"joins {pipes['joins']['out']} != oracle {oracle}")
    for f in failures:
        print("trace check failed: " + f, file=sys.stderr)

    # 4. attribution: each layer from its owner's scope only
    join_query = {layer: q for q, layer in workloads.JOINS.items()}
    m: dict[str, float] = {}
    for layer, scope in OWNER.items():
        g = groups.get(f"{scope}/{layer}", {})
        m[f"{layer}.wall_s"] = t.self_time(scope).get(layer, 0.0)
        m[f"{layer}.tasks"] = g.get("tasks", 0.0)
        m[f"{layer}.busy_core_s"] = g.get("busy_core_s", 0.0)
        m[f"{layer}.python_s"] = g.get("python_s", 0.0)
        m[f"{layer}.arrow_mb"] = g.get("arrow_bytes", 0.0) / MB
        m[f"{layer}.shuffle_mb"] = g.get("shuffle_bytes", 0.0) / MB
        m[f"{layer}.task_skew"] = g.get("task_skew", 1.0)
        m[f"{layer}.rows_out"] = t.rows.get((scope, layer), [0, 0])[1]
        if scope == "joins":
            n_out = pipes["joins"]["out"][join_query[layer]][0]
            m[f"{layer}.cand_per_out"] = g.get("join_rows", 0.0) / max(n_out, 1)
    rin, rout = t.rows.get(("heal", "overlap_gap.with_cells"), [0, 0])
    m["overlap_gap.with_cells.explode_ratio"] = rout / max(rin, 1)
    m["trace.overhead_s"] = overhead
    m["trace.layer_sum_s"] = layer_sum
    m["trace.attributed_share"] = share

    metrics = {k: float(m[k]) for k, _ in PER_LAYER}
    extra = {"untraced_wall_s": untraced, "traced_total_s": traced_total,
             "pipelines": {w: {"total_s": p["total_s"], "count_s": p["count_s"]}
                           for w, p in pipes.items()},
             "own_layers": own_self, "checks_failed": failures,
             "zero": sorted(k for k, v in metrics.items() if v == 0.0)}
    return metrics, 1, int(bool(failures)), extra


class _TracerSlot:
    """Creates the tracer once the traced session exists."""

    def __init__(self):
        self.t = None

    def start(self, spark) -> None:
        self.t = tracing.Tracer(spark, "setup")
        self.t.install()
