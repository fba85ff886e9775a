#!/usr/bin/env python
"""Spark-free host-scaling control (BASELINE.md §3/§5): run the SAME
integer-arrangement overlay kernel the engine's cells execute, as plain
multiprocessing at N and 4N workers over an identical task list.  The
resulting ratio bounds what ANY framework can achieve on this host in the
current ambient-load window — compare bench_scaling.py's efficiency against
it, not against the theoretical 4.0.

Prints one JSON line: {"t_lo": sec, "t_hi": sec, "speedup": x,
"efficiency": x, "workers": [N, 4N]}.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

N_TASKS = int(os.environ.get("CONTROL_TASKS", "640"))
POLYS_PER_TASK = int(os.environ.get("CONTROL_POLYS", "120"))


def _one_task(seed: int) -> int:
    """One cell-kernel-shaped unit of work: overlay ~POLYS_PER_TASK snapped
    integer polygons (deterministic per seed) and count faces."""
    import numpy as np

    from resolve_overlap_and_gap_spark.geom.arrangement import overlay_cells

    polys = []
    for i in range(POLYS_PER_TASK):
        h = (seed * 40503 + i * 2654435761) & 0xFFFFFFFF
        cx = (h % 10000)
        cy = ((h >> 8) % 10000)
        r = 120 + (h >> 16) % 240
        k = 5 + (h % 4)
        ang = 2.0 * np.pi * np.arange(k) / k + (h % 628) / 100.0
        ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        polys.append((i, [np.floor(ring + 0.5).astype(np.int64)]))
    return len(overlay_cells([(0, polys)])[0])


def _run(workers: int, n_tasks: int = N_TASKS) -> float:
    t0 = time.monotonic()
    with mp.get_context("spawn").Pool(workers) as p:
        out = p.map(_one_task, range(n_tasks), chunksize=4)
    assert len(out) == n_tasks and all(n > 0 for n in out)
    return time.monotonic() - t0


def main() -> None:
    lo = int(os.environ.get("CONTROL_CPUS", "8"))
    hi = 4 * lo
    # warm imports/page cache with a HANDFUL of tasks — a full-workload
    # warmup would burn the quiet window the measurement exists to catch
    _run(2, n_tasks=8)
    t_lo = _run(lo)
    t_hi = _run(hi)
    print(json.dumps({
        "t_lo": round(t_lo, 2), "t_hi": round(t_hi, 2),
        "speedup": round(t_lo / t_hi, 3),
        "efficiency": round(t_lo / t_hi / (hi / lo), 3),
        "workers": [lo, hi],
        "tasks": N_TASKS, "polys_per_task": POLYS_PER_TASK,
    }))


if __name__ == "__main__":
    main()
