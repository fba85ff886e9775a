#!/usr/bin/env python3
"""Smoke check of the benchmark (about two minutes on 4 cores).

    python3 perfbench/smoke.py [--trace]

Run from the repository root.  Runs every workload of BENCHMARK.json once
with ``--seconds 1 --trace 0`` (one measured pass at the benchmark's
sf0.001 scale) and checks that each run exits 0, reports a
correct output and emits exactly the ``end_to_end`` metrics.  The traced
metric list (traced.PER_LAYER) is checked against ``per_layer`` without a
run; ``--trace`` also runs each workload traced (about two minutes each).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", "0", "--seconds", "1", "--trace", str(trace)],
                       capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    bench = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(HERE), str(Path.cwd())]
    import traced

    problems = []
    want = {"end_to_end": {m["name"] for m in bench["end_to_end"]},
            "per_layer": {m["name"] for m in bench["per_layer"]}}
    if {n for n, _ in traced.PER_LAYER} != want["per_layer"]:
        problems.append("traced.PER_LAYER differs from BENCHMARK.json per_layer")
    modes = [(0, "end_to_end")] + ([(1, "per_layer")] if "--trace" in sys.argv else [])
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in modes:
            res = _run(w, trace)
            got = set(res["metrics"])
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: output check failed")
            if got != want[key]:
                problems.append(f"{w} trace={trace}: missing {sorted(want[key] - got)}, "
                                f"extra {sorted(got - want[key])}")
            print(w, f"trace={trace}", f"{len(got)} metrics", flush=True)
    for p in problems:
        print("smoke: " + p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
