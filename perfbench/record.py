#!/usr/bin/env python3
"""Record a workload's expected output per seed.

    python3 perfbench/record.py --workload heal --seeds 0-40

Run from the repository root.  For each seed it writes the seed's inputs,
runs one pass of the workload in a single Spark session on ``local[nproc]``
and stores the (row count, content hash) of each output in
perfbench/expected.json, together with the scale factor and the core count
they were taken at.  run.py compares every pass of a recorded seed with
these values.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys

import run


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=run.WORKLOADS)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 0-40")
    a = p.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    work = run.ROOT / ".bench_work" / f"record-{a.workload}"
    run._prepare_env(work)
    sys.path[:0] = [str(run.HERE), str(run.ROOT)]
    import inputs
    import workloads
    from resolve_overlap_and_gap_spark.session import get_spark

    sf = run.SF[a.workload]
    path = run.HERE / "expected.json"
    recorded = json.loads(path.read_text()) if path.exists() else {}
    rec = recorded.setdefault(a.workload, {"sf": sf, "cores": run._cores(), "seeds": {}})
    if (rec["sf"], rec["cores"]) != (sf, run._cores()):
        rec.update(sf=sf, cores=run._cores(), seeds={})
    spark = get_spark(app_name="perfbench-record", parallelism=run._cores(),
                      extra_conf=run.Session(work, a.workload, 0).conf())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for seed in range(lo, hi + 1):
            d = work / f"input-{seed}"
            inputs.write_inputs(d, sf, seed)
            out = workloads.PIPELINES[a.workload](spark, str(d))
            rec["seeds"][str(seed)] = {k: list(v) for k, v in out.items()}
            print(seed, out, flush=True)
            path.write_text(json.dumps(recorded, indent=1) + "\n")
    finally:
        spark.stop()
        run._shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
