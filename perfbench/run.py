#!/usr/bin/env python3
"""Benchmark of the resolve/heal engine and the cell-prefix joins.

    python3 perfbench/run.py --workload heal --seed 0 --seconds 4 --trace 0

Run from the repository root.  One client runs a closed loop in this single
driver process on ``local[nproc]``: each pass starts when the previous one
has finished.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run (traced.py).  The last line
of standard output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a ``summary`` with the raw samples.

Workloads (inputs.py makes the seed's inputs, workloads.py the passes),
both on the 1,500 derived footprints of sf0.001:

* ``heal``     -- the registry's ``resolve_healed``: fixed-res resolve,
  cross-cell sliver reassembly, owner dissolve;
* ``balanced`` -- ``detect_balanced`` then ``resolve_balanced`` over one
  content-balanced assignment built in set-up: the same arrangement
  kernels with no border pass and no dissolve.

Every pass is checked against the (rows, hash) recorded per seed in
expected.json (record.py).  The joins queries run in the traced run only,
checked against the registry's DuckDB oracle.  layers.json maps each traced
layer to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
# input scale per pipeline (orders/parts/customers = 1.5M/200k/150k x sf);
# joins runs in the traced run only
SF = {"heal": 0.001, "balanced": 0.001, "joins": 0.01}
WORKLOADS = ("heal", "balanced")
N_SETUPS = 3        # setup_s is the median of this many set-ups
# a fixed, pre-touched driver heap keeps the JVM's resident set from
# tracking GC timing.  At these scales peak_rss_mb is then fixed memory
# (heap, interpreters, workers): a 4x larger heal input left it unchanged
JVM_HEAP = "1g"
E2E = [("setup_s", "s"), ("wall_s", "s"), ("input_rows_per_s", "1/s"), ("peak_rss_mb", "MB")]


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _cores() -> int:
    return len(os.sched_getaffinity(0))  # what `nproc` prints


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher and the driver): no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _tree_hwm_mb() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of this process and all of its
    descendants -- the driver, the JVM and the Python workers -- summed
    per program name."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        name = status[0].split()[-1]
        for line in status:
            if line.startswith("VmHWM:"):
                out[name] = out.get(name, 0.0) + int(line.split()[1]) / 1024.0
    return out


class Session:
    """One Spark session per set-up; the session memos of the registry are
    keyed on applicationId, so a new session starts them empty."""

    def __init__(self, work: Path, workload: str, seed: int):
        self.work, self.workload, self.seed = work, workload, seed
        self.spark = None
        self.n = 0

    def conf(self, event_dir: Path | None = None) -> dict:
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        }
        if event_dir is not None:
            c.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": str(event_dir),
                      "spark.eventLog.compress": "false"})
        return c

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            import __spark_entry__ as E

            E._SHIPPED.clear()  # the next context needs the package again

    def setup(self, event_dir: Path | None = None, before_memos=None,
              pipelines: tuple[str, ...] = ()) -> dict[str, tuple[str, dict]]:
        """New session, JVM and Python-worker warm-up, the seed's inputs and
        the session memos, for the workload and for ``pipelines``.
        ``before_memos(spark)`` runs right after the session starts.
        Returns {pipeline: (input dir, rows per table)}; pipelines at the
        same scale share one input directory."""
        import inputs
        import workloads
        from resolve_overlap_and_gap_spark.session import get_spark

        self.stop()
        by_sf: dict[float, tuple[str, dict]] = {}
        ins = {}
        for p in (self.workload, *pipelines):
            if SF[p] not in by_sf:
                d = self.work / f"input-{self.n}"
                self.n += 1
                by_sf[SF[p]] = (str(d), inputs.write_inputs(d, SF[p], self.seed))
            ins[p] = by_sf[SF[p]]
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               parallelism=_cores(), extra_conf=self.conf(event_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        if before_memos is not None:
            before_memos(self.spark)
        _warm_python_workers(self.spark)
        for p, (d, _) in ins.items():
            workloads.setup_memos(self.spark, d, p)
        return ins


def _warm_python_workers(spark) -> None:
    """Start one Python worker per core with numpy/pandas/engine imported."""
    def warm(it):
        import resolve_overlap_and_gap_spark.operators.resolve  # noqa: F401
        for pdf in it:
            yield pdf

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(warm, "id long").collect()


def _recorded(workload: str, seed: int) -> dict | None:
    """The output recorded for ``seed`` in expected.json, or None if the
    seed is not recorded or was recorded on another core count."""
    rec = json.loads((HERE / "expected.json").read_text())[workload]
    if rec["sf"] != SF[workload]:
        raise RuntimeError(f"expected.json holds {workload} at sf{rec['sf']}, the benchmark "
                           f"runs sf{SF[workload]}: re-run perfbench/record.py")
    got = rec["seeds"].get(str(seed))
    if got is None or rec["cores"] != _cores():
        return None
    return {k: tuple(v) for k, v in got.items()}


def reference(workload: str, seed: int, rows: dict) -> tuple[str, object]:
    """How each pass of ``workload`` is checked:
    ("recorded", digests) -- the values recorded for the seed;
    ("invariant", n) -- an unrecorded seed: every pass repeats the first,
    and every output has rows; heal's has between 99% and 100% of the
    n = orders rows, since each healed row is one input footprint's region
    and a footprint is lost only when others cover it whole."""
    got = _recorded(workload, seed)
    if got is not None:
        return "recorded", got
    return "invariant", rows["orders"]


def check(ref: tuple[str, object], out: dict, first: dict | None) -> bool:
    kind, want = ref
    if kind == "recorded":
        return out == want
    if first is not None and out != first:
        return False
    if "resolve_healed" in out:
        return 0.99 * want <= out["resolve_healed"][0] <= want
    return all(n > 0 for n, _ in out.values())


def timed(args, work: Path) -> tuple[dict, int, int, dict]:
    import workloads

    sess = Session(work, args.workload, args.seed)
    setups = []
    for _ in range(N_SETUPS):
        t0 = time.perf_counter()
        d, rows = sess.setup()[args.workload]
        setups.append(time.perf_counter() - t0)
    ref = reference(args.workload, args.seed, rows)
    run = workloads.PIPELINES[args.workload]
    walls, failed, first = [], 0, None
    # set-up has started the JVM and the Python workers and built the
    # memos; the first pass still compiles its own plans, as a user's
    # first query of a session does, and is measured like the others
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < args.seconds:
        t0 = time.perf_counter()
        out = run(sess.spark, d)
        walls.append(time.perf_counter() - t0)
        if not check(ref, out, first):
            failed += 1
            print(f"pass {len(walls)}: output mismatch {out} != {ref}", file=sys.stderr)
        first = first or out
    peak = _tree_hwm_mb()
    sess.stop()
    wall = statistics.median(walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "input_rows_per_s": workloads.input_rows(args.workload, rows) / wall,
        "peak_rss_mb": sum(peak.values()),
    }
    extra = {"check": ref[0], "wall_s_samples": len(walls), "walls": walls,
             "setups": setups, "rss_mb": peak, "fail_ratio": failed / len(walls),
             "output": first}
    return metrics, len(walls), failed, extra


def _shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    args = _args()
    if args.seed < 0 or args.seconds <= 0:
        print("seed must be >= 0 and seconds > 0", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _prepare_env(work)
        sys.path[:0] = [str(HERE), str(ROOT)]
        try:
            import workloads  # noqa: F401  (needs the engine next to perfbench/)
        except ImportError as e:
            print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        if args.trace:
            import traced

            metrics, attempted, failed, extra = traced.run(args, work, Session)
            units = traced.UNITS
        else:
            metrics, attempted, failed, extra = timed(args, work)
            units = dict(E2E)
        _shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it
    print("summary " + json.dumps(extra, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
