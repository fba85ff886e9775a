"""Seeded input tables for the benchmark.

Every workload derives its geometry by md5 from three key columns
(``orders.o_orderkey``, ``part.p_partkey``, ``customer.c_custkey``; see
``resolve_overlap_and_gap_spark/derive.py``), so the key columns are the
whole input.  The reference test data holds dense keys ``0 .. n-1`` with
``n = sf * ROWS_PER_SF``; seed ``s`` offsets every key by ``s * KEY_STRIDE``.
``KEY_STRIDE`` is a multiple of every query modulus of the registry
(``KNN_QMOD``, ``KNN_GEO_QMOD``, ``DWITHIN_QMOD``, ``COS_QMOD``,
``INTERVAL_QMOD``), so each seed keeps the row counts, the probe counts and
the density, and only the geometry changes.  Seed 0 reproduces the key
columns of the reference tables exactly.

The tables are written with pyarrow; the engine only ever reads the
generated parquet.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale factor 1.0
ROWS_PER_SF = {"orders": 1_500_000, "part": 200_000, "customer": 150_000}
KEY_COL = {"orders": "o_orderkey", "part": "p_partkey", "customer": "c_custkey"}
KEY_STRIDE = 10_000_000


def key_stride() -> int:
    """KEY_STRIDE, checked against the registry's query moduli."""
    from resolve_overlap_and_gap_spark.plans import queries as Q

    mods = [Q.KNN_QMOD, Q.KNN_GEO_QMOD, Q.DWITHIN_QMOD, Q.COS_QMOD, Q.INTERVAL_QMOD]
    lcm = 1
    for m in mods:
        lcm = lcm * m // math.gcd(lcm, m)
    if KEY_STRIDE % lcm:
        raise ValueError(f"KEY_STRIDE {KEY_STRIDE} is not a multiple of {lcm}")
    return KEY_STRIDE


def table_rows(sf: float) -> dict[str, int]:
    return {t: int(round(n * sf)) for t, n in ROWS_PER_SF.items()}


def write_inputs(out_dir: Path, sf: float, seed: int) -> dict[str, int]:
    """Write orders/part/customer parquet for ``seed`` under ``out_dir``;
    returns the row count per table."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    out_dir.mkdir(parents=True, exist_ok=True)
    offset = seed * key_stride()
    rows = table_rows(sf)
    for table, n in rows.items():
        keys = np.arange(offset, offset + n, dtype=np.int64)
        pq.write_table(pa.table({KEY_COL[table]: keys}),
                       out_dir / f"{table}.parquet")
    return rows
