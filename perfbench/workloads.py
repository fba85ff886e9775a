"""What one pass of each workload runs, and how its output is checked.

A pipeline takes (spark, input dir) and returns {output name: (rows,
digest)}.  ``heal`` and ``balanced`` are the timed workloads; ``joins``
runs in the traced run only, which passes it ``span`` (``Tracer.span``):
its layers are the registry queries themselves.  Every other layer is
traced by patching its public function (``tracing.PATCHES``).
"""

from __future__ import annotations

import hashlib
from contextlib import nullcontext

import __spark_entry__ as E
from resolve_overlap_and_gap_spark.plans import queries as Q

# joins query -> layer name (operator module . query); queries that are
# plain registry SQL over the grid formulas are named after the registry
JOINS = {
    "cell_count": "queries.cell_count",
    "pip_join": "celljoin.pip_join",
    "pip_polygon": "pip.pip_polygon",
    "box_overlaps": "celljoin.box_overlaps",
    "tile_assign": "queries.tile_assign",
    "tile_owner": "queries.tile_owner",
    "border_owner": "queries.border_owner",
    "knn_ring": "knn.knn_ring",
    "cells_outside_in": "queries.cells_outside_in",
    "dwithin_geo": "geodist.dwithin_geo",
    "knn_geo_ring": "geodist.knn_geo_ring",
    "tiles_to_vector": "queries.tiles_to_vector",
}
_queries = E.queries()


def digest_rows(rows, columns) -> tuple[int, str]:
    """(row count, order-independent content hash): the sum mod 2**64 of
    each row's md5, over the columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        key = repr(tuple(r[i] for i in order)).encode()
        total = (total + int.from_bytes(hashlib.md5(key).digest()[:8], "little")) % (1 << 64)
    return len(rows), f"{total:016x}"


def digest_df(df) -> tuple[int, str]:
    return digest_rows(df.collect(), df.columns)


def _query(spark, d: str, name: str) -> tuple[int, str]:
    return digest_df(_queries[name](spark, d))


# ------------------------------------------------------------ pipelines
def heal(spark, d: str) -> dict:
    return {"resolve_healed": _query(spark, d, "resolve_healed")}


def balanced(spark, d: str) -> dict:
    return {n: _query(spark, d, n) for n in ("detect_balanced", "resolve_balanced")}


def joins(spark, d: str, span=None) -> dict:
    span = span or (lambda _name: nullcontext())
    out = {}
    for name, layer in JOINS.items():
        with span(layer):
            out[name] = _query(spark, d, name)
    return out


PIPELINES = {"heal": heal, "balanced": balanced, "joins": joins}


# ------------------------------------------------------------ set-up memos
def setup_memos(spark, d: str, workload: str) -> None:
    """Session memos the workload's passes read (built inside setup_s)."""
    E._ensure_py_files(spark)
    if workload == "joins":
        Q._table_count(spark, d, "orders")
        return
    Q.derived_polygon_layer(spark, d)
    Q._density_res(spark, d)
    if workload == "balanced":
        Q._balanced_assignment(spark, d)


def input_rows(workload: str, rows: dict[str, int]) -> int:
    """Input rows one pass reads (balanced reads the layer twice)."""
    if workload == "balanced":
        return 2 * rows["orders"]
    return rows["orders"]


# ------------------------------------------------------------ oracle
def joins_oracle(d: str) -> dict:
    """The registry's DuckDB oracle_sql() for every joins query."""
    import duckdb

    oracle = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("orders", "part", "customer"):
            con.sql(f"create view {t} as select * from read_parquet('{d}/{t}.parquet')")
        out = {}
        for name in JOINS:
            rel = con.sql(oracle[name])
            out[name] = digest_rows(rel.fetchall(), rel.columns)
        return out
    finally:
        con.close()
