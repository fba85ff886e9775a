from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.core import bbox_pairs, components
from resolve_overlap_and_gap_spark.operators.dissolve import dissolve
from resolve_overlap_and_gap_spark.operators.resolve import resolve
from tests.fixtures import tiling_df

G = 1e-5


def _sq(x0, y0, x1, y1):
    return wkb.dump_polygon([np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)])


@pytest.mark.spark
def test_dissolve_merges_touching_parts(spark):
    rows = [
        (1, _sq(0, 0, 1, 1)),
        (1, _sq(1, 0, 2, 1)),     # shares full edge with the first
        (1, _sq(5, 5, 6, 6)),     # disjoint part
        (2, _sq(0, 0, 1, 1)),
        (2, _sq(0.5, 0, 1.5, 1)),  # overlapping -> union, not double count
    ]
    df = spark.createDataFrame(rows, "key long, geom binary")
    out = {r.key: r for r in dissolve(df, "key", G).collect()}
    assert out[1].n_parts == 2           # two merged + one island
    assert out[1].area == pytest.approx(3.0, rel=1e-9)
    assert out[2].n_parts == 1
    assert out[2].area == pytest.approx(1.5, rel=1e-9)


@pytest.mark.spark
def test_dissolve_heals_cell_borders(spark):
    """Owner pieces produced by per-cell resolve, dissolved per owner,
    must reproduce each input polygon's area (no overlaps in a clean
    tiling) with internal grid-border edges healed away."""
    df = tiling_df(spark, k=4, cell=0.4, origin=(5.0, 55.0), jitter=0.0, seed=2)
    cfg = EngineConfig(snap_tolerance=1e-5)
    pieces = resolve(df, cfg, res=9)  # res 9 cells (0.7x0.35 deg) cut the quads
    n_multi = pieces.groupBy("owner").count().where("count > 1").count()
    assert n_multi > 0  # borders really did split owners
    healed = dissolve(pieces, "owner", cfg.snap_tolerance)
    got = {r.key: r for r in healed.collect()}
    assert len(got) == 16
    for k, r in got.items():
        assert r.n_parts == 1          # border edges healed: one face again
        assert r.area == pytest.approx(0.16, rel=1e-6)


@pytest.mark.spark
def test_dissolve_salted_equals_plain(spark):
    """Two-level salted dissolve (hot-key skew path) == plain dissolve:
    union is associative, winding>=1 idempotent — areas, part counts and
    canonicalized geometry agree on overlapping strips sharing one key."""
    import numpy as np

    from resolve_overlap_and_gap_spark.geom import wkb as _wkb

    g = 1e-5
    rows = []
    # one hot key: 40 overlapping horizontal strips; plus a normal key
    for i in range(40):
        r = np.array([[i * 0.5, 0.0], [i * 0.5 + 1.0, 0.0],
                      [i * 0.5 + 1.0, 1.0], [i * 0.5, 1.0]])
        rows.append((7, _wkb.dump_polygon([r])))
    rows.append((8, _wkb.dump_polygon([np.array([[30.0, 30.0], [31.0, 30.0],
                                                 [31.0, 31.0], [30.0, 31.0]])])))
    df = spark.createDataFrame(rows, "owner long, geom binary")
    plain = {r.key: (round(r.area, 9), r.n_parts)
             for r in dissolve(df, "owner", g).collect()}
    salted = {r.key: (round(r.area, 9), r.n_parts)
              for r in dissolve(df, "owner", g, n_salts=8).collect()}
    assert plain == salted
    assert plain[7][1] == 1 and plain[7][0] == pytest.approx(20.5 * 1.0, rel=1e-9)
    # auto path: same data through n_salts='auto' (resolves to 1 here —
    # no hot key — i.e. the plain single-level plan) is identical too
    auto = {r.key: (round(r.area, 9), r.n_parts)
            for r in dissolve(df, "owner", g, n_salts="auto").collect()}
    assert auto == plain


@pytest.mark.spark
def test_dissolve_auto_salts_hot_key(spark):
    """A key above AUTO_SALT_TARGET pieces triggers the salted two-level
    path automatically and still produces the exact plain result."""
    from resolve_overlap_and_gap_spark.operators import dissolve as D

    old = D.AUTO_SALT_TARGET
    D.AUTO_SALT_TARGET = 20  # make the 40-piece key 'hot' without 2k rows
    try:
        g = 1e-5
        rows = [(7, _sq(i * 0.5, 0.0, i * 0.5 + 1.0, 1.0)) for i in range(40)]
        rows.append((8, _sq(30.0, 30.0, 31.0, 31.0)))
        df = spark.createDataFrame(rows, "owner long, geom binary")
        plain = {r.key: (round(r.area, 9), r.n_parts)
                 for r in dissolve(df, "owner", g).collect()}
        auto = {r.key: (round(r.area, 9), r.n_parts)
                for r in dissolve(df, "owner", g, n_salts="auto").collect()}
        assert auto == plain
    finally:
        D.AUTO_SALT_TARGET = old


@pytest.mark.spark
def test_dissolve_salted_63bit_keys(spark):
    """Keys above 2^53/n_salts must regroup exactly under salting (the
    packed-key floor-division variant went through double and silently
    merged neighboring keys; polygonize's _pid64 labels are 63-bit)."""
    base = (1 << 62) + (1 << 40)
    rows = []
    for k in (base, base + 1, base + 2):
        for i in range(6):
            rows.append((k, _sq(i * 0.5, 0.0, i * 0.5 + 1.0, 1.0)))
    df = spark.createDataFrame(rows, "owner long, geom binary")
    out = {r.key: (round(r.area, 9), r.n_parts)
           for r in dissolve(df, "owner", G, n_salts=8).collect()}
    assert set(out) == {base, base + 1, base + 2}
    for k, (a, n) in out.items():
        assert n == 1 and a == pytest.approx(3.5, rel=1e-9)


def _brute_components(group, bb):
    """Min-index component labels of the closed-bbox overlap graph within
    each group, by an all-pairs check."""
    n = len(group)
    lab = list(range(n))
    for i in range(n):
        for j in range(n):
            if (group[i] == group[j] and bb[i, 0] <= bb[j, 2] and bb[j, 0] <= bb[i, 2]
                    and bb[i, 1] <= bb[j, 3] and bb[j, 1] <= bb[i, 3]):
                a, b = sorted((lab[i], lab[j]))
                lab = [a if v == b else v for v in lab]
    return lab


@pytest.mark.parametrize("seed", range(4))
def test_bbox_components_equal_brute_force(seed):
    rng = np.random.default_rng(seed)
    n = 80
    group = rng.integers(0, 3, size=n)
    lo = rng.integers(0, 60, size=(n, 2))
    bb = np.hstack([lo, lo + rng.integers(0, 8, size=(n, 2))]).astype(np.int64)
    want = _brute_components(group, bb)
    for chunk in (1 << 16, 3):   # 3: candidate pairs span many chunks
        assert components(n, *bbox_pairs(bb, group, chunk)).tolist() == want


@pytest.mark.parametrize("layout", ["chain", "column"])
def test_bbox_components_memory_is_not_quadratic(layout):
    """One key with 3000 boxes: a chain (each box overlaps the next) and a
    column (every box overlaps every other in x, only neighbours in y —
    the sweep's worst case).  Generating all k*k candidate pairs would
    allocate 72 MB per int64 pair array; the sweep stays under 16 MB."""
    import tracemalloc

    k = 3000
    bound = 16 << 20
    assert k * k * 8 > 4 * bound
    s = np.arange(k, dtype=np.int64) * 10
    z = np.zeros(k, np.int64)
    bb = (np.stack([s, z, s + 15, z + 10], axis=1) if layout == "chain"
          else np.stack([z, s, z + 100, s + 15], axis=1))
    tracemalloc.start()
    try:
        lab = components(k, *bbox_pairs(bb, np.zeros(k, np.int64)))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert (lab == 0).all()
    assert peak < bound, peak


@pytest.mark.spark
@pytest.mark.parametrize("n_salts", [1, 8])
def test_bucket_count_does_not_change_rows(spark, n_salts):
    """A bucket only batches keys: the kernel tags every bbox component,
    so (key, area, n_parts, geom) are the same whether all keys share one
    bucket or each sits alone.  Input: per-cell resolve pieces (owners
    split by cell borders) plus keys whose parts overlap each other and
    the pieces."""
    df = tiling_df(spark, k=4, cell=0.4, origin=(5.0, 55.0), jitter=0.0, seed=2)
    cfg = EngineConfig(snap_tolerance=G)
    pieces = resolve(df, cfg, res=9).select(F.col("owner").alias("key"), "geom")
    extra = [(100 + k % 3, _sq(5.0 + 0.1 * k, 55.0, 5.3 + 0.1 * k, 55.3))
             for k in range(12)]
    extra += [(200, _sq(5.2, 55.2, 5.9, 55.5)), (200, _sq(6.5, 55.9, 6.6, 56.0))]
    src = pieces.unionByName(spark.createDataFrame(extra, "key long, geom binary"))
    src = src.localCheckpoint()

    def rows(nb):
        return sorted((r.key, r.area, r.n_parts, bytes(r.geom))
                      for r in dissolve(src, "key", G, n_salts=n_salts,
                                        n_buckets=nb).collect())

    want = rows(None)
    assert len(want) == 16 + 4
    for nb in (1, 3, 4096):
        assert rows(nb) == want, nb
