"""The one batched WKB fast path (wkb.one_ring_batches) must equal the
generic per-row parser on every supported WKB shape, in both of its
users: wkb_bounds and dissolve's batch parse+snap.  One-ring polygons
and one-part/one-ring multipolygons of many sizes take the vectorized
path; multi-ring/multipart/linestring/point take the fallback."""
from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators import overlap_gap as og
from resolve_overlap_and_gap_spark.operators.dissolve import _parse_pieces_batch

GRID = 1e-3


def _blobs():
    rng = np.random.default_rng(7)
    polygonal = []
    for dump in (lambda r: wkb.dump_polygon([r]),
                 lambda r: wkb.dump_multipolygon([[r]])):
        for _ in range(200):
            nv = int(rng.integers(3, 12))
            ring = rng.normal(size=(nv, 2)) * 100
            polygonal.append(dump(np.vstack([ring, ring[:1]])))
    hole = rng.normal(size=(4, 2))
    polygonal.append(wkb.dump_polygon([
        np.vstack([hole * 10, hole[:1] * 10]), np.vstack([hole, hole[:1]])]))
    polygonal.append(wkb.dump_multipolygon([
        [np.vstack([hole * 5, hole[:1] * 5])],
        [np.vstack([hole * 2, hole[:1] * 2])]]))
    other = [wkb.dump_linestring(rng.normal(size=(5, 2))),
             struct.pack("<BI2d", 1, wkb.POINT, 1.5, -2.5)]
    return polygonal, other


def test_wkb_bounds_fast_matches_generic():
    polygonal, other = _blobs()
    blobs = polygonal + other
    vals = np.array(blobs, dtype=object)
    assert sum(len(rows) for rows, _ in wkb.one_ring_batches(vals)) == 400

    got = og.wkb_bounds.func(pd.Series(blobs, dtype=object)).to_numpy()
    exp = np.empty_like(got)
    for i, b in enumerate(blobs):
        c = wkb.load_coords(bytes(b))
        exp[i] = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
    assert np.array_equal(got, exp)

    parsed = _parse_pieces_batch(np.array(polygonal, dtype=object), GRID)
    for b, entry in zip(polygonal, parsed):
        polys = wkb.load_grid_polygons(b, GRID)
        assert len(entry) == len(polys)
        for (rings, bb), want in zip(entry, polys):
            assert len(rings) == len(want)
            for r, w in zip(rings, want):
                assert r.dtype == w.dtype == np.int64 and np.array_equal(r, w)
            c = np.vstack(want)
            assert bb.tolist() == [*c.min(axis=0).tolist(), *c.max(axis=0).tolist()]
