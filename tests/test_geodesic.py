from __future__ import annotations

import duckdb
import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom import geodesic as g
from resolve_overlap_and_gap_spark.operators.geodist import haversine_sql


def test_equator_degree_square():
    ring = np.array([[0, -0.5], [1, -0.5], [1, 0.5], [0, 0.5]], float)
    a = g.ring_area_m2(ring)
    # 1 deg x 1 deg at the equator ~ (111.195 km)^2
    assert a == pytest.approx((111195.0) ** 2, rel=2e-3)


def test_high_latitude_shrinks():
    eq = g.ring_area_m2(np.array([[0, -0.5], [1, -0.5], [1, 0.5], [0, 0.5]], float))
    hi = g.ring_area_m2(np.array([[0, 59.5], [1, 59.5], [1, 60.5], [0, 60.5]], float))
    assert hi == pytest.approx(eq * np.cos(np.radians(60)), rel=1e-2)


def test_antimeridian_ring():
    ring = np.array([[179.5, -0.5], [-179.5, -0.5], [-179.5, 0.5], [179.5, 0.5]], float)
    a = g.ring_area_m2(ring)
    assert a == pytest.approx((111195.0) ** 2, rel=2e-3)


def test_hole_subtracts():
    shell = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], float)
    hole = np.array([[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5]], float)
    assert g.polygon_area_m2([shell, hole]) == pytest.approx(
        g.ring_area_m2(shell) - g.ring_area_m2(hole)
    )


def _haversine_km(lon1, lat1, lon2, lat2) -> float:
    """The engine's point distance (geodist.haversine_sql, the same SQL
    text Spark runs), evaluated in DuckDB."""
    sql = haversine_sql(*(repr(float(v)) for v in (lat1, lon1, lat2, lon2)))
    return duckdb.sql(f"select {sql}").fetchone()[0]


def test_length_meridian_vs_parallel():
    assert _haversine_km(0, 0, 0, 1) == pytest.approx(111.195, rel=1e-3)
    assert _haversine_km(0, 60, 1, 60) == pytest.approx(
        111.195 * np.cos(np.radians(60)), rel=1e-3)


def test_distance_symmetry_and_zero():
    assert _haversine_km(10.0, 59.0, 10.0, 59.0) == 0.0
    assert _haversine_km(10.0, 59.0, 11.0, 60.0) == pytest.approx(
        _haversine_km(11.0, 60.0, 10.0, 59.0))

# ---------------------------------------------------------------- spheroid
def test_spheroid_total_area_is_wgs84():
    """Equator ring -> hemisphere; x2 must hit the published WGS84 surface
    area 510.0656e12 m^2 (the authalic q-series is exact for bands)."""
    eq = np.array([[0, 0], [90, 0], [180, 0], [-90, 0]], float)
    hemi = g.ring_area_m2(eq, spheroid=True)
    assert 2 * hemi == pytest.approx(510.0656e12, rel=1e-5)


def test_spheroid_vs_sphere_error_bound():
    """Documented divergence: mean-radius sphere areas differ from the
    spheroid by up to ~0.8% (latitude-dependent), never more than 1% and
    never zero away from the crossover band (~30-45 deg)."""
    for lat in (0, 15, 30, 45, 60, 75):
        box = np.array([[10, lat], [10.1, lat], [10.1, lat + 0.1],
                        [10, lat + 0.1]], float)
        ratio = g.ring_area_m2(box, spheroid=True) / g.ring_area_m2(box)
        assert 0.99 < ratio < 1.01
    eq_ratio = (g.ring_area_m2(np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float),
                               spheroid=True)
                / g.ring_area_m2(np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)))
    assert abs(eq_ratio - 1.0) > 2e-3  # genuinely a different figure
