"""Geodesic measures on the sphere AND the WGS84 spheroid (numpy) — the
utm=false path of the reference (ST_Area(geo, true);
…utils/function_01_get_face_area.sql:24-28, types_resolve_overlap.sql:19).
Point distance lives in SQL (operators/geodist.haversine_sql).

PostGIS measures on the WGS84 *spheroid*.  The spheroid area here uses the
authalic-latitude q-series (Snyder, Map Projections §3: the exact
equal-area mapping of the ellipsoid): the area between two meridians from
the equator to latitude phi is a^2/2 * dlam * q(phi), so the ring shoelace
sums q-trapezoids exactly like the spherical version sums sin-trapezoids —
same edge model (straight lon/lat segments), only the figure of the earth
changes.  Against the mean-radius sphere the divergence is up to ~0.5%
of area (latitude-dependent) — enough to flip keep/merge decisions near
min_area, which is why the engine defaults to the spheroid
(EngineConfig.geodesic_spheroid).
"""

from __future__ import annotations

import numpy as np

R_MEAN = 6371008.8  # IUGG mean Earth radius, meters

# WGS84 defining constants (public: NGA TR8350.2)
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
E2_WGS84 = F_WGS84 * (2.0 - F_WGS84)
_E = float(np.sqrt(E2_WGS84))


def _q_authalic(sinphi):
    """Snyder's authalic q: spheroid area from equator to phi between unit
    meridians = a^2/2 * q(phi).  q(pi/2) ~ 1.9955; q -> 2 sin(phi) as
    e -> 0 (so formulas below reduce to the spherical ones)."""
    sinphi = np.clip(sinphi, -1.0, 1.0)
    return (1.0 - E2_WGS84) * (
        sinphi / (1.0 - E2_WGS84 * sinphi * sinphi)
        + np.arctanh(_E * sinphi) / _E
    )


_QP = float(_q_authalic(1.0))   # q at the pole; spheroid area = 2*pi*a^2*qp


def ring_area_m2(coords_deg: np.ndarray, spheroid: bool = False) -> float:
    """Unsigned polygon ring area (m^2).  Sphere: spherical shoelace
    (sum of (lam2-lam1)*(2 + sin(phi1) + sin(phi2))/2 * R^2).  Spheroid:
    the same shoelace with sin(phi) -> q(phi)/... i.e.
    a^2/2 * |sum dlam * (qp + (q(phi1)+q(phi2))/2)| — the authalic
    trapezoid; exact for bands, reduces to the sphere as e -> 0, and the
    qp term keeps pole-enclosing rings correct (equator ring ->
    pi*a^2*qp = the true spheroid hemisphere)."""
    c = np.asarray(coords_deg, dtype=np.float64)
    if len(c) > 1 and (c[0] == c[-1]).all():
        c = c[:-1]
    if len(c) < 3:
        return 0.0
    lam = np.radians(c[:, 0])
    phi = np.radians(c[:, 1])
    lam2 = np.roll(lam, -1)
    phi2 = np.roll(phi, -1)
    dlam = lam2 - lam
    # wrap to (-pi, pi] so rings crossing the antimeridian measure correctly
    dlam = (dlam + np.pi) % (2 * np.pi) - np.pi
    if spheroid:
        q1 = _q_authalic(np.sin(phi))
        q2 = _q_authalic(np.sin(phi2))
        total = (dlam * (_QP + (q1 + q2) / 2.0)).sum()
        return abs(total) * A_WGS84 * A_WGS84 / 2.0
    total = (dlam * (2.0 + np.sin(phi) + np.sin(phi2))).sum() / 2.0
    return abs(total) * R_MEAN * R_MEAN


def polygon_area_m2(rings: list[np.ndarray], spheroid: bool = False) -> float:
    a = ring_area_m2(rings[0], spheroid)
    for h in rings[1:]:
        a -= ring_area_m2(h, spheroid)
    return a


