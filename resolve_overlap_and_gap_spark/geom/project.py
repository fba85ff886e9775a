"""Reprojection kernels — the ST_Transform analog (the reference reprojects
its grid box to metric SRID 3035 for the min-distance check,
find_overlap_and_gap-pre.sql:144,181-183, and test fixtures to UTM 25833,
src/test/sql/regress/resolve_overlap_and_gap.sql:11).

Spherical web-mercator (EPSG:3857-style, sphere radius R) as SQL text
shared by both dialects: oracle-checked queries run it in Spark's
whole-stage codegen and in DuckDB, so query and oracle cannot drift.
"""

from __future__ import annotations

R_SPHERE = 6378137.0  # WGS84 semi-major axis (web-mercator sphere radius)


def mercator_x_sql(lon: str) -> str:
    """Meters east. Identical text in Spark SQL and DuckDB."""
    return f"({R_SPHERE!r} * radians({lon}))"


def mercator_y_sql(lat: str) -> str:
    """Meters north: R * ln(tan(pi/4 + lat/2))."""
    return f"({R_SPHERE!r} * ln(tan(pi() / 4.0 + radians({lat}) / 2.0)))"


