"""GeoJSON emission — the ST_AsGeoJSON analog (SURVEY.md §2.8; the reference
emits GeoJSON features from view_ar5_forest_split_distinct_func.sql:183-189).

WKB stays the engine's native geometry column; GeoJSON is an export format
produced by an Arrow-batched UDF at the edge (sinks/report queries), never
in the hot path.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark.geom import wkb


def _ring_coords(r: np.ndarray, ndigits: int) -> list:
    out = [[round(float(x), ndigits), round(float(y), ndigits)] for x, y in r]
    if out and out[0] != out[-1]:
        out.append(out[0])  # GeoJSON rings are explicitly closed
    return out


def multipolygon_geojson(b: bytes, ndigits: int = 9) -> str:
    polys = wkb.load_polygons(bytes(b))
    coords = [[_ring_coords(np.asarray(r, np.float64), ndigits) for r in rings]
              for rings in polys]
    if len(coords) == 1:
        return json.dumps({"type": "Polygon", "coordinates": coords[0]},
                          separators=(",", ":"))
    return json.dumps({"type": "MultiPolygon", "coordinates": coords},
                      separators=(",", ":"))


@F.pandas_udf(T.StringType())
def wkb_to_geojson(geoms: pd.Series) -> pd.Series:
    return geoms.map(lambda b: multipolygon_geojson(b))

