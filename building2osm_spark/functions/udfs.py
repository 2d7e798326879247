"""Arrow-vectorized pandas UDFs wrapping the numpy geometry kernels.

Per the north rule there is NO per-row Python UDF anywhere: every function
here receives Arrow batches as pandas Series and runs numpy kernels over
them. Geometry columns are nested arrays:
  Polygon      array<array<array<double>>>        rings × points × (lon,lat)
  MultiPolygon array<array<array<array<double>>>> polygons × rings × pts × 2
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells as C
from .. import geom as G
from ..constants import EARTH_RADIUS


def _ring(arr) -> np.ndarray:
    """One ring (list of [lon, lat]) → (N, 2) float64."""
    return np.asarray([[p[0], p[1]] for p in arr], dtype=np.float64)


def _polygon(arr) -> list[np.ndarray]:
    return [_ring(r) for r in arr]


POINT_STRUCT = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)


@F.pandas_udf(T.LongType())
def area_merge_udf(geometry: pd.Series) -> pd.Series:
    """|outer-ring area| m², R=6371009 (building_merge.py:134-151 + abs :352)."""
    return pd.Series(
        [abs(G.polygon_area_merge(_ring(g[0]))) if g is not None and len(g) else 0 for g in geometry],
        dtype="int64",
    )


@F.pandas_udf(POINT_STRUCT)
def centre_udf(geometry: pd.Series) -> pd.DataFrame:
    """Vertex-mean centre of the outer ring (building2osm.py:143-154 /
    building_merge.py:351 uses it for the match bbox)."""
    lons, lats = [], []
    for g in geometry:
        if g is None or not len(g) or not len(g[0]):
            lons.append(None)
            lats.append(None)
            continue
        cx, cy = G.polygon_centre(_ring(g[0]))
        lons.append(cx)
        lats.append(cy)
    return pd.DataFrame({"lon": lons, "lat": lats})


@F.pandas_udf(POINT_STRUCT)
def centroid_udf(geometry: pd.Series) -> pd.DataFrame:
    """Hole-aware mass centroid (municipality_split.py:141-182), over a
    Polygon geometry."""
    lons, lats = [], []
    for g in geometry:
        if g is None or not len(g) or not len(g[0]):
            lons.append(None)
            lats.append(None)
            continue
        cx, cy = G.centroid_polygon(_polygon(g))
        lons.append(cx)
        lats.append(cy)
    return pd.DataFrame({"lon": lons, "lat": lats})


@F.pandas_udf(T.DoubleType())
def hausdorff_udf(ring1: pd.Series, ring2: pd.Series) -> pd.Series:
    """Symmetric Hausdorff between two outer rings (building_merge.py:226-274).
    Inputs are ring-level arrays (points × 2).

    Round 6: the whole batch runs through geom.hausdorff_distance_batch
    (size-sorted padded chunks, value-identical to the per-pair kernel)
    instead of a Python loop launching two matrix kernels per PAIR — the
    conflate candidate stream is ~2 rings × millions of pairs and the
    per-row path was the measured stage wall of conflate_city_1m."""
    xy1, n1 = _flat_rings(ring1)
    xy2, n2 = _flat_rings(ring2)
    return pd.Series(G.hausdorff_distance_batch(xy1, n1, xy2, n2))


def _flat_rings(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of rings → (concatenated (Σn,2) float64, per-ring counts)."""
    arrs = []
    for r in series:
        a = np.asarray(r)
        if a.dtype == object:
            a = (
                np.stack(a.tolist()).astype(np.float64)
                if a.size
                else np.empty((0, 2), dtype=np.float64)
            )
        else:
            a = a.astype(np.float64, copy=False).reshape(-1, 2)
        arrs.append(a)
    if not arrs:
        return np.empty((0, 2), dtype=np.float64), np.empty(0, dtype=np.int64)
    n = np.fromiter((a.shape[0] for a in arrs), dtype=np.int64, count=len(arrs))
    return np.concatenate(arrs), n


def make_cover_udf(res: int, max_cells: int = 4096):
    """Polygon geometry → array<long> cell cover at `res` (compacted covers
    come from cells.compact in the caller when wanted)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cover_udf(geometry: pd.Series) -> pd.Series:
        out = []
        for g in geometry:
            cover = C.cover_polygon(_polygon(g), res, max_cells=max_cells)
            out.append(cover.tolist())
        return pd.Series(out)

    return cover_udf


def make_multipolygon_cover_udf(res: int, max_cells: int = 4096):
    """MultiPolygon geometry → array<long> union cell cover."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cover_udf(geometry: pd.Series) -> pd.Series:
        out = []
        for mp in geometry:
            covers = [C.cover_polygon(_polygon(p), res, max_cells=max_cells) for p in mp]
            out.append(np.unique(np.concatenate(covers)).tolist() if covers else [])
        return pd.Series(out)

    return cover_udf


@F.pandas_udf(T.BinaryType())
def wkb_udf(geometry: pd.Series) -> pd.Series:
    """Canonical little-endian WKB Polygon encoding of a Polygon geometry —
    the byte-compare output target (SURVEY.md §7.3). No shapely in the
    sandbox, so the encoder is explicit struct packing."""
    import struct

    out = []
    for g in geometry:
        if g is None:
            out.append(None)
            continue
        rings = _polygon(g)
        buf = bytearray()
        buf += struct.pack("<BI", 1, 3)  # little endian, wkbPolygon
        buf += struct.pack("<I", len(rings))
        for ring in rings:
            buf += struct.pack("<I", len(ring))
            buf += ring.astype("<f8").tobytes()
        out.append(bytes(buf))
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def format_decimal_udf(values: pd.Series) -> pd.Series:
    """CPython-exact format_decimal (building2osm.py:92-98): '%.1f' on the
    exact binary value (half-even), strip trailing '0'/'.'; falsy → ''.
    Arrow-batched; exists because no JVM-native path reproduces CPython's
    exact-value rounding (see columns.format_decimal_col docstring)."""

    def fmt(v) -> str:
        # None/0.0 → '' like the reference's falsy check; NaN also → ''
        # because SQL NULL reaches a float64 pandas series as NaN — the
        # null contract outranks the reference's (pathological) nan path
        if v is None or v != v or not v:
            return ""
        return ("%.1f" % v).rstrip("0").rstrip(".")

    return values.map(fmt)


@F.pandas_udf(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))
def round7_geometry_udf(geometry: pd.Series) -> pd.Series:
    """Round all coordinates to 7 decimals (building2osm.py:36,621,1226);
    numpy round = banker's rounding = CPython round."""
    out = []
    for g in geometry:
        if g is None:
            out.append(None)
            continue
        out.append([np.round(_ring(r), 7).tolist() for r in g])
    return pd.Series(out)

@F.pandas_udf(T.StringType())
def format2f_udf(values: pd.Series) -> pd.Series:
    """CPython-exact '%.2f' (NULL→NULL). The JVM's format_string rounds
    the double's shortest repr HALF_UP while CPython rounds the exact
    binary value half-even (0.125 → '0.12' vs '0.13') — debug/verify tag
    byte parity with the reference needs the CPython semantics."""
    return values.map(lambda v: None if v is None or v != v else "%.2f" % v)


@F.pandas_udf(T.StringType())
def format1f_udf(values: pd.Series) -> pd.Series:
    """CPython-exact '%.1f' (NULL→NULL) — see format2f_udf."""
    return values.map(lambda v: None if v is None or v != v else "%.1f" % v)
