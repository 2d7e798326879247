"""Native column function tests vs the reference's scalar functions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from building2osm_spark.functions.columns import (
    building_retag_cadastral_col,
    building_retag_merge_col,
    cell_id_col,
    distance_m_col,
    format_decimal_col,
    level_code_cols,
    parse_ref_col,
)
from building2osm_spark import cells, geom
from tests.conftest import import_reference


def test_cell_id_col_matches_numpy(spark):
    rng = np.random.default_rng(3)
    lon = rng.uniform(-179, 179, 300)
    lat = rng.uniform(-89, 89, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], schema="lon double, lat double"
    )
    for res in (5, 15, 20):
        got = [r[0] for r in df.select(cell_id_col(F.col("lon"), F.col("lat"), res)).collect()]
        want = cells.cell_id(lon, lat, res).tolist()
        assert got == want


def test_distance_col_matches_kernel(spark):
    rng = np.random.default_rng(4)
    p = np.stack([rng.uniform(10, 11, 100), rng.uniform(59, 60, 100)], axis=1)
    q = np.stack([rng.uniform(10, 11, 100), rng.uniform(59, 60, 100)], axis=1)
    df = spark.createDataFrame(
        [(float(a[0]), float(a[1]), float(b[0]), float(b[1])) for a, b in zip(p, q)],
        schema="lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = [
        r[0]
        for r in df.select(
            distance_m_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2"))
        ).collect()
    ]
    want = geom.distance(p, q)
    assert np.allclose(got, want, rtol=0, atol=1e-9)


def test_format_decimal_matches_reference(spark):
    # 0.15/0.35/12.25 are the JVM-vs-CPython divergence cases: shortest-repr
    # HALF_UP vs exact-binary half-even (see format_decimal_col docstring)
    ref_b2o = import_reference("building2osm")
    vals = [0.0, 1.0, 1.25, 1.201, 99.99, 100.04, 0.06, 3.0, None,
            0.15, 0.25, 0.35, 0.45, 0.75, 12.25, -0.25, -1.25, 2.5]
    df = spark.createDataFrame([(v,) for v in vals], schema="x double")
    got = [r[0] for r in df.select(format_decimal_col(F.col("x"))).collect()]
    for v, g in zip(vals, got):
        want = ref_b2o.format_decimal(v) if v is not None else ""
        assert g == want, f"{v}: {g!r} != {want!r}"


def test_parse_ref_matches_reference(spark):
    ref_fb = import_reference("filter_buildings")
    cases = ["123;456", "123", "123;;456", "7;7;8", ""]
    df = spark.createDataFrame([(c,) for c in cases], schema="s string")
    got = [r[0] for r in df.select(parse_ref_col(F.col("s"))).collect()]
    for c, g in zip(cases, got):
        want = ref_fb.parse_ref(c)  # set of ints
        assert set(g or []) == want, c


def test_level_code_parse(spark):
    df = spark.createDataFrame([("H0203",), ("U0102",), ("L0201",)], schema="s string")
    t, n = level_code_cols(F.col("s"))
    rows = df.select(t.alias("t"), n.alias("n")).collect()
    assert [(r["t"], r["n"]) for r in rows] == [("H", 2), ("U", 1), ("L", 2)]


def test_retag_cadastral_chain(spark):
    cases = [
        ("garage", 150.0, "garages"),
        ("garage", 10.0, "shed"),
        ("garage", 50.0, "garage"),
        ("barn", 10.0, "shed"),
        ("barn", 50.0, "farm_auxiliary"),
        ("barn", 150.0, "barn"),
        ("hotel", 50.0, "cabin"),
        ("hotel", 500.0, "hotel"),
        ("house", 5.0, "house"),
    ]
    df = spark.createDataFrame([(b, a) for b, a, _ in cases], schema="b string, a double")
    got = [r[0] for r in df.select(building_retag_cadastral_col(F.col("b"), F.col("a"))).collect()]
    assert got == [w for _, _, w in cases]


def test_retag_merge_chain(spark):
    # building_merge.py:363-377: TYPE rewrite first, then size rules
    cases = [
        ("house", 50.0, "#672 Kirke", "religious"),
        ("house", 50.0, "#199 Bolig", "residential"),
        ("barracks", 500.0, "", "container"),
        ("hotel", 50.0, "", "cabin"),
        ("barn", 10.0, "", "shed"),
        ("barn", 50.0, "", "farm_auxiliary"),
        ("garage", 150.0, "", "garage"),  # merge side has NO garages rule
    ]
    df = spark.createDataFrame(
        [(b, a, t) for b, a, t, _ in cases], schema="b string, a double, t string"
    )
    got = [
        r[0]
        for r in df.select(
            building_retag_merge_col(F.col("b"), F.col("a"), F.col("t"))
        ).collect()
    ]
    assert got == [w for _, _, _, w in cases]


def test_dedupe_consecutive_column_parity():
    # P2 covered in geom tests; sanity: backtrack cascade
    ref_b2o = import_reference("building2osm")
    vals = np.array([[0, 0], [1, 1], [0, 0], [2, 2]], dtype=float)
    out = geom.dedupe_consecutive(vals)
    want = ref_b2o.parse_polygon("0 0 1 1 0 0 2 2")
    assert [tuple(p) for p in out] == want


def test_native_polygon_scalars_match_numpy(spark):
    """polygon_area_col / polygon_centre_cols / bearing_col (native
    Catalyst) vs the geom.py numpy kernels that are themselves
    reference-parity-tested."""
    from building2osm_spark.functions.columns import (
        bearing_col,
        polygon_area_col,
        polygon_centre_cols,
    )
    from building2osm_spark.sources.fixtures import (
        GEOMETRY_POLYGON_T,
        building_geometries,
    )

    geoms = building_geometries(300)
    df = spark.createDataFrame(geoms, schema=f"ref string, geometry {GEOMETRY_POLYGON_T}")
    ring = F.col("geometry")[0]
    c_lon, c_lat = polygon_centre_cols(ring)
    got = {
        r["ref"]: r
        for r in df.select(
            "ref",
            polygon_area_col(ring).alias("area"),
            c_lon.alias("c_lon"),
            c_lat.alias("c_lat"),
        ).collect()
    }
    for ref, rings in geoms:
        outer = np.asarray(rings[0], dtype=np.float64)
        assert got[ref]["area"] == geom.polygon_area(outer), ref
        want = geom.polygon_centre(outer)
        assert abs(got[ref]["c_lon"] - want[0]) < 1e-12
        assert abs(got[ref]["c_lat"] - want[1]) < 1e-12

    pts = spark.createDataFrame(
        [(10.0, 59.0, 10.5, 59.3), (10.0, 59.0, 9.7, 58.8), (10.0, 59.0, 10.0, 59.5)],
        schema="lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got_b = [
        r[0]
        for r in pts.select(
            bearing_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2"))
        ).collect()
    ]
    want_b = geom.bearing(
        np.array([[10.0, 59.0]] * 3), np.array([[10.5, 59.3], [9.7, 58.8], [10.0, 59.5]])
    )
    assert np.allclose(got_b, want_b, atol=1e-9)


def test_in_bbox_col_twins_match_numpy(spark):
    """Column bbox predicates == geom numpy forms, including rows exactly
    ON each edge (the P5 discrimination cases)."""
    import numpy as np

    from building2osm_spark import geom as G
    from building2osm_spark.functions import columns as COL

    bbox = (10.0, 59.0, 11.0, 60.0)
    pts = [
        (10.0, 59.5), (11.0, 59.5), (10.5, 59.0), (10.5, 60.0),  # edges
        (10.5, 59.5), (9.9, 59.5), (11.1, 60.1), (10.0, 59.0), (11.0, 60.0),
    ]
    arr = np.asarray(pts)
    want = {
        "closed": G.in_bbox_closed(arr, bbox),
        "strict": G.in_bbox_strict(arr, bbox),
        "half": G.in_bbox_half_open(arr, bbox),
    }
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = df.select(
        COL.in_bbox_closed_col(F.col("lon"), F.col("lat"), bbox).alias("closed"),
        COL.in_bbox_strict_col(F.col("lon"), F.col("lat"), bbox).alias("strict"),
        COL.in_bbox_half_open_col(F.col("lon"), F.col("lat"), bbox).alias("half"),
    ).collect()
    for name in ("closed", "strict", "half"):
        assert [bool(r[name]) for r in got] == list(map(bool, want[name])), name
    # the conventions genuinely differ on the edge rows
    assert [bool(r["closed"]) for r in got] != [bool(r["strict"]) for r in got]


def test_quadkey_col(spark):
    """Bing quadkey: known digit examples, prefix property along the
    pyramid, z=0 empty, pure Catalyst (no Python in the plan)."""
    from building2osm_spark.functions import columns as COL

    rows = [
        (3, 5, 3, "213"),  # canonical Bing example: x=3,y=5,z=3
        (0, 0, 1, "0"),
        (1, 0, 1, "1"),
        (0, 1, 1, "2"),
        (1, 1, 1, "3"),
        (0, 0, 0, ""),
        (35210, 21493, 16, None),  # checked against the bit definition below
    ]
    df = spark.createDataFrame(
        [(tx, ty, z) for tx, ty, z, _ in rows], "tx long, ty long, z int"
    )
    out = [r.qk for r in df.select(COL.quadkey_col("tx", "ty", "z").alias("qk")).collect()]
    for (tx, ty, z, want), got in zip(rows, out):
        if want is None:
            want = "".join(
                str(2 * ((ty >> (z - i)) & 1) + ((tx >> (z - i)) & 1))
                for i in range(1, z + 1)
            )
        assert got == want, (tx, ty, z, got, want)
    # prefix property: parent's quadkey prefixes the child's
    child = df.select(COL.quadkey_col("tx", "ty", "z").alias("qk"))
    parent = df.selectExpr(
        "shiftright(tx, 1) AS tx", "shiftright(ty, 1) AS ty",
        "greatest(z - 1, 0) AS z",
    ).select(COL.quadkey_col("tx", "ty", "z").alias("qk"))
    for c, p in zip([r.qk for r in child.collect()], [r.qk for r in parent.collect()]):
        assert c.startswith(p), (c, p)
    plan = child._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
