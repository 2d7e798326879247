"""Fringe candidate cells vs the full 3×3 block: the SURVIVING pair set
(either strict bbox passes) must be identical — the fringe only prunes
candidate pairs the bbox filter would reject anyway."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from building2osm_spark.constants import MARGIN_HAUSDORFF
from building2osm_spark.functions.columns import (
    cell_id_col,
    coordinate_offset_cols,
)
from building2osm_spark.operators.conflate import CONFLATE_RES, _fringe_cells
from building2osm_spark.operators.knn import _neighbors9


def _surviving_pairs(spark, imp_pdf, osm_pdf, cells_fn):
    imp = spark.createDataFrame(imp_pdf)
    osm = spark.createDataFrame(osm_pdf)
    cand = (
        imp.withColumn("__cells", cells_fn(F.col("i_lon"), F.col("i_lat")))
        .select("i_ref", "i_lon", "i_lat", F.explode("__cells").alias("__cell"))
        .join(
            osm.withColumn(
                "__cell", cell_id_col(F.col("o_lon"), F.col("o_lat"), CONFLATE_RES)
            ),
            "__cell",
        )
    )
    o_minlon, o_minlat = coordinate_offset_cols(
        F.col("o_lon"), F.col("o_lat"), -2.0 * MARGIN_HAUSDORFF
    )
    o_maxlon, o_maxlat = coordinate_offset_cols(
        F.col("o_lon"), F.col("o_lat"), +2.0 * MARGIN_HAUSDORFF
    )
    i_minlon, i_minlat = coordinate_offset_cols(
        F.col("i_lon"), F.col("i_lat"), -2.0 * MARGIN_HAUSDORFF
    )
    i_maxlon, i_maxlat = coordinate_offset_cols(
        F.col("i_lon"), F.col("i_lat"), +2.0 * MARGIN_HAUSDORFF
    )
    fwd = (
        (o_minlon < F.col("i_lon")) & (F.col("i_lon") < o_maxlon)
        & (o_minlat < F.col("i_lat")) & (F.col("i_lat") < o_maxlat)
    )
    rev = (
        (i_minlon < F.col("o_lon")) & (F.col("o_lon") < i_maxlon)
        & (i_minlat < F.col("o_lat")) & (F.col("o_lat") < i_maxlat)
    )
    rows = cand.filter(fwd | rev).select("i_ref", "osm_id").collect()
    return sorted((r.i_ref, r.osm_id) for r in rows)


def _corpora(seed=7, n=4_000):
    """Random pairs clustered at grid-cell borders at several latitudes —
    the adversarial case is a partner JUST across a border."""
    rng = np.random.default_rng(seed)
    n_cells = 1 << CONFLATE_RES
    cell_h = 180.0 / n_cells
    cell_w = 360.0 / n_cells
    lats, lons = [], []
    for base_lat, base_lon in ((59.91, 10.75), (69.65, 18.96), (0.01, 5.0)):
        iy = np.floor((base_lat + 90.0) / cell_h)
        ix = np.floor((base_lon + 180.0) / cell_w)
        # points within ±40 m of the cell corner, dense across the border
        m = n // 3
        lats.append((iy * cell_h - 90.0) + rng.uniform(-4e-4, 4e-4, m))
        lons.append((ix * cell_w - 180.0) + rng.uniform(-8e-4, 8e-4, m))
    lat = np.concatenate(lats)
    lon = np.concatenate(lons)
    # import points: the same spots jittered by up to ~30 m (beyond and
    # within the 20 m bbox), so survivors and non-survivors both exist
    jl = rng.uniform(-3e-4, 3e-4, lat.size)
    jo = rng.uniform(-6e-4, 6e-4, lat.size)
    # one base above 89.8°, past the fringe's cos(lat) floor, drawn after
    # the others so their points stay as they were; its longitude spreads
    # widen by 1/cos(lat) so its points sit metres apart like the others'
    base_lat, base_lon = 89.85, 10.75
    k = 1.0 / np.cos(np.radians(base_lat))
    iy = np.floor((base_lat + 90.0) / cell_h)
    ix = np.floor((base_lon + 180.0) / cell_w)
    lat = np.concatenate([lat, (iy * cell_h - 90.0) + rng.uniform(-4e-4, 4e-4, m)])
    lon = np.concatenate(
        [lon, (ix * cell_w - 180.0) + rng.uniform(-8e-4 * k, 8e-4 * k, m)]
    )
    jl = np.concatenate([jl, rng.uniform(-3e-4, 3e-4, m)])
    jo = np.concatenate([jo, rng.uniform(-6e-4 * k, 6e-4 * k, m)])
    osm_pdf = pd.DataFrame(
        {"osm_id": np.arange(lat.size, dtype=np.int64), "o_lon": lon, "o_lat": lat}
    )
    imp_pdf = pd.DataFrame(
        {
            "i_ref": [f"r{i}" for i in range(lat.size)],
            "i_lon": lon + jo,
            "i_lat": lat + jl,
        }
    )
    return imp_pdf, osm_pdf


def test_fringe_survivor_pairs_equal_3x3(spark):
    imp_pdf, osm_pdf = _corpora()
    full = _surviving_pairs(
        spark, imp_pdf, osm_pdf, lambda lo, la: _neighbors9(lo, la, CONFLATE_RES)
    )
    fringe = _surviving_pairs(
        spark,
        imp_pdf,
        osm_pdf,
        lambda lo, la: _fringe_cells(lo, la, CONFLATE_RES, MARGIN_HAUSDORFF),
    )
    assert len(full) > 100  # the fixture must actually produce survivors
    assert fringe == full


def test_fringe_is_a_subset_of_3x3_cells(spark):
    """Sanity on the cell arrays themselves: fringe ⊆ 3×3 and contains
    the own cell, with ~1–4 cells typical instead of 9."""
    imp_pdf, _ = _corpora(seed=11, n=900)
    df = spark.createDataFrame(imp_pdf).select(
        _fringe_cells(
            F.col("i_lon"), F.col("i_lat"), CONFLATE_RES, MARGIN_HAUSDORFF
        ).alias("fr"),
        _neighbors9(F.col("i_lon"), F.col("i_lat"), CONFLATE_RES).alias("full"),
        cell_id_col(F.col("i_lon"), F.col("i_lat"), CONFLATE_RES).alias("own"),
    )
    bad = df.filter(
        (F.size(F.array_except("fr", "full")) > 0)
        | ~F.array_contains("fr", F.col("own"))
    ).count()
    assert bad == 0
    avg = df.agg(F.avg(F.size("fr"))).first()[0]
    assert 1.0 <= avg < 9.0
