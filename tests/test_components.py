"""operators/components.py: the one connected-components primitive gives
the same (node, component) rows in both physical regimes. Its callers'
regime equivalence and the non-convergence error are tested with them
(test_geometry_passes_spark, test_conflate_greedy, test_pipeline_ops)."""

from __future__ import annotations

from building2osm_spark.operators import components as CC


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_components_string_domain_self_loops_and_nulls(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("x", "x"), ("y", None), (None, "z"), ("p", "q")],
        schema="a string, b string",
    )
    # component = smallest node; the self-loop registers x; NULL-ended
    # edges register neither end
    want = [
        ("b", "b"), ("c", "b"), ("d", "b"), ("p", "p"), ("q", "p"), ("x", "x"),
    ]
    assert _rows(CC.components(edges)) == want
    monkeypatch.setattr(CC, "_DRIVER_MAX_EDGES", 0)
    assert _rows(CC.components(edges)) == want
    # an empty edge list, in both regimes
    empty = spark.createDataFrame([], schema="a long, b long")
    assert CC.components(empty).collect() == []
    monkeypatch.setattr(CC, "_DRIVER_MAX_EDGES", -1)
    assert CC.components(empty).collect() == []
