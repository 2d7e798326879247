"""Distributed rectify + simplify over DataFrames (SURVEY.md G1/G2, J10).

Spark shape of the passes whose pure kernels live in geopasses.py:

  stage 1  shared-vertex census: groupBy(vertex).collect_set(ref), sets
           of size > 1 — it splits the singleton majority (map-only
           kernels, no shuffle) from the buildings that share a vertex,
           and its sets become star edges for operators/components.py
           (the one genuinely graph-shaped op, J10);
  stage 2  repartition(component) + sortWithinPartitions + mapInPandas:
           each component enters the rectify kernel exactly once (the
           reference's 'rectified' memo X5 is free in dataflow form),
           paying the Arrow/pandas cost once per batch, not per group;
  stage 3  simplify census: explode all post-rectify vertices (closing
           duplicate INCLUDED — reference quirk, building2osm.py:786-792)
           → groupBy(vertex).count();
  stage 4  per-building decrement marks (Arrow kernel) for non-rectified
           buildings → groupBy(vertex).count();
  stage 5  removable = census − marks == 0, unioned with the rectify
           pass's dropped straight-line nodes; physical removal by joining
           each building's own removable subset back (vertex-keyed then
           ref-keyed shuffles — never a driver-side set at scale).

rectify_and_simplify fuses stages 2-5 per component (see its docstring).
The reference's shared mutable dicts (`nodes`, `remove_nodes`,
building2osm.py:779-794,870-896) become DataFrames; semantics are
identical (verified against geopasses.apply_passes, which is itself
parity-tested against the reference).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geopasses as GP
from . import components as CC


def _to_rings(geometry) -> list[list[tuple[float, float]]]:
    return [[(p[0], p[1]) for p in ring] for ring in geometry]


def _explode_vertices(df: DataFrame, include_closing: bool) -> DataFrame:
    """(ref, vlon, vlat) one row per vertex occurrence of every ring."""
    ring = F.explode("geometry").alias("ring")
    rings = df.select("ref", ring)
    verts = rings.select(
        "ref",
        F.explode(
            F.col("ring") if include_closing else F.slice("ring", 1, F.size("ring") - 1)
        ).alias("v"),
    )
    return verts.select(
        "ref", F.col("v")[0].alias("vlon"), F.col("v")[1].alias("vlat")
    )


# Rows per task for the grouped Python-kernel repartition. The kernel is
# compute-bound (~1 ms/building of pure-Python parity kernel), not
# byte-bound (~100 B/row of packed geometry), so AQE's byte-based
# partition coalescing is the wrong sizer here: at 100k fixture buildings
# it collapsed the ~2 MB component shuffle to 2 tasks and ran 25k
# kernel rows on 2 of 32 cores (the round-5 rectify_100k 3.5→9.5 s
# regression). Deriving N from the row count keeps both regimes right:
# a 200-building municipality stays a single task, a 100k run fans out
# to the session's full shuffle parallelism.
_KERNEL_ROWS_PER_TASK = 256


def _kernel_partitions(spark, n_rows: int) -> int:
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(shuffle_n, n_rows // _KERNEL_ROWS_PER_TASK + 1))


def _shared_vertex_edges(df: DataFrame) -> DataFrame:
    """Star edges (a = min ref, b = ref) of every vertex that more than one
    building uses — the shared-vertex census as a components() edge list.
    A star per shared vertex keeps its ref set connected."""
    return (
        _explode_vertices(df, include_closing=False)
        .groupBy("vlon", "vlat")
        .agg(F.collect_set("ref").alias("__refs"))
        .filter(F.size("__refs") > 1)
        .select(F.array_min("__refs").alias("a"), F.explode("__refs").alias("b"))
    )


def _grouped_components(df: DataFrame) -> tuple[DataFrame, int]:
    """(ref, component) for the buildings that share a vertex with
    another building, and their count; component = min member ref.

    A table no larger than what components() resolves on the driver is
    broadcast, so the singles/grouped split joins shuffle nothing; a
    larger one is left to the planner."""
    comps = CC.components(_shared_vertex_edges(df)).withColumnRenamed("node", "ref")
    n = comps.count()  # materialized — the count is cheap
    return (F.broadcast(comps) if n <= CC._DRIVER_MAX_EDGES else comps), n


def connected_components(df: DataFrame, max_iter: int = 20) -> DataFrame:
    """(ref, component) via shared-vertex connectivity.
    Component id = lexicographically smallest member ref; a building that
    shares no vertex labels itself."""
    comps = CC.components(_shared_vertex_edges(df), max_iter)
    return (
        df.select("ref")
        .join(comps.withColumnRenamed("node", "ref"), "ref", "left")
        .select("ref", F.coalesce("component", "ref").alias("component"))
    )


GEOM_T = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
_RECTIFY_SCHEMA = T.StructType(
    [
        T.StructField("ref", T.StringType()),
        T.StructField("geometry", GEOM_T),
        T.StructField("rectified", T.StringType()),
        T.StructField("removed", GEOM_T),  # [ [ [lon,lat], ...] ] one pseudo-ring
        T.StructField("relocated", T.DoubleType()),  # max node move, m
        T.StructField("reason", T.StringType()),     # DEBUG_NORECTIFY wording
    ]
)


def _map_components(
    grouped: DataFrame, kernel, schema: T.StructType, n_rows: int
) -> DataFrame:
    """Run kernel(pdf) once per component of grouped(ref, geometry,
    component) and union the frames it returns.

    applyInPandas with many tiny groups pays ~ms of Arrow/pandas overhead
    PER GROUP (measured 23 s for 25k buildings in 5k terrace components);
    here each Arrow batch is ONE pandas frame and components group inside
    it. The shuffle is sized by rows (see _KERNEL_ROWS_PER_TASK), not by
    AQE's bytes. A component can straddle two batches of the same
    partition (sortWithinPartitions makes it contiguous), so the trailing
    component of every batch is carried into the next and flushed at the
    end."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [kernel(sub) for _, sub in pdf.groupby("component", sort=False)],
            ignore_index=True,
        )

    def mapper(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            tail_mask = pdf["component"] == pdf["component"].iloc[-1]
            carry = pdf[tail_mask]
            body = pdf[~tail_mask]
            if len(body):
                yield run(body)
        if carry is not None and len(carry):
            yield run(carry)

    return (
        grouped.repartition(_kernel_partitions(grouped.sparkSession, n_rows), "component")
        .sortWithinPartitions("component", "ref")
        .mapInPandas(mapper, schema=schema)
    )


def _split_by_component(
    df: DataFrame, singles_kernel, group_kernel, schema: T.StructType
) -> DataFrame:
    """Buildings that share no vertex → singles_kernel, map-only; the
    shared-vertex components → group_kernel once per component."""
    comps, n_grouped = _grouped_components(df)
    singles_out = (
        df.join(comps, "ref", "left_anti")
        .select("ref", "geometry")
        .mapInPandas(singles_kernel, schema=schema)
    )
    if n_grouped == 0:
        return singles_out
    grouped_out = _map_components(
        df.join(comps, "ref").select("ref", "geometry", "component"),
        group_kernel,
        schema,
        n_grouped,
    )
    return singles_out.unionByName(grouped_out)


def _rectify_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("ref")  # canonical insertion order (SURVEY.md O1/O4)
    buildings = [ _to_rings(g) for g in pdf["geometry"] ]
    res = GP.rectify_group(buildings)
    removed = [[list(n) for n in sorted(res.removed_nodes)]]
    rows = {
        "ref": list(pdf["ref"]),
        "geometry": [
            [[list(p) for p in ring] for ring in rings] for rings in res.buildings
        ],
        "rectified": [res.status] * len(buildings),
        "removed": [removed] + [[[]]] * (len(buildings) - 1),
        "relocated": [res.relocated] * len(buildings),
        "reason": [res.reason] * len(buildings),
    }
    return pd.DataFrame(rows)


def _rectify_singles_kernel(batches):
    for pdf in batches:
        out = {"ref": [], "geometry": [], "rectified": [], "removed": [],
               "relocated": [], "reason": []}
        for ref, g in zip(pdf["ref"], pdf["geometry"]):
            res = GP.rectify_group([_to_rings(g)])
            out["ref"].append(ref)
            out["geometry"].append(
                [[list(p) for p in ring] for ring in res.buildings[0]]
            )
            out["rectified"].append(res.status)
            out["removed"].append([[list(n) for n in sorted(res.removed_nodes)]])
            out["relocated"].append(res.relocated)
            out["reason"].append(res.reason)
        yield pd.DataFrame(out)


def rectify(df: DataFrame) -> DataFrame:
    """(ref, geometry, rectified, removed) after group orthogonalization.

    Split plan: buildings sharing NO vertex with another building (the vast
    majority) are singleton components — they rectify in a map-only
    mapInPandas pass with no shuffle; only buildings with shared vertices
    enter the components + grouped kernel path. Same kernels, same
    results (the group census of a singleton is its own vertices)."""
    return _split_by_component(
        df, _rectify_singles_kernel, _rectify_kernel, _RECTIFY_SCHEMA
    )


_MARKS_SCHEMA = T.StructType(
    [
        T.StructField("vlon", T.DoubleType()),
        T.StructField("vlat", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _marks_kernel(batches):
    for pdf in batches:
        out: dict[tuple[float, float], int] = {}
        for g in pdf["geometry"]:
            for node in GP.simplify_marks(_to_rings(g)):
                out[node] = out.get(node, 0) + 1
        if out:
            yield pd.DataFrame(
                {
                    "vlon": [k[0] for k in out],
                    "vlat": [k[1] for k in out],
                    "n": list(out.values()),
                }
            )


_REMOVE_SCHEMA = T.StructType(
    [
        T.StructField("ref", T.StringType()),
        T.StructField("geometry", GEOM_T),
        T.StructField("rectified", T.StringType()),
        T.StructField("n_removed", T.LongType()),
        T.StructField("relocated", T.DoubleType()),
        T.StructField("reason", T.StringType()),
    ]
)


def simplify(rectified_df: DataFrame) -> DataFrame:
    """Apply the simplify pass to the rectify output."""
    # the rectify output feeds five consumers below (census, marks, the
    # rectify-removed set, the per-building removable join, and the final
    # removal kernel) — persist it or the grouped rectify kernels re-run
    # once per consumer
    rectified_df = rectified_df.persist()
    census = (
        _explode_vertices(rectified_df, include_closing=True)
        .groupBy("vlon", "vlat")
        .agg(F.count("*").alias("uses"))
    )
    marks = (
        rectified_df.filter(F.col("rectified") != "done")
        .select("geometry")
        .mapInPandas(_marks_kernel, schema=_MARKS_SCHEMA)
        .groupBy("vlon", "vlat")
        .agg(F.sum("n").alias("marked"))
    )
    removable_from_census = (
        census.join(marks, ["vlon", "vlat"])
        .filter(F.col("uses") - F.col("marked") == 0)
        .select("vlon", "vlat")
    )
    removable_from_rectify = (
        rectified_df.select(F.explode("removed").alias("ring"))
        .select(F.explode("ring").alias("v"))
        .select(F.col("v")[0].alias("vlon"), F.col("v")[1].alias("vlat"))
        .filter(F.col("vlon").isNotNull())
    )
    removable = removable_from_census.unionByName(removable_from_rectify).distinct()

    # each building's own removable subset, joined back by ref
    own = (
        _explode_vertices(rectified_df, include_closing=False)
        .join(removable, ["vlon", "vlat"])
        .groupBy("ref")
        .agg(F.collect_set(F.array("vlon", "vlat")).alias("to_remove"))
    )
    with_removals = rectified_df.join(own, "ref", "left")

    def remove_kernel(batches):
        for pdf in batches:
            geoms, counts = [], []
            for g, rem in zip(pdf["geometry"], pdf["to_remove"]):
                rings = _to_rings(g)
                rem_set = (
                    {(p[0], p[1]) for p in rem} if rem is not None and len(rem) else set()
                )
                new_rings, n = GP.remove_marked(rings, rem_set)
                geoms.append([[list(p) for p in ring] for ring in new_rings])
                counts.append(n)
            yield pd.DataFrame(
                {
                    "ref": pdf["ref"],
                    "geometry": geoms,
                    "rectified": pdf["rectified"],
                    "n_removed": counts,
                    "relocated": pdf["relocated"],
                    "reason": pdf["reason"],
                }
            )

    out = with_removals.select(
        "ref", "geometry", "rectified", "to_remove", "relocated", "reason"
    ).mapInPandas(remove_kernel, schema=_REMOVE_SCHEMA)
    # release the rectify cache deterministically: materialize the final
    # (slim, one-row-per-building) output into ContextCleaner-managed
    # blocks, then drop the CacheManager entry — long-lived sessions
    # accumulate nothing across repeated pipeline runs
    out = out.localCheckpoint(eager=True)
    rectified_df.unpersist()
    return out


def _fused_component(buildings: list) -> tuple:
    """Fused rectify+simplify for ONE connected component.

    Vertex coordinates never cross component boundaries (a coordinate
    shared by two buildings puts them in the same component by
    construction, and non-rectified buildings — the only mark sources —
    keep their original coordinates), so the global simplify state —
    vertex-use census, simplify marks, rectify-removed nodes — decomposes
    exactly per component. Same GP kernels as the staged path; outputs
    tuple-identical (parity-asserted in test_geometry_passes_spark).

    Returns (geoms, status, n_removed_list, relocated, reason)."""
    res = GP.rectify_group(buildings)
    # census: vertex occurrence counts across the whole component
    # INCLUDING the closing node (mirrors _explode_vertices(True))
    uses: dict[tuple, int] = {}
    for rings in res.buildings:
        for ring in rings:
            for node in ring:
                uses[node] = uses.get(node, 0) + 1
    # marks only from non-rectified buildings (simplify() filters
    # rectified != 'done'); rectify status is group-level
    marked: dict[tuple, int] = {}
    if res.status != "done":
        for rings in res.buildings:
            for node in GP.simplify_marks(rings):
                marked[node] = marked.get(node, 0) + 1
    removable = {node for node, n in uses.items() if marked.get(node, 0) == n}
    removable |= res.removed_nodes
    geoms, counts = [], []
    for rings in res.buildings:
        new_rings, n = GP.remove_marked(rings, removable)
        geoms.append([[list(p) for p in ring] for ring in new_rings])
        counts.append(n)
    return geoms, res.status, counts, res.relocated, res.reason


def _rectify_simplify_singles_kernel(batches):
    """Fused rectify+simplify for SINGLETON buildings (no vertex shared
    with any other building) — map-only, zero shuffles."""
    for pdf in batches:
        out = {"ref": [], "geometry": [], "rectified": [], "n_removed": [],
               "relocated": [], "reason": []}
        for ref, g in zip(pdf["ref"], pdf["geometry"]):
            geoms, status, counts, relocated, reason = _fused_component(
                [_to_rings(g)]
            )
            out["ref"].append(ref)
            out["geometry"].append(geoms[0])
            out["rectified"].append(status)
            out["n_removed"].append(counts[0])
            out["relocated"].append(relocated)
            out["reason"].append(reason)
        yield pd.DataFrame(out)


def _fused_group_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("ref")  # canonical insertion order (SURVEY.md O1/O4)
    buildings = [_to_rings(g) for g in pdf["geometry"]]
    geoms, status, counts, relocated, reason = _fused_component(buildings)
    n = len(buildings)
    return pd.DataFrame(
        {
            "ref": list(pdf["ref"]),
            "geometry": geoms,
            "rectified": [status] * n,
            "n_removed": counts,
            "relocated": [relocated] * n,
            "reason": [reason] * n,
        }
    )


def rectify_and_simplify(df: DataFrame) -> DataFrame:
    """Full pass pipeline: df(ref, geometry) → (ref, geometry, rectified,
    n_removed). Equivalent to process_municipality's rectify+simplify
    sequence (building2osm.py:1360-1361).

    Plan shape: the singleton majority (no shared vertices) runs the FUSED
    map-only kernel — scan → mapInPandas, zero shuffles, no census joins —
    while only the shared-vertex minority takes the grouped path
    (components + one fused kernel per component). The split itself is
    one vertex-census shuffle. At 100k fixture buildings this is ~4×
    the unified path's throughput; results are identical.

    The shared-vertex minority runs the SAME fused kernel per connected
    component (vertex coordinates cannot cross component boundaries, so
    the census/marks/removal state is component-local — the identical
    argument that justifies the singleton fast path): components →
    one repartition by component → fused kernel. The staged
    rectify()/simplify() pair remains as the composable API surface.

    Components come from the same census that makes the split
    (_grouped_components), so the shared vertices are exploded once."""
    return _split_by_component(
        df, _rectify_simplify_singles_kernel, _fused_group_kernel, _REMOVE_SCHEMA
    )
