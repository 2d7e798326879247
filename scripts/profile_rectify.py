"""Round-6 diagnostic: per-stage timing of rectify_and_simplify @100k."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402


def main() -> None:
    from building2osm_spark.session import get_spark
    from building2osm_spark.operators import geometry_passes as GPS

    spark = get_spark(app="profile-rectify", cores=B.CPUS)
    path = B.bench_path("rect100k")
    df = spark.read.parquet(path)

    def t(label, fn, n=2):
        fn()  # warm
        best = float("inf")
        for _ in range(n):
            t0 = time.time()
            out = fn()
            best = min(best, time.time() - t0)
        print(f"{label:35s} {best:7.3f} s   -> {out}", flush=True)
        return best

    # 0. scan only
    t("scan.count", lambda: df.count())

    # 1. vertex explode + census as star edges
    verts = GPS._explode_vertices(df, include_closing=False)
    t("explode.count", lambda: verts.count())
    edges = GPS._shared_vertex_edges(df)
    t("census edges.count", lambda: edges.count())

    # 2. components (driver union-find below the edge cap)
    t0 = time.time()
    comps, n_grouped = GPS._grouped_components(df)
    print(f"{'components':35s} {time.time()-t0:7.3f} s   -> {n_grouped} refs",
          flush=True)

    # 3. full operator pieces: reproduce the internals
    singles = df.join(comps, "ref", "left_anti")
    grouped = df.join(comps, "ref")
    t("singles.count", lambda: singles.count())
    t("grouped.count", lambda: grouped.count())

    singles_out = singles.select("ref", "geometry").mapInPandas(
        GPS._rectify_simplify_singles_kernel, schema=GPS._REMOVE_SCHEMA
    )
    t("singles kernel.count", lambda: singles_out.count())

    grouped_out = GPS._map_components(
        grouped.select("ref", "geometry", "component"),
        GPS._fused_group_kernel,
        GPS._REMOVE_SCHEMA,
        n_grouped,
    )
    t("grouped kernel.count", lambda: grouped_out.count())

    # component size distribution
    sizes = comps.groupBy("component").count().groupBy("count").count()
    hist = {r[0]: r[1] for r in sizes.collect()}
    print("component size -> count:", dict(sorted(hist.items())[:20]), flush=True)

    # full operator end-to-end for reference
    t("rectify_and_simplify.count",
      lambda: GPS.rectify_and_simplify(df).count())
    spark.stop()


if __name__ == "__main__":
    main()
