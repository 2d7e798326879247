"""The benchmark workloads: seeded input generation, one run, and an output
check that does not trust the engine.

Each workload is a closed loop driven by run.py: one driver runs the job,
waits for it, then runs it again. Inputs are written with pyarrow before the
Spark session starts, so generating them never warms the JVM that set-up
time is measured on.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from building2osm_spark.sources import fixtures as FX

# Input files per table: fixed, so a scan's partitioning does not depend on
# the host the inputs were generated on.
N_FILES = 8

_MULTIPOLYGON = pa.list_(pa.list_(pa.list_(pa.list_(pa.float64()))))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _images(ids: list[int], hot_frac: float) -> pd.DataFrame:
    """FX.images_pdf_for_ids over one chunk of ids per core. Each row depends
    only on its id, so the chunks concatenate to the single-call table. The
    fixture renders and hashes every image in Python (about 0.8 ms each), so
    one process takes about 15 s for 20,000 images, four take about 3 s."""
    n = len(os.sched_getaffinity(0))
    chunks = [c.tolist() for c in np.array_split(np.asarray(ids), n)]
    with ProcessPoolExecutor(n) as pool:
        parts = list(pool.map(FX.images_pdf_for_ids, chunks, [hot_frac] * n))
    return pd.concat(parts, ignore_index=True)


def _ring_odd(xs, ys, px, py):
    """Even-odd ray cast of points (px, py) against one closed ring, with
    the same comparison and arithmetic order as the engine's native refine."""
    odd = np.zeros(len(px), dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(len(xs) - 1):
            crosses = (ys[i] > py) != (ys[i + 1] > py)
            x_at = ((xs[i + 1] - xs[i]) * (py - ys[i])) / (ys[i + 1] - ys[i]) + xs[i]
            odd ^= crosses & (px < x_at)
    return odd


def _district_counts(lon, lat, subdivisions) -> dict[str, int]:
    """Brute-force point-in-multipolygon counts per district."""
    counts = {}
    for name, geometry in zip(subdivisions["name"], subdivisions["geometry"]):
        inside = np.zeros(len(lon), dtype=bool)
        for polygon in geometry:
            rings = [np.asarray(r, dtype=np.float64) for r in polygon]
            part = _ring_odd(rings[0][:, 0], rings[0][:, 1], lon, lat)
            for hole in rings[1:]:
                part &= ~_ring_odd(hole[:, 0], hole[:, 1], lon, lat)
            inside |= part
        if inside.any():
            counts[name] = int(inside.sum())
    return counts


class Workload:
    """One workload: `generate` writes inputs for a seed, `run` executes the
    job through the tracer, `check` returns a list of mismatches."""

    name = ""

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def _n(self, n: int) -> int:
        # multiples of 10 keep the planted-pair arithmetic exact
        return max(10, int(round(n * self.scale / 10)) * 10)

    def ensure_inputs(self, cache_root: str, seed: int) -> tuple[str, dict]:
        """Inputs for `seed`, generated once and cached by seed and by a
        hash of the generator sources (this module and the fixtures).
        Returns (directory, facts about the inputs)."""
        h = hashlib.sha256(repr((self.name, self.scale)).encode())
        for path in (__file__, FX.__file__):
            with open(path, "rb") as f:
                h.update(f.read())
        d = os.path.join(cache_root, f"{self.name}-seed{seed}-{h.hexdigest()[:12]}")
        done = os.path.join(d, "facts.json")
        if not os.path.exists(done):
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            facts = self.generate(seed, tmp)
            with open(os.path.join(tmp, "facts.json"), "w") as f:
                json.dump(facts, f)
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        with open(done) as f:
            return d, json.load(f)

    def generate(self, seed: int, d: str) -> dict:
        raise NotImplementedError

    def reset(self, work: str) -> None:
        """Restore state a run mutates; called outside the timed region."""

    def run(self, spark, tracer, d: str, facts: dict, work: str) -> dict:
        raise NotImplementedError

    def check(self, result: dict, facts: dict) -> list[str]:
        raise NotImplementedError


class ImageAssign(Workload):
    """North-star pipeline: images (input_hint shape, 20% hot spot) assigned
    to the 4x4 district grid; the district hole's points fall back to kNN
    against building centroids; the assignment commits to a SnapshotStore."""

    name = "image_assign"
    HOT_FRAC = 0.2

    def generate(self, seed, d):
        n, n_buildings = self._n(20_000), self._n(2_000)
        # the seed selects the id range; the hot-spot share is a property of
        # the location hash, so it is the same for every range
        ids = list(range(seed * n, seed * n + n))
        images = _images(ids, self.HOT_FRAC)
        _write(pa.Table.from_pandas(images, preserve_index=False), os.path.join(d, "images"))

        subs = FX.subdivisions_pdf(4, 4)
        _write(
            pa.Table.from_pandas(subs, schema=pa.schema([
                ("name", pa.string()), ("kind", pa.string()),
                ("geometry", _MULTIPOLYGON), ("municipality", pa.string()),
            ]), preserve_index=False),
            os.path.join(d, "subdivisions"),
        )

        refs, c_lon, c_lat = [], [], []
        # the buildings (like the districts) are fixed reference data; only
        # the images vary with the seed, so kNN fallback work does not
        for ref, rings in FX.building_geometries(n_buildings):
            outer = np.asarray(rings[0], dtype=np.float64)[:-1]
            refs.append(ref)
            c_lon.append(float(outer[:, 0].mean()))
            c_lat.append(float(outer[:, 1].mean()))
        _write(
            pa.table({"ref": refs, "c_lon": c_lon, "c_lat": c_lat}),
            os.path.join(d, "centroids"),
        )

        lon, lat = FX.image_locations_batch(np.asarray(images["image_id"]), self.HOT_FRAC)
        per_district = _district_counts(lon, lat, subs)
        return {"rows": n, "per_district": per_district,
                "n_inside": int(sum(per_district.values()))}

    def run(self, spark, tracer, d, facts, work):
        from building2osm_spark.plans.pipeline import assignment_pipeline
        from building2osm_spark.sources.checkpoint import SnapshotStore

        def read(name):
            return tracer.call("sources.scan", spark.read.parquet, os.path.join(d, name))

        images, subs, centroids = read("images"), read("subdivisions"), read("centroids")
        store = SnapshotStore(os.path.join(work, "store"))
        out = tracer.call(
            "pipeline", assignment_pipeline, images, subs, centroids,
            store=store, hot_frac=self.HOT_FRAC,
        )
        return out["metrics"]

    def reset(self, work):
        """Every run starts from the same (empty) SnapshotStore state."""
        shutil.rmtree(os.path.join(work, "store"), ignore_errors=True)

    def check(self, m, facts):
        bad = []
        if m["per_district"] != facts["per_district"]:
            bad.append(f"per-district counts {m['per_district']} != brute force {facts['per_district']}")
        if m["n_images"] != facts["rows"]:
            bad.append(f"n_images {m['n_images']} != {facts['rows']}")
        if m["n_assigned"] + m["n_fallback"] != facts["rows"]:
            bad.append(f"assigned {m['n_assigned']} + fallback {m['n_fallback']} != {facts['rows']}")
        if m.get("n_new_committed") != facts["n_inside"]:
            bad.append(f"committed {m.get('n_new_committed')} != {facts['n_inside']}")
        return bad


class CorpusDedup(Workload):
    """Documents with planted near-duplicates: minhash_signatures ->
    minhash_lsh_pairs, then cross_doc_ngram_profile."""

    name = "corpus_dedup"
    DUP_EVERY = 10

    def generate(self, seed, d):
        n = self._n(10_000)
        # the seed selects the id range; a start that is a multiple of
        # DUP_EVERY keeps floor((n-1)/DUP_EVERY) planted pairs
        docs = FX.documents_rows_for_ids(np.arange(seed * n, seed * n + n), self.DUP_EVERY)
        _write(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(d, "documents"))
        pairs = (n - 1) // self.DUP_EVERY
        return {"rows": n, "planted_pairs": pairs}

    def run(self, spark, tracer, d, facts, work):
        from pyspark.sql import functions as F

        from building2osm_spark.operators import dedupe as DD

        docs = tracer.call("sources.scan", spark.read.parquet, os.path.join(d, "documents"))
        sigs = tracer.call("dedupe", DD.minhash_signatures, docs, base_hash="xxhash64")
        # 32 bands of 2 rows: with 16 bands of 4 a planted pair (Jaccard
        # ~0.86) escapes every band with probability ~3e-6, which over
        # thousands of pairs per seed made the exact planted-count check fail
        # on some seeds (1,998 of 1,999 found at 20,000 documents); with 32
        # bands of 2 it is ~1e-19
        pairs = tracer.call("dedupe", DD.minhash_lsh_pairs, sigs, bands=32, threshold=0.5)
        n_pairs = tracer.action("dedupe", pairs.count, name="minhash_lsh_pairs")
        prof = tracer.call("dedupe", DD.cross_doc_ngram_profile, docs, ngram=8,
                           base_hash="xxhash64")
        flagged = prof.filter(F.col("dup_fraction") > 0.5)
        n_flagged = tracer.action("dedupe", flagged.count, name="cross_doc_ngram_profile")
        return {"lsh_pairs": n_pairs, "ngram_flagged": n_flagged}

    def check(self, m, facts):
        bad = []
        if m["lsh_pairs"] != facts["planted_pairs"]:
            bad.append(f"LSH pairs {m['lsh_pairs']} != planted {facts['planted_pairs']}")
        # both documents of a planted pair share nearly all their 8-grams
        if m["ngram_flagged"] != 2 * facts["planted_pairs"]:
            bad.append(f"ngram flagged {m['ngram_flagged']} != {2 * facts['planted_pairs']}")
        return bad


WORKLOADS = {w.name: w for w in (ImageAssign, CorpusDedup)}
