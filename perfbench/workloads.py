"""The benchmark's workloads: seeded inputs, one steady-state pass, the
staged (traced) pass and the independent oracles that check every pass.

``pbf_pip``   raw ``.osm.pbf`` → ingest → decode → grid → PIP count.
``store_knn`` element store → grid → ``grid_knn`` for the engine's synth
              query points.

Each workload runs one engine layer hard and bypasses the layer the
other one stresses: decode runs only in ``pbf_pip`` passes, the kNN
round loop only in ``store_knn`` passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from harness import count_files, dir_bytes
from osmpbf_spark.api import Engine
from osmpbf_spark.functions.grid import with_grid_cells
from osmpbf_spark.operators.knn import grid_knn
from osmpbf_spark.operators.pip import (
    make_polygons,
    pip_join,
    polygon_cover,
    split_antimeridian,
)
from osmpbf_spark.pbf.decode import decode_node_points_batch
from osmpbf_spark.pbf.encode import frame_fileblock
from osmpbf_spark.sources.store import read_store, write_elements
from osmpbf_spark.sources.synth import synth_fileblocks, synth_query_points

_B = 1_000_000_000

# The three boxes of bench.py's decode+PIP leg (nanodegrees): one over the
# densest megacity hotspot, one latitude band, one corner of the region.
BOXES = [
    ("megacity", int(42.9 * _B), int(8.9 * _B), int(43.1 * _B), int(9.1 * _B)),
    ("band", 44 * _B, 5 * _B, 46 * _B, 15 * _B),
    ("corner", 40 * _B, 5 * _B, 41 * _B, 6 * _B),
]

PIP_RES = 16
KNN_RES = 14
KNN_K = 5


@dataclass(frozen=True)
class Sizes:
    nodes: int
    queries: int


@dataclass(frozen=True)
class Inputs:
    pbf: str            # the raw .osm.pbf file
    expected: dict      # synth_fileblocks' expected element counts
    coords: str         # .npz of node id, lat_nano, lon_nano


FULL = Sizes(nodes=500_000, queries=100_000)
TINY = Sizes(nodes=20_000, queries=2_000)


# -- inputs ------------------------------------------------------------------

def _write_inputs(cache_dir: str, nodes: int, seed: int) -> None:
    pbf, meta, coords = input_paths(cache_dir, nodes, seed)
    fileblocks, expected = synth_fileblocks(nodes, seed=seed)
    with open(pbf + ".part", "wb") as f:
        for blob_type, blob in fileblocks:
            f.write(frame_fileblock(blob_type, blob))
    os.replace(pbf + ".part", pbf)
    # node coordinates for the oracles, decoded outside Spark
    pts = decode_node_points_batch(
        ("synth", i, bt, blob) for i, (bt, blob) in enumerate(fileblocks))
    with open(coords + ".part", "wb") as f:
        np.savez(f, **{c: pts.column(c).to_numpy()
                       for c in ("id", "lat_nano", "lon_nano")})
    os.replace(coords + ".part", coords)
    with open(meta + ".part", "w") as f:
        json.dump(expected, f)
    os.replace(meta + ".part", meta)


def input_paths(cache_dir: str, nodes: int, seed: int):
    base = os.path.join(cache_dir, f"synth-{nodes}-s{seed}")
    return base + ".osm.pbf", base + ".json", base + ".nodes.npz"


def ensure_inputs(cache_dir: str, sizes: Sizes, seed: int) -> tuple[
        Inputs, bool]:
    """The seeded inputs, and whether they had to be generated. They are
    cached by seed and size: ``synth_fileblocks`` is pure Python and
    takes ~9 µs a node. Generation runs to its end in a child process
    before the Spark session starts, so it neither competes with the
    measured set-up for the CPU nor counts towards the measured process
    tree's memory."""
    pbf, meta, coords = input_paths(cache_dir, sizes.nodes, seed)
    generated = not all(map(os.path.exists, (pbf, meta, coords)))
    if generated:
        os.makedirs(cache_dir, exist_ok=True)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), cache_dir,
             str(sizes.nodes), str(seed)],
            env={**os.environ, "PYTHONPATH": root}, check=True, timeout=600)
    with open(meta) as f:
        expected = json.load(f)
    return Inputs(pbf, expected, coords), generated


def sample_every(queries: int) -> int:
    """The kNN oracle checks the queries whose id is a multiple of this:
    100 of them (the brute force takes ~15 ms a query at 500k nodes)."""
    return max(queries // 100, 1)


# -- oracles -----------------------------------------------------------------

def box_count_bounds(lat: np.ndarray, lon: np.ndarray) -> tuple[int, int]:
    """Σ over BOXES of the nodes strictly inside (low) and inside or on
    the edge (high). A PIP answer must lie between the two; they are
    equal unless a node sits exactly on an edge."""
    lo = hi = 0
    for _, la0, lo0, la1, lo1 in BOXES:
        lo += int(((lat > la0) & (lat < la1) & (lon > lo0)
                   & (lon < lo1)).sum())
        hi += int(((lat >= la0) & (lat <= la1) & (lon >= lo0)
                   & (lon <= lo1)).sum())
    return lo, hi


def brute_knn(ids, lat, lon, q_lat: int, q_lon: int, k: int):
    """Exact k nearest by the engine's planar metric: squared nanodegree
    differences as doubles, ties broken by id."""
    dlat = (q_lat - lat).astype(np.float64)
    dlon = (q_lon - lon).astype(np.float64)
    d2 = dlat * dlat + dlon * dlon
    # every point tied with the k-th distance competes on id
    near = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
    top = near[np.lexsort((ids[near], d2[near]))][:k]
    return [(int(ids[i]), float(d2[i])) for i in top]


def element_count_failures(counts: dict, expected: dict) -> list[str]:
    return [f"{t}: {counts.get(t, 0)} elements, expected {expected[t]}"
            for t in ("node", "way", "relation")
            if counts.get(t, 0) != expected[t]]


# -- workloads ---------------------------------------------------------------

class PbfPip:
    """One pass: ``Engine.from_pbf_path`` → ``read_elements`` → nodes →
    ``with_grid_cells(res=16)`` → ``pip_join`` against BOXES → count."""

    name = "pbf_pip"
    # the second pass still runs ~2x a level pass (cold PIP cover memo
    # and Python workers); the third is within ~10% of level
    warmup_passes = 2

    def __init__(self, spark, sizes: Sizes, inputs: Inputs, run_dir: str,
                 plant_fault: bool):
        self.spark = spark
        self.inputs = inputs
        self.plant_fault = plant_fault
        self.polygons = make_polygons(spark, [
            (pid, [(a, b), (c, b), (c, d), (a, d), (a, b)])
            for pid, a, b, c, d in BOXES])
        self.items = sum(inputs.expected[t]
                         for t in ("node", "way", "relation"))
        with np.load(inputs.coords) as xy:
            self.bounds = box_count_bounds(xy["lat_nano"], xy["lon_nano"])

    def at_rest_bytes(self) -> int:
        return os.path.getsize(self.inputs.pbf)

    def setup(self) -> None:
        """Nothing: every pass ingests the raw file itself."""

    def setup_layers(self) -> dict:
        return {}       # nothing at rest beyond the input file

    def check_setup(self) -> list[str]:
        counts = dict(
            Engine.from_pbf_path(self.spark, self.inputs.pbf).elements()
            .groupBy("element_type").agg(F.count("*")).collect())
        return element_count_failures(counts, self.inputs.expected)

    def _check(self, matches: int) -> list[str]:
        if self.plant_fault:
            matches -= 1        # one dropped PIP match
        lo, hi = self.bounds
        if lo <= matches <= hi:
            return []
        return [f"pip matches {matches}, box predicate gives {lo}..{hi}"]

    def run_pass(self) -> list[str]:
        eng = Engine.from_pbf_path(self.spark, self.inputs.pbf)
        nodes = with_grid_cells(eng.nodes(), res=PIP_RES)
        return self._check(pip_join(nodes, self.polygons,
                                    res=PIP_RES).count())

    def staged_pass(self, tr) -> tuple[dict, list[str]]:
        """The same pass with every layer's output persisted and counted
        before the next layer's call. The cover is built on the polygon
        frame directly (``polygon_cover``), bypassing ``cover_for``'s
        memo, so ``pip.cover_s`` is the cold cover cost."""
        held = []

        def keep(df):
            held.append(df.persist())
            return df

        try:
            with tr.span("ingest") as s_ing:
                eng = Engine.from_pbf_path(self.spark, self.inputs.pbf)
                docs, media = keep(eng.documents), keep(eng.media)
                blobs = docs.count()
                payload = media.agg(F.sum(F.length("payload"))).first()[0]
            with tr.span("decode") as s_dec:
                elements = keep(Engine(self.spark, docs, media).elements())
                n_el = elements.count()
            with tr.span("grid") as s_grid:
                nodes = keep(with_grid_cells(
                    elements.filter(F.col("element_type") == "node"),
                    res=PIP_RES))
                n_nodes = nodes.count()
            with tr.span("pip.cover") as s_cov:
                cover = keep(polygon_cover(split_antimeridian(self.polygons),
                                           PIP_RES, classify=True))
                n_cover = cover.count()
            with tr.span("pip.join") as s_join:
                matches = pip_join(nodes, self.polygons, res=PIP_RES,
                                   cover=cover).count()
        finally:
            for df in held:
                df.unpersist()
        dec = s_dec.rec
        return {
            "ingest.s": s_ing.rec["seconds"],
            "ingest.blobs": blobs,
            "ingest.mb": (payload or 0) / 2**20,
            "ingest.jobs": s_ing.rec["jobs"],
            "decode.s": dec["seconds"],
            "decode.elements": n_el,
            "decode.elements_per_s": n_el / dec["seconds"],
            "decode.jobs": dec["jobs"],
            "decode.tasks": dec["tasks"],
            "decode.failed_tasks": dec["failed_tasks"],
            "grid.s": s_grid.rec["seconds"],
            "grid.rows": n_nodes,
            "pip.cover_s": s_cov.rec["seconds"],
            "pip.cover_rows": n_cover,
            "pip.join_s": s_join.rec["seconds"],
            "pip.matches": matches,
            "pip.match_ratio": matches / max(n_nodes, 1),
            "pip.jobs": s_cov.rec["jobs"] + s_join.rec["jobs"],
        }, self._check(matches)

    def close(self) -> None:
        pass


class StoreKnn:
    """Set-up ingests and decodes the raw file once, then writes the
    element store with ``write_elements``. One pass: ``read_store`` node
    partition → ``with_grid_cells(res=14)`` → ``grid_knn(k=5,
    broadcast_candidates=False)`` for ``synth_query_points`` → row count
    plus the rows of a fixed sample of 100 queries."""

    name = "store_knn"
    # set-up's decode and write already warmed the session; the second
    # kNN pass is within ~10% of level
    warmup_passes = 1

    def __init__(self, spark, sizes: Sizes, inputs: Inputs, run_dir: str,
                 plant_fault: bool):
        self.spark = spark
        self.inputs = inputs
        self.plant_fault = plant_fault
        self.store = os.path.join(run_dir, "element_store")
        self.n_queries = sizes.queries
        self.items = sizes.queries
        self.write_s = 0.0
        # the engine's own query points, shared with bench.py and
        # tools/scaling_bench.py; the seed varies the nodes they search
        self.queries = synth_query_points(spark, sizes.queries, res=KNN_RES)
        every = sample_every(sizes.queries)
        self.sample_every = every
        sample = (self.queries.filter(F.col("query_id") % every == 0)
                  .select("query_id", "lat_nano", "lon_nano").collect())
        with np.load(inputs.coords) as xy:
            ids, lat, lon = xy["id"], xy["lat_nano"], xy["lon_nano"]
            self.oracle = {
                q["query_id"]: brute_knn(ids, lat, lon, q["lat_nano"],
                                         q["lon_nano"], KNN_K)
                for q in sample}

    def at_rest_bytes(self) -> int:
        return dir_bytes(self.store)

    def setup(self) -> None:
        """Ingest and decode the raw file, then write the element store."""
        elements = Engine.from_pbf_path(self.spark,
                                        self.inputs.pbf).elements().persist()
        try:
            elements.count()
            t0 = time.perf_counter()
            write_elements(elements, self.store)
            self.write_s = time.perf_counter() - t0
        finally:
            elements.unpersist()

    def setup_layers(self) -> dict:
        return {"store.write_s": self.write_s,
                "store.files": count_files(self.store, ".parquet"),
                "store.mb": dir_bytes(self.store) / 2**20}

    def check_setup(self) -> list[str]:
        """Element counts of the store, read from its parquet footers."""
        store = ds.dataset(self.store, format="parquet", partitioning="hive")
        counts = {t: store.count_rows(filter=ds.field("element_type") == t)
                  for t in ("node", "way", "relation")}
        return element_count_failures(counts, self.inputs.expected)

    def _knn_rows(self, nodes):
        out = grid_knn(nodes, self.queries, KNN_K, res=KNN_RES,
                       broadcast_candidates=False)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(
                F.col("query_id") % self.sample_every == 0,
                F.struct("query_id", "id", "dist2", "rn")))
            .alias("sample")).first()
        return row["n"], row["sample"]

    def _check(self, n: int, sample) -> list[str]:
        if self.plant_fault:
            n -= 1
        bad = []
        if n != KNN_K * self.n_queries:
            bad.append(f"knn rows {n}, expected {KNN_K * self.n_queries}")
        got: dict[int, list] = {}
        for r in sorted(sample, key=lambda r: (r["query_id"], r["rn"])):
            got.setdefault(r["query_id"], []).append((r["id"], r["dist2"]))
        wrong = [q for q in self.oracle.keys() | got.keys()
                 if got.get(q) != self.oracle.get(q)]
        if wrong:
            bad.append(f"knn disagrees with brute force on {len(wrong)} "
                       f"of {len(self.oracle)} sampled queries")
        return bad

    def _nodes(self):
        return (read_store(self.spark, self.store)
                .filter(F.col("element_type") == "node")
                .select("id", "lat_nano", "lon_nano"))

    def run_pass(self) -> list[str]:
        nodes = with_grid_cells(self._nodes(), res=KNN_RES)
        return self._check(*self._knn_rows(nodes))

    def staged_pass(self, tr) -> tuple[dict, list[str]]:
        held = []
        try:
            with tr.span("store.scan") as s_scan:
                pts = self._nodes()
                held.append(pts.persist())
                pts.count()
            with tr.span("grid") as s_grid:
                nodes = with_grid_cells(pts, res=KNN_RES)
                held.append(nodes.persist())
                n_nodes = nodes.count()
            with tr.span("knn") as s_knn:
                n, sample = self._knn_rows(nodes)
        finally:
            for df in held:
                df.unpersist()
        k = s_knn.rec
        return {
            "grid.s": s_grid.rec["seconds"],
            "grid.rows": n_nodes,
            "knn.s": k["seconds"],
            "knn.rows": n,
            "knn.jobs": k["jobs"],
            "knn.tasks": k["tasks"],
            "store.scan_s": s_scan.rec["seconds"],
        }, self._check(n, sample)

    def close(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PbfPip, StoreKnn)}


if __name__ == "__main__":
    _write_inputs(sys.argv[1], *map(int, sys.argv[2:4]))
