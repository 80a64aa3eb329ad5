"""Spatial layer tests: grid cells (exactness, wrap/clamp), PIP join vs a
pure-Python exact ray-cast oracle, grid kNN vs a brute-force oracle."""

import random

import pytest
from pyspark.sql import functions as F

from osmpbf_spark.functions.grid import (
    GRID_RES_FINE,
    RES_SHIFT,
    Y_SHIFT,
    cell_parent,
    grid_cell_sql,
    with_grid_cells,
)
from osmpbf_spark.operators.knn import cosine_topk, grid_knn
from osmpbf_spark.operators.pip import make_polygons, pip_join

RNG = random.Random(42)


def _cell(res, x, y):
    return res * RES_SHIFT + x * Y_SHIFT + y


def test_grid_cell_known_values(spark):
    rows = [
        (0, 0),                      # equator/greenwich
        (52_119_923_500, 11_625_644_600),
        (-90_000_000_000, -180_000_000_000),   # south pole, date line
        (90_000_000_000, 180_000_000_000),     # north pole, wraps lon
    ]
    df = spark.createDataFrame(rows, "lat_nano long, lon_nano long")
    got = [r["cell"] for r in df.select(F.expr(
        grid_cell_sql("lat_nano", "lon_nano", 4, "spark")).alias("cell"))
        .collect()]
    n = 16

    def py_cell(lat, lon):
        x = ((lon + 180_000_000_000) * n // 360_000_000_000) % n
        y = min((lat + 90_000_000_000) * n // 180_000_000_000, n - 1)
        return _cell(4, x, y)
    assert got == [py_cell(a, b) for a, b in rows]
    # poles/date-line land inside the grid
    assert all(0 <= g - 4 * RES_SHIFT for g in got)


def test_grid_duckdb_parity():
    # the same expression evaluates identically in DuckDB (oracle contract)
    import duckdb
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT CAST(range*7919 % 180000000000 - "
            "90000000000 AS BIGINT) lat_nano, CAST(range*104729 % "
            "360000000000 - 180000000000 AS BIGINT) lon_nano "
            "FROM range(1000)")
    duck = con.sql("SELECT " + grid_cell_sql(
        "lat_nano", "lon_nano", GRID_RES_FINE, "duckdb") + " AS c FROM t "
        "ORDER BY c").fetchall()
    n = 1 << GRID_RES_FINE
    rows = con.sql("SELECT lat_nano, lon_nano FROM t").fetchall()

    def py_cell(lat, lon):
        x = ((lon + 180_000_000_000) * n // 360_000_000_000) % n
        y = min((lat + 90_000_000_000) * n // 180_000_000_000, n - 1)
        return _cell(GRID_RES_FINE, x, y)
    assert sorted(c for (c,) in duck) == sorted(
        py_cell(a, b) for a, b in rows)


def test_cell_parent(spark):
    df = spark.createDataFrame(
        [(52_119_923_500, 11_625_644_600)], "lat_nano long, lon_nano long")
    fine = df.select(F.expr(grid_cell_sql(
        "lat_nano", "lon_nano", 16, "spark")).alias("cell"))
    coarse_direct = df.select(F.expr(grid_cell_sql(
        "lat_nano", "lon_nano", 12, "spark")).alias("cell")).collect()[0][0]
    rolled = fine.select(cell_parent("cell", 12).alias("p")).collect()[0][0]
    assert rolled == coarse_direct


def _py_point_in_ring(px, py, ring):
    """Exact even-odd oracle with arbitrary-precision ints."""
    inside = False
    for (y1, x1), (y2, x2) in zip(ring, ring[1:]):
        if (y1 > py) != (y2 > py):
            t = (px - x1) * (y2 - y1) - (x2 - x1) * (py - y1)
            if (t < 0) if y2 > y1 else (t > 0):
                inside = not inside
    return inside


@pytest.fixture(scope="module")
def concave_poly():
    # concave "C" shape crossing cell boundaries, nanodegree vertices
    B = 1_000_000_000
    ring = [(0, 0), (4 * B, 0), (4 * B, 3 * B), (3 * B, 3 * B),
            (3 * B, 1 * B), (1 * B, 1 * B), (1 * B, 3 * B), (0, 3 * B),
            (0, 0)]
    return ring


def test_pip_join_matches_oracle(spark, concave_poly):
    B = 1_000_000_000
    pts = [(i, RNG.randrange(-B, 5 * B), RNG.randrange(-B, 4 * B))
           for i in range(500)]
    pdf = with_grid_cells(
        spark.createDataFrame(pts, "id long, lat_nano long, lon_nano long"),
        res=8)
    polys = make_polygons(spark, [("c_shape", concave_poly)])
    got = {r["id"] for r in
           pip_join(pdf, polys, res=8).select("id").collect()}
    want = {i for i, la, lo in pts
            if _py_point_in_ring(lo, la, concave_poly)}
    assert got == want
    assert len(want) > 20  # fixture sanity: the test actually covers hits


def test_pip_two_polygons_disjoint_output(spark, concave_poly):
    B = 1_000_000_000
    square = [(10 * B, 10 * B), (12 * B, 10 * B), (12 * B, 12 * B),
              (10 * B, 12 * B), (10 * B, 10 * B)]
    pts = [(1, 11 * B, 11 * B), (2, 2 * B, B // 2), (3, 50 * B, 50 * B)]
    pdf = with_grid_cells(
        spark.createDataFrame(pts, "id long, lat_nano long, lon_nano long"),
        res=8)
    polys = make_polygons(
        spark, [("c_shape", concave_poly), ("square", square)])
    got = {(r["id"], r["poly_id"]) for r in
           pip_join(pdf, polys, res=8).select("id", "poly_id").collect()}
    assert got == {(1, "square"), (2, "c_shape")}


def test_grid_knn_matches_bruteforce(spark):
    B = 100_000_000  # 0.1 degree box → int64-exact squared distances
    pts = [(i, RNG.randrange(0, B), RNG.randrange(0, B)) for i in range(400)]
    qs = [(100 + j, RNG.randrange(0, B), RNG.randrange(0, B))
          for j in range(20)]
    res = 10
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    qdf = with_grid_cells(spark.createDataFrame(
        qs, "query_id long, lat_nano long, lon_nano long"), res=res)
    got = grid_knn(pdf, qdf, 5, res=res)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["query_id"], []).append((r["rn"], r["id"]))
    for qid, qla, qlo in qs:
        dists = sorted(((la - qla) ** 2 + (lo - qlo) ** 2, i)
                       for i, la, lo in pts)
        want = [i for _, i in dists[:5]]
        have = [i for _, i in sorted(got_map[qid])]
        assert have == want, f"query {qid}"


def test_grid_knn_join_regime_no_broadcast(spark):
    # A kNN JOIN (EDBT-2012) called the old way, with the now-ignored
    # broadcast_candidates=False: every round is one cell join whose
    # candidate side is broadcast only under the session's
    # autoBroadcastJoinThreshold (test_grid_knn_reversed_probe_matches_
    # cand_cells forces each shape through that setting).
    # Verifies correctness vs brute force on a sample AND that rounds
    # release their cached candidate sets (VERDICT r1 #2: only the small
    # localCheckpointed round outputs may stay pinned).
    B = 100_000_000
    pts = [(i, RNG.randrange(0, B), RNG.randrange(0, B))
           for i in range(5000)]
    qs = [(100000 + j, RNG.randrange(0, B), RNG.randrange(0, B))
          for j in range(400)]
    res = 10
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    qdf = with_grid_cells(spark.createDataFrame(
        qs, "query_id long, lat_nano long, lon_nano long"), res=res)
    before = {ri.id() for ri in
              spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    out = grid_knn(pdf, qdf, 5, res=res, broadcast_candidates=False)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rn"], r["id"]))
    assert len(got) == len(qs)
    for qid, qla, qlo in qs[:25]:
        dists = sorted(((la - qla) ** 2 + (lo - qlo) ** 2, i)
                       for i, la, lo in pts)
        want = [i for _, i in dists[:5]]
        have = [i for _, i in sorted(got[qid])]
        assert have == want, f"query {qid}"
    new = [ri for ri in spark.sparkContext._jsc.sc().getRDDStorageInfo()
           if ri.id() not in before]
    # round candidate caches must be released; what remains is only the
    # checkpointed per-round output (≈ |result| rows) and the final
    # (empty) remaining set
    total = sum(ri.memSize() for ri in new)
    assert total < 4 * 1024 * 1024, \
        [(ri.name(), ri.memSize()) for ri in new]


def test_cosine_topk_deterministic(spark):
    vecs = [(i, [RNG.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    edf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(
        [(0, vecs[7][1])], "query_id long, embedding array<double>")
    top = cosine_topk(edf, qdf, 3).collect()
    assert top[0]["vec_id"] == 7           # self-match first
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-12
    assert [r["rn"] for r in sorted(top, key=lambda r: r["rn"])] == [1, 2, 3]


def test_tight_cover_shrinks_for_L_shape_and_keeps_pip_exact(spark):
    # scanline cover must be a strict subset of the bbox cover for an
    # L-shaped polygon (VERDICT r1 #8) while pip_join results are
    # unchanged (the refine is exact either way)
    B = 1_000_000_000
    from osmpbf_spark.operators.pip import polygon_cover
    L = [(0, 0), (10 * B, 0), (10 * B, 2 * B), (2 * B, 2 * B),
         (2 * B, 10 * B), (0, 10 * B), (0, 0)]
    polys = make_polygons(spark, [("L", L)])
    res = 8
    tight = polygon_cover(polys, res).count()
    bbox = polygon_cover(polys, res, tight=False).count()
    assert tight < bbox * 0.55, (tight, bbox)   # L fills 36% of its bbox
    # identical pip results on a point grid straddling the polygon
    pts = [(i * 57 + j, i * B // 2 - B, j * B // 2 - B)
           for i in range(26) for j in range(26)]
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    got_t = {r["id"] for r in pip_join(pdf, polys, res=res).collect()}
    cover_b = F.broadcast(polygon_cover(polys, res, tight=False))
    cand = pdf.join(cover_b, pdf["cell"] == cover_b["cell"]).drop(
        cover_b["cell"])
    from osmpbf_spark.operators.pip import point_in_ring_expr
    got_b = {r["id"] for r in
             cand.join(F.broadcast(polys), "poly_id")
             .filter(point_in_ring_expr("lon_nano", "lat_nano")).collect()}
    want = {i for (i, la, lo) in pts
            if (0 <= la < 2 * B and 0 <= lo < 10 * B)
            or (0 <= la < 10 * B and 0 <= lo < 2 * B)}
    assert got_t == got_b == want


def test_grid_knn_join_skewed_hot_cell(spark):
    # megacity skew: one cell holds ~90% of all points (hot join key on
    # the cell equi-join). The join regime must stay correct — AQE skew
    # splitting + the guard pre-filter keep the hot partition bounded.
    B = 100_000_000
    res = 10
    # hot cluster: 40k points inside one ~350µdeg cell; 4k spread wide
    hot = [(i, 50_000_000 + RNG.randrange(0, 300_000),
            50_000_000 + RNG.randrange(0, 300_000)) for i in range(40000)]
    cold = [(100_000 + i, RNG.randrange(0, B), RNG.randrange(0, B))
            for i in range(4000)]
    pts = hot + cold
    qs = ([(500_000 + j, 50_000_000 + RNG.randrange(0, 300_000),
            50_000_000 + RNG.randrange(0, 300_000)) for j in range(60)]
          + [(600_000 + j, RNG.randrange(0, B), RNG.randrange(0, B))
             for j in range(60)])
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    qdf = with_grid_cells(spark.createDataFrame(
        qs, "query_id long, lat_nano long, lon_nano long"), res=res)
    got = {}
    for r in grid_knn(pdf, qdf, 5, res=res,
                      broadcast_candidates=False).collect():
        got.setdefault(r["query_id"], []).append((r["rn"], r["id"]))
    assert len(got) == len(qs)
    for qid, qla, qlo in qs[:20] + qs[60:80]:
        dists = sorted(((la - qla) ** 2 + (lo - qlo) ** 2, i)
                       for i, la, lo in pts)
        want = [i for _, i in dists[:5]]
        assert [i for _, i in sorted(got[qid])] == want, f"query {qid}"


def test_antimeridian_polygon_pip(spark, pip_brute_force):
    # dateline-crossing rectangle, lon 175°..185° unwrapped (VERDICT r2
    # #8): points on BOTH sides of ±180° must match; just-outside points
    # must not — and the cover-free brute force agrees.
    B = 1_000_000_000
    ring = [(-5 * B, 175 * B), (-5 * B, 185 * B), (5 * B, 185 * B),
            (5 * B, 175 * B), (-5 * B, 175 * B)]
    polys = make_polygons(spark, [("dl", [(la, lo) for la, lo in ring])])
    pts = [
        (1, 0, 178 * B),            # east side, inside
        (2, 0, -178 * B),           # west of the dateline, inside
        (3, 4 * B, 179_900_000_000),   # hugging +180, inside
        (4, 0, 170 * B),            # east, outside
        (5, 0, -170 * B),           # west, outside
        (6, 7 * B, 178 * B),        # north of the ring, outside
    ]
    res = 8
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    got = {r["id"] for r in pip_join(pdf, polys, res=res).collect()}
    brute = {r["id"] for r in pip_brute_force(pdf, polys).collect()}
    assert got == brute == {1, 2, 3}, (got, brute)


def test_pip_join_rejects_unclassified_cover(spark):
    # pip_join trusts a cover's `full` flag to skip the ray cast; a bbox
    # or scanline cover has no such column and must be refused loudly
    from osmpbf_spark.operators.pip import polygon_cover, split_antimeridian
    B = 1_000_000_000
    polys = make_polygons(spark, [("sq", [(0, 0), (B, 0), (B, B), (0, B),
                                          (0, 0)])])
    pdf = with_grid_cells(spark.createDataFrame(
        [(1, B // 2, B // 2)], "id long, lat_nano long, lon_nano long"),
        res=8)
    for tight in (True, False):
        cover = polygon_cover(split_antimeridian(polys), 8, tight=tight)
        with pytest.raises(ValueError, match="classified cover"):
            pip_join(pdf, polys, res=8, cover=cover)


def test_auto_cover_is_bbox_for_quadrilaterals(spark):
    # tight="auto" must take the cheap bbox path for a ≤4-edge ring
    # (VERDICT r2 #1: the pip_diamond bench regression) and the scanline
    # for anything with more edges (the L-shape test covers that side).
    from osmpbf_spark.operators.pip import polygon_cover
    B = 1_000_000_000
    diamond = [(0, -10 * B), (10 * B, 0), (0, 10 * B), (-10 * B, 0),
               (0, -10 * B)]
    polys = make_polygons(spark, [("d", diamond)])
    res = 8
    auto = polygon_cover(polys, res).count()
    bbox = polygon_cover(polys, res, tight=False).count()
    scan = polygon_cover(polys, res, tight=True).count()
    assert auto == bbox            # 4 edges → bbox path
    assert scan < bbox             # the scanline does shrink a diamond
    # (no pip_join check here: pip_join always runs the classified
    # cover; the unclassified shapes feed polyjoin's candidate stage)


def test_tight_cover_tightens_each_antimeridian_copy(spark,
                                                     pip_brute_force):
    # code-review r3: the scanline band join must key edges per ring
    # COPY (poly_id alone pools the split copies' edges and the span
    # degenerates to the bbox row). A dateline-crossing diamond must
    # still get a strictly smaller scanline cover than its bbox cover.
    from osmpbf_spark.operators.pip import polygon_cover, split_antimeridian
    B = 1_000_000_000
    diamond = [(0, 170 * B), (10 * B, 180 * B), (0, 190 * B),
               (-10 * B, 180 * B), (0, 170 * B)]   # unwrapped, crossing
    polys = split_antimeridian(make_polygons(spark, [("xd", diamond)]))
    res = 8
    scan = polygon_cover(polys, res, tight=True).count()
    bbox = polygon_cover(polys, res, tight=False).count()
    assert scan < bbox * 0.75, (scan, bbox)
    # and pip_join over the dateline diamond matches the cover-free
    # brute force
    pts = [(i * 41 + j, (i - 6) * B, ((174 + j + 180) % 360 - 180) * B)
           for i in range(13) for j in range(13)]   # lons 174°…−174°
    pdf = with_grid_cells(spark.createDataFrame(
        pts, "id long, lat_nano long, lon_nano long"), res=res)
    xd = make_polygons(spark, [("xd", diamond)])
    got = {r["id"] for r in pip_join(pdf, xd, res=res).collect()}
    brute = {r["id"] for r in pip_brute_force(pdf, xd).collect()}
    assert got == brute
    assert got, "point grid must actually hit the dateline diamond"


def test_cosine_pandas_null_rows_propagate_null(spark):
    from osmpbf_spark.operators.knn import cosine_score
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]), (2, None, [1.0, 1.0]),
         (3, [1.0, 1.0], None)],
        "id long, a array<double>, b array<double>")
    rows = {r["id"]: (r["h"], r["p"]) for r in df.select(
        "id", cosine_score("a", "b").alias("h"),
        cosine_score("a", "b", use_pandas=True).alias("p")).collect()}
    assert rows[1][0] == rows[1][1] and rows[1][0] is not None
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)


# ---------------------------------------------------------------- way stats

_WAYSTAT_ELEMENTS = "element_type string, id long, lat_nano long, " \
                    "lon_nano long, refs array<long>"


def _waystat_rows():
    # three resolved nodes around Magdeburg (the fixture neighbourhood),
    # one dangling ref (99), one single-point way, one fully-unresolved way
    return [
        ("node", 1, 52_119_923_500, 11_625_644_600, []),
        ("node", 2, 52_122_403_100, 11_628_401_700, []),
        ("node", 3, 52_119_899_100, 11_631_019_200, []),
        ("way", 10, None, None, [1, 2, 3, 1]),     # closed ring
        ("way", 11, None, None, [1, 99, 2]),       # 99 unresolved
        ("way", 12, None, None, [3]),              # single vertex
        ("way", 13, None, None, [99, 98]),         # nothing resolves
    ]


def test_way_geometry_stats_golden_and_duckdb_parity(spark):
    import duckdb
    import math
    import pandas as pd

    from osmpbf_spark.functions.grid import haversine_m_sql
    from osmpbf_spark.operators.parity import way_geometry_stats

    el = spark.createDataFrame(_waystat_rows(), _WAYSTAT_ELEMENTS)
    got = {r["way_id"]: r for r in way_geometry_stats(el).collect()}

    # structural goldens
    assert set(got) == {10, 11, 12, 13}
    assert (got[10]["n_points"], got[10]["n_missing"]) == (4, 0)
    assert (got[11]["n_points"], got[11]["n_missing"]) == (3, 1)
    assert (got[12]["n_points"], got[12]["length_m"]) == (1, 0.0)
    assert (got[13]["n_missing"], got[13]["length_m"]) == (2, 0.0)
    assert got[13]["min_lat_nano"] is None
    assert got[10]["min_lon_nano"] == 11_625_644_600
    assert got[10]["max_lat_nano"] == 52_122_403_100
    # way 11's two segments both touch the unresolved ref -> length 0
    assert got[11]["length_m"] == 0.0

    # numeric golden: python-math haversine with the same quantization
    def hav(a, b):
        (la1, lo1), (la2, lo2) = a, b
        p1, p2 = math.radians(la1 / 1e9), math.radians(la2 / 1e9)
        dp = math.radians((la2 - la1) / 1e9) / 2
        dl = math.radians((lo2 - lo1) / 1e9) / 2
        s = (math.sin(dp) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2)
        return 2.0 * 6371008.8 * math.asin(math.sqrt(s))
    pts = {1: (52_119_923_500, 11_625_644_600),
           2: (52_122_403_100, 11_628_401_700),
           3: (52_119_899_100, 11_631_019_200)}
    exp10 = sum(math.floor(hav(pts[a], pts[b]) * 1e6 + 0.5) / 1e6
                for a, b in [(1, 2), (2, 3), (3, 1)])
    assert got[10]["length_m"] == pytest.approx(exp10, abs=1e-5)
    # the ring is a real triangle: hundreds of metres, not degenerate
    assert 500 < got[10]["length_m"] < 2000

    # DuckDB parity: the identical rendered haversine + DECIMAL sum
    con = duckdb.connect()
    rows = _waystat_rows()
    con.register("nodes_pd", pd.DataFrame(
        [(r[1], r[2], r[3]) for r in rows if r[0] == "node"],
        columns=["id", "lat_nano", "lon_nano"]))
    con.register("ways_pd", pd.DataFrame(
        [(r[1], r[4]) for r in rows if r[0] == "way"],
        columns=["way_id", "refs"]))
    hav_sql = haversine_m_sql("prev_lat", "prev_lon",
                              "lat_nano", "lon_nano", "duckdb")
    oracle = con.execute(f"""
        WITH refrows AS (
          SELECT way_id, generate_subscripts(refs, 1) - 1 AS seq,
                 unnest(refs) AS ref FROM ways_pd),
        resolved AS (
          SELECT r.way_id, r.seq, n.lat_nano, n.lon_nano
          FROM refrows r LEFT JOIN nodes_pd n ON n.id = r.ref),
        seg AS (
          SELECT way_id, lat_nano, lon_nano,
                 LAG(lat_nano) OVER (PARTITION BY way_id ORDER BY seq)
                   AS prev_lat,
                 LAG(lon_nano) OVER (PARTITION BY way_id ORDER BY seq)
                   AS prev_lon
          FROM resolved)
        SELECT way_id,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(COUNT(*) FILTER (lat_nano IS NULL) AS BIGINT)
                 AS n_missing,
               CAST(COALESCE(SUM(CAST(FLOOR({hav_sql} * 1E6 + 0.5) / 1E6
                                      AS DECIMAL(38,18))),
                             CAST(0 AS DECIMAL(38,18))) AS DOUBLE)
                 AS length_m,
               MIN(lat_nano) AS min_lat_nano,
               MAX(lat_nano) AS max_lat_nano,
               MIN(lon_nano) AS min_lon_nano,
               MAX(lon_nano) AS max_lon_nano
        FROM seg GROUP BY way_id ORDER BY way_id
    """).fetchall()
    spark_rows = sorted(
        (tuple(r) for r in way_geometry_stats(el).collect()),
        key=lambda t: t[0])
    assert spark_rows == [tuple(r) for r in oracle]


def test_way_geometry_stats_partitioning_independent(spark):
    from osmpbf_spark.operators.parity import way_geometry_stats

    el = spark.createDataFrame(_waystat_rows(), _WAYSTAT_ELEMENTS)
    base = sorted(tuple(r) for r in way_geometry_stats(el).collect())
    for n in (1, 7):
        rep = sorted(tuple(r) for r in
                     way_geometry_stats(el.repartition(n)).collect())
        assert rep == base, f"repartition({n}) changed the stats"


def test_polygon_cover_rejects_null_vertices(spark):
    """A ring with a NULL vertex (null struct or null field) must raise
    at the cover build, not silently corrupt the bbox (least/greatest
    skip nulls) and the ray cast's parity (IF(null, ...) takes the
    else branch) — the same quarantine-don't-guess contract as the
    tile cover's nullv defense and the simplify_geometry raise."""
    from osmpbf_spark.operators.pip import POLYGONS_DDL, polygon_cover
    B = 10**9
    good = [{"lat_nano": 0, "lon_nano": 0}, {"lat_nano": B, "lon_nano": 0},
            {"lat_nano": B, "lon_nano": B}, {"lat_nano": 0, "lon_nano": 0}]
    for bad_vertex in (None, {"lat_nano": None, "lon_nano": 5}):
        bad = [good[0], bad_vertex, good[2], good[0]]
        df = spark.createDataFrame(
            [("ok", good), ("bad", bad)], POLYGONS_DDL)
        with pytest.raises(ValueError, match="NULL"):
            polygon_cover(df, res=6)
        # explicit tight skips the driver probe (code-review r5: no
        # extra scan for unbounded callers) — the raise then comes
        # executor-side from the bbox fold's gate at action time
        for t in (True, False):
            lazy = polygon_cover(df, res=6, tight=t)
            with pytest.raises(Exception, match="NULL vertex"):
                lazy.count()
    # clean polygons still build
    assert polygon_cover(
        spark.createDataFrame([("ok", good)], POLYGONS_DDL),
        res=6).count() > 0
