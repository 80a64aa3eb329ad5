"""Focused equivalence tests for the r6 optimization reworks.

Every optimization in round 6 restructures HOW something is computed,
never WHAT: these tests pin the new implementations against the old
formulations (or an independent oracle) value-for-value, including the
edge cases that motivated each guard.
"""

import math
import random
import uuid

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from osmpbf_spark.functions.grid import GRID_RES_FINE, with_grid_cells
from osmpbf_spark.functions.text import (
    poly_hash_sql,
    poly_hash_vec,
    tokens_sql,
)

B = 1_000_000_000


def _box(pid, la0, lo0, la1, lo1):
    return (pid, [(la0, lo0), (la1, lo0), (la1, lo1), (la0, lo1),
                  (la0, lo0)])


_POLY_ZOO = [
    _box("megacity", int(42.9 * B), int(8.9 * B), int(43.1 * B),
         int(9.1 * B)),
    _box("band", 44 * B, 5 * B, 46 * B, 15 * B),
    ("diamond", [(45 * B, 7 * B), (47 * B, 9 * B), (45 * B, 11 * B),
                 (43 * B, 9 * B), (45 * B, 7 * B)]),
    ("concave", [(41 * B, 12 * B), (44 * B, 12 * B), (44 * B, 14 * B),
                 (43 * B, 13 * B), (42 * B, 14 * B), (41 * B, 12 * B)]),
    ("am", [(48 * B, int(179.5 * B)), (49 * B, int(179.5 * B)),
            (49 * B, int(180.5 * B)), (48 * B, int(180.5 * B)),
            (48 * B, int(179.5 * B))]),
    ("tiny", [(int(41.00001 * B), int(7.00001 * B)),
              (int(41.00002 * B), int(7.00002 * B)),
              (int(41.00001 * B), int(7.00003 * B)),
              (int(41.00001 * B), int(7.00001 * B))]),
]


def _subdiv_square(pid, la0, lo0, la1, lo1, k):
    """Box ring with each side split into ``k`` collinear edges."""
    corners = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
    ring = [(a0 + (a1 - a0) * t // k, b0 + (b1 - b0) * t // k)
            for (a0, b0), (a1, b1) in zip(corners, corners[1:])
            for t in range(k)]
    return (pid, ring + ring[:1])


def _radial_ring(pid, cla, clo, radii):
    """Ring through ``radii[i]`` at angle 2πi/len(radii) (star-shaped,
    hence simple)."""
    m = len(radii)
    ring = [(cla + round(r * math.sin(2 * math.pi * i / m)),
             clo + round(r * math.cos(2 * math.pi * i / m)))
            for i, r in enumerate(radii)]
    return (pid, ring + ring[:1])


_rng = random.Random(11)
# complex rings: a 401-vertex subdivided square, a 24-edge star and a
# 200-vertex blob across the antimeridian (unwrapped lons)
_COMPLEX_RINGS = [
    _subdiv_square("sq401", 40 * B, 5 * B, 42 * B, 7 * B, 100),
    _radial_ring("star", 44 * B, 10 * B,
                 [2 * B if i % 2 == 0 else int(0.8 * B) for i in range(24)]),
    _radial_ring("xblob", 48 * B, int(179.5 * B),
                 [int(1.5 * B) * (0.6 + 0.4 * _rng.random())
                  for _ in range(200)]),
]


def _zoo_points(spark, n=120_000):
    pts = spark.range(0, n).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % (10 * B) + 40 * B).alias("lat_nano"),
        ((F.col("id") * 2246822519) % (10 * B) + 5 * B).alias("lon_nano"))
    return with_grid_cells(pts, res=GRID_RES_FINE)


def test_classified_cover_pip_join_matches_unclassified(spark,
                                                       pip_brute_force):
    """pip_join over the classified (interval-tested, coarsened) cover
    must emit EXACTLY the rows of the unclassified, cover-free brute
    force (every point × every ring copy, full ray cast) — incl.
    antimeridian copies and sub-cell polygons, and the complex rings at
    res 12 through the memoized cover's stored leaf, whose store runs
    under its own job label on the first join of the set and never
    again."""
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    pts = _zoo_points(spark)
    polys = make_polygons(spark, _POLY_ZOO)
    old = pip_brute_force(pts, polys).select("poly_id", "id")
    new = pip_join(pts, polys, res=GRID_RES_FINE).select("poly_id", "id")
    assert old.count() == new.count() > 0
    assert old.exceptAll(new).isEmpty()
    assert new.exceptAll(old).isEmpty()
    # 15k points over the complex rings' bboxes, both sides of ±180°
    rng = random.Random(20261019)
    boxes = [(39.9, 4.9, 42.1, 7.1), (41.9, 7.9, 46.1, 12.1),
             (46.4, 177.9, 49.6, 181.1)]
    rows = [(i, rng.randrange(int(a * B), int(c * B)),
             (rng.randrange(int(b * B), int(d * B)) + 180 * B)
             % (360 * B) - 180 * B)
            for i in range(15_000) for a, b, c, d in [boxes[i % 3]]]
    cpts = with_grid_cells(spark.createDataFrame(
        rows, "id long, lat_nano long, lon_nano long"), res=12)
    cpolys = make_polygons(spark, _COMPLEX_RINGS)
    before = _last_execution_id(spark)
    pip_join(cpts, cpolys, res=12)      # memo miss: builds, stores the cover
    assert "pip cover store res=12" in {
        d for i, d in _executions(spark) if i > before}
    stored = _last_execution_id(spark)
    new = pip_join(cpts, cpolys, res=12).select("poly_id", "id")
    assert new.count() > 0
    assert "pip cover store res=12" not in {
        d for i, d in _executions(spark) if i > stored}
    old = pip_brute_force(cpts, cpolys).select("poly_id", "id")
    assert {r["poly_id"] for r in new.collect()} == {"sq401", "star",
                                                     "xblob"}
    assert old.exceptAll(new).isEmpty()
    assert new.exceptAll(old).isEmpty()


def test_pip_counters_pinned(spark, pip_brute_force):
    """Drift-free counters of the PIP path: the classified cover's row
    count for the benchmark's three boxes (bench.py / perfbench) at res
    16, pip_join's match count for a fixed seeded point set, and the
    complex rings' classified cover at res 12. A cover change that
    alters any of them is a plan change, not noise."""
    from osmpbf_spark.operators.pip import (
        _band_hits,
        _ring_copies,
        make_polygons,
        pip_join,
        polygon_cover,
        split_antimeridian,
    )
    polys = make_polygons(spark, [
        _box("megacity", int(42.9 * B), int(8.9 * B), int(43.1 * B),
             int(9.1 * B)),
        _box("band", 44 * B, 5 * B, 46 * B, 15 * B),
        _box("corner", 40 * B, 5 * B, 41 * B, 6 * B)])
    assert polygon_cover(split_antimeridian(polys), 16,
                         classify=True).count() == 71_333
    rng = random.Random(20261018)
    pts = with_grid_cells(spark.createDataFrame(
        [(i, rng.randrange(39 * B, 47 * B), rng.randrange(4 * B, 16 * B))
         for i in range(20_000)], "id long, lat_nano long, lon_nano long"),
        res=16)
    assert pip_join(pts, polys, res=16).count() == 4_373
    assert pip_brute_force(pts, polys).count() == 4_373
    # the complex rings at res 12: cover rows, FULL rows and an
    # order-free checksum, all three computed by the per-gap ray-cast
    # cover this one replaced
    pins = polygon_cover(
        split_antimeridian(make_polygons(spark, _COMPLEX_RINGS)), 12,
        classify=True).selectExpr(
            "count(*)", "count_if(full)",
            "sum(CAST(xxhash64(poly_id, _ck, cell, full) "
            "AS DECIMAL(38, 0)))").first()
    assert tuple(pins) == (4_811, 2_290, -556_643_048_516_512_569_461)
    # band hits (edge × cell row) and their center-latitude crossings
    # for the zoo and complex rings, the values of the band join the
    # per-edge row explode replaced
    zoo = split_antimeridian(make_polygons(spark, _POLY_ZOO + _COMPLEX_RINGS))
    for res, want in ((12, (3_104, 2_312)), (16, (37_102, 36_278))):
        got = _band_hits(_ring_copies(zoo, res), res).agg(
            F.count("*"), F.count_if("cross")).first()
        assert tuple(got) == want, res


def test_tight_cover_within_bbox_cover(spark):
    """The scanline cover only drops cells of the bbox cover, on every
    ring copy: a row of an antimeridian copy whose edge spans all lie
    outside the copy's x window covers no cell (it once counted down
    from rx0 > rx1 and emitted out-of-range cells: 15 at res 12 and 306
    at res 14 on ``xblob``). The polygon join, whose right cover is the
    scanline one here, keeps its result."""
    from osmpbf_spark.operators.pip import (
        make_polygons,
        polygon_cover,
        split_antimeridian,
    )
    from osmpbf_spark.operators.polyjoin import polygon_intersects_join
    polys = make_polygons(spark, _POLY_ZOO + _COMPLEX_RINGS)
    split = split_antimeridian(polys)
    for res in (12, 14):
        tight = polygon_cover(split, res, tight=True)
        bbox = polygon_cover(split, res, tight=False)
        assert tight.exceptAll(bbox).count() == 0, res
    pairs = {(r["left_id"], r["right_id"], r["relation"]) for r in
             polygon_intersects_join(polys, polys, res=12).collect()}
    assert pairs == {(a, b, "edges_cross") for a, b in [
        ("am", "am"), ("am", "xblob"), ("band", "band"),
        ("band", "concave"), ("band", "diamond"), ("band", "star"),
        ("concave", "band"), ("concave", "concave"), ("concave", "star"),
        ("diamond", "band"), ("diamond", "diamond"),
        ("diamond", "megacity"), ("diamond", "star"),
        ("megacity", "diamond"), ("megacity", "megacity"),
        ("sq401", "sq401"), ("star", "band"), ("star", "concave"),
        ("star", "diamond"), ("star", "star"), ("tiny", "tiny"),
        ("xblob", "am"), ("xblob", "xblob")]}


def test_cover_plans_join_no_edges_to_rows(spark):
    """Each ring edge explodes over its own cell rows, and complete
    blocks are found by a window over interval pieces: neither the
    tight nor the classified cover's optimized plan has a join (the
    classified one had the coarsening's left_anti)."""
    import re

    from osmpbf_spark.operators.pip import (
        make_polygons,
        polygon_cover,
        split_antimeridian,
    )
    polys = split_antimeridian(make_polygons(spark, _POLY_ZOO))

    def joins(df):
        return re.findall(r"\bJoin (\w+)", df._jdf.queryExecution()
                          .optimizedPlan().toString())
    assert joins(polygon_cover(polys, 12, tight=True)) == []
    assert joins(polygon_cover(polys, 12, classify=True)) == []


def test_null_id_ring_covers_like_its_named_twin(spark):
    """A ring without a poly_id keeps every cover row, and its complete
    FULL blocks coarsen: its tight and classified covers equal those of
    the same ring under an id (the classified one once kept both the
    fine FULL cells and their 12 parent cells: 5,302 rows, not 2,230)."""
    from osmpbf_spark.operators.pip import (
        make_polygons,
        polygon_cover,
        split_antimeridian,
    )
    band = _POLY_ZOO[1]
    polys = split_antimeridian(make_polygons(spark, [band, (None, band[1])]))
    for cover in (polygon_cover(polys, 12, tight=True),
                  polygon_cover(polys, 12, classify=True)):
        named = cover.filter(F.col("poly_id") == "band").drop("poly_id")
        anon = cover.filter(F.col("poly_id").isNull()).drop("poly_id")
        assert named.count() == anon.count() > 0
        assert named.exceptAll(anon).isEmpty()
        assert anon.exceptAll(named).isEmpty()


def test_duplicate_ring_rows_raise(spark):
    """The same (poly_id, ring) row given twice would double every
    crossing in the classified cover, whose parity then reads every
    interior cell as outside (the point inside ``band`` matched 0 times,
    not twice). The cover build raises, naming the polygon."""
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    band = _POLY_ZOO[1]
    pts = with_grid_cells(spark.createDataFrame(
        [(1, 45 * B, 10 * B)], "id long, lat_nano long, lon_nano long"),
        res=12)
    assert pip_join(pts, make_polygons(spark, [band]), res=12).count() == 1
    with pytest.raises(Exception, match="polygon band: the same ring"):
        pip_join(pts, make_polygons(spark, [band, band]), res=12).count()


def test_null_id_polygon_matches_in_pip_join(spark, pip_brute_force):
    """A polygon without a poly_id meets its ring in pip_join's ring
    fetch: the point inside ``band`` matches once under a NULL id, as
    under its name (an equi-join on poly_id matched it 0 times), and
    the output keeps one poly_id column ahead of the point columns."""
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    pts = with_grid_cells(spark.createDataFrame(
        [(1, 45 * B, 10 * B)], "id long, lat_nano long, lon_nano long"),
        res=12)
    for pid in ("band", None):
        polys = make_polygons(spark, [(pid, _POLY_ZOO[1][1])])
        got = pip_join(pts, polys, res=12)
        assert got.columns == ["poly_id", *pts.columns]
        assert [tuple(r) for r in got.select("poly_id", "id").collect()] \
            == [(pid, 1)]
        assert pip_brute_force(pts, polys).count() == 1


def _jobs_in(spark, fn):
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"r06-jobs-{uuid.uuid4().hex}"      # never reused
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pip_cover_build_and_store_jobs_pinned(spark):
    """Drift-free job counts of the classified cover. A cold build of
    the bench boxes at res 16, counted, runs 4 Spark jobs: the per-row
    spans shuffle, the block window's shuffle and the count's own two
    (6 while the coarsening listed cells and met them in a broadcast
    anti-join). The first pip_join against a new polygon set stores its
    cover in one execution under the ``pip cover store`` label; later
    joins of that set and their counts run none."""
    from osmpbf_spark.operators.pip import (
        make_polygons,
        pip_join,
        polygon_cover,
        split_antimeridian,
    )
    boxes = [
        _box("megacity", int(42.9 * B), int(8.9 * B), int(43.1 * B),
             int(9.1 * B)),
        _box("band", 44 * B, 5 * B, 46 * B, 15 * B),
        _box("corner", 40 * B, 5 * B, 41 * B, 6 * B)]
    cover = polygon_cover(split_antimeridian(make_polygons(spark, boxes)),
                          16, classify=True)
    assert _jobs_in(spark, cover.count) == 4
    # ids no other test uses: a polygon set the memo has not seen
    polys = make_polygons(spark, [("once-" + p, r) for p, r in boxes])
    pts = _zoo_points(spark, 5_000)
    before = _last_execution_id(spark)
    joined = pip_join(pts, polys, res=16)
    stored = _last_execution_id(spark)
    joined.count()
    pip_join(pts, polys, res=16).count()
    labels = [(i, d) for i, d in _executions(spark)
              if i > before and (d or "").startswith("pip cover store")]
    assert [d for _, d in labels] == ["pip cover store res=16"]
    assert labels[0][0] <= stored


def test_classified_cover_classes_partition_each_polygon(spark):
    """Coarse supercells, residual fine fulls and boundary cells must
    tile disjoint areas: no fine cell may also be covered by a coarse
    row of the same ring copy."""
    from osmpbf_spark.functions.grid import RES_SHIFT, Y_SHIFT, cell_xy
    from osmpbf_spark.operators.pip import (
        _COARSE_STEP,
        make_polygons,
        polygon_cover,
        split_antimeridian,
    )
    polys = make_polygons(spark, _POLY_ZOO + _COMPLEX_RINGS)
    cc = polygon_cover(split_antimeridian(polys), GRID_RES_FINE,
                       classify=True)
    assert getattr(cc, "_osmpbf_coarse_res", None) == \
        GRID_RES_FINE - _COARSE_STEP
    res_col, x, y = cell_xy("cell")
    k = 1 << _COARSE_STEP
    fine = cc.filter(res_col == GRID_RES_FINE).withColumn(
        "pcell",
        (F.lit(GRID_RES_FINE - _COARSE_STEP).cast("long")
         * F.lit(RES_SHIFT)
         + (x / k).cast("long") * F.lit(Y_SHIFT) + (y / k).cast("long")))
    coarse = cc.filter(res_col == GRID_RES_FINE - _COARSE_STEP).select(
        "poly_id", "_ck", F.col("cell").alias("pcell"))
    overlap = fine.join(coarse, ["poly_id", "_ck", "pcell"], "left_semi")
    assert overlap.isEmpty()
    # every coarse row is full, and cells are unique per ring copy
    assert cc.filter(res_col == GRID_RES_FINE - _COARSE_STEP) \
             .filter(~F.col("full")).isEmpty()
    assert cc.groupBy("poly_id", "_ck", "cell").count() \
             .filter("count > 1").isEmpty()


def test_minhash_arrow_sigs_match_catalyst(spark):
    """The mapInArrow signature kernel must reproduce the Catalyst
    minhash_signatures values bit-for-bit — incl. astral code points,
    CJK, NULL/empty/whitespace-only documents."""
    from osmpbf_spark.operators.dedup import (
        minhash_doc_sigs,
        minhash_signatures,
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "emoji \U0001F600 mid \U0001F680 text with several words"),
         (3, "中文 分词 测试 中文 分词 测试 与 更多 词"),
         (4, None), (5, ""), (6, "   "), (7, "one two"),
         (8, "a b c a b c a b c"),
         (9, "tab\tkept big   gaps collapse to empties here ok")],
        "doc_id long, text string")
    k = 8
    piv = (minhash_signatures(docs, k=k, shingle_n=3)
           .groupBy("doc_id")
           .agg(F.expr("array_sort(collect_list(struct(j, sig)))")
                .alias("js"))
           .select("doc_id",
                   F.expr("transform(js, s -> s.sig)").alias("sigs")))
    new = minhash_doc_sigs(docs, k=k, shingle_n=3)
    assert piv.count() == new.count()
    assert piv.exceptAll(new).isEmpty()
    assert new.exceptAll(piv).isEmpty()


def test_simhash_arrow_matches_catalyst(spark):
    from osmpbf_spark.operators.dedup import simhash
    docs = spark.createDataFrame(
        [(1, "the cat and the cat and the"), (2, None), (3, ""),
         (4, "unicode \U0001F600 token mix"), (5, "x"),
         (6, "repeat repeat repeat distinct")],
        "doc_id long, text string")
    toks = (docs.select(F.col("doc_id"),
                        F.explode(F.expr(tokens_sql("text"))).alias("tok"))
            .withColumn("h", F.expr(poly_hash_sql("tok"))))
    bits = 32
    votes = (toks.join(F.broadcast(
        spark.range(bits).select(F.col("id").alias("b"))))
        .withColumn("bit", F.expr("(h DIV CAST(power(2, b) AS BIGINT))"
                                  " % 2"))
        .groupBy("doc_id", "b")
        .agg(F.sum("bit").alias("ones"), F.count("*").alias("n")))
    old = (votes.withColumn(
        "term", F.when(F.col("ones") * 2 > F.col("n"),
                       F.expr("CAST(power(2, b) AS BIGINT)"))
        .otherwise(F.lit(0).cast("long")))
        .groupBy("doc_id").agg(F.sum("term").alias("simhash")))
    new = simhash(docs)
    assert old.count() == new.count()
    assert old.exceptAll(new).isEmpty()
    assert new.exceptAll(old).isEmpty()


def test_poly_hash_vec_matches_sql_fold(spark):
    texts = ["hello world", "café", "€ uro", "emoji \U0001F600 x", "",
             "a", "ßß", "mixed 中文 text", "tab\there", None, "   "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    a = [tuple(r) for r in df.select(
        "i", F.expr(poly_hash_sql("text")).alias("h"))
        .orderBy("i").collect()]
    b = [tuple(r) for r in df.select(
        "i", poly_hash_vec("text").alias("h")).orderBy("i").collect()]
    assert a == b


def test_dsum_fast_matches_decimal_sum(spark):
    from osmpbf_spark.queries import _dsum, _dsum_fast
    df = spark.createDataFrame(
        [(1, 0.03125), (1, 1e9 + 0.12345), (1, -7.77775),
         (2, 123456789.9999), (2, 0.00005), (3, None), (3, 2.5)],
        "g int, v double")
    a = sorted(map(tuple, df.groupBy("g")
                   .agg(F.expr(_dsum("v")).alias("s")).collect()))
    b = sorted(map(tuple, df.groupBy("g")
                   .agg(F.expr(_dsum_fast("v")).alias("s")).collect()))
    assert a == b


def test_scan_messages_vec_matches_scan_fields():
    """The lockstep scanner must agree field-for-field with the scalar
    scanner — last-occurrence-wins, absent-vs-empty LEN distinction,
    I32/I64 skipping, unknown fields — and raise on truncation."""
    from osmpbf_spark.pbf.wire import (
        WT_LEN,
        WT_VARINT,
        len_field,
        scan_fields,
        scan_messages_vec,
        tag,
        varint_field,
    )
    msgs = [
        varint_field(1, 42) + len_field(8, b"\x01\x02"),
        len_field(8, b"") + varint_field(1, (1 << 64) - 5),
        b"",                                       # empty message
        len_field(2, b"abc") + len_field(2, b"zz"),   # repeated: last wins
        varint_field(1, 7) + tag(5, 1) + b"\x00" * 8   # I64 skipped
        + tag(6, 5) + b"\x00" * 4                      # I32 skipped
        + len_field(9, b"xyz"),
        varint_field(99, 1) + len_field(98, b"skipme") + varint_field(1, 3),
    ]
    big, vals, spans = scan_messages_vec(
        msgs, varint_fields=(1,), len_fields=(2, 8, 9))
    for i, m in enumerate(msgs):
        ref_v = {1: 0}
        ref_l = {2: (None, False), 8: (None, False), 9: (None, False)}
        for fno, wt, value in scan_fields(m):
            if fno == 1 and wt == WT_VARINT:
                ref_v[1] = value
            elif wt == WT_LEN and fno in (2, 8, 9):
                ref_l[fno] = (bytes(value), True)
        assert int(vals[1][i]) == ref_v[1], i
        for fno in (2, 8, 9):
            st, ln, pr = spans[fno]
            got = (big[st[i]:st[i] + ln[i]].tobytes(), bool(pr[i]))
            want = ref_l[fno] if ref_l[fno][1] else (b"", False)
            assert got == want, (i, fno)
    with pytest.raises(ValueError):
        scan_messages_vec([b"\x08"], varint_fields=(1,), len_fields=())
    with pytest.raises(ValueError):  # LEN length overruns the message
        scan_messages_vec([tag(2, WT_LEN) + b"\x7f" + b"x"],
                          varint_fields=(), len_fields=(2,))


def _knn_coords(n, a, b, offset=0):
    """Deterministic scattered (id, lat_nano, lon_nano) arrays in a
    2° box at 44°N 7°E."""
    ids = np.arange(n, dtype=np.int64)
    return (ids + offset, (ids * a) % (2 * B) + 44 * B,
            (ids * b) % (2 * B) + 7 * B)


def _knn_frame(spark, cols, id_name, res):
    ids, lat, lon = cols
    return with_grid_cells(spark.createDataFrame(pd.DataFrame(
        {id_name: ids, "lat_nano": lat, "lon_nano": lon})), res=res)


def _numpy_knn(pts, qs, k):
    """(query_id, id, rn) by brute force, with grid_knn's exact double
    formula: integer diffs cast once, then d*d + d*d; ties by id."""
    pid, plat, plon = pts
    out = set()
    for qid, qla, qlo in zip(*qs):
        dla = (qla - plat).astype(np.float64)
        dlo = (qlo - plon).astype(np.float64)
        order = np.lexsort((pid, dla * dla + dlo * dlo))[:k]
        out |= {(int(qid), int(pid[i]), r + 1) for r, i in enumerate(order)}
    return out


def _executions(spark):
    """(id, description) of the SQL executions in the status store,
    oldest first."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sorted((lst.apply(i).executionId(), lst.apply(i).description())
                  for i in range(lst.size()))


def _last_execution_id(spark):
    return max((i for i, _ in _executions(spark)), default=-1)


def _knn_labels(spark, after_id):
    """Distinct grid_knn job descriptions of the executions after
    ``after_id``, in order of first use."""
    return list(dict.fromkeys(
        d for i, d in _executions(spark)
        if i > after_id and d and d.startswith("grid_knn")))


_KNN_PTS = _knn_coords(40_000, 2654435761, 2246822519)
_KNN_QS = _knn_coords(500, 3141592653, 2718281829, offset=1_000_000)


def test_start_disk_rule():
    """The first disk follows the Poisson zero-count density of the
    points' cell box, not the mean of an occupied cell."""
    from osmpbf_spark.operators import knn
    # store_knn seed-1 geometry: 100k queries, 500k points (35% in three
    # megacity hotspots) in 225,371 occupied of 415,872 box cells. The
    # occupied-cell mean (2.22) would give disk 2 and ~45% open; the
    # box density 0.78 gives disk 4 and ~2 expected open queries.
    assert knn._start_disk(100_000, 500_000, 225_371, 415_872, 5) == 4
    assert round(knn._density(500_000, 225_371, 415_872), 2) == 0.78
    lam = knn._density(500_000, 225_371, 415_872)
    assert round(knn._expected_open(100_000, lam, 2, 5)) == 45_724
    assert round(knn._expected_open(100_000, lam, 4, 5)) == 2
    # approximate occupied count at or past the box: n/bbox, no log(0)
    for occupied in (415_872, 450_000):
        assert knn._start_disk(100_000, 500_000, occupied, 415_872, 5) == 3
    assert knn._start_disk(10, 0, 0, 0, 5) == 1          # no points
    assert knn._start_disk(100_000, 10, 10, 10**9, 5) == 8   # capped
    assert knn._start_disk(100_000, 40_000, 1000, 1000, 3) == 1  # dense


def test_grid_knn_auto_start_disk_matches_explicit(spark, monkeypatch):
    """The first disk is a SCHEDULE, never a result: the measured start
    and a forced wider one must return identical rows."""
    from osmpbf_spark.operators import knn
    res = 12
    pts = _knn_frame(spark, _KNN_PTS, "id", res)
    qdf = _knn_frame(spark, _KNN_QS, "query_id", res)
    auto = knn.grid_knn(pts, qdf, 3, res=res).select("query_id", "id", "rn")
    monkeypatch.setattr(knn, "_start_disk", lambda *a: 4)
    fixed = knn.grid_knn(pts, qdf, 3, res=res).select("query_id", "id", "rn")
    assert auto.count() == fixed.count() == 1500
    assert auto.exceptAll(fixed).isEmpty()
    assert fixed.exceptAll(auto).isEmpty()


@pytest.mark.parametrize("shape,threshold", [
    ("bcast", "1g"),
    ("shuffle", "-1"),
], ids=["bcast", "shuffle"])
def test_grid_knn_reversed_probe_matches_cand_cells(spark, shape,
                                                    threshold):
    """Each round shape — broadcast candidate cells (forced by a large
    spark.sql.autoBroadcastJoinThreshold) and the planner's join (−1:
    no broadcast) — is a JOIN SHAPE, never a result: each must return
    exactly the brute-force rows, including duplicate-coordinate ties
    and near-cell-boundary points."""
    from osmpbf_spark.operators import knn
    res = 12
    # duplicate coordinates: ids 40000.. replay the first 200 points
    ids, lat, lon = _KNN_PTS
    pts_np = (np.concatenate([ids, ids[:200] + 40_000]),
              np.concatenate([lat, lat[:200]]),
              np.concatenate([lon, lon[:200]]))
    pts = _knn_frame(spark, pts_np, "id", res)
    qdf = _knn_frame(spark, _KNN_QS, "query_id", res)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        before = _last_execution_id(spark)
        got = knn.grid_knn(pts, qdf, 3, res=res).select(
            "query_id", "id", F.col("rn").cast("long"))
        rounds = _knn_labels(spark, before)[1:]
    finally:
        spark.conf.set(key, old)
    want = spark.createDataFrame(sorted(_numpy_knn(pts_np, _KNN_QS, 3)),
                                 "query_id long, id long, rn long")
    assert got.count() == 1500
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()
    assert rounds and all(f" {shape} " in r for r in rounds), rounds


def test_grid_knn_multi_round_brute_backstop(spark, monkeypatch):
    """A schedule of doubling rounds that ends in the brute-force
    backstop returns the brute-force rows; every action is labelled by
    phase, and the caller's job description is restored."""
    from osmpbf_spark.operators import knn
    monkeypatch.setattr(knn, "_start_disk", lambda *a: 1)
    monkeypatch.setattr(knn, "_MAX_DISK", 2)
    res = 12
    rng = np.random.default_rng(7)
    pts_np = (np.arange(3000, dtype=np.int64),
              rng.integers(44 * B, 45 * B, 3000),
              rng.integers(7 * B, 8 * B, 3000))
    # 40 queries in the cloud, 10 a degree north of it (~23 cells: no
    # point within the disk-2 guard, so they reach the backstop)
    qs_np = (np.arange(50, dtype=np.int64) + 10_000,
             np.concatenate([rng.integers(44 * B, 45 * B, 40),
                             rng.integers(46 * B, 47 * B, 10)]),
             rng.integers(7 * B, 8 * B, 50))
    pts = _knn_frame(spark, pts_np, "id", res)
    qdf = _knn_frame(spark, qs_np, "query_id", res)
    sc = spark.sparkContext
    sc.setJobDescription("caller phase")
    try:
        before = _last_execution_id(spark)
        out = knn.grid_knn(pts, qdf, 4, res=res)
        assert sc.getLocalProperty("spark.job.description") == "caller phase"
        labels = _knn_labels(spark, before)
    finally:
        sc.setJobDescription(None)
    got = {(r["query_id"], r["id"], r["rn"]) for r in out.collect()}
    assert got == _numpy_knn(pts_np, qs_np, 4)
    assert labels[0] == "grid_knn probe"
    assert labels[1] == ("grid_knn r1 disk=1 bcast open=50 lam=5.70 "
                         "est_open=1"), labels
    assert len(labels) == 3, labels
    assert labels[2].startswith("grid_knn r2 disk=2 bcast open="), labels
    assert int(labels[2].rsplit("=", 1)[1]) >= 10


def test_grid_knn_hotspot_first_round_leaves_a_tail(spark, monkeypatch):
    """Megacity hotspots must not shrink the first disk: on uniform
    points plus three hotspots holding ~35% of them, round 1 runs at
    disk 4 and round 2 opens with a pinned handful of queries (a density
    from occupied cells alone picks disk 2 here and leaves 2,289 of
    5,000 open). The open counts come from the job labels and do not
    drift."""
    from osmpbf_spark.operators import knn
    # same open-queries-to-tail-rows ratio as 100k queries at 500k rows
    monkeypatch.setattr(knn, "_TAIL_ROWS", 25_000)
    res = 14
    rng = np.random.default_rng(11)
    lat = [rng.integers(44 * B, 46 * B, 13_000)]
    lon = [rng.integers(7 * B, 9 * B, 13_000)]
    for fy, fx in ((0.3, 0.4), (0.62, 0.55), (0.45, 0.8)):
        lat.append(44 * B + int(2 * B * fy) + rng.integers(-B // 100,
                                                           B // 100, 2300))
        lon.append(7 * B + int(2 * B * fx) + rng.integers(-B // 100,
                                                          B // 100, 2300))
    pts = _knn_frame(spark, (np.arange(19_900, dtype=np.int64),
                             np.concatenate(lat), np.concatenate(lon)),
                     "id", res)
    qs_np = (np.arange(5000, dtype=np.int64),
             rng.integers(44 * B, 46 * B, 5000),
             rng.integers(7 * B, 9 * B, 5000))
    qdf = _knn_frame(spark, qs_np, "query_id", res)
    before = _last_execution_id(spark)
    assert knn.grid_knn(pts, qdf, 5, res=res).count() == 25_000
    labels = _knn_labels(spark, before)
    assert len(labels) == 3, labels
    assert labels[1].startswith("grid_knn r1 disk=4 "), labels
    assert labels[1].endswith(" open=5000 lam=0.82 est_open=0"), labels
    assert labels[2].startswith("grid_knn r2 disk=32 "), labels
    assert labels[2].endswith(" open=2"), labels


def test_grid_knn_rejects_duplicate_query_ids(spark):
    """Duplicate query ids would merge into one ranked window and keep
    the open-query count from reaching 0: they fail loudly instead."""
    from osmpbf_spark.operators.knn import grid_knn
    res = 12
    pts = _knn_frame(spark, _knn_coords(100, 2654435761, 2246822519),
                     "id", res)
    qdf = _knn_frame(spark, (np.array([1, 2, 1]), np.full(3, 44 * B),
                             np.full(3, 7 * B)), "query_id", res)
    with pytest.raises(ValueError, match="unique"):
        grid_knn(pts, qdf, 3, res=res)


def test_local_relation_validates_row_width(spark):
    """local_relation must plan a LocalRelation with the exact DDL
    schema, keep NULLs, and raise loudly on ragged or mis-width rows
    (createDataFrame raised there too — silent truncation would be
    data loss)."""
    from osmpbf_spark.session import local_relation
    df = local_relation(spark, [(1, None), (None, 2.5)],
                        "a long, b double")
    assert [tuple(r) for r in df.orderBy("a").collect()] == \
        [(None, 2.5), (1, None)]
    assert "LocalTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError):
        local_relation(spark, [(1, 2, 3)], "a int, b int")
    with pytest.raises(ValueError):
        local_relation(spark, [(1, 2), (3,)], "a int, b int")
    with pytest.raises(ValueError, match="duplicate"):
        local_relation(spark, [(1, 2)], "a int, A int")
    with pytest.raises(ValueError, match="differs from DDL"):
        local_relation(spark, [(1,)], "a int not null")


def test_decode_spread_skips_only_matching_partitioning(spark):
    """decode_partitions must still consolidate/spread when the source
    partitioning differs, and skip the payload shuffle when it already
    matches (balance is identical either way — counts pinned here)."""
    from osmpbf_spark.sources.documents import read_elements
    from osmpbf_spark.sources.synth import synth_documents
    docs, media, exp = synth_documents(spark, 30_000, num_partitions=8,
                                       block_elements=2000)
    n = exp["node"] + exp["way"] + exp["relation"]
    match = read_elements(docs, media, decode_partitions=8)
    assert match.rdd.getNumPartitions() == 8
    assert match.count() == n
    spread = read_elements(docs, media, decode_partitions=4)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == n


def test_doc_signals_vec_matches_sql_renderings(spark):
    """The fused Arrow doc_profile kernel must reproduce every
    dual-rendered SQL signal value-for-value — including NULL text
    (NULL fingerprint/n_tokens/quality but 'und' lang and 0.0 ratios),
    empty/whitespace docs, astral code points, exact dyadic
    quantization ties, multi-language marker ties, and the
    bullet/ellipsis line edges."""
    from osmpbf_spark.functions.text import (
        bullet_line_frac_sql,
        doc_signals_vec,
        ellipsis_line_frac_sql,
        langid_sql,
        mean_word_length_sql,
        quality_score_sql,
        repetition_ratio_sql,
        symbol_word_ratio_sql,
    )
    texts = [
        None, "", " ", "   ", "the", "the the the the",
        "a b a b a b", "der die und le la et el que il",
        "le la et les des est un une", "😀 🚀😀 the 😀",
        "日本語 中文 한국어 the and of",
        "- bullet\n* bullet2\n• b3\n normal",
        "line...\nline…   \nline\n\n\n", "### ... …… #", "a" * 500,
        " ".join(["tok"] * 200), "x\ny\nz", "\n\n\n", "...",
        " ".join(f"w{i % 8}" for i in range(32)),     # 1/31 etc. ties
        "the and of to is in that it", "Tab\tsep one\ttoken",
        "trailing space ", " leading", "…", "#",
        "mixed#sym ... tok …", "the ... the ... the",
        " ".join(f"w{i % 16}" for i in range(128)),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    old = df.select(
        "doc_id",
        F.expr(poly_hash_sql("text")).alias("fingerprint"),
        F.expr(f"CAST(size({tokens_sql('text')}) AS BIGINT)")
        .alias("n_tokens"),
        F.expr(quality_score_sql("text")).alias("quality"),
        F.expr(langid_sql("text")).alias("lang_guess"),
        F.expr(repetition_ratio_sql("text")).alias("rep_bigram"),
        F.expr(mean_word_length_sql("text")).alias("mean_word_len"),
        F.expr(symbol_word_ratio_sql("text")).alias("symbol_ratio"),
        F.expr(bullet_line_frac_sql("text")).alias("bullet_frac"),
        F.expr(ellipsis_line_frac_sql("text")).alias("ellipsis_frac"))
    new = (df.select("doc_id", doc_signals_vec("text").alias("s"))
           .select("doc_id", "s.fingerprint", "s.n_tokens", "s.quality",
                   "s.lang_guess", "s.rep_bigram", "s.mean_word_len",
                   "s.symbol_ratio", "s.bullet_frac", "s.ellipsis_frac"))
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
    # the 9 field extractions must collapse to ONE Python evaluation
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
