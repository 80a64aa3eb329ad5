"""Polygon ↔ polygon intersects join: goldens, an exact pure-int
oracle sweep, antimeridian frames, determinism, plan shape."""

import random

import pytest

from osmpbf_spark.operators.pip import make_polygons
from osmpbf_spark.operators.polyjoin import polygon_intersects_join

B = 1_000_000_000  # 1 degree in nanodegrees


def sq(clat, clon, h):
    """Closed square ring in (lat, lon) nano around (clat, clon)."""
    return [(clat - h, clon - h), (clat - h, clon + h),
            (clat + h, clon + h), (clat + h, clon - h),
            (clat - h, clon - h)]


# ---------------------------------------------------------------- oracle
# Exact ground truth with Python arbitrary-precision ints — an
# independent re-implementation (xy tuples, int math) of the geometric
# predicates, not a transcription of the SQL.

def _sign(x):
    return (x > 0) - (x < 0)


def _orient(p, q, r):
    return _sign((q[0] - p[0]) * (r[1] - p[1])
                 - (q[1] - p[1]) * (r[0] - p[0]))


def _on_seg(p, q, r):
    return (min(p[0], q[0]) <= r[0] <= max(p[0], q[0])
            and min(p[1], q[1]) <= r[1] <= max(p[1], q[1]))


def _seg_int(a, b, c, d):
    d1, d2 = _orient(c, d, a), _orient(c, d, b)
    d3, d4 = _orient(a, b, c), _orient(a, b, d)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and \
            ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)):
        return True
    return ((d1 == 0 and _on_seg(c, d, a))
            or (d2 == 0 and _on_seg(c, d, b))
            or (d3 == 0 and _on_seg(a, b, c))
            or (d4 == 0 and _on_seg(a, b, d)))


def _pir(pt, ring):
    """Exact even-odd; only consulted when pt is NOT on the boundary."""
    px, py = pt
    cnt = 0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > py) != (y2 > py):
            lhs = (px - x1) * (y2 - y1)
            rhs = (x2 - x1) * (py - y1)
            if (y2 > y1 and lhs < rhs) or (y2 < y1 and lhs > rhs):
                cnt += 1
    return cnt % 2 == 1


def _xy(ring_latlon):
    return [(lon, lat) for lat, lon in ring_latlon]


def _relation(ra, rb):
    """ra/rb: closed xy rings. Returns the engine's relation or None."""
    for a, b in zip(ra, ra[1:]):
        for c, d in zip(rb, rb[1:]):
            if _seg_int(a, b, c, d):
                return "edges_cross"
    if _pir(ra[0], rb):
        return "left_within_right"
    if _pir(rb[0], ra):
        return "right_within_left"
    return None


def _run(spark, left_rows, right_rows):
    out = polygon_intersects_join(make_polygons(spark, left_rows),
                                  make_polygons(spark, right_rows))
    return {(r["left_id"], r["right_id"]): r["relation"]
            for r in out.collect()}


# ---------------------------------------------------------------- tests

def test_golden_relations(spark):
    got = _run(spark, left_rows=[
        ("overlap", sq(0, 0, B)),
        ("inside", sq(B // 5, B // 5, B // 10)),
        ("far", sq(50 * B, 50 * B, B)),
        ("contains", sq(B // 5, B // 5, 30 * B)),
        ("edge_share", sq(B // 5, 2 * B, int(0.9 * B))),  # collinear edge
        ("corner_touch", sq(2 * B, 2 * B, int(0.9 * B))),  # single vertex
        ("identical", sq(B // 5, B // 5, int(0.9 * B))),
    ], right_rows=[("R", sq(B // 5, B // 5, int(0.9 * B)))])
    # R: lat/lon in [-0.7, 1.1]°
    assert got == {
        ("overlap", "R"): "edges_cross",
        ("inside", "R"): "left_within_right",
        ("contains", "R"): "right_within_left",
        ("edge_share", "R"): "edges_cross",    # shares the lon=1.1° edge
        ("corner_touch", "R"): "edges_cross",  # touches at (1.1°, 1.1°)
        ("identical", "R"): "edges_cross",     # collinear everywhere
    }


def test_star_of_david_crosses_without_vertex_containment(spark):
    # two opposing triangles: every vertex of each is OUTSIDE the other,
    # only edge crossings connect them — kills vertex-only refines
    up = [(-B, -2 * B), (-B, 2 * B), (2 * B, 0), (-B, -2 * B)]
    down = [(B, -2 * B), (B, 2 * B), (-2 * B, 0), (B, -2 * B)]
    up_xy, down_xy = _xy(up), _xy(down)
    assert not _pir(up_xy[0], down_xy) and not _pir(down_xy[0], up_xy)
    got = _run(spark, [("up", up)], [("down", down)])
    assert got == {("up", "down"): "edges_cross"}


def test_property_matches_exact_oracle(spark):
    rng = random.Random(42)

    def rand_poly(cx, cy, rad, k):
        angles = sorted(rng.uniform(0, 6.28318) for _ in range(k))
        import math
        ring = [(cy + int(rad * math.sin(a) * rng.uniform(0.4, 1.0)),
                 cx + int(rad * math.cos(a) * rng.uniform(0.4, 1.0)))
                for a in angles]
        # drop consecutive duplicates, need >= 3 distinct vertices
        out = [ring[0]]
        for v in ring[1:]:
            if v != out[-1]:
                out.append(v)
        if len(out) < 3:
            return None
        return out + [out[0]]

    lefts, rights = [], []
    while len(lefts) < 14:
        r = rand_poly(rng.randint(-3 * B, 3 * B), rng.randint(-2 * B, 2 * B),
                      rng.randint(B // 10, 2 * B), rng.randint(3, 9))
        if r:
            lefts.append((f"l{len(lefts)}", r))
    while len(rights) < 9:
        r = rand_poly(rng.randint(-3 * B, 3 * B), rng.randint(-2 * B, 2 * B),
                      rng.randint(B // 10, 3 * B), rng.randint(3, 9))
        if r:
            rights.append((f"r{len(rights)}", r))

    expected = {}
    for lid, lring in lefts:
        for rid, rring in rights:
            rel = _relation(_xy(lring), _xy(rring))
            if rel:
                expected[(lid, rid)] = rel
    got = _run(spark, lefts, rights)
    assert got == expected
    assert expected, "oracle produced no intersections — inputs too sparse"
    # and the transpose is consistent
    flip = {"left_within_right": "right_within_left",
            "right_within_left": "left_within_right",
            "edges_cross": "edges_cross"}
    got_t = _run(spark, rights, lefts)
    assert got_t == {(b, a): flip[rel] for (a, b), rel in got.items()}


def test_antimeridian_frames(spark):
    # A spans lon 179 … 181.5 (unwrapped); B sits at lon −179.4…−179.2,
    # i.e. INSIDE A on the sphere; C at lon −175 is outside A
    a = sq(0, int(180.25 * B), int(1.25 * B))
    assert max(lon for _, lon in a) > 180 * B
    b = ("B", sq(0, int(-179.3 * B), B // 10))
    c = ("C", sq(0, -175 * B, B // 10))
    got = _run(spark, [b, c], [("A", a)])
    assert got == {("B", "A"): "left_within_right"}


def test_partitioning_independence(spark):
    rows_l = [(f"l{i}", sq(i * B // 3, i * B // 4, B)) for i in range(12)]
    rows_r = [(f"r{i}", sq(i * B // 2, B, 2 * B)) for i in range(4)]
    base = _run(spark, rows_l, rows_r)
    left = make_polygons(spark, rows_l).repartition(7)
    right = make_polygons(spark, rows_r).repartition(3)
    out = polygon_intersects_join(left, right)
    assert {(r["left_id"], r["right_id"]): r["relation"]
            for r in out.collect()} == base
    assert base  # non-trivial


def test_plan_shape_no_nested_loops(spark):
    from osmpbf_spark.plans.audit import audit
    left = make_polygons(spark, [(f"l{i}", sq(i * B, 0, B))
                                 for i in range(6)])
    right = make_polygons(spark, [("r0", sq(0, 0, 3 * B))])
    out = polygon_intersects_join(left, right)
    a = audit(out, execute=True)
    assert "BroadcastNestedLoopJoin" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]
    assert a["broadcast_joins"] >= 2  # cell candidates + right rings
    assert a["row_at_a_time_python"] == 0 and a["python_evals"] == 0


def test_self_join_near_dup_areas(spark):
    rows = [("a", sq(0, 0, B)), ("b", sq(0, B // 2, B)),
            ("c", sq(10 * B, 10 * B, B))]
    polys = make_polygons(spark, rows)
    out = (polygon_intersects_join(polys, polys)
           .filter("left_id < right_id").collect())
    assert {(r["left_id"], r["right_id"]) for r in out} == {("a", "b")}


def test_null_vertex_raises(spark):
    good = make_polygons(spark, [("g", sq(0, 0, B))])
    bad = spark.createDataFrame(
        [("n", [{"lat_nano": 0, "lon_nano": 0},
                {"lat_nano": None, "lon_nano": B},
                {"lat_nano": B, "lon_nano": B},
                {"lat_nano": 0, "lon_nano": 0}])],
        "poly_id string, ring array<struct<lat_nano:bigint,"
        "lon_nano:bigint>>")
    # construction is LAZY (code-review r5: the old driver-side probe
    # full-scanned the unbounded left side before the join even ran);
    # the NULL gate now rides the bbox fold and fires executor-side
    out = polygon_intersects_join(bad, good)
    with pytest.raises(Exception, match="NULL vert"):
        out.collect()


def test_join_construction_never_scans_left(spark):
    """Building the join DataFrame must never scan the left side — it
    is unbounded by contract, so an eager probe would add a full extra
    pass over 100 TB before the real job (code-review r5; the right
    cover's tight="auto" probe on the broadcast-small side is the one
    deliberate construction-time action). The left side here detonates
    on ANY scan, so mere successful construction is the assertion."""
    from pyspark.sql import functions as F
    bomb = spark.range(1).select(
        F.lit("a").alias("poly_id"),
        F.expr("IF(id >= 0, raise_error('left side scanned eagerly'), "
               "array(struct(0L AS lat_nano, 0L AS lon_nano)))")
        .alias("ring"))
    right = make_polygons(spark, [("z", sq(0, 0, 2 * B))])
    polygon_intersects_join(bomb, right)  # must not raise


def test_antimeridian_exact_touch(spark):
    """Two polygons meeting the antimeridian EXACTLY at ±180° from
    opposite sides (neither strictly crossing) share the meridian
    segment on the sphere — OGC intersects. Code-review r5: the strict
    split threshold left them in disjoint plane frames and the pair
    was silently dropped."""
    h = B // 4
    west = make_polygons(  # max lon exactly +180e9
        spark, [("w", sq(0, 180 * B - h, h))])
    east = make_polygons(  # min lon exactly -180e9
        spark, [("e", sq(0, -180 * B + h, h))])
    out = polygon_intersects_join(west, east).collect()
    assert [(r["left_id"], r["right_id"], r["relation"]) for r in out] \
        == [("w", "e", "edges_cross")]
    # and the symmetric orientation
    out2 = polygon_intersects_join(east, west).collect()
    assert [(r["left_id"], r["right_id"], r["relation"]) for r in out2] \
        == [("e", "w", "edges_cross")]
    # disjoint control: shrink away from the meridian by one nano
    west2 = make_polygons(spark, [("w", sq(0, 180 * B - h - 1, h))])
    assert polygon_intersects_join(west2, east).count() == 0
