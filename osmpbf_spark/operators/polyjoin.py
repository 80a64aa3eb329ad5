"""Polygon ↔ polygon intersects join: cell-cover candidates + exact
integer refine.

The polygon-overlay member of the engine's spatial-join family (PIP,
grid kNN, bucketed interval/range, as-of, raster↔vector tile joins all
exist — this adds the canonical OGC-`intersects` join, e.g. buildings ×
admin areas, landuse × flood zones). No reference counterpart (the
reference joins elements by id only, /root/reference/src/indexed.rs:
264-330); same SURVEY.md §2.4 "engine supplies" contract as ``pip.py``.

Shape at scale (the PIP recipe, one side heavier):

1. **cover**: both sides expand to unclassified (poly_id, cell) covers
   (:func:`pip.polygon_cover`). The right side is broadcast-small by
   contract (admin/zone layers) and takes the ``tight="auto"`` cover;
   the left side is arbitrarily large and its cover is computed
   distributed with ``tight=False``: the scanline's edge explode and
   per-row groupBy cost more to build than the refine saves on the
   bbox cover's extra candidates.
2. **candidates**: left cover ⋈ broadcast(right cover) on cell →
   DISTINCT (left, right) id pairs. The only shuffle of the candidate
   stage carries bare id pairs, never ring payloads.
3. **refine**: rings join back per pair (left rings shuffle once on id;
   right rings ride a broadcast), a long-space bbox-overlap filter
   kills the cover's false candidates, then an EXACT integer decision:

   - boundary contact: any left edge × right edge segment intersection
     (orientation predicates in DECIMAL(38,0) — deltas < 2.2e12,
     products < 5e24, exact), including collinear overlap and
     endpoint touches; edges are ROWS, met by a lat-band equi-join;
   - containment without contact: if no boundaries touch, each ring is
     either wholly inside or wholly outside the other, so ONE vertex
     per side through the exact even-odd ray cast decides — its
     crossing parity a row aggregate over the banded edges
     (:func:`ray_cast_edge_sql`, the per-edge body of
     :func:`pip.point_in_ring_expr`).

   The whole refine is codegen'd SQL (:func:`_banded_refine`); no
   higher-order lambda touches the DECIMAL math.

   ``relation`` reports which case fired: ``edges_cross`` (boundaries
   share ≥1 point) > ``left_within_right`` > ``right_within_left``.

Determinism: integer nanodegree inputs + exact decimal predicates ⇒
bit-for-bit identical pairs at any parallelism (the join-output gate).

Antimeridian: both sides run :func:`pip.split_antimeridian`; the refine
evaluates every frame-consistent copy combination and ORs them (each
copy is the true geometry shifted by k·360°, so a hit in ANY shared
frame is a real intersection and no frame can fabricate one — copies
exist only for crossing rings, whose out-of-range lons are genuine
sphere positions in that frame).

Skew/size notes for 100 TB: candidate volume is bounded by cover cells
× polygons-per-cell, never |L|·|R|; a continent-sized right polygon at
a fine ``res`` explodes its own cover — pick ``res`` so the right
cover stays broadcast-small (default ``GRID_RES_COARSE`` ≈ 10 km
cells), exactly the H3 coarse-cover guidance. Hot cells split under
AQE; the groupBy de-duplicating multi-cell/multi-copy hits shuffles
only (id, id, ord) triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.grid import GRID_RES_COARSE, grid_xy_sql
from .pip import (
    edge_rows_sql,
    polygon_cover,
    ring_bounds_sql,
    ring_edges_sql,
    split_antimeridian,
)

__all__ = ["polygon_intersects_join", "segments_intersect_sql"]


def _orient(px, py, qx, qy, rx, ry) -> str:
    """Sign-carrying exact 2×2 cross product (r relative to directed
    segment p→q) in DECIMAL(38,0) — the same exact-integer contract as
    ``pip._RAY_CAST``."""
    return (f"(CAST({qx} - {px} AS DECIMAL(38,0)) * "
            f"CAST({ry} - {py} AS DECIMAL(38,0)) - "
            f"CAST({qy} - {py} AS DECIMAL(38,0)) * "
            f"CAST({rx} - {px} AS DECIMAL(38,0)))")


def _on_seg(sx1, sy1, sx2, sy2, px, py) -> str:
    """Given p collinear with segment s, is p within s's bbox (i.e. ON
    s)? Pure long comparisons."""
    return (f"(LEAST({sx1}, {sx2}) <= {px} AND {px} <= "
            f"GREATEST({sx1}, {sx2}) AND LEAST({sy1}, {sy2}) <= {py} "
            f"AND {py} <= GREATEST({sy1}, {sy2}))")


def segments_intersect_sql(a: str, b: str) -> str:
    """Exact closed-segment intersection predicate between edge structs
    ``a`` and ``b`` (fields x1,y1,x2,y2 — lon/lat nanodegrees as
    BIGINT). True iff the segments share at least one point: proper
    crossing (strict sign opposition of both orientation pairs), an
    endpoint on the other segment, or collinear overlap — the standard
    CLRS direction-based formulation, evaluated in exact DECIMAL(38,0).

    A cheap long-space bbox-overlap conjunct leads, so the DECIMAL
    orientation math only runs on edge pairs whose bounding boxes
    touch (AND short-circuits in both codegen and interpreted HOF
    evaluation)."""
    d1 = _orient(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                 f"{a}.x1", f"{a}.y1")
    d2 = _orient(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                 f"{a}.x2", f"{a}.y2")
    d3 = _orient(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                 f"{b}.x1", f"{b}.y1")
    d4 = _orient(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                 f"{b}.x2", f"{b}.y2")
    bbox = (f"GREATEST({a}.x1, {a}.x2) >= LEAST({b}.x1, {b}.x2) AND "
            f"LEAST({a}.x1, {a}.x2) <= GREATEST({b}.x1, {b}.x2) AND "
            f"GREATEST({a}.y1, {a}.y2) >= LEAST({b}.y1, {b}.y2) AND "
            f"LEAST({a}.y1, {a}.y2) <= GREATEST({b}.y1, {b}.y2)")
    proper = (f"((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0))"
              f" AND ((({d3}) > 0 AND ({d4}) < 0) OR "
              f"(({d3}) < 0 AND ({d4}) > 0))")
    touch = " OR ".join([
        f"(({d1}) = 0 AND "
        + _on_seg(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                  f"{a}.x1", f"{a}.y1") + ")",
        f"(({d2}) = 0 AND "
        + _on_seg(f"{b}.x1", f"{b}.y1", f"{b}.x2", f"{b}.y2",
                  f"{a}.x2", f"{a}.y2") + ")",
        f"(({d3}) = 0 AND "
        + _on_seg(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                  f"{b}.x1", f"{b}.y1") + ")",
        f"(({d4}) = 0 AND "
        + _on_seg(f"{a}.x1", f"{a}.y1", f"{a}.x2", f"{a}.y2",
                  f"{b}.x2", f"{b}.y2") + ")",
    ])
    return f"(({bbox}) AND (({proper}) OR {touch}))"


_REL_NAMES = {1: "edges_cross", 2: "left_within_right",
              3: "right_within_left"}


def _ring_side(polys: DataFrame, out_id: str, ring: str) -> DataFrame:
    """(out_id, <ring>, <ring>_bb, <ring>_ck, <ring>_p0x, <ring>_p0y) —
    split copies kept as separate rows; bbox computed once per copy,
    BEFORE the pair join. The fold is the shared
    :func:`pip.ring_bounds_sql` (fields min/max lat/lon), whose
    built-in gate raises loudly on NULL vertices executor-side — the
    unbounded left side gets the quarantine contract with no extra
    driver-side scan (code-review r5). ``_ck`` is the ring-content key
    (antimeridian copies of one poly_id must not pool in the banded
    refine's parity aggregates); ``_p0*`` the first vertex, the
    containment probe point."""
    return polys.select(F.col("poly_id").alias(out_id),
                        F.col("ring").alias(ring),
                        F.expr(ring_bounds_sql("ring", "poly_id"))
                        .alias(f"{ring}_bb"),
                        F.xxhash64("ring").alias(f"{ring}_ck"),
                        F.expr("element_at(ring, 1).lon_nano")
                        .alias(f"{ring}_p0x"),
                        F.expr("element_at(ring, 1).lat_nano")
                        .alias(f"{ring}_p0y"))


def ray_cast_edge_sql(px: str, py: str, e: str) -> str:
    """Does edge struct ``e`` (x1,y1,x2,y2) cross the horizontal ray
    from point (px, py)? The per-edge body of ``pip._RAY_CAST`` —
    identical half-open rule and exact DECIMAL(38,0) arithmetic — as a
    flat boolean over scalar struct fields, so the crossing PARITY can
    be a codegen'd row aggregate instead of an interpreted HOF fold."""
    return (f"((({e}.y1 > {py}) != ({e}.y2 > {py})) AND ("
            f"CASE WHEN {e}.y2 > {e}.y1 "
            f"THEN (CAST({px} - {e}.x1 AS DECIMAL(38,0)) * "
            f"CAST({e}.y2 - {e}.y1 AS DECIMAL(38,0))) < "
            f"(CAST({e}.x2 - {e}.x1 AS DECIMAL(38,0)) * "
            f"CAST({py} - {e}.y1 AS DECIMAL(38,0))) "
            f"ELSE (CAST({px} - {e}.x1 AS DECIMAL(38,0)) * "
            f"CAST({e}.y2 - {e}.y1 AS DECIMAL(38,0))) > "
            f"(CAST({e}.x2 - {e}.x1 AS DECIMAL(38,0)) * "
            f"CAST({py} - {e}.y1 AS DECIMAL(38,0))) END))")


def _banded_refine(cand: DataFrame, lr: DataFrame, rr: DataFrame,
                   res: int) -> DataFrame:
    """(left_id, right_id, ord) — the fully codegen'd refine
    (code-review r5): EDGES AS ROWS in a lat-band equi-join for
    boundary contact, and ray-cast PARITY AS A ROW AGGREGATE for
    containment. No higher-order lambda touches the DECIMAL math —
    a nested ``exists(l_edges, a -> exists(r_edges, b -> …))`` per
    pair would run INTERPRETED (higher-order lambdas sit outside
    whole-stage codegen) and quadratic per pair:

    - **combos** (``l_all``): candidate pairs join ring payloads once
      per copy combination, bbox-filtered.
    - **cross leg**: left edges explode to rows, each replicated into
      the grid cell rows its lat range spans (:func:`pip.edge_rows_sql`,
      the rows the PIP cover's band hits use); right edges
      band-explode on the broadcast-small side;
      a broadcast equi-join on (right_id, r_ck, band) meets only edges
      sharing a band and the exact segment predicate runs as flat
      codegen'd SQL. Work per pair drops from |lE|·|rE| to
      Σ_band |lE_b|·|rE_b| — near-linear for boundary-shaped rings.
    - **containment legs**: an edge crosses the probe point's
      horizontal ray only if it straddles the point's latitude, i.e.
      only edges in the point's lat band can count. l0-in-r joins the
      banded right edges at band == band(l0y) and aggregates
      :func:`ray_cast_edge_sql` hits to a parity per copy combo;
      r0-in-l needs NO join at all — the left edge-band rows already
      carry r0, so a filter band == band(r0y) + the same aggregate
      does it.

    Every stage is map-side until the bare-id DISTINCT / parity
    groupBys (which shuffle ids + one count only); ring payloads never
    shuffle. The left ring table feeds two consumers (edge explode +
    combo scalars), i.e. two pruned scans — the price of replacing the
    quadratic interpreted refine with linear codegen'd legs."""
    def ebands(edge):
        return "sequence({}, {})".format(*edge_rows_sql(edge, res))

    def pband(py):
        return F.expr(grid_xy_sql(py, "0", res)[1])

    r_meta = rr.select("right_id",
                       F.col("r_ring_ck").alias("r_ck"),
                       F.col("r_ring_bb").alias("r_bb"),
                       F.col("r_ring_p0x").alias("r0x"),
                       F.col("r_ring_p0y").alias("r0y"))
    r_e = (rr.select("right_id", F.col("r_ring_ck").alias("r_ck"),
                     F.explode(F.expr(ring_edges_sql("r_ring")))
                     .alias("b"))
           .select("right_id", "r_ck", "b",
                   F.explode(F.expr(ebands("b"))).alias("band")))
    l_all = (cand.join(lr, "left_id")
             .join(F.broadcast(r_meta), "right_id")
             .filter((F.col("l_ring_bb.max_lon") >= F.col("r_bb.min_lon"))
                     & (F.col("l_ring_bb.min_lon") <= F.col("r_bb.max_lon"))
                     & (F.col("l_ring_bb.max_lat") >= F.col("r_bb.min_lat"))
                     & (F.col("l_ring_bb.min_lat")
                        <= F.col("r_bb.max_lat"))))
    combo_keys = ["left_id", "right_id", "l_ck", "r_ck"]
    base = l_all.select(
        "left_id", "right_id", F.col("l_ring_ck").alias("l_ck"), "r_ck",
        F.col("l_ring_p0x").alias("l0x"), F.col("l_ring_p0y").alias("l0y"),
        "r0x", "r0y")
    l_e = (l_all.select(
        "left_id", "right_id", F.col("l_ring_ck").alias("l_ck"), "r_ck",
        "r0x", "r0y",
        F.explode(F.expr(ring_edges_sql("l_ring"))).alias("a"))
        .select("left_id", "right_id", "l_ck", "r_ck", "r0x", "r0y", "a",
                F.explode(F.expr(ebands("a"))).alias("band")))
    # no .distinct()/assembly joins on any leg: every leg emits bare
    # (id, id, ord) rows and the caller's single groupBy-min dedups
    # multi-edge hits, copy combos, and leg overlap in one shuffle of
    # ids (l0-inside beats r0-inside via min(2,3); mutual containment
    # of simple rings without boundary contact is impossible, so the
    # priority never misreports)
    cross = (l_e.join(F.broadcast(r_e), ["right_id", "r_ck", "band"])
             .filter(F.expr(segments_intersect_sql("a", "b")))
             .select("left_id", "right_id", F.lit(1).alias("ord")))
    in_l0 = (base
             .withColumn("band", pband("l0y"))
             .join(F.broadcast(r_e), ["right_id", "r_ck", "band"])
             .filter(F.expr(ray_cast_edge_sql("l0x", "l0y", "b")))
             .groupBy(*combo_keys)
             .agg((F.count("*") % 2 == 1).alias("odd"))
             .filter("odd")
             .select("left_id", "right_id", F.lit(2).alias("ord")))
    in_r0 = (l_e
             .filter(F.col("band") == pband("r0y"))
             .filter(F.expr(ray_cast_edge_sql("r0x", "r0y", "a")))
             .groupBy(*combo_keys)
             .agg((F.count("*") % 2 == 1).alias("odd"))
             .filter("odd")
             .select("left_id", "right_id", F.lit(3).alias("ord")))
    return cross.unionByName(in_l0).unionByName(in_r0)


def polygon_intersects_join(left: DataFrame, right: DataFrame, *,
                            res: int = GRID_RES_COARSE) -> DataFrame:
    """All (left_id, right_id, relation) pairs whose polygons intersect
    (share at least one point, boundary included — OGC `intersects`).

    ``left`` / ``right``: POLYGONS_DDL-shaped (poly_id, ring), ring
    closed (first == last vertex), lon unwrapped across ±180°. The
    RIGHT side must be broadcast-small (the zone/admin layer); the left
    side is unbounded. ``relation``: ``edges_cross`` when the
    boundaries share a point, else ``left_within_right`` /
    ``right_within_left`` for strict containment. For a self-join pass
    the same table twice and filter ``left_id < right_id``.

    Vertex-on-boundary and collinear-edge cases are exact (they land in
    ``edges_cross`` via the zero-orientation clauses of
    :func:`segments_intersect_sql`), so no half-open ambiguity ever
    reaches the ray cast: it only decides strict inside/outside.

    The refine is :func:`_banded_refine`: codegen'd and near-linear in
    edge count (the per-pair nested-``exists`` form it replaced was
    1.77× slower at 401-vertex zones and at parity with 4-edge zones,
    BENCH_NEWOPS.md)."""
    ls = split_antimeridian(left)
    rs = split_antimeridian(right)
    # left cover distributed and bbox (tight=False: the scanline costs
    # more to build than its fewer candidates save); right cover
    # broadcast.
    lc = polygon_cover(ls, res, tight=False) \
        .select(F.col("poly_id").alias("left_id"), "cell")
    rc = polygon_cover(rs, res) \
        .select(F.col("poly_id").alias("right_id"), "cell")
    cand = (lc.join(F.broadcast(rc), "cell")
            .select("left_id", "right_id").distinct())
    scored = _banded_refine(cand, _ring_side(ls, "left_id", "l_ring"),
                            _ring_side(rs, "right_id", "r_ring"), res)
    rel = F.create_map(*[x for k, v in _REL_NAMES.items()
                         for x in (F.lit(k), F.lit(v))])
    # multi-cell + antimeridian-copy + leg hits collapse here; the
    # shuffle carries only (id, id, ord)
    return (scored.groupBy("left_id", "right_id")
            .agg(F.min("ord").alias("ord"))
            .select("left_id", "right_id",
                    rel[F.col("ord")].alias("relation")))
