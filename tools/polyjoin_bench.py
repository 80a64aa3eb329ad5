#!/usr/bin/env python
"""Polygon↔polygon intersects join bench: N building squares × M zone
squares with EXACT analytic expectations.

Synthesizes N small "building" rings on a G×G grid and M large "zone"
rings on a Z×Z grid over a 0..50° window. Both layers are axis-aligned
squares, so ground truth is pure interval arithmetic:

  intersects          ⇔ |bx−zx| ≤ hb+hz on both axes (touch counts),
  left_within_right   ⇔ |bx−zx| < hz−hb on both axes,
  edges_cross         ⇔ intersects and not strictly inside.

The run FAILS (not just times) unless the join's total pair count and
its per-relation counts equal the analytic values exactly.

Usage: python tools/polyjoin_bench.py [--buildings 1000000] [--zones 2500]
Scaling evidence: run twice under taskset with --cpus 4 / 16 (the
repo's pinned N→4N protocol, BENCH_SCALING.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from osmpbf_spark.operators.polyjoin import (  # noqa: E402
    polygon_intersects_join,
)
from osmpbf_spark.session import get_spark  # noqa: E402

B = 1_000_000_000
WINDOW = 50 * B  # 0..50° in both axes

RING = ("array(struct({y0} AS lat_nano, {x0} AS lon_nano), "
        "struct({y0} AS lat_nano, {x1} AS lon_nano), "
        "struct({y1} AS lat_nano, {x1} AS lon_nano), "
        "struct({y1} AS lat_nano, {x0} AS lon_nano), "
        "struct({y0} AS lat_nano, {x0} AS lon_nano))")


def _subdiv_ring(k: int) -> str:
    """Square ring with each side subdivided into ``k`` COLLINEAR
    segments (4k+1 vertices): geometrically identical to the plain
    square — the analytic expectations stay exact — while the refine
    sees realistic admin-polygon edge counts (code-review r5: the
    bench only ever measured 4-edge zones, so the edge×edge refine
    cost was never exercised at the sizes the operator claims)."""
    # corners in walk order, then interpolate each side k ways
    return (f"transform(sequence(0, {4 * k}), i -> struct("
            # side index s in 0..3, step t in 0..k-1 (i = s*k + t)
            f"CAST(element_at(array("
            # s=0: y0 → y0 (bottom, x0→x1); s=1: right, y0→y1;
            # s=2: top, x1→x0; s=3: left, y1→y0
            f"{{y0}}, "
            f"{{y0}} + ({{y1}} - {{y0}}) * ((i - {k}) / {k}), "
            f"{{y1}}, "
            f"{{y1}} - ({{y1}} - {{y0}}) * ((i - {3 * k}) / {k})), "
            f"CAST(LEAST(i DIV {k}, 3) + 1 AS INT)) AS BIGINT) AS lat_nano, "
            f"CAST(element_at(array("
            f"{{x0}} + ({{x1}} - {{x0}}) * (i / {k}), "
            f"{{x1}}, "
            f"{{x1}} - ({{x1}} - {{x0}}) * ((i - {2 * k}) / {k}), "
            f"{{x0}}), CAST(LEAST(i DIV {k}, 3) + 1 AS INT)) AS BIGINT) AS lon_nano))")


def _squares(spark, n_side: int, pitch: int, half: int, prefix: str,
             n_cap: int, verts: int = 5):
    """n_side² axis-aligned squares, centers on a pitch grid; ``verts``
    > 5 subdivides the sides collinearly (same geometry)."""
    df = (spark.range(min(n_side * n_side, n_cap)).select(
        F.concat(F.lit(prefix), F.col("id")).alias("poly_id"),
        ((F.col("id") % n_side) * pitch + pitch // 2).alias("cx"),
        ((F.col("id") / n_side).cast("long") * pitch + pitch // 2)
        .alias("cy")))
    k = max((verts - 1) // 4, 1)
    tmpl = RING if k == 1 else _subdiv_ring(k)
    ring = tmpl.format(x0=f"(cx - {half}L)", x1=f"(cx + {half}L)",
                       y0=f"(cy - {half}L)", y1=f"(cy + {half}L)")
    return df.select("poly_id", F.expr(ring).alias("ring"))


def _hits(n_b: int, bp: int, gz: int, zp: int, lim: int, closed: bool):
    """(gz, n_b) boolean: zone j within ``lim`` of building i on one
    axis (closed or open comparison)."""
    bi = np.arange(n_b, dtype=np.int64) * bp + bp // 2
    zj = (np.arange(gz, dtype=np.int64) * zp + zp // 2)[:, None]
    d = np.abs(bi[None, :] - zj)
    return d <= lim if closed else d < lim


def expected_counts(gb: int, bp: int, hb: int, gz: int, zp: int, hz: int,
                    n_buildings: int):
    """Exact (total, within) over the capped building set: buildings
    are the FIRST ``n_buildings`` ids of the gb×gb grid (full rows
    iy < n // gb plus a partial row of ``rem`` columns). Zones fill
    their full gz×gz grid. Axis-aligned squares ⇒ pair count =
    Σ_{zone (jx,jy)} xcnt(jx)·ycnt(jy), which factorizes per block."""
    full_rows, rem = n_buildings // gb, n_buildings % gb

    def _tot(lim, closed):
        hx = _hits(gb, bp, gz, zp, lim, closed)       # zones × building-x
        hy = _hits(gb, bp, gz, zp, lim, closed)       # zones × building-y
        full = int(hx.sum(axis=1).sum()) * \
            int(hy[:, :full_rows].sum())
        part = 0
        if rem:
            part = int(hx[:, :rem].sum()) * int(hy[:, full_rows].sum())
        return full + part

    total = _tot(hb + hz, True)
    within = _tot(hz - hb, False)
    return total, within


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--buildings", type=int, default=1_000_000)
    ap.add_argument("--zones", type=int, default=2_500)
    ap.add_argument("--zone-verts", type=int, default=5,
                    help="vertices per zone ring (collinear subdivision"
                         " — same geometry, realistic edge counts)")
    ap.add_argument("--building-verts", type=int, default=5)
    ap.add_argument("--res", type=int, default=12)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    gb = int(args.buildings ** 0.5 + 0.999999)
    gz = int(args.zones ** 0.5 + 0.999999)
    bp, zp = WINDOW // gb, WINDOW // gz
    hb = max(bp // 5, 1)          # building half-side
    # zone half-side ≈ 0.45·pitch, chosen so that zone (0,·)'s right
    # boundary z0 + hz lands EXACTLY on the building-center lattice
    # (m·bp + bp/2): those buildings touch the boundary (d == hz, in
    # the closed 'intersects' band but outside the open 'within' band)
    # so edges_cross rows exist by construction at every shape. The
    # previous snap ((zp·0.45 // bp)·bp + bp/2) implicitly assumed
    # zp ≡ 0 (mod bp) — true for the 1M×2.5k defaults only; any other
    # shape phase-shifted the boundaries off the center lattice and
    # could fail the exp_total > exp_within self-gate spuriously
    # (code-review r5). Solving z0 + hz = m·bp + bp/2 for hz instead
    # holds for arbitrary --buildings/--zones.
    z0 = zp // 2
    m = (int(zp * 0.45) + z0 - bp // 2) // bp
    hz = m * bp + bp // 2 - z0
    assert hz > hb, "zones must out-size buildings for 'within' rows"

    spark = get_spark("polyjoin-bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=max(args.cpus, 32))
    buildings = (_squares(spark, gb, bp, hb, "b", args.buildings,
                          verts=args.building_verts)
                 .repartition(max(args.cpus * 2, 32)).persist())
    n_b = buildings.count()
    # zones always fill their full gz×gz grid (the analytic count
    # assumes it); --zones is a target, the square below it is used
    zones = _squares(spark, gz, zp, hz, "z", gz * gz,
                     verts=args.zone_verts).persist()
    n_z = zones.count()

    exp_total, exp_within = expected_counts(gb, bp, hb, gz, zp, hz, n_b)

    t0 = time.time()
    out = (polygon_intersects_join(buildings, zones, res=args.res)
           .groupBy("relation").count().collect())
    wall = time.time() - t0
    got = {r["relation"]: r["count"] for r in out}
    total = sum(got.values())
    ok = (total == exp_total
          and got.get("left_within_right", 0) == exp_within
          and got.get("edges_cross", 0) == exp_total - exp_within
          and "right_within_left" not in got
          # the shape must exercise BOTH the containment ray cast and
          # the edge×edge refine, or the bench measures nothing
          and exp_within > 0 and exp_total > exp_within)
    print(json.dumps({
        "buildings": n_b, "zones": n_z, "cpus": args.cpus,
        "zone_verts": args.zone_verts,
        "res": args.res, "wall_sec": round(wall, 2),
        "pairs": total, "pairs_per_sec": round(total / wall),
        "buildings_per_sec": round(n_b / wall),
        "relations": got,
        "expected": {"total": exp_total, "within": exp_within},
        "correct": ok,
    }))
    if not ok:
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
