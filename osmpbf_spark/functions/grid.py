"""Hierarchical integer grid cells over nanodegree coordinates.

The engine's workhorse spatial index (the H3-res-8 analogue required by
BASELINE.json north_star; the ``h3`` library is not available in this
environment, so the cell scheme is a deterministic power-of-two grid with
the same roles: equi-join prefilter for PIP, ring expansion for kNN, skew
unit for salting). At ``res`` r the world is 2^r × 2^r cells
(360°/2^r wide, 180°/2^r tall); ``GRID_RES_FINE = 16`` gives ~0.0055°×
0.0027° cells (≈ 611 m × 305 m at the equator), comparable to H3 res 8
(~461 m edge). If the real ``h3`` package is importable, ``h3_res8`` uses
it; otherwise it falls back to this grid (documented, deterministic).

Everything here is **pure integer Catalyst arithmetic on int64
nanodegrees** — no UDF, no floats — so cell assignment is exact,
whole-stage-codegen'd, and bit-for-bit reproducible in any engine
(the DuckDB oracle renders the same expression via :func:`grid_cell_sql`).

cell_id layout (int64, arithmetic only — no bit ops needed):
    cell_id = res * 4^29  +  x * 2^29  +  y          (res ≤ 24, x,y < 2^24)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..session import local_relation

NANO_180 = 180_000_000_000
NANO_90 = 90_000_000_000
NANO_360 = 360_000_000_000
Y_SHIFT = 1 << 29
RES_SHIFT = Y_SHIFT * Y_SHIFT  # 4^29

GRID_RES_FINE = 16     # H3-res-8 analogue (PIP prefilter, kNN, salting)
GRID_RES_COARSE = 12   # S2-level-12-style coarse tiling / rollups
MAX_RES = 24           # (lon_nano+180e9) * 2^24 < 2^63 — overflow-safe


def _check_res(res: int):
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"grid res must be in [0, {MAX_RES}]")


def grid_xy_sql(lat_nano: str, lon_nano: str, res: int,
                dialect: str = "spark", *, wrap: bool = True
                ) -> tuple[str, str]:
    """Render the cell (x, y) computation as SQL text for ``spark`` or
    ``duckdb`` — the single source of truth for the arithmetic, so the
    engine and the correctness oracle share one definition.

    x = ((lon_nano + 180e9) * 2^res) div 360e9, wrapped mod 2^res
    y = ((lat_nano +  90e9) * 2^res) div 180e9, clamped to 2^res - 1

    ``wrap=False`` leaves x unwrapped (may be < 0 or ≥ 2^res) — used by
    ``polygon_cover`` on antimeridian-split rings whose unwrapped lons
    run past ±180°; callers clamp the resulting x-range themselves.
    """
    _check_res(res)
    div = "DIV" if dialect == "spark" else "//"
    n = 1 << res
    x = f"(((({lon_nano}) + {NANO_180}) * {n}) {div} {NANO_360})"
    if wrap:
        x = f"({x} % {n})"
    y = (f"LEAST(((({lat_nano}) + {NANO_90}) * {n}) {div} {NANO_360 // 2}, "
         f"{n - 1})")
    return x, y


def grid_cell_sql(lat_nano: str, lon_nano: str, res: int,
                  dialect: str = "spark") -> str:
    """Full cell_id expression as SQL text (see module doc for layout)."""
    x, y = grid_xy_sql(lat_nano, lon_nano, res, dialect)
    return f"(CAST({res} AS BIGINT) * {RES_SHIFT} + ({x}) * {Y_SHIFT} + ({y}))"


def grid_cell(lat_nano, lon_nano, res: int = GRID_RES_FINE) -> Column:
    """Cell id for a nanodegree point as a Catalyst column."""
    lat_s = lat_nano if isinstance(lat_nano, str) else None
    if lat_s is None:
        raise TypeError("pass column NAMES (strings) so the expression can "
                        "be rendered identically for the SQL oracle")
    return F.expr(grid_cell_sql(lat_nano, lon_nano, res, "spark"))


def cell_xy(cell: Column | str) -> tuple[Column, Column, Column]:
    """cell_id → (res, x, y) columns."""
    c = F.col(cell) if isinstance(cell, str) else cell
    res = (c / F.lit(RES_SHIFT)).cast("long")
    rem = c - res * F.lit(RES_SHIFT)
    x = (rem / F.lit(Y_SHIFT)).cast("long")
    y = rem - x * F.lit(Y_SHIFT)
    return res, x, y


def cell_parent(cell: Column | str, parent_res: int) -> Column:
    """Hierarchical rollup: the ancestor cell at a coarser resolution —
    pure arithmetic (children of a cell share a parent prefix)."""
    _check_res(parent_res)
    res, x, y = cell_xy(cell)
    shift = res - F.lit(parent_res)
    # 2^shift as a column: shift is data-dependent only via res, which is
    # constant per call site in practice
    factor = F.pow(F.lit(2.0), shift.cast("double")).cast("long")
    px = (x / factor).cast("long")
    py = (y / factor).cast("long")
    return (F.lit(parent_res).cast("long") * F.lit(RES_SHIFT)
            + px * F.lit(Y_SHIFT) + py)


def _offsets_df(spark, offs: list[tuple[int, int]]) -> DataFrame:
    """(dx, dy) rows as a LocalRelation (see
    :func:`osmpbf_spark.session.local_relation` for why — a list-backed
    relation re-runs a Python job per referencing action)."""
    return local_relation(spark, offs, "dx int, dy int")


def neighbor_offsets(spark, k: int, max_dx: int | None = None) -> DataFrame:
    """All (dx, dy) with Chebyshev distance ≤ k — the grid analogue of H3
    ``grid_disk`` (ring expansion for kNN, EDBT-2012 pattern, PAPERS.md).
    ``max_dx`` keeps only |dx| ≤ max_dx (kNN's x-pruned disk). Tiny
    driver-side relation intended for broadcast."""
    mx = k if max_dx is None else min(k, max_dx)
    offs = [(dx, dy) for dx in range(-mx, mx + 1) for dy in range(-k, k + 1)]
    return _offsets_df(spark, offs)


def ring_offsets(spark, k: int) -> DataFrame:
    """Only the ring at exactly Chebyshev distance k (grid_ring)."""
    offs = [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)
            if max(abs(dx), abs(dy)) == k]
    return _offsets_df(spark, offs)


def with_grid_cells(elements: DataFrame, *, res: int = GRID_RES_FINE,
                    lat_col: str = "lat_nano", lon_col: str = "lon_nano",
                    out_col: str = "cell") -> DataFrame:
    """Attach the fine cell id to node rows (NULL for non-point rows) —
    the engine's cell-index stage (north_star 'index every node ... into
    cells'). Exact integer math; survives any scale-out unchanged."""
    return elements.withColumn(
        out_col,
        F.when(F.col(lat_col).isNotNull(),
               grid_cell(lat_col, lon_col, res)))


def cell_counts(indexed: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Occupancy histogram per cell — the skew diagnostic that drives
    salting decisions for megacity cells (north_rule)."""
    return (indexed.filter(F.col(cell_col).isNotNull())
            .groupBy(cell_col).agg(F.count("*").alias("cnt")))


EARTH_RADIUS_M = 6371008.8     # IUGG mean Earth radius


def haversine_m_sql(lat1_nano: str, lon1_nano: str,
                    lat2_nano: str, lon2_nano: str,
                    dialect: str = "spark") -> str:
    """Great-circle distance in metres between two nanodegree points,
    rendered as SQL text for ``spark`` or ``duckdb`` — the single
    source of truth for the arithmetic, like :func:`grid_cell_sql`.

    Haversine: 2·R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))),
    R = 6371008.8 m. The rendered text is IDENTICAL in both dialects
    (RADIANS/SIN/COS/ASIN/SQRT are the same double ops in Spark SQL and
    DuckDB); squares are spelled as products, not POW, to keep one
    rounding per term. Callers that SUM distances must quantize each
    segment and route through DECIMAL (partition-order-independent per
    the repo invariant) — see ``operators.parity.way_geometry_stats``."""
    p1 = f"RADIANS(({lat1_nano}) / 1E9)"
    p2 = f"RADIANS(({lat2_nano}) / 1E9)"
    dp = f"(RADIANS((({lat2_nano}) - ({lat1_nano})) / 1E9) / 2)"
    dl = f"(RADIANS((({lon2_nano}) - ({lon1_nano})) / 1E9) / 2)"
    a = (f"(SIN({dp}) * SIN({dp}) + "
         f"COS({p1}) * COS({p2}) * SIN({dl}) * SIN({dl}))")
    return f"(2.0 * {EARTH_RADIUS_M} * ASIN(SQRT({a})))"


def salted_repartition(df: DataFrame, cell_col: str, salt_n: int,
                       key_cols: list[str] | None = None) -> DataFrame:
    """Salted repartition for skewed cells (north_rule: megacity skew).
    Adds a deterministic salt derived from stable row keys so output is
    reproducible, then repartitions on (cell, salt). MAP columns are
    excluded from the salt hash (Spark forbids hashing maps)."""
    from pyspark.sql import types as T
    if key_cols is None:
        key_cols = [f.name for f in df.schema.fields
                    if not isinstance(f.dataType, T.MapType)]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*key_cols), F.lit(salt_n)))
    return salted.repartition(F.col(cell_col), F.col("_salt")).drop("_salt")
