"""Grid kNN via cell-ring expansion, plus embedding ANN (cosine top-k).

Spatial kNN (BASELINE.json north_star "grid-based kNN (cell-ring
expansion)"; EDBT-2012 parallel kNN-join pattern, PAPERS.md): query points
and data points share the integer grid index; candidates come from an
equi-join on neighbor cells (query cell ± disk offsets), distances rank
with a window, and the disk radius doubles only for queries whose k-th
neighbor is not yet *guaranteed* (the k-th distance must fit inside the
searched square). No reference counterpart — the reference has no window
or top-k operator at all (SURVEY.md §2.6).

Embedding ANN: brute-force cosine top-k as the exact baseline (broadcast
small query set, JVM-side float math via higher-order functions), and an
LSH-bucketed variant (random-hyperplane signatures) as the scale path.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.grid import (
    GRID_RES_FINE,
    NANO_360,
    RES_SHIFT,
    Y_SHIFT,
    neighbor_offsets,
)
from ..session import local_relation

# Round-shape rule (grid_knn). Every broadcast build is capped at
# _BCAST_ROWS rows: candidate-cell rows are 4 longs (~32 B + relation
# overhead), so 4M rows ≈ 150-250 MB built — under the 8 GB/512M-row
# broadcast caps and far cheaper than shuffling the point side.
_BCAST_ROWS = 4_000_000
# the reversed probe pays for its point-side fan-out only once the
# candidate-cell volume (open queries × offsets) is at least this big,
# and only while the fan-out itself stays at most _REV_MAX_OFFS×
_REV_MIN_ROWS = 500_000
_REV_MAX_OFFS = 35
# disks double up to _MAX_DISK; open queries left after it take the
# brute-force backstop. A tail of open queries whose candidate cells at
# the next-but-one disk stay under _TAIL_ROWS jumps straight there.
_MAX_DISK = 64
_TAIL_ROWS = 500_000


def _with_xy(df: DataFrame, cell_col: str) -> DataFrame:
    from ..functions.grid import cell_xy
    _, x, y = cell_xy(cell_col)
    return df.withColumn("_x", x).withColumn("_y", y)


def _start_disk(n: int, cells: int, k: int) -> int:
    """First disk radius, from ``n`` points in ``cells`` occupied cells.

    Picks d so the EXPECTED in-guard candidate count covers k with 2×
    safety: the guard circle's area in cell units is π·d²/2 for the 2:1
    cells, so d = ceil(sqrt(4k/(πλ))) with λ the mean occupancy of an
    occupied cell, capped to [1, 8]. At bench density a fixed disk 1
    left 45% of a 100k-query join open and bought a full extra round.
    The schedule never changes the result, only which rounds run."""
    if not n:
        return 1
    lam = n / max(cells, 1)
    return max(1, min(8, _MAX_DISK,
                      math.ceil(math.sqrt(4.0 * k / (math.pi * lam)))))


def _shifted_cells(df: DataFrame, offs: DataFrame, res: int, n: int,
                   keep: list) -> DataFrame:
    """``keep`` columns of ``df`` (which carries _x/_y) once per offset,
    with the offset cell as ``jcell``. y offsets outside [0, n) are
    dropped (no tiles beyond the poles); clamping instead would map
    several dy values to one cell and duplicate candidate rows, so one
    point would take several top-k ranks. x wraps (antimeridian)."""
    y = F.col("_y") + F.col("dy")
    return (df.join(offs).filter((y >= 0) & (y <= n - 1))
            .select(*keep, (F.lit(res).cast("long") * F.lit(RES_SHIFT)
                            + F.pmod(F.col("_x") + F.col("dx"), F.lit(n))
                            * F.lit(Y_SHIFT) + y).alias("jcell")))


def grid_knn(points: DataFrame, queries: DataFrame, k: int, *,
             res: int = GRID_RES_FINE, cell_col: str = "cell",
             id_col: str = "id", query_id_col: str = "query_id",
             broadcast_candidates: bool | None = None) -> DataFrame:
    """k nearest ``points`` for each query point.

    ``points``: (id, lat_nano, lon_nano, cell); ``queries``:
    (query_id, lat_nano, lon_nano, cell), cells at the same ``res``.
    ``query_id`` values must be unique and non-NULL (ValueError
    otherwise). ``broadcast_candidates`` is accepted for old callers
    and ignored: the join shape follows measured sizes.

    Returns (query_id, id, dist2, rn) with rn = 1..k per query, ordered by
    squared planar nanodegree distance (double; ties broken by id — the
    output row set is deterministic).

    One start-up action measures both inputs: point count and approximate
    occupied-cell count (the first disk, ``_start_disk``), query count and
    distinct query ids. A driver loop then doubles the Chebyshev disk
    radius; a query finishes when it has ≥ k candidates whose k-th
    distance is guaranteed correct: the circle of radius sqrt(dist2_k)
    must lie inside the searched square (dist_k < disk * cell_height).
    Each round joins the open queries to the points in their neighbor
    cells in one of three shapes, chosen from the open-query count and
    the offset count alone:

    * reversed — open × offsets ≥ ``_REV_MIN_ROWS``, offsets ≤
      ``_REV_MAX_OFFS`` and open ≤ ``_BCAST_ROWS``: broadcast the open
      queries keyed by their own cell and explode the points by the
      offsets;
    * broadcast — open × offsets ≤ ``_BCAST_ROWS``: broadcast the open
      queries exploded by the offsets, the points never shuffle;
    * shuffle — otherwise: shuffle-join the exploded queries with the
      points on cell (the only shape past the broadcast cap).

    Open queries left at ``_MAX_DISK`` fall back to a brute-force cross
    join (correctness backstop; hit only by pathological density gaps).
    The point side is scanned once by the start-up action and once per
    round, and never persisted here: callers whose point lineage is
    expensive must persist it. Each action runs under a Spark job
    description such as ``grid_knn r2 disk=4 bcast open=45305``; the
    caller's description is restored on return.
    """
    n = 1 << res
    cell_h = NANO_360 // 2 // n        # lat (y) cell height in nanodegrees
    q = _with_xy(queries, cell_col).select(
        F.col(query_id_col), "lat_nano", "lon_nano", "_x", "_y",
        F.col(cell_col).alias("q_cell"))
    pts = points.select(
        F.col(id_col), F.col("lat_nano").alias("p_lat"),
        F.col("lon_nano").alias("p_lon"), F.col(cell_col).alias("p_cell"))

    # d*d (not pow) so any engine replicating this gets bit-identical
    # doubles; integer diffs cast once then multiplied
    _dlat = (F.col("lat_nano") - F.col("p_lat")).cast("double")
    _dlon = (F.col("lon_nano") - F.col("p_lon")).cast("double")
    dist2 = _dlat * _dlat + _dlon * _dlon
    win = Window.partitionBy(query_id_col).orderBy("dist2", id_col)
    q_cols = [query_id_col, "lat_nano", "lon_nano"]

    spark = points.sparkSession
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")

    def _ckpt(df, *, eager):
        """Per-round materialization. localCheckpoint stores blocks in
        executor storage ONLY — losing an executor after the source
        lineage is truncated fails the job. On a real cluster set
        sparkContext.setCheckpointDir(...) and rounds persist reliably
        (HDFS/object store) instead; local mode keeps the cheap path.

        ``eager=False`` (local path only) defers materialization to the
        FIRST action over the frame — the round's passed-count job then
        materializes the blocks as a side effect, one job per round
        instead of two. A reliable ``checkpoint()`` re-runs the lineage
        after the triggering job, so the cluster path stays eager."""
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=eager)

    try:
        # ONE plain action over two independent 1-row aggregates (a
        # union, never a join: a join would run an aggregate inside a
        # BroadcastExchange build thread and race broadcastTimeout)
        sc.setJobDescription("grid_knn probe")
        stats = {r["side"]: r for r in pts.select(
            F.lit("p").alias("side"), F.count("*").alias("rows"),
            F.approx_count_distinct("p_cell").alias("keys"))
            .unionByName(q.select(
                F.lit("q").alias("side"), F.count("*").alias("rows"),
                F.count_distinct(query_id_col).alias("keys")))
            .collect()}
        remaining_n = stats["q"]["rows"]
        if stats["q"]["keys"] != remaining_n:
            raise ValueError(
                f"grid_knn: {query_id_col!r} must be unique and non-NULL "
                f"({remaining_n} queries, {stats['q']['keys']} distinct ids)")
        disk = _start_disk(stats["p"]["rows"], stats["p"]["keys"], k)
        remaining = q
        done_parts = []
        rnd = 0
        while disk <= _MAX_DISK:
            rnd += 1
            # x-pruned disk (exact): cells are 2:1 — a lon cell is
            # 2·cell_h wide — so a point in a cell at |dx| columns has
            # |plon−qlon| > (|dx|−1)·2·cell_h, and the strict
            # `dist2 < (disk·cell_h)²` guard already rejects everything
            # at |dx| ≥ disk/2 + 1. Conversely the guard circle reaches
            # at most ceil(disk/2) columns from the query's cell, so the
            # searched region still contains it and the completeness
            # guarantee is untouched. Cuts the fan-out ~40% at even disks.
            mdx = (disk // 2) + (disk % 2)
            n_offs = (2 * mdx + 1) * (2 * disk + 1)
            offs = F.broadcast(neighbor_offsets(spark, disk)
                               .filter(F.abs(F.col("dx")) <= mdx))
            # join strategy never changes the result — ranking is
            # deterministic on (dist2, id). The reversed probe keeps the
            # driver-built broadcast n_offs× smaller (the point fan-out
            # is map-side codegen on every core); pair-set identity needs
            # an offset set symmetric under negation, which the full
            # square and the |dx| ≤ mdx pruning both are.
            if (remaining_n * n_offs >= _REV_MIN_ROWS
                    and n_offs <= _REV_MAX_OFFS
                    and remaining_n <= _BCAST_ROWS):
                shape = "rev"
                left = _shifted_cells(_with_xy(pts, "p_cell"), offs, res, n,
                                      [id_col, "p_lat", "p_lon"])
                right = F.broadcast(remaining.select(
                    *q_cols, F.col("q_cell").alias("jcell")))
            else:
                shape = ("bcast" if remaining_n * n_offs <= _BCAST_ROWS
                         else "shuffle")
                cand = _shifted_cells(remaining, offs, res, n, q_cols)
                left = F.broadcast(cand) if shape == "bcast" else cand
                right = pts.withColumnRenamed("p_cell", "jcell")
            sc.setJobDescription(
                f"grid_knn r{rnd} disk={disk} {shape} open={remaining_n}")
            # guard pre-filter BEFORE the window: a candidate at dist ≥
            # disk*cell_h can never be in a PASSING query's top-k, and
            # failing queries retry at the next disk anyway — dropping it
            # map-side is result-identical and cuts ~⅔ of the window
            # shuffle+sort volume (circle/square area ratio). Cells are
            # 2:1, so cell_h is the binding, conservative bound; with
            # the strict guard the pass condition reduces to k in-guard
            # candidates — n_found, an unordered count over the SAME
            # window partitioning as the rank (no extra shuffle).
            guard = F.lit(float(disk * cell_h)) ** 2
            flagged = _ckpt(left.join(right, "jcell")
                            .withColumn("dist2", dist2)
                            .filter(F.col("dist2") < guard)
                            .withColumn("rn", F.row_number().over(win))
                            .filter(F.col("rn") <= k)
                            .withColumn("n_found", F.count("*").over(
                                Window.partitionBy(query_id_col)))
                            .select(query_id_col, F.col(id_col), "dist2",
                                    "rn", "n_found"),
                            eager=False)
            done_parts.append(flagged.filter(F.col("n_found") >= k)
                              .select(query_id_col, F.col(id_col), "dist2",
                                      "rn"))
            # a passing query has exactly k kept rows, so its rn = 1 row
            # is a unique marker. The count is a PLAIN aggregate (it
            # also materializes the round's blocks); every passed query
            # was open, so the subtraction is exact.
            passed = flagged.filter((F.col("n_found") >= k)
                                    & (F.col("rn") == 1))
            remaining_n -= passed.count()
            if remaining_n == 0:
                break
            # the next round may broadcast a frame derived from the open
            # set, so it is materialized eagerly here
            remaining = _ckpt(remaining.join(passed.select(query_id_col),
                                             query_id_col, "left_anti"),
                              eager=True)
            disk *= 2
            # tail-round collapse (schedule only): one straggler round
            # at a much larger disk is cheaper than 2-3 more doubling
            # rounds of fixed job overhead
            while (disk < _MAX_DISK
                   and remaining_n * (4 * disk + 1) ** 2 <= _TAIL_ROWS):
                disk *= 2
        else:
            # brute-force backstop for the stragglers
            done_parts.append(remaining.join(pts)
                              .withColumn("dist2", dist2)
                              .withColumn("rn", F.row_number().over(win))
                              .filter(F.col("rn") <= k)
                              .select(query_id_col, F.col(id_col), "dist2",
                                      "rn"))
    finally:
        sc.setJobDescription(caller_desc)
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _norm(a: str):
    return F.sqrt(F.expr(
        f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> "
        f"acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))


def _cosine_pandas():
    """Arrow-batched cosine UDF (VERDICT r2 #7 insurance): Catalyst
    evaluates higher-order ``aggregate`` lambdas INTERPRETED, so when
    candidate volume makes cosine the hot path this vectorized form
    wins (micro-bench in BENCH_COSINE.md). Bit-identical to the HOF
    fold by construction: the dim loop accumulates strictly left→right
    per element (vectorized across ROWS), matching the
    ``(acc, v) -> acc + v`` order — numpy ``dot``/``einsum`` would use
    pairwise summation and drift ulps, breaking oracle hash equality."""
    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np
        # NULL rows propagate NULL (NaN→null through Arrow), matching
        # the HOF form; present vectors must share one fixed dim —
        # embeddings tables do, and ragged input fails loud here where
        # the HOF would yield NULLs row-wise
        mask = a.notna() & b.notna()
        out = np.full(len(a), np.nan)
        if mask.any():
            A = np.array(a[mask].tolist(), dtype=np.float64)
            B = np.array(b[mask].tolist(), dtype=np.float64)
            if A.ndim != 2 or B.shape != A.shape:
                raise ValueError(
                    "cosine_score(use_pandas=True) needs equal "
                    "fixed-length vectors; ragged input detected")
            dot = np.zeros(len(A))
            na = np.zeros(len(A))
            nb = np.zeros(len(A))
            for j in range(A.shape[1]):
                dot += A[:, j] * B[:, j]
                na += A[:, j] * A[:, j]
                nb += B[:, j] * B[:, j]
            out[mask.to_numpy()] = dot / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)
    return cos


def cosine_score(a: str, b: str, *, use_pandas: bool = False):
    """Cosine similarity column for two array columns; ``use_pandas``
    selects the Arrow-batched form (same values bit-for-bit).

    A zero-norm vector yields NULL on BOTH paths (cosine is undefined):
    the JVM form routes the denominator through NULLIF, and the pandas
    form's 0/0 NaN becomes NULL through Arrow — without the NULLIF the
    JVM form would return NaN-as-a-value and the two paths would
    diverge exactly where the docstring promises equality. The same
    Arrow NaN→NULL coercion applies to vectors CONTAINING NaN elements
    (ADVICE r3), so the JVM form maps its NaN result to NULL too."""
    if use_pandas:
        return _cosine_pandas()(F.col(a), F.col(b))
    r = _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))
    # nanvl, not when(isnan(r),...).otherwise(r): projection collapse
    # re-inlines r into BOTH branches of the conditional, doubling the
    # interpreted HOF fold (code-review r4, verified in the plan) —
    # nanvl evaluates it once (NULL stays NULL, NaN → NULL)
    return F.nanvl(r, F.lit(None).cast("double"))


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
                vec_col: str = "embedding", id_col: str = "vec_id",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set,
    score JVM-side with zip_with/aggregate (no Python), window top-k.
    The baseline the LSH variant is validated against.

    Returns (query_id, vec_id, cos_sim, rn).
    """
    # norms hoisted to one per query / corpus ROW (bit-identical values
    # — same float sequence — but each joined pair pays one interpreted
    # HOF fold, the dot, instead of three; corpus rows fan out by
    # |queries|, so the hoist is ~3x off the scoring term)
    q = F.broadcast(queries.select(
        F.col(query_id_col), F.col(vec_col).alias("q_vec"))
        .withColumn("q_nrm", _norm("q_vec")))
    scored = (embeddings.select(F.col(id_col), F.col(vec_col).alias("e_vec"))
              .withColumn("e_nrm", _norm("e_vec"))
              .join(q)
              .withColumn("cos_sim",
                          _dot("q_vec", "e_vec")
                          / (F.col("q_nrm") * F.col("e_nrm"))))
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= k)
            .select(query_id_col, id_col, "cos_sim", "rn"))


def hyperplane_signature(df: DataFrame, planes: list[list[float]], *,
                         vec_col: str = "embedding",
                         out_col: str = "sig") -> DataFrame:
    """Random-hyperplane LSH signature (sign pattern of dot products with
    fixed planes, packed into a bigint). Planes are deterministic
    constants supplied by the caller — same planes ⇒ same buckets at any
    parallelism."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"CAST({x} AS DOUBLE)" for x in p) + ")"
        d = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> "
            f"CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
            f"(acc, v) -> acc + v)")
        sig = sig + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return df.withColumn(out_col, sig)


def _dist2_arrays(a: str, b: str):
    """Σ(x−y)² over two array columns, JVM-side, left-fold in index
    order (bit-replicable by any engine folding in the same order)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


# Knuth multiplicative-hash constants for the deterministic k-means init
# (public-domain constant 2654435761 = floor(2^32/phi)); the input id is
# first reduced mod 2^31 so the product stays inside int64 at any scale
KMEANS_HASH_MULT = 2654435761
KMEANS_HASH_INMOD = 2_147_483_648          # 2^31
KMEANS_HASH_OUTMOD = 4_294_967_296         # 2^32


def _dec_dist2_arrays(a: str, b: str):
    """Σ(x−y)² accumulated in DECIMAL(28,18), index-order fold.

    Used for k-means ASSIGNMENT during training where the argmin must be
    bit-identical across engines: each (x−y)² is one IEEE double op
    (identical everywhere), the decimal cast rounds to nearest (a double
    can never be an exact half-tie at scale 18 — the tail 5·10⁻¹⁹ is not
    dyadic — so HALF_UP vs half-even never diverges), and decimal
    addition at a FIXED scale 18 is exact, hence order-independent. The
    merge result is cast back to DECIMAL(28,18): Spark widens the add
    to (29,18) (and would REDUCE the scale at the 38-precision wall,
    silently rounding), so precision 28 keeps 10 digits of integer
    headroom while the cast only trims unused precision, never value."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(28,18))), "
        f"CAST(0 AS DECIMAL(28,18)), "
        f"(acc, t) -> CAST(acc + t AS DECIMAL(28,18)))")


def _centroid_df(spark, cents: list[list[float]]) -> DataFrame:
    """(cid, cvec) as a LocalTableScan — the list-of-tuples form plans a
    Python-RDD scan whose Python job re-runs on every action referencing
    the broadcast centroid table (one per Lloyd iteration, plus every
    serving-side probe). See :func:`osmpbf_spark.session.local_relation`."""
    return local_relation(
        spark, [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, cvec array<double>")


def train_centroids(vectors: DataFrame, k: int, *, iters: int = 4,
                    vec_col: str = "embedding", id_col: str = "vec_id"
                    ) -> DataFrame:
    """Distributed Lloyd k-means → (cid, cvec) coarse-quantizer centroids
    for :func:`ivf_topk` / ``write_ivf_store`` (VERDICT r3 #4: a real
    pipeline trains its centroids, it doesn't get them handed in).

    Deterministic BY CONSTRUCTION, independent of partitioning and
    cluster size:

    - init: the ``k`` vectors with smallest (Knuth-hash(id), id) — a
      pseudo-random spread with no RNG, so any engine picks the same
      seeds (no seeded ``takeSample``, whose result depends on the
      partitioning);
    - fixed ``iters`` iterations (no data-dependent stopping rule);
    - assignment distance accumulates in DECIMAL(28,18)
      (order-independent, see :func:`_dec_dist2_arrays`), ties break on
      cid;
    - per-dim means route the sum through DECIMAL then divide in DOUBLE
      (the repo-wide partition-order-independence rule for double aggs);
    - an emptied cluster keeps its previous centroid.

    Per iteration: ONE broadcast join (k·n rows, no shuffle of the
    vectors), one window argmin on the vector id, one explode+groupBy
    for the means, and a k·d collect of the new centroids (driver-side
    metadata, same class as probed-centroid ids). 100 TB note: train on
    a deterministic hash-sample of the table (filter
    ``pmod(hash(id), m) = 0`` upstream), not the full corpus — Lloyd
    on a bounded sample is the standard IVF recipe; serving-side
    assignment stays distributed and full-scale."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = vectors.sparkSession
    v = (vectors.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"))
        .persist())
    h = (F.pmod(F.col("vid").cast("long"), F.lit(KMEANS_HASH_INMOD))
         * F.lit(KMEANS_HASH_MULT)) % F.lit(KMEANS_HASH_OUTMOD)
    try:
        # ADVICE r4: the whole init + Lloyd loop sits in try/finally so
        # an analysis error or cancelled job mid-iteration cannot leak
        # the persisted vector frame
        init = (v.withColumn("h", h)
                .orderBy("h", "vid").limit(k)       # TakeOrdered, no sort
                .collect())
        if len(init) < k:
            raise ValueError(f"k={k} exceeds the {len(init)} input vectors")
        cents = [list(r["v"]) for r in
                 sorted(init, key=lambda r: (r["h"], r["vid"]))]
        dims = {len(c) for c in cents}
        if len(dims) != 1:
            raise ValueError(f"ragged embedding dims {sorted(dims)}")
        for _ in range(iters):
            cdf = F.broadcast(_centroid_df(spark, cents))
            # argmin via lexicographic struct MIN (same result as the
            # former row_number over orderBy(d2, cid) — cid is unique
            # so ties never reach v), partial-combined map-side: the
            # per-iteration exchange carries n rows, not n·k sorted
            # candidates (see ivf_assign)
            assign = (v.join(cdf)
                      .withColumn("d2", _dec_dist2_arrays("v", "cvec"))
                      .groupBy("vid")
                      .agg(F.min(F.struct("d2", "cid", "v")).alias("_m"))
                      .select(F.col("_m.cid").alias("cid"),
                              F.col("_m.v").alias("v")))
            means = (assign
                     .select("cid", F.posexplode("v").alias("dim", "val"))
                     .groupBy("cid", "dim")
                     .agg((F.sum(F.col("val").cast("decimal(38,18)"))
                           .cast("double") / F.count("*")).alias("m"))
                     .collect())
            by_cid: dict[int, dict[int, float]] = {}
            for r in means:
                by_cid.setdefault(r["cid"], {})[r["dim"]] = r["m"]
            cents = [[by_cid[i][d] for d in range(len(cents[i]))]
                     if i in by_cid else cents[i]
                     for i in range(k)]
    finally:
        v.unpersist()
    return _centroid_df(spark, cents)


def ivf_assign(vectors: DataFrame, centroids: DataFrame, nprobe: int = 1, *,
               vec_col: str = "embedding", id_col: str = "vec_id",
               keep_vec: bool = False) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids
    (id, cid, crank). Centroids (cid, cvec) are a small broadcast
    dimension — deterministic constants supplied by the caller (e.g. a
    fixed sample, or offline k-means output), so assignments are
    parallelism-independent. Ties break on cid.

    ``keep_vec`` (nprobe=1 only) also returns the vector column, riding
    the argmin struct — callers that would otherwise join the
    assignment back onto the vectors by id (one more n-row shuffle
    join) get (id, cid, crank, vec) in the same single aggregate."""
    c = F.broadcast(centroids.select(F.col("cid"),
                                     F.col("cvec")))
    scored = (vectors.select(F.col(id_col), F.col(vec_col).alias("_v"))
              .join(c)
              .withColumn("cdist2", _dist2_arrays("_v", "cvec")))
    if nprobe == 1:
        # argmin as a lexicographic struct MIN, not a window
        # row_number: identical result (min over (cdist2, cid) == the
        # window's first row over orderBy(cdist2, cid); cid is unique
        # so ties cannot reach deeper fields) but the aggregate
        # partial-combines MAP-SIDE — the broadcast join emits all k
        # candidate rows of a vector in one partition, so the exchange
        # moves n rows instead of sorting n·k (k=512 means 512x less
        # assignment shuffle; this is every big-side caller: semdedup
        # clustering, IVF build/append, ivf_topk's corpus leg)
        fields = ["cdist2", "cid"] + (["_v"] if keep_vec else [])
        out = (scored
               .groupBy(id_col)
               .agg(F.min(F.struct(*fields)).alias("_m"))
               .select(id_col, F.col("_m.cid").alias("cid"),
                       F.lit(1).alias("crank"),
                       *([F.col("_m._v").alias(vec_col)]
                         if keep_vec else [])))
        return out
    if keep_vec:
        raise ValueError("keep_vec requires nprobe=1")
    win = Window.partitionBy(id_col).orderBy("cdist2", "cid")
    return (scored
            .withColumn("crank", F.row_number().over(win))
            .filter(F.col("crank") <= nprobe)
            .select(id_col, "cid", "crank"))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int,
             centroids: DataFrame, *, nprobe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id") -> DataFrame:
    """IVF ANN (inverted-file, coarse-quantizer buckets): embeddings are
    assigned to their nearest centroid ONCE (at 100 TB this is the
    at-rest layout — the table bucketed/partitioned by cid, built
    offline); each query probes its ``nprobe`` nearest centroids'
    buckets only and refines by exact cosine. The other classic ANN
    scale path next to hyperplane LSH (:func:`lsh_cosine_topk`) — probe
    breadth trades recall for candidates scanned.

    Returns (query_id, vec_id, cos_sim, rn); fully deterministic given
    fixed centroids (assignment and ranking tie-break on ids)."""
    # keep_vec: the corpus vector rides the assignment argmin, so the
    # bucketed corpus needs no join back onto the embedding table
    e_bucketed = (ivf_assign(embeddings, centroids, 1, vec_col=vec_col,
                             id_col=id_col, keep_vec=True)
                  .select(F.col(id_col), F.col(vec_col).alias("e_vec"),
                          "cid")
                  .withColumn("e_nrm", _norm("e_vec")))
    q_assign = ivf_assign(queries, centroids, nprobe,
                          vec_col=vec_col, id_col=query_id_col)
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("q_vec"))
        .withColumn("q_nrm", _norm("q_vec"))
        .join(q_assign.select(query_id_col, "cid"), query_id_col))
    # per-row norms hoisted above the bucket join (bit-identical; one
    # HOF fold per candidate instead of three — see cosine_topk)
    cand = (e_bucketed.join(q, "cid")
            .withColumn("cos_sim",
                        _dot("q_vec", "e_vec")
                        / (F.col("q_nrm") * F.col("e_nrm"))))
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col(id_col))
    return (cand.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= k)
            .select(query_id_col, id_col, "cos_sim", "rn"))


def probe_masks(n_planes: int, multiprobe: int) -> list[int]:
    """XOR masks for multi-probe LSH: the exact bucket, every 1-bit flip,
    and (multiprobe ≥ 2) every 2-bit flip — the standard multi-probe
    recall lever (probe the neighboring buckets most likely to hold
    near-misses, instead of building more tables)."""
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << i for i in range(n_planes)]
    if multiprobe >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    return masks


def lsh_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int,
                    planes: list[list[float]], *,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    query_id_col: str = "query_id",
                    multiprobe: int = 1) -> DataFrame:
    """Bucketed ANN: candidates share a hyperplane-signature bucket with
    the query (equi-join on sig — at 100 TB this is the scale path: the
    embedding table is hash-partitioned by sig, queries probe matching
    buckets only). ``multiprobe`` flips up to that many signature bits on
    the QUERY side (the small side — the probe fan-out rides the
    broadcast, the big table still sees one equi-join), trading a
    constant-factor candidate increase for recall. Distinct masks give
    distinct probe values, so each (query, vector) pair appears at most
    once — no dedup needed. Recall < 1.0 by construction; validated
    against :func:`cosine_topk` (pinned threshold in tests)."""
    e_sig = hyperplane_signature(embeddings, planes, vec_col=vec_col)
    q_sig = hyperplane_signature(queries, planes, vec_col=vec_col)
    masks = probe_masks(len(planes), multiprobe)
    marr = "array(" + ",".join(f"{m}L" for m in masks) + ")"
    q = F.broadcast(
        q_sig.select(F.col(query_id_col), F.col(vec_col).alias("q_vec"),
                     F.explode(F.expr(marr)).alias("_mask"), "sig")
        .select(query_id_col, "q_vec",
                F.expr("sig ^ _mask").alias("sig"))
        .withColumn("q_nrm", _norm("q_vec")))
    # per-row norms hoisted above the bucket-probe join (bit-identical;
    # one HOF fold per candidate instead of three — see cosine_topk)
    cand = (e_sig.select(F.col(id_col), F.col(vec_col).alias("e_vec"), "sig")
            .withColumn("e_nrm", _norm("e_vec"))
            .join(q, "sig")
            .withColumn("cos_sim",
                        _dot("q_vec", "e_vec")
                        / (F.col("q_nrm") * F.col("e_nrm"))))
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col(id_col))
    return (cand.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= k)
            .select(query_id_col, id_col, "cos_sim", "rn"))


def exact_l2_rerank(candidates: DataFrame, vectors: DataFrame,
                    queries: DataFrame, k: int, *,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    query_id_col: str = "query_id") -> DataFrame:
    """Exact-L2 re-rank of a candidate shortlist → (query_id, vec_id,
    d2, rn), rn = 1..k by ascending Σ(q−v)² with id tie-break — the
    shared final stage of every shortlist-then-refine ANN path (PQ ADC
    re-rank, IVF-PQ store probes, recall benches). ``candidates`` needs
    only (query_id_col, id_col); raw vectors are fetched by a
    point-lookup equi-join on ``id_col`` (q·|shortlist| rows — orders
    below any corpus scan) and queries ride a broadcast."""
    fetched = (candidates.select(query_id_col, id_col)
               .join(vectors.select(F.col(id_col),
                                    F.col(vec_col).alias("e_vec")),
                     id_col))
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   F.col(vec_col).alias("q_vec")))
    scored = (fetched.join(q, query_id_col)
              .withColumn("d2", _dist2_arrays("q_vec", "e_vec")))
    win = Window.partitionBy(query_id_col).orderBy("d2", F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= k)
            .select(query_id_col, id_col, "d2", "rn"))
