"""Query registry: every implemented operator as a (spark_fn, oracle_sql)
pair for the driver's correctness gate (__spark_entry__.py contract).

Each entry exercises real engine code (operators/functions modules) and —
where SQL-expressible — carries a DuckDB oracle built from the SAME
dual-rendered arithmetic (functions.text / functions.grid render one
definition to both dialects), so value hashes match bit-for-bit.

OSM-specific queries synthesize the golden fixtures in-process (they are
deterministic and tiny) and are checked against CONSTANT oracles — the
golden values of the reference test suite (/root/reference/tests/read.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.grid import GRID_RES_FINE, grid_cell_sql, with_grid_cells
from .functions.text import (
    bullet_line_frac_sql,
    char_ngrams_sql,
    ellipsis_line_frac_sql,
    langid_sql,
    mean_word_length_sql,
    poly_hash_sql,
    quality_score_sql,
    repetition_ratio_sql,
    shingles_sql,
    symbol_word_ratio_sql,
    tokens_sql,
    wide_hash_sql,
)
from .operators.dedup import exact_dups, minhash_lsh_pairs, simhash
from .operators.knn import cosine_topk, grid_knn
from .operators.parity import count_by_type, tag_eq, ways_and_deps
from .operators.pip import make_polygons, pip_join
from .session import local_relation
from .sources.documents import (
    fileblocks_to_rows,
    make_documents,
    read_elements,
)
from .sources.fixtures import fixture_fileblocks

P = 1_000_000_007

# Derived deterministic coordinates for the events table: a 1°×1° box in
# integer nanodegrees (int64-exact distances; the "city extract" testbed).
LAT_SQL = "(event_id * 2654435761) % 1000000000"
LON_SQL = "(event_id * 2246822519) % 1000000000"


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


def _events_xy(spark, sf_dir) -> DataFrame:
    return (_load(spark, sf_dir, "events")
            .withColumn("lat_nano", F.expr(LAT_SQL))
            .withColumn("lon_nano", F.expr(LON_SQL)))


def _golden_elements(spark, variant="zlib_dense") -> DataFrame:
    docs, media = make_documents(
        spark, *fileblocks_to_rows(variant, fixture_fileblocks(variant)))
    return read_elements(docs, media)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# name -> (spark_callable(spark, sf_dir) -> DataFrame, oracle_sql | None)

REGISTRY: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn
    return deco


# ---- A: aggregation / scan parity (SURVEY.md §2.5, §2.3) -------------------

@q("count_by_type", """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
""")
def q_count_by_type(spark, sf_dir):
    """A1/A2: the reference's flagship count workload
    (src/reader.rs:119-142) over the events table."""
    return (_load(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("cnt")))


# Double sums are partition-order-dependent; route through DECIMAL for an
# order-independent exact sum, then back to DOUBLE for a stable schema.
def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


def _dsum_fast(expr: str) -> str:
    """Spark-side rendering of the SAME exact sum as :func:`_dsum`
    (which stays the oracle text): the per-row HALF_UP decimal cast is
    kept, but its unscaled value rides a LONG sum — codegen'd primitive
    adds instead of boxed Decimal128 buffer adds (r6 guide §1.2 step 2;
    measured 0.70 → 0.45 s on pricing_summary's three sums at sf0.1).
    Exactness: CAST(x AS DECIMAL(18,4))·10⁴ is an integer; the long sum
    is the decimal sum's unscaled value (overflow headroom 2^63/10⁴ ≈
    9·10¹⁴ in value terms, orders above any SF here); dividing the
    DECIMAL(38,4)-widened sum by 10⁴ reproduces the exact decimal
    value, and decimal→double conversion is value-based, so the final
    double is bit-identical to _dsum's (verified equal on sf0.1)."""
    return (f"CAST(CAST(SUM(CAST(CAST({expr} AS DECIMAL(18,4)) * 10000 "
            f"AS BIGINT)) AS DECIMAL(38,4)) / 10000 AS DOUBLE)")


@q("pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')}      AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc,
       COUNT(*)                   AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """Partial+final aggregation shape (A2) on lineitem (TPC-H Q1 style)."""
    return (_load(spark, sf_dir, "lineitem")
            .filter(F.col("l_shipdate")
                    <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.expr(_dsum_fast("l_quantity")).alias("sum_qty"),
                 F.expr(_dsum_fast("l_extendedprice")).alias("sum_base"),
                 F.expr(_dsum_fast("l_extendedprice * (1 - l_discount)"))
                 .alias("sum_disc"),
                 F.count("*").alias("cnt")))


@q("zone_minmax", """
SELECT l_returnflag, MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
FROM lineitem GROUP BY l_returnflag
""")
def q_zone_minmax(spark, sf_dir):
    """A3: min/max id zone maps (src/indexed.rs:175-222)."""
    return (_load(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.min("l_orderkey").alias("min_key"),
                 F.max("l_orderkey").alias("max_key")))


DISTINCT_USERS_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS users
FROM events GROUP BY event_type
"""


def q_distinct_users(spark, sf_dir):
    """COUNT(DISTINCT) group agg. UNREGISTERED since round 5 (50-entry
    driver cap — the slot went to ``decontaminate_docs``): the distinct
    surface is already driver-covered by ``set_ops_users`` and
    ``dedup_exact``; kept green as an API + pytest surface
    (tests/test_more_ops.py::test_distinct_users)."""
    return (_load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("users")))


@q("snapshot_filter", """
SELECT COUNT(*) AS cnt FROM events WHERE event_type <> 'error'
""")
def q_snapshot_filter(spark, sf_dir):
    """P15 analogue: visibility/snapshot filter."""
    return (_load(spark, sf_dir, "events")
            .filter(F.col("event_type") != "error")
            .agg(F.count("*").alias("cnt")))


@q("json_tag_filter", """
SELECT event_type, COUNT(*) AS cnt
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 80
GROUP BY event_type
""")
def q_json_tag_filter(spark, sf_dir):
    """P11 analogue: tag-predicate filter on the props map."""
    return (_load(spark, sf_dir, "events")
            .filter(F.get_json_object("props", "$.k").cast("int") > 80)
            .groupBy("event_type").agg(F.count("*").alias("cnt")))


# ---- J: joins (SURVEY.md §2.4) --------------------------------------------

@q("ways_and_deps_tpch", """
SELECT l_returnflag, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""")
def q_ways_and_deps_tpch(spark, sf_dir):
    """J1: the two-pass filtered semi-join (src/indexed.rs:264-330) shape
    on TPC tables: filtered parents → semi-join children → aggregate."""
    orders = (_load(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_orderkey").alias("l_orderkey")))
    return (_load(spark, sf_dir, "lineitem")
            .join(F.broadcast(orders), "l_orderkey", "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("cnt"),
                 F.expr(_dsum_fast("l_quantity")).alias("sum_qty")))


REGION_ROLLUP_ORACLE = """
SELECT r.r_name AS region, COUNT(*) AS customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


def q_region_rollup(spark, sf_dir):
    """Broadcast-join chain over the small dimensions. UNREGISTERED
    since round 5 (50-entry driver cap — the slot went to
    ``lm_perplexity``): the broadcast-dimension join + grouped-agg
    surface stays driver-covered by ``region_rollup_cube`` (same join
    chain, richer grouping); kept green as a bench.py headline query
    and pytest surface (tests/test_more_ops.py)."""
    c = _load(spark, sf_dir, "customer")
    n = F.broadcast(_load(spark, sf_dir, "nation"))
    r = F.broadcast(_load(spark, sf_dir, "region"))
    return (c.join(n, c["c_nationkey"] == n["n_nationkey"])
            .join(r, n["n_regionkey"] == r["r_regionkey"])
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.count("*").alias("customers"),
                 F.expr(_dsum_fast("c_acctbal")).alias("total_bal")))


@q("topk_per_user", """
SELECT event_id, user_id, value, rn FROM (
  SELECT event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn <= 3
""")
def q_topk_per_user(spark, sf_dir):
    """Window top-k (§2.6 — absent in reference, Spark built-in)."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.col("event_id"))
    return (_load(spark, sf_dir, "events")
            .select("event_id", "user_id", "value",
                    F.row_number().over(w).cast("long").alias("rn"))
            .filter(F.col("rn") <= 3))


@q("event_time_windows", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, COUNT(*) AS cnt
FROM events GROUP BY 1
""")
def q_event_time_windows(spark, sf_dir):
    """Tumbling event-time window aggregation (batch form of the
    streaming windowed count; streaming variant in streaming/)."""
    return (_load(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("window_start"), "cnt"))


# ---- OSM golden queries (constant oracles = reference test values) ---------

@q("osm_count_by_type", """
SELECT 'node' AS element_type, 3 AS cnt UNION ALL
SELECT 'way', 1 UNION ALL SELECT 'relation', 1
""")
def q_osm_count_by_type(spark, sf_dir):
    """Decode pipeline end-to-end; golden counts tests/read.rs:269-292."""
    return count_by_type(_golden_elements(spark)) \
        .select("element_type", F.col("cnt").cast("int").alias("cnt"))


@q("osm_nano_exact", """
SELECT * FROM (VALUES
  (105, 52122403100, 11628401700, 521224031, 116284017),
  (106, 52119923500, 11625644600, 521199235, 116256446),
  (108, 52119899100, 11631019200, 521198991, 116310192))
 AS t(id, lat_nano, lon_nano, decimicro_lat, decimicro_lon)
""")
def q_osm_nano_exact(spark, sf_dir):
    """Nano-degree exactness contract; goldens tests/read.rs:112-126."""
    return (_golden_elements(spark)
            .filter("element_type = 'node'")
            .select(F.col("id").cast("int").alias("id"), "lat_nano",
                    "lon_nano", "decimicro_lat", "decimicro_lon"))


@q("osm_ways_and_deps", """
SELECT 1 AS n_ways, 3 AS n_dep_nodes
""")
def q_osm_ways_and_deps(spark, sf_dir):
    """J1 on real decoded elements; golden tests/read.rs:294-319
    (building filter → exactly 1 way + 3 nodes)."""
    el = _golden_elements(spark).cache()
    ways_f, nodes = ways_and_deps(el, tag_eq("building", "yes"))
    return (ways_f.agg(F.count("*").cast("int").alias("n_ways"))
            .join(nodes.agg(F.count("*").cast("int").alias("n_dep_nodes"))))


@q("osm_variant_consistency", """
SELECT 3 AS n_variants, 1 AS n_distinct_signatures
""")
def q_osm_variant_consistency(spark, sf_dir):
    """Logical result independent of physical encoding
    (tests/read.rs:206-222): one canonical signature across 3 encodings."""
    sigs = []
    for v in ("zlib_dense", "raw_dense", "raw_plain"):
        el = _golden_elements(spark, v)
        canon = (el.select(
            F.sha2(F.to_json(F.struct(
                "element_type", "id", "lat_nano", "lon_nano",
                F.expr("to_json(map_entries(tags))").alias("tags"),
                "refs", "members", "visible", "milli_timestamp")), 256)
            .alias("row_sig"))
            .agg(F.sha2(F.concat_ws("|", F.sort_array(
                F.collect_list("row_sig"))), 256).alias("sig"))
            .withColumn("variant", F.lit(v)))
        sigs.append(canon)
    u = sigs[0].unionByName(sigs[1]).unionByName(sigs[2])
    return u.agg(
        F.count("*").cast("int").alias("n_variants"),
        F.countDistinct("sig").cast("int").alias("n_distinct_signatures"))


@q("osm_history_visibility", """
SELECT 1 AS visible_nodes, 1 AS deleted_nodes
""")
def q_osm_history_visibility(spark, sf_dir):
    """P15 history semantics; golden tests/read.rs:321-340."""
    el = _golden_elements(spark, "history")
    return el.agg(
        F.sum(F.when(F.col("visible"), 1).otherwise(0))
        .cast("int").alias("visible_nodes"),
        F.sum(F.when(~F.col("visible"), 1).otherwise(0))
        .cast("int").alias("deleted_nodes"))


@q("osm_locations_on_ways", """
SELECT * FROM (VALUES
  (107, 0, 52122403100, 11628401700),
  (107, 1, 52119923500, 11625644600),
  (107, 2, 52119899100, 11631019200),
  (107, 3, 52122403100, 11628401700))
 AS t(way_id, seq, lat_nano, lon_nano)
""")
def q_osm_locations_on_ways(spark, sf_dir):
    """P9 LocationsOnWays; goldens tests/read.rs:342-420."""
    from .operators.parity import way_node_locations
    el = _golden_elements(spark, "loc_on_ways")
    return way_node_locations(el).select(
        F.col("way_id").cast("int").alias("way_id"),
        F.col("seq").cast("int").alias("seq"), "lat_nano", "lon_nano")


# ---- Spatial queries (grid / PIP / kNN / tiles) ----------------------------

def _grid_oracle(res):
    cell = grid_cell_sql(f"({LAT_SQL})", f"({LON_SQL})", res, "duckdb")
    return f"""
SELECT {cell} AS cell, COUNT(*) AS cnt FROM events GROUP BY 1
"""


@q("grid_cell_counts", _grid_oracle(GRID_RES_FINE))
def q_grid_cell_counts(spark, sf_dir):
    """Cell indexing + occupancy histogram (north_star cell assignment;
    skew diagnostic for salting)."""
    from .functions.grid import cell_counts
    ev = with_grid_cells(_events_xy(spark, sf_dir), res=GRID_RES_FINE)
    return cell_counts(ev)


@q("tile_rollup", _grid_oracle(12))
def q_tile_rollup(spark, sf_dir):
    """Coarse tiling rollup at res 12 (raster↔vector assignment grid)."""
    from .functions.grid import cell_counts
    ev = with_grid_cells(_events_xy(spark, sf_dir), res=12)
    return cell_counts(ev)


# Fixed convex test polygon (closed ring) inside the derived 1°×1° box,
# in nanodegrees. Simple diamond — exercised through the full
# cover+refine PIP operator on the Spark side; the DuckDB oracle is the
# same even-odd integer arithmetic expanded per edge.
_DIAMOND = [(500_000_000, 100_000_000), (900_000_000, 500_000_000),
            (500_000_000, 900_000_000), (100_000_000, 500_000_000),
            (500_000_000, 100_000_000)]


def _pip_oracle():
    terms = []
    for (y1, x1), (y2, x2) in zip(_DIAMOND, _DIAMOND[1:]):
        cmp_op = "<" if y2 > y1 else ">"
        terms.append(
            f"(CASE WHEN ({y1} > py) != ({y2} > py) AND "
            f"(px - {x1}) * ({y2} - {y1}) {cmp_op} "
            f"({x2} - {x1}) * (py - {y1}) THEN 1 ELSE 0 END)")
    s = " + ".join(terms)
    return f"""
WITH pts AS (SELECT event_id, {LAT_SQL} AS py, {LON_SQL} AS px FROM events)
SELECT event_id FROM pts WHERE ({s}) % 2 = 1
"""


@q("pip_diamond", _pip_oracle())
def q_pip_diamond(spark, sf_dir):
    """Point-in-polygon join: cell-cover prefilter + exact decimal
    ray-cast refine (operators/pip.py) — oracle is the same integer
    geometry expanded edge-by-edge in DuckDB."""
    ev = with_grid_cells(_events_xy(spark, sf_dir), res=GRID_RES_FINE)
    polys = make_polygons(spark, [("diamond", _DIAMOND)])
    return pip_join(ev, polys, res=GRID_RES_FINE).select("event_id")


_KNN_QUERIES = [(0, 250_000_000, 250_000_000), (1, 750_000_000, 750_000_000),
                (2, 100_000_000, 900_000_000), (3, 500_000_000, 500_000_000),
                (4, 999_000_000, 1_000_000)]


def _knn_oracle(k=5):
    vals = ", ".join(f"({q}, {la}, {lo})" for q, la, lo in _KNN_QUERIES)
    return f"""
WITH pts AS (SELECT event_id, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events),
qs(query_id, qlat, qlon) AS (VALUES {vals}),
scored AS (
  SELECT query_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           CAST(lat - qlat AS DOUBLE) * CAST(lat - qlat AS DOUBLE) +
           CAST(lon - qlon AS DOUBLE) * CAST(lon - qlon AS DOUBLE),
           event_id) AS rn
  FROM qs, pts)
SELECT CAST(query_id AS BIGINT) AS query_id, event_id, rn
FROM scored WHERE rn <= {k}
"""


@q("knn_events", _knn_oracle())
def q_knn_events(spark, sf_dir):
    """Grid kNN by cell-ring expansion (operators/knn.py) vs brute-force
    window oracle; both engines compute dist² with the identical
    double d·d formula (squares of ~1e18 exceed 2^53, so the FORMULA —
    not int64 exactness — is the determinism contract)."""
    res = 10
    pts = with_grid_cells(
        _events_xy(spark, sf_dir).select(
            F.col("event_id").alias("id"), "lat_nano", "lon_nano"),
        res=res)
    qdf = with_grid_cells(
        # LocalTableScan: the list-of-tuples form plans a Python-RDD
        # scan re-run on every grid_knn round/action (r6)
        local_relation(spark, _KNN_QUERIES,
                       "query_id long, lat_nano long, lon_nano long"),
        res=res)
    out = grid_knn(pts, qdf, 5, res=res)
    return out.select("query_id", F.col("id").alias("event_id"),
                      F.col("rn").cast("long").alias("rn"))


@q("sessionize", """
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
              event_id) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM e)
SELECT user_id, CAST(session_no + 1 AS BIGINT) AS session_no,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_no
""")
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via window lag +
    running sum — the batch form of session windows; identical SQL runs
    in both engines."""
    _load(spark, sf_dir, "events").createOrReplaceTempView("_ev")
    return spark.sql("""
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
              event_id) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM _ev),
s AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM e)
SELECT user_id, session_no + 1 AS session_no, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_no
""")


@q("region_rollup_cube", """
SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""")
def q_region_rollup_cube(spark, sf_dir):
    """Hierarchical ROLLUP (grouping sets — absent in the reference,
    Spark built-in per SURVEY §2.5)."""
    c = _load(spark, sf_dir, "customer")
    n = F.broadcast(_load(spark, sf_dir, "nation"))
    r = F.broadcast(_load(spark, sf_dir, "region"))
    return (c.join(n, c["c_nationkey"] == n["n_nationkey"])
            .join(r, n["n_regionkey"] == r["r_regionkey"])
            .select(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
            .rollup("region", "nation")
            .agg(F.count("*").alias("customers")))


@q("set_ops_users", """
SELECT user_id, date_trunc('hour', ts) AS hr
FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id, date_trunc('hour', ts)
FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, date_trunc('hour', ts)
FROM events WHERE event_type = 'error'
""")
def q_set_ops_users(spark, sf_dir):
    """Set operators (§2.6 — absent in reference, Spark built-ins):
    (user, hour) slots with clicks ∩ views ∖ errors."""
    ev = _load(spark, sf_dir, "events")

    def slot(t):
        return (ev.filter(F.col("event_type") == t)
                .select("user_id",
                        F.date_trunc("hour", "ts").alias("hr")))
    return slot("click").intersect(slot("view")).exceptAll(
        slot("error").distinct())


@q("value_percentiles", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90
FROM events GROUP BY event_type
""")
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` ≙ DuckDB
    quantile_cont), rounded for cross-engine float stability."""
    return (_load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90")))


@q("osm_way_centroid_tile", """
SELECT 107 AS way_id, 52121157200 AS c_lat_nano, 11628366800 AS c_lon_nano,
       2180 AS tile_x, 1350 AS tile_y
""")
def q_osm_way_centroid_tile(spark, sf_dir):
    """Raster↔vector assignment on real decoded geometry: way 107's
    LocationsOnWays centroid → z12 web-mercator tile. Constants verified
    against the published slippy formula (functions/tiles.py)."""
    from .functions.tiles import tile_xy
    from .operators.parity import way_node_locations
    el = _golden_elements(spark, "loc_on_ways")
    cent = (way_node_locations(el)
            .groupBy("way_id")
            .agg(F.expr("CAST(AVG(lat_nano) AS BIGINT)").alias("c_lat_nano"),
                 F.expr("CAST(AVG(lon_nano) AS BIGINT)").alias("c_lon_nano")))
    tx, ty = tile_xy(F.col("c_lat_nano") * 1e-9,
                     F.col("c_lon_nano") * 1e-9, 12)
    return cent.select(F.col("way_id").cast("int").alias("way_id"),
                       "c_lat_nano", "c_lon_nano",
                       tx.cast("int").alias("tile_x"),
                       ty.cast("int").alias("tile_y"))


# mercator y from one shared formula text (asinh spelled out as
# ln(x+sqrt(x²+1)) so both engines execute the identical double ops)
_MERC = ("floor((1.0 - ln(tan(radians(la)) + sqrt(tan(radians(la)) * "
         "tan(radians(la)) + 1.0)) / pi()) / 2.0 * 4096)")


@q("mercator_tiles", f"""
WITH pts AS (
  SELECT CAST(({LAT_SQL}) AS DOUBLE) * 1e-9 + 40.0 AS la,
         CAST(({LON_SQL}) AS DOUBLE) * 1e-9 + 5.0 AS lo
  FROM events)
SELECT CAST(floor((lo + 180.0) / 360.0 * 4096) AS BIGINT) AS tx,
       CAST({_MERC} AS BIGINT) AS ty, COUNT(*) AS cnt
FROM pts GROUP BY 1, 2
""")
def q_mercator_tiles(spark, sf_dir):
    """Web-mercator z12 raster tiling (functions/tiles.py math) — the
    raster half of raster↔vector assignment."""
    pts = (_events_xy(spark, sf_dir)
           .select((F.col("lat_nano").cast("double") * 1e-9 + 40.0)
                   .alias("la"),
                   (F.col("lon_nano").cast("double") * 1e-9 + 5.0)
                   .alias("lo")))
    return (pts.select(
        F.expr("CAST(floor((lo + 180.0) / 360.0 * 4096) AS BIGINT)")
        .alias("tx"),
        F.expr(f"CAST({_MERC} AS BIGINT)").alias("ty"))
        .groupBy("tx", "ty").agg(F.count("*").alias("cnt")))


def _s2_counts_oracle():
    from .functions.s2 import s2_oracle_sql_from
    pts = (f"(SELECT event_id AS pid, "
           f"CAST(({LAT_SQL}) AS DOUBLE) * 1e-9 + 40.0 AS plat, "
           f"CAST(({LON_SQL}) AS DOUBLE) * 1e-9 + 5.0 AS plon "
           f"FROM events)")
    inner = s2_oracle_sql_from(pts, level=12)
    return (f"SELECT s2_cell, COUNT(*) AS cnt FROM ({inner}) "
            f"GROUP BY s2_cell")


@q("s2_cell_counts", _s2_counts_oracle())
def q_s2_cell_counts(spark, sf_dir):
    """S2 level-12 cell occupancy via the vectorized pandas UDF
    (functions/s2.py), hash-checked against an independent SQL rendering
    of the published algorithm (recursive-CTE Hilbert walk,
    s2_oracle_sql_from)."""
    from .functions.s2 import with_s2_cells
    pts = (_events_xy(spark, sf_dir)
           .select((F.col("lat_nano").cast("double") * 1e-9 + 40.0)
                   .alias("lat"),
                   (F.col("lon_nano").cast("double") * 1e-9 + 5.0)
                   .alias("lon")))
    return (with_s2_cells(pts, level=12)
            .groupBy("s2_cell").agg(F.count("*").alias("cnt")))


_S2_GOLDEN_PTS = [
    (1, 0.5, 0.5), (2, 45.0, 45.0), (3, 52.5163, 13.3777),
    (4, 40.7128, -74.006), (5, -33.8688, 151.2093),
    (6, 35.6762, 139.6503), (7, -1.2921, 36.8219),
    (8, 78.2232, 15.6267), (9, -75.25, 0.125),
    (10, 0.25, 179.5), (11, 20.0, -100.0), (12, -45.0, -60.0),
    (13, 85.0, 170.0), (14, -85.0, -170.0), (15, 10.0, 95.0),
    (16, 60.0, -45.0),
]


def _s2_golden_oracle():
    from .functions.s2 import s2_oracle_sql
    return s2_oracle_sql(_S2_GOLDEN_PTS, level=12)


@q("s2_golden", _s2_golden_oracle())
def q_s2_golden(spark, sf_dir):
    """S2 golden vectors: 16 fixed points covering all 6 faces and both
    hemispheres, level-12 cell ids. The Spark side runs the numpy LUT
    path (functions/s2.py); the oracle runs a from-scratch recursive-CTE
    SQL implementation of the same published algorithm — two independent
    code paths must agree bit-for-bit. Level-0 face anchors are
    additionally pinned to the published bit-layout constants in
    tests/test_s2.py."""
    from .functions.s2 import with_s2_cells
    df = local_relation(spark, _S2_GOLDEN_PTS,
                        "pid long, lat double, lon double")
    return (with_s2_cells(df, level=12)
            .select("pid", "s2_cell"))


# ---- Dedup / text-analysis queries ----------------------------------------

@q("dedup_exact", """
SELECT md5(text) AS content_hash, COUNT(*) AS cnt,
       MIN(doc_id) AS keeper
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
""")
def q_dedup_exact(spark, sf_dir):
    return exact_dups(_load(spark, sf_dir, "documents"))


@q("doc_profile", f"""
SELECT doc_id,
       {poly_hash_sql('text', 'duckdb')} AS fingerprint,
       len({tokens_sql('text', 'duckdb')}) AS n_tokens,
       {quality_score_sql('text', 'duckdb')} AS quality,
       {langid_sql('text', 'duckdb')} AS lang_guess,
       {repetition_ratio_sql('text', 'duckdb')} AS rep_bigram,
       {mean_word_length_sql('text', 'duckdb')} AS mean_word_len,
       {symbol_word_ratio_sql('text', 'duckdb')} AS symbol_ratio,
       {bullet_line_frac_sql('text', 'duckdb')} AS bullet_frac,
       {ellipsis_line_frac_sql('text', 'duckdb')} AS ellipsis_frac
FROM documents
""")
def q_doc_profile(spark, sf_dir):
    """Fingerprint + token count + quality score + language ID +
    the Gopher-class gate signals (repeated-bigram fraction, mean word
    length, symbol-to-word ratio, bullet/ellipsis line fractions) in
    one narrow pass — all dual-rendered Catalyst built-ins; these are
    the columns ``jobs/curate_training_data_job.py`` gates on."""
    from .functions.text import doc_signals_vec
    # ONE vectorized Arrow pass for all 9 signals (r6 — bit-identical
    # to the dual-rendered SQL forms by construction, equivalence- and
    # oracle-hash-gated; the seven interpreted HOF signals were ~0.8 s
    # of this query's ~1.1 s at sf0.1, and the text column already
    # crossed the Python boundary once for the fingerprint)
    return (_load(spark, sf_dir, "documents")
            .select("doc_id", doc_signals_vec("text").alias("_sig"))
            .select("doc_id", "_sig.fingerprint", "_sig.n_tokens",
                    "_sig.quality", "_sig.lang_guess", "_sig.rep_bigram",
                    "_sig.mean_word_len", "_sig.symbol_ratio",
                    "_sig.bullet_frac", "_sig.ellipsis_frac"))


_DECON_N = 8          # n-gram size (13 is the GPT-3 default; 8 keeps the
#                       ~40-word synthetic docs collide-able)
_DECON_MIN_HITS = 2   # standard guard against single incidental collisions

_DECON_ORACLE = f"""
WITH corp AS (
  SELECT DISTINCT doc_id, u.s
  FROM documents,
  UNNEST({shingles_sql('text', _DECON_N, 'duckdb')}) AS u(s)),
corph AS (
  SELECT doc_id, {wide_hash_sql('s', 'duckdb')} AS h FROM corp),
evalh AS (
  SELECT DISTINCT h FROM corph WHERE doc_id % 37 = 0),
hits AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS eval_hits
  FROM corph c JOIN evalh e USING (h) GROUP BY 1)
SELECT d.doc_id,
       COALESCE(h.eval_hits, CAST(0 AS BIGINT)) AS eval_hits,
       COALESCE(h.eval_hits, CAST(0 AS BIGINT)) < {_DECON_MIN_HITS} AS kept
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@q("decontaminate_docs", _DECON_ORACLE)
def q_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination audit (operators/decontaminate.py —
    the GPT-3 appendix-C n-gram collision recipe): every document's
    count of distinct word 8-grams shared with a deterministic pseudo
    eval set (doc_id % 37 = 0) and whether it survives the
    ``min_hits=2`` gate. Eval n-gram hashes are tiny → broadcast; the
    corpus side is a row-local shingle/hash projection semi-joined
    map-side, so only hit rows reach the count shuffle and document
    payloads never move."""
    from .operators.decontaminate import contamination_profile
    docs = _load(spark, sf_dir, "documents")
    return contamination_profile(
        docs, docs.filter("doc_id % 37 = 0"),
        n=_DECON_N, min_hits=_DECON_MIN_HITS)


from .operators.lm import perplexity_oracle_sql  # noqa: E402


@q("lm_perplexity", perplexity_oracle_sql("lang = 'en'"))
def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm.py): a
    Laplace-smoothed bigram LM trained on the trusted slice (the
    ``lang = 'en'`` documents, standing in for CCNet's Wikipedia) and
    every document's perplexity under it. Per-term log-probs are
    quantized then DECIMAL-summed (partition-order-independent per the
    repo invariant); the pruned-LM path broadcasts the model so
    scoring is map-side — the corpus never shuffles."""
    from .operators.lm import perplexity, train_bigram_lm
    docs = _load(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs.filter("lang = 'en'"))
    return perplexity(docs, lm)


_MINHASH_K = 16
_MINHASH_BANDS = 8

_MINHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text', 'duckdb')} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, u.s FROM toks,
  UNNEST([array_to_string(list_slice(toks, i, i + 2), ' ')
          FOR i IN range(1, GREATEST(len(toks) - 2, 0) + 1)]) AS u(s)),
hs AS (
  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         [unicode(c) FOR c IN string_split_regex(s, '') IF c != '']),
         (acc, c) -> (acc * 31 + c) % {P}) AS h FROM sh),
sigs AS (
  SELECT doc_id, j,
         MIN(((((j + 1) * 104729 + 7) % {P}) * h
              + (((j + 1) * 7919 + 3) % {P})) % {P}) AS sig
  FROM hs, (SELECT range AS j FROM range({_MINHASH_K})) GROUP BY 1, 2),
bandv AS (
  SELECT doc_id, j // 2 AS band,
         SUM((sig * (CASE j % 2 WHEN 0 THEN 1 WHEN 1 THEN 31 END)) % {P})
           AS band_val
  FROM sigs GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandv a JOIN bandv b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
est AS (
  SELECT doc_a, doc_b,
         SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
           / CAST({_MINHASH_K} AS DOUBLE) AS est_jaccard
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b AND sb.j = sa.j
  GROUP BY 1, 2)
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


@q("minhash_lsh_pairs", _MINHASH_ORACLE)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs (operators/dedup.py) — full pipeline
    mirrored step-for-step by the DuckDB CTE oracle."""
    # max_bucket=None: the DuckDB oracle models NO cap, so the capped
    # default would silently diverge on a corpus big enough to overflow
    # a bucket (review r5) — the cap's behaviour is pytest-covered
    return minhash_lsh_pairs(_load(spark, sf_dir, "documents"),
                             k=_MINHASH_K, bands=_MINHASH_BANDS,
                             threshold=0.5, max_bucket=None)


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
SELECT node AS doc_id, MIN(label) AS cluster_id,
       (node = MIN(label)) AS is_keeper
FROM reach GROUP BY node
"""


@q("near_dup_clusters", _CLUSTERS_ORACLE)
def q_near_dup_clusters(spark, sf_dir):
    """Near-dup clusters = transitive closure of the MinHash-LSH pairs
    (operators/dedup.py connected_components) with a canonical keeper
    per cluster — the "keep one per cluster" step after pair generation.
    Oracle: a recursive CTE computes every label reachable from each
    node over the undirected pair edges; MIN over that reach set is
    exactly the component minimum the distributed min-label propagation
    converges to."""
    from .operators.dedup import near_dup_clusters
    return near_dup_clusters(_load(spark, sf_dir, "documents"),
                             k=_MINHASH_K, bands=_MINHASH_BANDS,
                             threshold=0.5, max_bucket=None)


_DEDUP_KEEP_ORACLE = f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
drop AS (
  SELECT node FROM reach GROUP BY node HAVING node <> MIN(label))
SELECT d.doc_id, LENGTH(d.text) AS text_len FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM drop)
"""


@q("dedup_keep_minhash", _DEDUP_KEEP_ORACLE)
def q_dedup_keep_minhash(spark, sf_dir):
    """The end-user near-dup dedup: documents SURVIVING transitive
    MinHash-LSH dedup (one keeper per cluster, uniques untouched) —
    dedup_documents(method="minhash"). Projected to (doc_id, text_len)
    so the hash gate pins membership without hashing full payloads."""
    from .operators.dedup import dedup_documents
    return (dedup_documents(_load(spark, sf_dir, "documents"),
                            method="minhash", k=_MINHASH_K,
                            bands=_MINHASH_BANDS, threshold=0.5,
                            max_bucket=None)
            .select("doc_id",
                    F.length("text").cast("long").alias("text_len")))


@q("events_asof_orders", """
WITH od AS (
  SELECT o_custkey, o_orderdate,
         MAX(o_orderkey) AS o_orderkey,
         MAX_BY(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, od.o_orderkey, od.o_totalprice
FROM events e ASOF JOIN od
  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
""")
def q_events_asof_orders(spark, sf_dir):
    """Point-in-time lookup: each event joined to the customer's most
    recent order at or before the event (operators/asof.py — union-tag
    + one window carry-forward, a single shuffle). The right side is
    pre-deduped to one row per (custkey, orderdate) with a MAX_BY tie
    rule in BOTH engines, because DuckDB's native ASOF JOIN (the
    oracle) picks an unspecified twin on timestamp ties."""
    from .operators.asof import asof_join
    ev = _load(spark, sf_dir, "events")
    od = (_load(spark, sf_dir, "orders")
          .groupBy("o_custkey", "o_orderdate")
          .agg(F.max("o_orderkey").alias("o_orderkey"),
               F.expr("max_by(o_totalprice, o_orderkey)")
               .alias("o_totalprice")))
    out = asof_join(ev, od, on=("user_id", "o_custkey"),
                    left_ts="ts", right_ts="o_orderdate")
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


@q("events_in_purchase_windows", """
SELECT p.event_id AS purchase_id, COUNT(*) AS n_events
FROM (SELECT event_id, date_trunc('second', ts) AS ts
      FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, date_trunc('second', ts) AS ts FROM events) e
  ON e.ts >= p.ts - INTERVAL 1 HOUR
 AND e.ts <= p.ts + INTERVAL 1 HOUR
GROUP BY 1
""")
def q_events_in_purchase_windows(spark, sf_dir):
    """Interval containment at scale: every event inside the ±1-hour
    window around each purchase, via the bucketed range join
    (operators/rangejoin.py) — equi-join on a bucket key instead of
    the BroadcastNestedLoopJoin a naive non-equi join plans.
    Timestamps go through epoch seconds on the Spark side only (a
    fixed offset cancels out of containment); the oracle is the plain
    BETWEEN join."""
    from .operators.rangejoin import range_join
    ev = _load(spark, sf_dir, "events")
    vals = ev.select(
        "event_id",
        F.expr("unix_seconds(CAST(ts AS TIMESTAMP))").alias("ts_s"))
    ivs = (ev.filter(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("purchase_id"),
                   F.expr("unix_seconds(CAST(ts AS TIMESTAMP)) - 3600")
                   .alias("lo"),
                   F.expr("unix_seconds(CAST(ts AS TIMESTAMP)) + 3600")
                   .alias("hi")))
    return (range_join(vals, ivs, value_col="ts_s", lo_col="lo",
                       hi_col="hi")
            .groupBy("purchase_id")
            .agg(F.count("*").alias("n_events")))


@q("vocab_topk", f"""
WITH t AS (
  SELECT u.tok FROM (
    SELECT {tokens_sql('text', 'duckdb')} AS ts FROM documents),
  UNNEST(ts) AS u(tok)),
c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
SELECT tok, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk
FROM c QUALIFY rnk <= 100 ORDER BY rnk
""")
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: global top-100 tokens by frequency — the
    vocabulary-building step of a tokenizer pipeline. explode → count
    (map-side partial aggregation shrinks the one shuffle to the
    distinct-token set) → rank with a deterministic (cnt, token)
    tie-break. 100 TB note: the global top-k never collects the full
    vocabulary anywhere — the window's single-partition sort sees only
    per-token counts, and a tighter bound is a per-partition top-k
    pre-prune; at this k the count table IS small."""
    docs = _load(spark, sf_dir, "documents")
    from pyspark.sql import Window
    counts = (docs.select(F.explode(F.expr(tokens_sql("text")))
                          .alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("cnt")))
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return (counts.withColumn(
        "rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 100))


_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, u.tok FROM (
    SELECT doc_id, {tokens_sql('text', 'duckdb')} AS t FROM documents),
  UNNEST(t) AS u(tok)),
hs AS (
  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         [unicode(c) FOR c IN string_split_regex(tok, '') IF c != '']),
         (acc, c) -> (acc * 31 + c) % {P}) AS h FROM toks),
votes AS (
  SELECT doc_id, b, SUM((h // CAST(power(2, b) AS BIGINT)) % 2) AS ones,
         COUNT(*) AS n
  FROM hs, (SELECT range AS b FROM range(32)) GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(CASE WHEN 2 * ones > n
                   THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY doc_id
"""


@q("simhash_signatures", _SIMHASH_ORACLE)
def q_simhash_signatures(spark, sf_dir):
    return simhash(_load(spark, sf_dir, "documents"))


@q("ngram_jaccard_adjacent", f"""
WITH g AS (
  SELECT doc_id, {char_ngrams_sql('text', 3, 'duckdb')} AS grams
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6)
         AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
""")
def q_ngram_jaccard_adjacent(spark, sf_dir):
    """Exact char-3-gram Jaccard on a deterministic pair sample
    (adjacent doc ids)."""
    from .operators.dedup import ngram_jaccard_pairs
    docs = _load(spark, sf_dir, "documents")
    cand = (docs.select(F.col("doc_id").alias("doc_a"))
            .join(docs.select(F.col("doc_id").alias("doc_b")),
                  F.col("doc_b") == F.col("doc_a") + 1))
    return ngram_jaccard_pairs(docs, cand, n=3)


def _multimodal_payloads():
    """Deterministic media assets, one per codec tier: P6 netpbm, 8-bit
    PNG, 16-bit Adam7-interlaced PNG, 2-bit-packed Adam7-interlaced
    PNG, baseline JPEG, progressive 4:2:0 JPEG, animated interlaced
    GIF, MJPEG-in-AVI video clip, 16-bit stereo PCM WAV, 24-bit mono
    PCM WAV, opaque blob."""
    import numpy as np

    from .operators.multimodal import (
        encode_gif,
        encode_jpeg,
        encode_netpbm,
        encode_png,
        encode_wav,
    )
    from .operators.video import encode_avi
    img = (np.arange(6 * 4 * 3, dtype=np.uint8) * 7 % 251).reshape(4, 6, 3)
    png = (np.arange(5 * 8 * 3, dtype=np.uint8) * 11 % 253).reshape(5, 8, 3)
    jpg = (np.arange(24 * 17 * 3, dtype=np.uint8) * 5 % 241).reshape(
        17, 24, 3)
    # PROGRESSIVE (SOF2) + 4:2:0: real decode since round 4 (VERDICT r3
    # #5) — spectral-selection / successive-approximation scans and the
    # non-interleaved subsampled-chroma geometry under the driver gate
    jp2 = (np.arange(31 * 19 * 3, dtype=np.uint8) * 13 % 239).reshape(
        19, 31, 3)
    # 16-bit + Adam7-interlaced PNG: REAL decode since round 4 (the
    # high byte of each big-endian sample, scattered pass geometry)
    png16 = ((np.arange(11 * 7 * 3, dtype=np.uint32) * 997 % 65521)
             .astype(np.uint16).reshape(7, 11, 3))
    # 2-bit packed + Adam7 interlaced: the LAST codec stand-in closed
    # in round 5 — per-pass packed strides, bit unpack, value scatter
    png2i = (np.arange(9 * 13, dtype=np.uint8) % 4).reshape(9, 13, 1)
    wave = ((np.arange(2000) % 50 < 25).astype(np.int16) * 8000 - 4000)
    samples = np.stack([wave, -wave], axis=1)
    # 24-bit PCM WAV: REAL decode since round 4 (top-16-bit reduction)
    wave24 = ((np.arange(1600) % 40 < 20).astype(np.int16) * 6000
              - 3000).reshape(-1, 1)
    # animated interlaced GIF: variable-width LZW decode, Adam-style
    # four-pass row order, frame compositing at an offset, summed
    # delays → duration_ms — round 5 (GIF is real, not a stand-in)
    gpal = (np.arange(10 * 3, dtype=np.uint8) * 23 % 211).reshape(10, 3)
    gif0 = gpal[np.arange(12 * 9, dtype=np.int64) * 7 % 10].reshape(
        9, 12, 3)
    gif1 = gpal[np.arange(5 * 4, dtype=np.int64) * 3 % 10].reshape(
        4, 5, 3)
    # MJPEG-in-AVI clip: RIFF container walk + selective per-frame JPEG
    # decode (features touch only the ≤4 sampled frames) — round 5
    vid = [gpal[(np.arange(18 * 12, dtype=np.int64) * (k + 2)) % 10]
           .reshape(12, 18, 3) for k in range(6)]
    return [("m://img", encode_netpbm(img)),
            ("m://gif", encode_gif([gif0, gif1], delays_cs=[12, 25],
                                   offsets=[(0, 0), (4, 3)],
                                   interlace=True)),
            ("m://vid", encode_avi(vid, fps=5)),
            ("m://png", encode_png(png)),
            ("m://p16", encode_png(png16, interlace=True)),
            ("m://p2i", encode_png(png2i, interlace=True, depth=2)),
            ("m://jpg", encode_jpeg(jpg)),
            ("m://jp2", encode_jpeg(jp2, subsample=True,
                                    progressive=True)),
            ("m://snd", encode_wav(samples, 8000)),
            ("m://s24", encode_wav(wave24, 16000, bits=24)),
            ("m://blob", b"\x01opaque")]


def _multimodal_oracle():
    import hashlib
    rows = []
    for ref, p in _multimodal_payloads():
        from .operators.multimodal import sniff_media_type
        t = sniff_media_type(p)
        if t == "image/png":
            w, h = {"m://p16": (11, 7), "m://p2i": (13, 9)}.get(ref, (8, 5))
            sr = ch = dur = None
        elif t == "image/jpeg":
            w, h = (31, 19) if ref == "m://jp2" else (24, 17)
            sr = ch = dur = None
        elif t == "image/gif":
            # two frames, delays 12 cs + 25 cs → 370 ms (gif_header
            # sums delays without any LZW decode)
            w, h, sr, ch, dur = 12, 9, None, None, 370
        elif t == "video/x-msvideo":
            # 6 frames at 5 fps (200 000 µs/frame) → 1200 ms, from the
            # avih main header alone
            w, h, sr, ch, dur = 18, 12, None, None, 1200
        elif t.startswith("image"):
            w, h, sr, ch, dur = 6, 4, None, None, None
        elif t == "audio/wav":
            w = h = None
            sr, ch, dur = ((16000, 1, 100) if ref == "m://s24"
                           else (8000, 2, 250))
        else:
            w = h = sr = ch = dur = None

        def lit(v, typ):
            return f"CAST({'NULL' if v is None else v} AS {typ})"
        rows.append(
            f"('{ref}', '{t}', {lit(w, 'INTEGER')}, {lit(h, 'INTEGER')}, "
            f"{lit(sr, 'INTEGER')}, {lit(ch, 'INTEGER')}, "
            f"{lit(dur, 'BIGINT')}, CAST({len(p)} AS BIGINT), "
            f"'{hashlib.sha256(p).hexdigest()}')")
    return ("SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(media_ref, "
            "media_type, width, height, sample_rate, n_channels, "
            "duration_ms, n_bytes, content_digest)")


@q("multimodal_golden", _multimodal_oracle())
def q_multimodal_golden(spark, sf_dir):
    """REAL multimodal decode (pure-numpy netpbm + PNG + JPEG + GIF +
    MJPEG-AVI + PCM WAV codecs, operators/multimodal.py + jpeg.py +
    video.py) through the full Spark mapInArrow path: typed metadata
    for four image formats, a video clip, an audio clip, and an opaque
    blob vs constant expected values (dimensions/sample-rate/duration
    verified by construction of the payloads)."""
    from .operators.multimodal import extract_media_metadata
    media = local_relation(
        spark, [(r, bytes(p)) for r, p in _multimodal_payloads()],
        "media_ref string, payload binary")
    return extract_media_metadata(media)


def _media_features_oracle():
    """Expected feature vectors computed LOCALLY with the same pure
    codec functions the workers run (same numpy, same machine) — puts
    the full decode→resize→feature pipeline (netpbm, PNG, baseline
    JPEG, WAV FFT, digest stand-in) under the driver's hash gate, not
    just the metadata pass. Quantization is ``FLOOR(v·1e6 + 0.5)`` on
    BOTH sides: pure IEEE double ops with no rounding-MODE ambiguity
    (ROUND half-up in Spark vs half-even elsewhere flips exact ties
    like 0.1328125 — histogram values are dyadic, so ties are common)."""
    import math

    from .operators.multimodal import (
        _audio_feature,
        _fake_feature,
        _image_feature,
        _video_feature,
        sniff_media_type,
    )
    rows = []
    for ref, p in _multimodal_payloads():
        t = sniff_media_type(p)
        if t.startswith("image/"):
            f, n = _image_feature(p, 8)
        elif t == "audio/wav":
            f, n = _audio_feature(p, 8)
        elif t == "video/x-msvideo":
            f, n = _video_feature(p, 8)
        else:
            f, n = _fake_feature(p, 8)
        for d, v in enumerate(f):
            rows.append(
                f"('{ref}', CAST({d} AS INTEGER), "
                f"CAST({math.floor(float(v) * 1e6 + 0.5)} AS BIGINT), "
                f"CAST({n} AS INTEGER))")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(media_ref, dim, q6, n_frames)")


@q("media_features_golden", _media_features_oracle())
def q_media_features_golden(spark, sf_dir):
    """REAL feature extraction through Spark mapInArrow — luminance
    histograms for four image codecs (netpbm/PNG/JPEG/GIF), sampled-
    frame mean histograms for MJPEG-AVI video (selective decode), FFT
    band energies for WAV, digest stand-in for the opaque blob — vs
    locally-computed constants (micro-unit quantization both sides).
    Output is ALL-SCALAR columns (media_ref, dim, q6, n_frames): the
    driver's pandas-based hasher cannot canonicalize array cells
    (CORRECTNESS_r03 `unhashable type: 'list'`), so the quantized
    vector is posexploded into one row per dimension."""
    from .operators.multimodal import extract_media_features
    media = local_relation(
        spark, [(r, bytes(p)) for r, p in _multimodal_payloads()],
        "media_ref string, payload binary")
    feats = (extract_media_features(media, dim=8)
             .select("media_ref",
                     F.expr("transform(feature, v -> CAST(FLOOR("
                            "CAST(v AS DOUBLE) * 1e6 + 0.5D) AS BIGINT))")
                     .alias("feature_q6"),
                     F.col("n_frames").cast("int").alias("n_frames")))
    return (feats.select("media_ref",
                         F.posexplode("feature_q6").alias("dim", "q6"),
                         "n_frames")
            .select("media_ref", F.col("dim").cast("int").alias("dim"),
                    "q6", "n_frames"))


def _duck_dist2(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
            f"(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
            f"FOR x IN list_zip({a}, {b})]), (acc, v) -> acc + v)")


def _duck_cos(a: str, b: str) -> str:
    def sq(v):
        return (f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"[CAST(v AS DOUBLE) * CAST(v AS DOUBLE) FOR v IN {v}]), "
                f"(acc, v) -> acc + v))")
    return (f"ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) "
            f"FOR x IN list_zip({a}, {b})]), (acc, v) -> acc + v) "
            f"/ ({sq(a)} * {sq(b)}), 4)")


@q("knn_cosine", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 3),
scored AS (
  SELECT query_id, e.vec_id,
         {_duck_cos('qv', 'e.embedding')} AS cs
  FROM q, embeddings e),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, rn FROM ranked WHERE rn <= 3
""")
def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (operators/knn.py); ranking
    on cosine rounded to 4 decimals for cross-engine float stability."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    scored = cosine_topk(emb, queries, 1000)  # rank all, re-rank rounded
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos_sim", 4)), F.col("vec_id"))
    return (scored.withColumn("rn2", F.row_number().over(w))
            .filter(F.col("rn2") <= 3)
            .select("query_id", "vec_id",
                    F.col("rn2").cast("long").alias("rn")))


@q("osm_incremental_update", """
SELECT * FROM (VALUES
  (105, 52122403100, 1),
  (106, 52119923600, 2))
 AS t(id, lat_nano, version)
""")
def q_osm_incremental_update(spark, sf_dir):
    """Replication-diff application (operators/updates.py): move node 106
    (v2) and tombstone node 108 (v2) over the golden base — last-writer-
    wins merge with delete semantics; constant oracle."""
    from .operators.updates import apply_updates
    from .pbf.encode import Info, Node, encode_blob, encode_primitive_block
    base = _golden_elements(spark).filter("element_type = 'node'")
    upd_nodes = [
        Node(id=106, lat_raw=521199236, lon_raw=116256446,
             info=Info(version=2, timestamp=2000, visible=True)),
        Node(id=108, lat_raw=521198991, lon_raw=116310192,
             info=Info(version=2, timestamp=2000, visible=False)),
    ]
    block = encode_primitive_block([upd_nodes], dense=True)
    rows = fileblocks_to_rows("upd", [("OSMData", encode_blob(block))])
    docs, media = make_documents(spark, *rows)
    upd = read_elements(docs, media)
    merged = apply_updates(base, upd)
    return merged.select(F.col("id").cast("int").alias("id"),
                         "lat_nano", "version")


def q_top_orders(spark, sf_dir):
    """Global sort + limit (§2.6 — absent in reference; Spark's TakeOrdered
    avoids a full sort). Deterministic via the orderkey tiebreak.

    UNREGISTERED since round 4: the grading driver checks at most 50
    registry entries and this surface is already covered by
    ``topk_per_user`` (window rank) — kept as an API + pytest surface
    (tests/test_more_ops.py::test_top_orders)."""
    return (_load(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .limit(10)
            .select("o_orderkey", "o_totalprice"))


TOP_ORDERS_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# per-process cache of staging dirs (src path → mkdtemp dir); see
# _stage_stream_source for why these are private mkdtemp dirs
_STREAM_STAGE_DIRS: dict = {}


def _stage_stream_source(spark, sf_dir, table="events"):
    """The file source needs a DIRECTORY; expose the single read-only
    parquet file through a symlink dir under /tmp → (dir, schema).

    Code-review r4: /tmp is world-shared and subject to cleaners — a
    stale or dangling symlink (source remounted, partial tmp cleanup)
    would make readStream list ZERO files and the availableNow query
    terminate "normally" with an empty result, failing the driver hash
    gate silently. Validate the link target and recreate atomically.

    ADVICE r4: the directory itself comes from tempfile.mkdtemp (mode
    0700, unpredictable name, cached per-process) — a fixed
    world-writable /tmp name could be pre-created or symlink-squatted
    by another local user on a shared host."""
    import os
    import tempfile

    schema = spark.read.parquet(_t(sf_dir, table)).schema
    src = os.path.abspath(_t(sf_dir, table))
    d = _STREAM_STAGE_DIRS.get(src)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="stream_src_")
        _STREAM_STAGE_DIRS[src] = d
    link = os.path.join(d, f"{table}.parquet")
    ok = (os.path.lexists(link) and os.path.islink(link)
          and os.readlink(link) == src and os.path.exists(link))
    if not ok:
        tmp = link + ".new"
        if os.path.lexists(tmp):
            os.unlink(tmp)
        os.symlink(src, tmp)
        os.replace(tmp, link)
    return d, schema


def _run_to_memory(out, prefix, output_mode="append"):
    """availableNow → memory sink → the sink table as a DataFrame."""
    import uuid

    name = prefix + "_" + uuid.uuid4().hex[:8]
    qh = (out.writeStream.format("memory").queryName(name)
          .outputMode(output_mode).trigger(availableNow=True).start())
    if not qh.awaitTermination(300):
        raise TimeoutError("streaming query did not finish within 300 s")
    return out.sparkSession.table(name)


@q("stream_windows", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, COUNT(*) AS cnt
FROM events GROUP BY 1, 2
""")
def q_stream_windows(spark, sf_dir):
    """REAL Structured Streaming run (readStream → watermarked tumbling
    windows → availableNow trigger → memory sink), checked against the
    batch SQL oracle — streaming results must equal the batch answer on
    bounded input."""
    from .streaming.ops import windowed_event_counts
    d, schema = _stage_stream_source(spark, sf_dir)
    stream = (spark.readStream.schema(schema).parquet(d)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    out = windowed_event_counts(stream, window="1 hour",
                                watermark="2 hours")
    return _run_to_memory(out, "stream_windows", output_mode="complete")


@q("stream_dedup_events", """
SELECT DISTINCT user_id, event_type FROM events
""")
def q_stream_dedup_events(spark, sf_dir):
    """Streaming exact dedup (streaming/ops.stream_dedup): a REAL
    readStream run deduplicating events on (user_id, event_type) with
    an availableNow trigger, checked against batch DISTINCT — the
    replay/backfill shape whose state is the distinct-key set. The
    bounded-memory unbounded-run variant (dropDuplicatesWithinWatermark
    + state eviction) is pinned by a dedicated streaming test instead:
    its re-emit-after-horizon semantics are deliberately NOT equal to
    global DISTINCT. Keys only in the output — which duplicate's
    payload survives is arrival-order-dependent, the key set is not."""
    from .streaming.ops import stream_dedup
    d, schema = _stage_stream_source(spark, sf_dir)
    stream = (spark.readStream.schema(schema).parquet(d)
              .select("user_id", "event_type"))
    out = stream_dedup(stream, ["user_id", "event_type"])
    return _run_to_memory(out, "stream_dedup")


@q("stream_sessionize_events", """
WITH ev AS (
  SELECT user_id, date_trunc('second', ts) AS ts, event_id FROM events),
e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
              event_id) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM ev),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sn
  FROM e),
g AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id, sn)
SELECT user_id, session_start, session_end, n_events
FROM g
WHERE session_end + INTERVAL 30 MINUTE
      < (SELECT MAX(ts) FROM ev) - INTERVAL 30 MINUTE
""")
def q_stream_sessionize_events(spark, sf_dir):
    """REAL stateful streaming run of gap sessionization
    (streaming/ops.stream_sessionize — applyInPandasWithState with
    watermark-gated full gap-merge, the hardest streaming operator;
    VERDICT r3 #6 put it under the driver gate): readStream over the
    events table → 30-min-gap sessions → availableNow → memory sink.

    The oracle is the BATCH gap-merge (lag + running-sum) restricted to
    sessions the stream can have finalized: after the last data batch
    Spark fires one more batch for event-time timers with the final
    watermark wm = max(ts) − 30 min (probed empirically: 945/946
    sessions at sf0.001, the one trailing session correctly held open),
    and a session emits iff session_end + gap < wm — i.e.
    session_end + 30 min < max(ts) − 30 min. Timestamps are truncated
    to seconds on BOTH sides (source has µs; the operator's state holds
    ms — truncation makes every comparison exact)."""
    from .streaming.ops import stream_sessionize
    d, schema = _stage_stream_source(spark, sf_dir)
    stream = (spark.readStream.schema(schema).parquet(d)
              .select("user_id",
                      F.date_trunc("second",
                                   F.col("ts").cast("timestamp"))
                      .alias("ts")))
    out = stream_sessionize(stream, gap_minutes=30)
    return _run_to_memory(out, "stream_sess")


@q("stream_pbf_decode", """
SELECT * FROM (VALUES
  ('node', CAST(105 AS BIGINT), 52122403100, 11628401700),
  ('node', CAST(106 AS BIGINT), 52119923500, 11625644600),
  ('node', CAST(108 AS BIGINT), 52119899100, 11631019200),
  ('way', CAST(107 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(NULL AS BIGINT)),
  ('relation', CAST(120 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(NULL AS BIGINT)))
 AS t(element_type, id, lat_nano, lon_nano)
""")
def q_stream_pbf_decode(spark, sf_dir):
    """REAL streaming run of the raw-PBF file source (streaming/ops.py
    stream_pbf_files): a framed *.osm.pbf landing in a watched directory
    is decoded live; output checked against the golden nano-exact
    constants (the reference's own fixture values,
    tests/read.rs:105-204)."""
    import os
    import uuid

    from .sources.fixtures import fixture_file_bytes
    from .streaming.ops import stream_pbf_files
    d = "/tmp/stream_pbf_src"
    os.makedirs(d, exist_ok=True)
    f = os.path.join(d, "planet.osm.pbf")
    # write unconditionally: a truncated leftover from a killed earlier
    # run would otherwise poison every later oracle run
    with open(f, "wb") as fh:
        fh.write(fixture_file_bytes("zlib_dense"))
    el = stream_pbf_files(spark, d).select(
        "element_type", "id", "lat_nano", "lon_nano")
    name = "stream_pbf_" + uuid.uuid4().hex[:8]
    qh = (el.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True).start())
    if not qh.awaitTermination(300):
        raise TimeoutError("streaming query did not finish within 300 s")
    return spark.table(name)


# deterministic hyperplanes for the embedding near-dup oracle (constants
# rendered into both engines)
_PLANES = [[(((i * 13 + jj * 7) % 11) - 5) / 5.0 for jj in range(64)]
           for i in range(4)]

# SemDeDup leg: cluster count / Lloyd iterations (small enough for the
# unrolled DuckDB CTE chain, ~125 vectors per cluster at the driver SF)
_SEMDEDUP_K, _SEMDEDUP_ITERS = 4, 3


def _duck_dot(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) "
            f"FOR x IN list_zip({a}, {b})]), (acc, v) -> acc + v)")


def _duck_plane_arr(p):
    return "[" + ",".join(f"CAST({v} AS DOUBLE)" for v in p) + "]"


def _duck_sig_terms() -> str:
    """The hyperplane signature of column ``embedding`` rendered for
    DuckDB — shared by the near-dup and LSH-top-k oracles (same frozen
    ``_PLANES`` the Spark side uses)."""
    return " + ".join(
        f"(CASE WHEN {_duck_dot('embedding', _duck_plane_arr(p))} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES))


def _emb_neardup_oracle(threshold=0.3):
    """Union-tagged embedding near-dup oracle: the hyperplane-LSH leg
    plus the SemDeDup leg (k-means clusters → within-cluster cosine,
    operators/semdedup.py). The k-means CTE chain is the SAME generator
    the ann_topk kmeans leg renders (``_kmeans_cent_ctes``), so trained
    centroids are bit-identical across engines; assignment mirrors
    operators/knn.ivf_assign (double-dist2 argmin, cid tie-break). Both
    legs filter on the RAW double cosine (identical left-to-right fold
    in both engines) and round to 6 places in the projection only."""
    sig_terms = _duck_sig_terms()
    norm = (f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[CAST(v AS DOUBLE) * CAST(v AS DOUBLE) FOR v IN embedding]), "
            f"(acc, v) -> acc + v))")
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, ({sig_terms}) AS sig, {norm} AS nrm
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_duck_dot('a.embedding', 'b.embedding')}
               / (a.nrm * b.nrm) AS cs
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id),
lshp AS (
  SELECT DISTINCT id_a, id_b, ROUND(cs, 6) AS cos_sim
  FROM pairs WHERE cs >= {threshold}),
{_kmeans_cent_ctes(_SEMDEDUP_K, _SEMDEDUP_ITERS,
                   prefix='sd', out='sdcent')},
sda AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {_duck_dist2('e.embedding', 'c.cvec')}, c.cid
         ) AS crank
  FROM embeddings e, sdcent c),
sdb AS (
  SELECT vec_id, embedding, cid, {norm} AS nrm
  FROM sda WHERE crank = 1),
sdp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_duck_dot('a.embedding', 'b.embedding')}
               / (a.nrm * b.nrm) AS cs
  FROM sdb a JOIN sdb b ON a.cid = b.cid AND a.vec_id < b.vec_id)
SELECT 'lsh' AS method, id_a, id_b, cos_sim FROM lshp
UNION ALL
SELECT 'semdedup' AS method, id_a, id_b, ROUND(cs, 6) AS cos_sim
FROM sdp WHERE cs >= {threshold}
"""


@q("embedding_neardup", None)
def q_embedding_neardup(spark, sf_dir):
    """Embedding near-duplicate pairs, union-tagged by method (the
    ann_topk convention):

    - 'lsh': hyperplane-LSH bucket join + exact cosine refine
      (operators/dedup.embedding_neardup_pairs), fixed ``_PLANES``;
    - 'semdedup': the SemDeDup recipe (Abbas et al. 2023,
      operators/semdedup.py) — deterministic k-means clusters
      (operators/knn.train_centroids, the ann_topk kmeans leg's
      trainer) then within-cluster pairwise cosine.

    Both mirrored step-for-step in DuckDB with the same fixed planes /
    unrolled Lloyd CTEs and left-to-right double math. Driver
    embeddings are random (max pair cosine ~0.47), so the
    demonstration threshold is 0.3; production near-dup uses ~0.95+."""
    from .operators.dedup import embedding_neardup_pairs
    from .operators.knn import train_centroids
    from .operators.semdedup import semdedup_pairs
    emb = _load(spark, sf_dir, "embeddings")
    lsh = (embedding_neardup_pairs(emb, _PLANES, threshold=0.3,
                                   max_bucket=None)
           .select(F.lit("lsh").alias("method"),
                   "id_a", "id_b", "cos_sim"))
    cent = train_centroids(emb, _SEMDEDUP_K, iters=_SEMDEDUP_ITERS)
    sd = (semdedup_pairs(emb, cent, threshold=0.3, max_cluster=None)
          .select(F.lit("semdedup").alias("method"),
                  "id_a", "id_b", "cos_sim"))
    return lsh.unionByName(sd)


def _media_golden_oracle():
    import hashlib

    from .sources.fixtures import fixture_fileblocks
    rows = []
    for blob_no, (bt, bb) in enumerate(fixture_fileblocks("zlib_dense")):
        rows.append(f"('planet#{blob_no}', '{bt}', {len(bb)}, "
                    f"'{hashlib.sha256(bb).hexdigest()}')")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(doc_id, blob_type, payload_len, payload_sha256)")


@q("media_golden", _media_golden_oracle())
def q_media_golden(spark, sf_dir):
    """Binary media-payload transport golden: payload bytes must survive
    createDataFrame → blob-metadata join → JVM byte-for-byte (length +
    sha256 vs hashlib-computed constants). Exercises the opaque-binary
    multimodal column path end-to-end (BASELINE.json input_hint:
    media spans reference binary payloads)."""
    from .sources.documents import blob_metadata, join_payloads
    docs, media = make_documents(
        spark, *fileblocks_to_rows("planet", fixture_fileblocks(
            "zlib_dense")))
    meta = blob_metadata(docs)
    return join_payloads(meta, media).select(
        "doc_id", "blob_type",
        F.length("payload").cast("int").alias("payload_len"),
        F.lower(F.sha2("payload", 256)).alias("payload_sha256"))


def _span_seq_oracle():
    rows = []
    doc_rows, _ = fileblocks_to_rows("planet", fixture_fileblocks(
        "zlib_dense"))
    for doc_id, spans in doc_rows:
        for seq, (kind, text, media_ref, off) in enumerate(spans):
            def lit(v):
                return ("CAST(NULL AS VARCHAR)" if v is None
                        else "'" + v.replace("'", "''") + "'")
            rows.append(f"('{doc_id}', {seq}, {lit(kind)}, {lit(text)}, "
                        f"{lit(media_ref)}, {off})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(doc_id, seq, kind, text, media_ref, off)")


@q("span_seq_golden", _span_seq_oracle())
def q_span_seq_golden(spark, sf_dir):
    """The graft's per-row invariant (BASELINE.json input_hint):
    span-sequence equality — (kind, text, media_ref, order) must survive
    the documents table round-trip exactly, position included
    (posexplode vs constant expected sequence)."""
    docs, _ = make_documents(
        spark, *fileblocks_to_rows("planet", fixture_fileblocks(
            "zlib_dense")))
    return (docs.select("doc_id", F.posexplode("spans"))
            .select("doc_id",
                    F.col("pos").cast("int").alias("seq"),
                    F.col("col.kind").alias("kind"),
                    F.col("col.text").alias("text"),
                    F.col("col.media_ref").alias("media_ref"),
                    F.col("col.offset").alias("off")))


def _ivf_serving_sql(q_where: str, *, nprobe: int = 2) -> str:
    """IVF serving body (assignment, probing, exact-cosine refine) —
    shared by the pinned-centroid and trained-centroid legs so both
    mirror operators/knn.ivf_topk from ONE rendering. Expects a ``cent``
    CTE with (cid, cvec) in scope."""
    return f"""qs AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE {q_where}),
ea AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {_duck_dist2('e.embedding', 'c.cvec')}, c.cid) AS crank
  FROM embeddings e, cent c),
eb AS (SELECT vec_id, cid FROM ea WHERE crank = 1),
qa AS (
  SELECT query_id, cid,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY {_duck_dist2('qs.qv', 'c.cvec')}, c.cid) AS crank
  FROM qs, cent c),
cand AS (
  SELECT qa.query_id, eb.vec_id,
         {_duck_cos('q2.qv', 'e.embedding')} AS cs
  FROM qa
  JOIN eb ON eb.cid = qa.cid
  JOIN qs q2 ON q2.query_id = qa.query_id
  JOIN embeddings e ON e.vec_id = eb.vec_id
  WHERE qa.crank <= {nprobe}),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, vec_id) AS rn
  FROM cand)
SELECT query_id, vec_id, rn FROM ranked WHERE rn <= 3"""


_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
{_ivf_serving_sql('vec_id >= 10 AND vec_id < 13')}
"""


def _duck_dec_dist2(a: str, b: str) -> str:
    """DECIMAL(28,18)-accumulated Σ(x−y)² — mirrors
    operators/knn._dec_dist2_arrays term-for-term (one double subtract +
    multiply per dim, decimal cast, exact fixed-scale fold with the
    same merge-cast)."""
    sq = ("CAST((CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
          "AS DECIMAL(28,18))")
    return (f"list_reduce(list_prepend(CAST(0 AS DECIMAL(28,18)), "
            f"[{sq} FOR x IN list_zip({a}, {b})]), "
            f"(acc, t) -> CAST(acc + t AS DECIMAL(28,18)))")


def _kmeans_cent_ctes(k: int, iters: int, *, prefix: str = "k",
                      vec: str = "embedding", out: str = "cent") -> str:
    """Unrolled Lloyd k-means CTE chain ending in ``{out}(cid, cvec)`` —
    mirrors operators/knn.train_centroids step-for-step: Knuth-hash
    ordered init, DECIMAL(38,18) assignment distance with cid
    tie-break, DECIMAL-sum/DOUBLE-divide per-dim means, empty clusters
    keep the previous centroid. ``prefix`` namespaces the CTE names and
    ``vec`` is the trained vector expression over ``embeddings`` — the
    PQ leg renders one chain per subspace slice from this same
    generator (defaults reproduce the kmeans-leg SQL byte-for-byte)."""
    from .operators.knn import (
        KMEANS_HASH_INMOD,
        KMEANS_HASH_MULT,
        KMEANS_HASH_OUTMOD,
    )
    im, mu, om = KMEANS_HASH_INMOD, KMEANS_HASH_MULT, KMEANS_HASH_OUTMOD
    p = prefix
    parts = [f"""{p}v AS (
  SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN {vec}] AS v
  FROM embeddings),
{p}init AS (
  SELECT vid, v,
         ROW_NUMBER() OVER (ORDER BY
           ((((vid % {im}) + {im}) % {im}) * {mu}) % {om}, vid) - 1 AS cid
  FROM {p}v QUALIFY cid < {k}),
{p}c0 AS (SELECT cid, v AS cvec FROM {p}init)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
{p}a{i} AS (
  SELECT vid, v, cid FROM (
    SELECT {p}v.vid, {p}v.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY {p}v.vid
             ORDER BY {_duck_dec_dist2(f'{p}v.v', 'c.cvec')}, c.cid) AS rn
    FROM {p}v, {p}c{i - 1} c) WHERE rn = 1),
{p}m{i} AS (
  SELECT cid, dim, CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE)
         / COUNT(*) AS m
  FROM (SELECT cid, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val
        FROM {p}a{i})
  GROUP BY cid, dim),
{p}c{i} AS (
  SELECT p.cid, COALESCE(mm.cvec, p.cvec) AS cvec
  FROM {p}c{i - 1} p LEFT JOIN (
    SELECT cid,
           [s['v'] FOR s IN
            list_sort(list(struct_pack(d := dim, v := m)))] AS cvec
    FROM {p}m{i} GROUP BY cid) mm ON mm.cid = p.cid)""")
    parts.append(f""",
{out} AS (SELECT cid, cvec FROM {p}c{iters})""")
    return "".join(parts)


_KMEANS_ORACLE = f"""
WITH {_kmeans_cent_ctes(4, 3)},
{_ivf_serving_sql('vec_id >= 20 AND vec_id < 23')}
"""

# late-bound oracle for the union-tagged embedding_neardup row: its
# semdedup leg renders the kmeans CTE chain, whose generator is defined
# just above (after the @q registration site)
REGISTRY["embedding_neardup"] = (REGISTRY["embedding_neardup"][0],
                                 _emb_neardup_oracle())


def _ann_ivf_leg(spark, sf_dir):
    """IVF ANN (coarse-quantizer buckets, operators/knn.py ivf_topk):
    deterministic centroids = the first 8 embedding vectors, nprobe=2,
    exact-cosine refine re-ranked on ROUND(cs,4) for cross-engine float
    stability — the full pipeline (assignment, probing, refine) is
    mirrored step-for-step by the DuckDB CTE oracle."""
    from .operators.knn import ivf_topk
    emb = _load(spark, sf_dir, "embeddings")
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    queries = (emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 13))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    scored = ivf_topk(emb, queries, 1_000_000, cent, nprobe=2)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos_sim", 4)), F.col("vec_id"))
    return (scored.withColumn("rn2", F.row_number().over(w))
            .filter(F.col("rn2") <= 3)
            .select("query_id", "vec_id",
                    F.col("rn2").cast("long").alias("rn")))


def _lsh_topk_oracle():
    # probe_masks(len(_PLANES), multiprobe=1) rendered as constants —
    # keep in lockstep with operators/knn.probe_masks
    from .operators.knn import probe_masks
    masks = ", ".join(f"({m})" for m in probe_masks(len(_PLANES), 1))
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, ({_duck_sig_terms()}) AS sig FROM embeddings),
qs AS (
  SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
  FROM sigs WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv, xor(qsig, m.mask) AS sig
  FROM qs, (VALUES {masks}) AS m(mask)),
cand AS (
  SELECT p.query_id, s.vec_id, {_duck_cos('p.qv', 's.embedding')} AS cs
  FROM probes p JOIN sigs s ON s.sig = p.sig),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, vec_id) AS rn
  FROM cand)
SELECT query_id, vec_id, rn FROM ranked WHERE rn <= 3
"""


def _ann_lsh_leg(spark, sf_dir):
    """LSH-bucketed approximate top-k (scale path of knn_cosine) with
    1-bit multi-probe. Approximate ≠ nondeterministic (VERDICT r2 #2):
    given the frozen ``_PLANES`` the whole pipeline — signature → XOR
    probe masks → bucket equi-join → cosine re-rank on ROUND(cs,4) with
    vec_id tie-break — is a pure function of the input, mirrored
    step-for-step by the DuckDB CTE oracle (same shape as the IVF leg).
    Recall vs the EXACT baseline is separately pinned in tests."""
    from .operators.knn import lsh_cosine_topk
    emb = _load(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    # k=∞ so no raw-float ordering ever filters rows; the only ranking
    # that matters is the rounded re-rank below (cross-engine stable)
    scored = lsh_cosine_topk(emb, queries, 1_000_000, _PLANES, multiprobe=1)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos_sim", 4)), F.col("vec_id"))
    return (scored.withColumn("rn2", F.row_number().over(w))
            .filter(F.col("rn2") <= 3)
            .select("query_id", "vec_id",
                    F.col("rn2").cast("long").alias("rn")))


def _ann_kmeans_leg(spark, sf_dir):
    """IVF serving over TRAINED centroids (operators/knn.train_centroids,
    k=4, 3 Lloyd iterations): the full train→assign→probe→refine
    pipeline is mirrored by the unrolled k-means CTE chain + shared IVF
    serving SQL. Training is deterministic by construction (Knuth-hash
    init, DECIMAL assignment distance, DECIMAL-routed means), so the
    trained centroids are bit-identical across engines and the serving
    comparison is exact."""
    from .operators.knn import ivf_topk, train_centroids
    emb = _load(spark, sf_dir, "embeddings")
    cent = train_centroids(emb, 4, iters=3)
    queries = (emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 23))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    scored = ivf_topk(emb, queries, 1_000_000, cent, nprobe=2)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos_sim", 4)), F.col("vec_id"))
    return (scored.withColumn("rn2", F.row_number().over(w))
            .filter(F.col("rn2") <= 3)
            .select("query_id", "vec_id",
                    F.col("rn2").cast("long").alias("rn")))


# PQ leg constants — embeddings are 64-dim; 4 subspaces of 16 dims, 4
# codes each, 2 Lloyd iterations (kept small so the unrolled per-subspace
# training CTEs stay tractable; queries = vec_id 30..32, disjoint from
# the other legs' query ranges)
_PQ_M, _PQ_KSUB, _PQ_ITERS, _PQ_DSUB = 4, 4, 2, 16


def _pq_oracle() -> str:
    """operators/pq.py mirrored step-for-step: one Lloyd CTE chain per
    subspace slice (same generator as the kmeans leg), argmin encoding
    with DECIMAL distance + cid tie-break, per-query ADC lookup table,
    exact-decimal SUM, rank ascending with vec_id tie-break."""
    chains = ",\n".join(
        _kmeans_cent_ctes(
            _PQ_KSUB, _PQ_ITERS, prefix=f"pq{s}",
            vec=(f"list_slice(embedding, {1 + s * _PQ_DSUB}, "
                 f"{(s + 1) * _PQ_DSUB})"),
            out=f"pq{s}cent")
        for s in range(_PQ_M))
    cb_union = "\n  UNION ALL ".join(
        f"SELECT {s} AS sub, cid, cvec FROM pq{s}cent"
        for s in range(_PQ_M))
    vals = ", ".join(f"({s})" for s in range(_PQ_M))
    return f"""
WITH {chains},
pqcb AS (
  {cb_union}),
pqsv AS (
  SELECT vec_id AS vid, s.sub,
         [CAST(x AS DOUBLE) FOR x IN
          list_slice(embedding, 1 + s.sub * {_PQ_DSUB},
                     {_PQ_DSUB} + s.sub * {_PQ_DSUB})] AS sv
  FROM embeddings, (VALUES {vals}) s(sub)),
pqcodes AS (
  SELECT vid, sub, cid AS code FROM (
    SELECT v.vid, v.sub, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vid, v.sub
             ORDER BY {_duck_dec_dist2('v.sv', 'c.cvec')}, c.cid) AS rn
    FROM pqsv v JOIN pqcb c ON c.sub = v.sub) WHERE rn = 1),
pqtab AS (
  SELECT v.vid AS query_id, v.sub, c.cid AS code,
         {_duck_dec_dist2('v.sv', 'c.cvec')} AS pdist
  FROM pqsv v JOIN pqcb c ON c.sub = v.sub
  WHERE v.vid >= 30 AND v.vid < 33),
pqad AS (
  SELECT t.query_id, c.vid AS vec_id, SUM(t.pdist) AS adist
  FROM pqcodes c JOIN pqtab t ON t.sub = c.sub AND t.code = c.code
  GROUP BY 1, 2),
pqranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist, vec_id) AS rn
  FROM pqad)
SELECT query_id, vec_id, rn FROM pqranked WHERE rn <= 3
"""


def _ann_pq_leg(spark, sf_dir):
    """Product-quantization ADC top-k (operators/pq.py): train 4
    per-subspace codebooks with the deterministic Lloyd trainer, encode
    the corpus to 4 codes/vector, rank by asymmetric distance. Every
    step is DECIMAL-routed with id tie-breaks, so the DuckDB mirror is
    exact with no rounding re-rank."""
    from .operators.pq import pq_adc_topk, pq_encode, train_pq_codebooks
    emb = _load(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, _PQ_M, _PQ_KSUB, iters=_PQ_ITERS)
    codes = pq_encode(emb, books)
    queries = (emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 33))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return (pq_adc_topk(codes, books, queries, 3)
            .select("query_id", "vec_id",
                    F.col("rn").cast("long").alias("rn")))


def _ann_topk_oracle():
    return f"""
WITH ivf AS ({_IVF_ORACLE}),
lsh AS ({_lsh_topk_oracle()}),
kme AS ({_KMEANS_ORACLE}),
pq AS ({_pq_oracle()})
SELECT 'ivf' AS method, query_id, vec_id, rn FROM ivf
UNION ALL
SELECT 'lsh' AS method, query_id, vec_id, rn FROM lsh
UNION ALL
SELECT 'kmeans' AS method, query_id, vec_id, rn FROM kme
UNION ALL
SELECT 'pq' AS method, query_id, vec_id, rn FROM pq
"""


@q("ann_topk", _ann_topk_oracle())
def q_ann_topk(spark, sf_dir):
    """ALL approximate-ANN scale paths in one driver row (VERDICT r3 #2:
    the driver checks at most 50 registry entries, so the former
    ``ann_ivf_topk`` + ``ann_lsh_topk`` queries are folded into a single
    union tagged by ``method``; round 4 adds the trained-centroid IVF
    leg, round 5 the product-quantization ADC leg). Each leg keeps its
    full step-for-step DuckDB CTE oracle; determinism arguments
    unchanged (frozen planes / pinned or deterministically-trained
    centroids, ROUND(cs,4) re-rank or exact-decimal ADC, vec_id
    tie-break)."""
    ivf = _ann_ivf_leg(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "query_id", "vec_id", "rn")
    lsh = _ann_lsh_leg(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id", "rn")
    kme = _ann_kmeans_leg(spark, sf_dir).select(
        F.lit("kmeans").alias("method"), "query_id", "vec_id", "rn")
    pq = _ann_pq_leg(spark, sf_dir).select(
        F.lit("pq").alias("method"), "query_id", "vec_id", "rn")
    return ivf.unionByName(lsh).unionByName(kme).unionByName(pq)


def all_queries():
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def all_oracles():
    return {name: sql.strip() for name, (_, sql) in REGISTRY.items()
            if sql is not None}
