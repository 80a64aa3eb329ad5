"""Reference operator parity (SURVEY.md §2) as DataFrame functions.

Each function is the Spark-first re-expression of a reference operator and
cites it. All are pure DataFrame compositions — Catalyst plans partial
aggregation, broadcast/shuffle joins, and pruning; nothing here drops to
Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_by_type(elements: DataFrame) -> DataFrame:
    """Per-type element counts — the reference's flagship bench workload
    (par_map_reduce counter, /root/reference/src/reader.rs:119-142,
    examples/count.rs:15-23). Catalyst emits partial+final aggregation,
    exactly the per-blob-partial → tree-reduce shape of the reference."""
    return (elements.groupBy("element_type")
            .agg(F.count("*").alias("cnt")))


def tag_eq(key: str, value: str) -> Column:
    """tags().any(|kv| kv == (k, v)) (/root/reference/examples/indexed.rs:19-22)
    as a Catalyst expression — stays in whole-stage codegen."""
    return F.element_at("tags", key) == value


def ways_and_deps(elements: DataFrame, way_predicate: Column,
                  *, broadcast_ids: bool = True) -> tuple[DataFrame, DataFrame]:
    """The reference's two-pass filtered semi-join
    (IndexedReader::read_ways_and_deps, /root/reference/src/indexed.rs:264-330):

      pass 1: filter ways by predicate, collect referenced node ids
      pass 2: re-scan nodes, emit those whose id is in the set

    Spark-first: the BTreeSet becomes ``explode(refs).distinct()`` and pass 2
    becomes a LEFT SEMI join. With ``broadcast_ids`` the filtered id set is
    broadcast (the reference's in-memory set); at larger selectivity AQE
    picks a shuffle join and Parquet/Iceberg min-max stats give the
    reference's blob-range pruning (src/indexed.rs:89-106) for free.

    Returns (matching ways, referenced nodes).
    """
    ways_f = elements.filter(
        (F.col("element_type") == "way") & way_predicate)
    ids = ways_f.select(F.explode("refs").alias("id")).distinct()
    if broadcast_ids:
        ids = F.broadcast(ids)
    nodes = (elements.filter(F.col("element_type") == "node")
             .join(ids, "id", "left_semi"))
    return ways_f, nodes


def element_id_ranges(elements: DataFrame) -> DataFrame:
    """Per-blob min/max id zone maps (update_element_id_ranges,
    /root/reference/src/indexed.rs:175-222). On an elements table written
    sorted by (element_type, id) this information is already in
    Parquet/Iceberg column stats; this materializes it as a DataFrame."""
    return (elements.groupBy("blob_no", "element_type")
            .agg(F.min("id").alias("min_id"), F.max("id").alias("max_id")))


def range_included(ranges: DataFrame, ids: DataFrame) -> DataFrame:
    """Which blobs can contain any of ``ids``? — the pruning predicate
    (range_included, /root/reference/src/indexed.rs:26-28) as a range join;
    at scale this is exactly what data-skipping stats evaluate."""
    return (ranges.join(
        ids, (ids["id"] >= ranges["min_id"]) & (ids["id"] <= ranges["max_id"]),
        "left_semi"))


def way_node_locations(elements: DataFrame) -> DataFrame:
    """Flatten LocationsOnWays into (way_id, seq, lat_nano, lon_nano)
    (WayNodeLocationsIter, /root/reference/src/elements.rs:392-423)."""
    return (elements.filter(F.col("element_type") == "way")
            .select(F.col("id").alias("way_id"),
                    F.posexplode("ref_locations").alias("seq", "loc"))
            .select("way_id", "seq",
                    F.col("loc.lat_nano").alias("lat_nano"),
                    F.col("loc.lon_nano").alias("lon_nano")))


def resolve_way_geometries(elements: DataFrame,
                           *, broadcast_nodes: bool = False) -> DataFrame:
    """Way → ordered node coordinates via join (the resolution the reference
    documents as "may involve iterating over the whole file",
    /root/reference/README.md:105-109 — here a single shuffle equi-join).

    Returns (way_id, seq, ref, lat_nano, lon_nano). Prefers in-file
    LocationsOnWays when present (no join needed for those rows).
    """
    ways = elements.filter(F.col("element_type") == "way")
    ref_rows = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("seq", "ref"))
    nodes = (elements.filter(F.col("element_type") == "node")
             .select(F.col("id").alias("ref"), "lat_nano", "lon_nano"))
    if broadcast_nodes:
        nodes = F.broadcast(nodes)
    return ref_rows.join(nodes, "ref", "left")


def resolve_relation_members(elements: DataFrame) -> DataFrame:
    """Relation → member element rows via join on (member_type, member_id)
    — the by-id resolution the reference documents as whole-file iteration
    (README.md:105-109), as one shuffle equi-join. Returns
    (relation_id, seq, role, member_type, member_id, member element cols
    prefixed m_)."""
    members = (elements.filter(F.col("element_type") == "relation")
               .select(F.col("id").alias("relation_id"),
                       F.posexplode("members").alias("seq", "m"))
               .select("relation_id", "seq",
                       F.col("m.role").alias("role"),
                       F.col("m.member_type").alias("member_type"),
                       F.col("m.member_id").alias("member_id")))
    targets = elements.select(
        F.col("element_type").alias("member_type"),
        F.col("id").alias("member_id"),
        F.col("lat_nano").alias("m_lat_nano"),
        F.col("lon_nano").alias("m_lon_nano"),
        F.col("tags").alias("m_tags"))
    return members.join(targets, ["member_type", "member_id"], "left")


def tag_frequency(elements: DataFrame) -> DataFrame:
    """Tag key/value frequency — explode(tags) analytics the reference's
    closure API supports via for_each (SURVEY.md §2.9)."""
    return (elements.select(F.explode("tags").alias("key", "value"))
            .groupBy("key", "value").agg(F.count("*").alias("cnt")))


def way_geometry_stats(elements: DataFrame, *,
                       broadcast_nodes: bool = False) -> DataFrame:
    """Per-way geometry analytics over resolved node chains: vertex and
    unresolved-ref counts, great-circle length, and the bounding box.
    Returns (way_id, n_points, n_missing, length_m, min_lat_nano,
    max_lat_nano, min_lon_nano, max_lon_nano); ways whose chain has
    fewer than two resolved consecutive points get length_m = 0.0.

    The length is the haversine sum over CONSECUTIVE resolved pairs
    (segments touching an unresolved ref are skipped, their endpoints
    counted in ``n_missing``), rendered by the dual-dialect
    ``functions.grid.haversine_m_sql`` so a DuckDB oracle runs the
    identical expression. Each segment distance is quantized to 1e-6 m
    (FLOOR half-up, the repo convention) and summed as DECIMAL(38,18)
    — partition-order-independent per the repo's double-sum invariant —
    then cast back to DOUBLE.

    100 TB shape: one equi-join resolves refs→coords
    (:func:`resolve_way_geometries`; ``broadcast_nodes`` for small node
    sets), then a lag window and the final aggregate BOTH hash on
    way_id — Catalyst reuses the window's exchange for the groupBy, so
    the whole operator adds exactly one extra shuffle after the
    resolution join. No Python, no HOFs: trig runs whole-stage-codegen'd
    per segment row.
    """
    from pyspark.sql.window import Window
    from ..functions.grid import haversine_m_sql

    resolved = resolve_way_geometries(elements,
                                      broadcast_nodes=broadcast_nodes)
    w = Window.partitionBy("way_id").orderBy("seq")
    seg = (resolved
           .withColumn("prev_lat", F.lag("lat_nano").over(w))
           .withColumn("prev_lon", F.lag("lon_nano").over(w))
           .withColumn("qdist", F.expr(
               "CAST(FLOOR(" +
               haversine_m_sql("prev_lat", "prev_lon",
                               "lat_nano", "lon_nano") +
               " * 1E6 + 0.5) / 1E6 AS DECIMAL(38,18))")))
    return (seg.groupBy("way_id")
            .agg(F.count("*").alias("n_points"),
                 F.count_if(F.col("lat_nano").isNull()).alias("n_missing"),
                 F.coalesce(F.sum("qdist"), F.lit(0).cast("decimal(38,18)"))
                 .cast("double").alias("length_m"),
                 F.min("lat_nano").alias("min_lat_nano"),
                 F.max("lat_nano").alias("max_lat_nano"),
                 F.min("lon_nano").alias("min_lon_nano"),
                 F.max("lon_nano").alias("max_lon_nano")))
