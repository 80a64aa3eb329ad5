"""Facade (api.Engine) test: the reference-user migration surface."""

from osmpbf_spark.api import Engine
from osmpbf_spark.operators.parity import tag_eq
from osmpbf_spark.sources.fixtures import fixture_file_bytes


def test_engine_facade(spark):
    eng = Engine.from_pbf_bytes(spark, "t", fixture_file_bytes("zlib_dense"))
    counts = {r["element_type"]: r["cnt"]
              for r in eng.count_by_type().collect()}
    assert counts == {"node": 3, "way": 1, "relation": 1}
    assert eng.nodes().count() == 3
    hdr = eng.header().collect()[0]
    assert "OsmSchema-V0.6" in hdr["required_features"]
    meta = eng.blob_metadata().collect()
    assert [m["blob_type"] for m in sorted(meta, key=lambda m: m["blob_no"])] \
        == ["OSMHeader", "OSMData"]
    ways_f, deps = eng.ways_and_deps(tag_eq("building", "yes"))
    assert ways_f.count() == 1 and deps.count() == 3
    idx = eng.indexed_nodes()
    assert idx.filter("cell IS NOT NULL").count() == 3
    # geometry layer: way 107 = 4-ref closed triangle, ~1031.66 m
    ws = eng.way_stats().collect()
    assert len(ws) == 1 and ws[0]["way_id"] == 107
    assert ws[0]["n_points"] == 4 and ws[0]["n_missing"] == 0
    assert 500 < ws[0]["length_m"] < 2000
    # the fixture relation is not type=multipolygon → no rings
    assert eng.multipolygons().count() == 0
    assert eng.pip_multipolygon().count() == 0


def test_res_zero_not_coerced(spark):
    """res=0 (one whole-world cell) is a legal grid resolution; the
    facade must not falsy-coerce it to the default (code-review r5:
    `res or GRID_RES_FINE` silently ran res=12/13 instead)."""
    eng = Engine.from_pbf_bytes(spark, "t0",
                                fixture_file_bytes("zlib_dense"))
    idx0 = eng.indexed_nodes(res=0)
    # at res 0 the cell id is res*RES_SHIFT + x*Y_SHIFT + y == 0 for
    # every point; at the coerced default it never is
    assert idx0.filter("cell = 0").count() == 3
    assert eng.indexed_nodes().filter("cell = 0").count() == 0
    # the other two facade sites accept res=0 without coercion too
    # (empty fixture geometry → empty results, but the path must run)
    assert eng.pip_multipolygon(res=0).count() == 0
    from osmpbf_spark.operators.pip import make_polygons
    zone = make_polygons(spark, [("z", [(0, 0), (0, 10**9),
                                        (10**9, 10**9), (0, 0)])])
    assert eng.polygon_join(zone, res=0).count() == 0
