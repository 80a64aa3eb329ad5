"""Incremental update merge (osmosis diff application analogue) and
relation-member resolution tests."""

from pyspark.sql import functions as F

from osmpbf_spark.operators.parity import resolve_relation_members
from osmpbf_spark.operators.updates import apply_updates, replication_state
from osmpbf_spark.pbf.encode import Info, Node
from osmpbf_spark.pbf.encode import encode_blob, encode_primitive_block
from osmpbf_spark.sources.documents import (
    fileblocks_to_rows,
    make_documents,
    read_elements,
    read_header,
)
from osmpbf_spark.sources.fixtures import fixture_fileblocks


def _elements_of(spark, name, nodes, visible=None):
    block = encode_primitive_block(
        [[Node(id=i, lat_raw=la, lon_raw=lo,
               info=Info(version=v, timestamp=1000 + v,
                         visible=(visible[k] if visible else None)))
          for k, (i, la, lo, v) in enumerate(nodes)]], dense=True)
    rows = fileblocks_to_rows(name, [("OSMData", encode_blob(block))])
    docs, media = make_documents(spark, *rows)
    return read_elements(docs, media)


def test_apply_updates_last_writer_wins(spark):
    base = _elements_of(spark, "base",
                        [(1, 100, 100, 1), (2, 200, 200, 1),
                         (3, 300, 300, 1)])
    upd = _elements_of(spark, "upd",
                       [(2, 222, 222, 2),          # moved node
                        (3, 300, 300, 2),          # deleted (tombstone)
                        (4, 400, 400, 1)],         # new node
                       visible=[True, False, True])
    merged = apply_updates(base, upd)
    got = {r["id"]: (r["lat_nano"], r["version"]) for r in merged.collect()}
    assert got == {1: (10000, 1), 2: (22200, 2), 4: (40000, 1)}  # 3 deleted

    hist = apply_updates(base, upd, keep_history=True)
    assert hist.count() == 6
    assert hist.filter("id = 3").count() == 2


def test_apply_updates_idempotent(spark):
    base = _elements_of(spark, "b", [(1, 100, 100, 1)])
    upd = _elements_of(spark, "u", [(1, 111, 111, 2)])
    once = apply_updates(base, upd)
    twice = apply_updates(once, upd)
    assert [tuple(r) for r in once.select("id", "lat_nano").collect()] == \
        [tuple(r) for r in twice.select("id", "lat_nano").collect()]


def test_replication_state_empty_for_fixtures(spark):
    docs, media = make_documents(
        spark, *fileblocks_to_rows("f", fixture_fileblocks("zlib_dense")))
    hdr = read_header(docs, media)
    assert replication_state(hdr).count() == 0  # fixtures carry no cursor


def test_resolve_relation_members(spark):
    docs, media = make_documents(
        spark, *fileblocks_to_rows("r", fixture_fileblocks("zlib_dense")))
    el = read_elements(docs, media)
    rm = resolve_relation_members(el).collect()
    assert len(rm) == 1
    m = rm[0]
    assert (m["relation_id"], m["role"], m["member_type"],
            m["member_id"]) == (120, "test_role", "way", 107)
    assert dict(m["m_tags"]) == {"building": "yes", "name": "triangle"}
