"""Spark-layer decode tests: interleaved documents → elements DataFrame.

Covers the engine's top-level scan (SURVEY.md §2.1 S6) on the golden
fixtures, the encoding-variant invariance at the DataFrame level, the
span-sequence invariant (BASELINE.json input_hint), decimicro truncation
semantics, and the header-only metadata scan.
"""

import pytest
from pyspark.sql import functions as F

from osmpbf_spark.sources.documents import (
    blob_metadata,
    fileblocks_to_rows,
    make_documents,
    read_elements,
    span_signature,
)
from osmpbf_spark.sources.fixtures import fixture_fileblocks


def _load(spark, variant):
    doc_rows, media_rows = fileblocks_to_rows(
        variant, fixture_fileblocks(variant))
    docs, media = make_documents(spark, doc_rows, media_rows)
    return docs, media


@pytest.fixture(scope="module")
def golden_elements(spark):
    docs, media = _load(spark, "zlib_dense")
    df = read_elements(docs, media)
    df.cache()
    yield df
    df.unpersist()


def test_counts_by_type(golden_elements):
    counts = {r["element_type"]: r["cnt"] for r in
              golden_elements.groupBy("element_type")
              .agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"node": 3, "way": 1, "relation": 1}


def test_exact_nano_and_derived(golden_elements):
    n106 = golden_elements.filter("id = 106 AND element_type = 'node'") \
        .collect()[0]
    assert n106["lat_nano"] == 52119923500
    assert n106["lon_nano"] == 11625644600
    assert n106["decimicro_lat"] == 521199235
    assert n106["decimicro_lon"] == 116256446
    assert abs(n106["lat"] - 52.11992359584) < 1e-6
    assert abs(n106["lon"] - 11.62564468943) < 1e-6


def test_way_and_relation(golden_elements):
    way = golden_elements.filter("element_type = 'way'").collect()[0]
    assert way["id"] == 107
    assert way["refs"] == [105, 106, 108, 105]
    assert dict(way["tags"]) == {"building": "yes", "name": "triangle"}
    rel = golden_elements.filter("element_type = 'relation'").collect()[0]
    assert [(m["role"], m["member_id"], m["member_type"])
            for m in rel["members"]] == [("test_role", 107, "way")]


def test_tag_predicate(golden_elements):
    # element_at(tags, 'building') == 'yes' — the reference's building
    # filter (examples/indexed.rs:19-22) as a Catalyst expression
    hits = golden_elements.filter(
        F.element_at("tags", "building") == "yes").collect()
    assert [r["id"] for r in hits] == [107]


def test_variant_invariance_spark(spark):
    def canon(variant):
        docs, media = _load(spark, variant)
        df = read_elements(docs, media)
        return sorted(
            (r["element_type"], r["id"], r["lat_nano"], r["lon_nano"],
             tuple(sorted(r["tags"].items())), tuple(r["refs"]),
             r["visible"], r["milli_timestamp"])
            for r in df.collect())
    assert canon("raw_dense") == canon("zlib_dense")
    assert canon("raw_plain") == canon("zlib_dense")


def test_history_filter(spark):
    docs, media = _load(spark, "history")
    df = read_elements(docs, media)
    assert df.count() == 2
    # snapshot semantics: filter(visible) drops the deleted node
    # (P15, src/elements.rs:614-626)
    vis = df.filter(F.col("visible")).collect()
    assert len(vis) == 1 and vis[0]["id"] == 2


def test_locations_on_ways_spark(spark):
    docs, media = _load(spark, "loc_on_ways")
    df = read_elements(docs, media)
    way = df.filter("element_type = 'way'").collect()[0]
    locs = [(l["lat_nano"], l["lon_nano"]) for l in way["ref_locations"]]
    assert locs[0] == (52122403100, 11628401700)
    assert locs[3] == locs[0]
    assert len(locs) == 4


def test_negative_coord_decimicro(spark):
    # southern/western hemisphere truncation toward zero
    from osmpbf_spark.pbf.encode import Node
    from osmpbf_spark.sources.documents import fileblocks_to_rows
    from osmpbf_spark.pbf.encode import encode_primitive_block, encode_blob
    node = Node(id=1, lat_raw=-521199235, lon_raw=-116256446)
    block = encode_primitive_block([[node]], dense=True, with_info=False)
    rows = fileblocks_to_rows("neg", [("OSMData", encode_blob(block))])
    docs, media = make_documents(spark, *rows)
    r = read_elements(docs, media).collect()[0]
    assert r["lat_nano"] == -52119923500
    assert r["decimicro_lat"] == -521199235   # trunc toward zero, not floor
    assert r["decimicro_lon"] == -116256446
    assert r["visible"] is None               # no info → null metadata


def test_blob_metadata_scan(spark):
    docs, _ = _load(spark, "loc_on_ways")
    meta = blob_metadata(docs).orderBy("blob_no").collect()
    assert [m["blob_type"] for m in meta] == \
        ["OSMHeader", "OSMData", "OSMData"]
    assert all(m["media_ref"].startswith("media://") for m in meta)


def test_node_points_pushdown_parity(spark):
    # the minimal node-points reader returns exactly the node subset of
    # the full scan (pushdown must not change results)
    from osmpbf_spark.sources.documents import read_node_points
    from osmpbf_spark.sources.synth import synth_documents
    docs, media, _ = synth_documents(spark, 3000, block_elements=500)
    full = read_elements(docs, media) \
        .filter("element_type = 'node'") \
        .select("id", "lat_nano", "lon_nano", "blob_no", "doc_id")
    mini = read_node_points(docs, media)
    assert full.exceptAll(mini).count() == 0
    assert mini.exceptAll(full).count() == 0


def test_span_signature_invariant(spark):
    # byte-identical synthesis → identical span signatures (graft invariant)
    docs1, _ = _load(spark, "zlib_dense")
    docs2, _ = _load(spark, "zlib_dense")
    s1 = {r["doc_id"]: r["span_sig"] for r in span_signature(docs1).collect()}
    s2 = {r["doc_id"]: r["span_sig"] for r in span_signature(docs2).collect()}
    assert s1 == s2 and len(s1) == 2


def test_offsets_true_for_indexdata_headers(spark):
    # ADVICE r2: a BlobHeader carrying the spec's optional indexdata
    # (fileformat.proto field 2) makes the minimal-header recomputation
    # diverge from true byte positions; pbf_bytes_to_rows must report the
    # TRUE offsets from the frame walk
    import struct as _s

    from osmpbf_spark.pbf.decode import split_fileblocks
    from osmpbf_spark.pbf.encode import len_field, varint_field
    from osmpbf_spark.sources.documents import pbf_bytes_to_rows

    blob = [bb for bt, bb in fixture_fileblocks("zlib_dense")
            if bt == "OSMData"][0]
    # frame blob 0 with a fat indexdata field, blob 1 minimally
    hdr0 = (len_field(1, b"OSMData") + len_field(2, b"\x7f" * 64)
            + varint_field(3, len(blob)))
    hdr1 = len_field(1, b"OSMData") + varint_field(3, len(blob))
    data = (_s.pack(">I", len(hdr0)) + hdr0 + blob
            + _s.pack(">I", len(hdr1)) + hdr1 + blob)
    true_offsets = [b["offset"] for b in split_fileblocks(data)]
    assert true_offsets == [0, 4 + len(hdr0) + len(blob)]

    doc_rows, media_rows = pbf_bytes_to_rows("idx", data)
    docs, _ = make_documents(spark, doc_rows, media_rows)
    got = {r["blob_no"]: r["offset"]
           for r in blob_metadata(docs).collect()}
    assert got == {0: true_offsets[0], 1: true_offsets[1]}
