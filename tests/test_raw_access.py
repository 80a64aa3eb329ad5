"""Raw-access projections (SURVEY.md §2.3 P8/P12/P16): still-delta-coded
way refs (Way::raw_refs, src/elements.rs:219-221), unresolved string-table
tag index pairs (raw_tags, src/elements.rs:542-564 / src/dense.rs:345-369),
and the per-block dictionary as raw bytes (raw_stringtable,
src/block.rs:148-151).

Oracle strategy: the in-repo encoder is the source of truth — raw pairs
resolved through the raw stringtable must reproduce the exact tag list fed
to the encoder (order included), and cumsum(refs_delta) must equal the
decoded refs, on goldens, adversarial wire bytes, and random elements."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmpbf_spark.pbf.decode import (
    decode_raw_access_batch,
    decode_stringtable_batch,
    decompress_blob,
    parse_block_raw,
    parse_block_stringtable,
)
from osmpbf_spark.pbf.encode import (
    Node,
    Relation,
    Way,
    encode_blob,
    encode_primitive_block,
)
from osmpbf_spark.pbf.wire import len_field, packed_field, varint_field
from osmpbf_spark.sources.fixtures import ALL_VARIANTS, fixture_fileblocks


def _raw_rows(fileblocks):
    batch = decode_raw_access_batch(
        [("d", i, t, b) for i, (t, b) in enumerate(fileblocks)])
    return batch.to_pylist()


def _element_rows(fileblocks):
    from osmpbf_spark.pbf.decode import chunks_to_batch, parse_primitive_block
    per_blob = [("d", i, parse_primitive_block(decompress_blob(b)))
                for i, (t, b) in enumerate(fileblocks) if t == "OSMData"]
    return pa.Table.from_batches([chunks_to_batch(per_blob)]).to_pylist()


def _table(fileblocks):
    """blob_no → list of raw stringtable byte entries."""
    out = {}
    for i, (t, b) in enumerate(fileblocks):
        if t == "OSMData":
            out[i] = parse_block_stringtable(decompress_blob(b))
    return out


def _resolve(row, tables):
    tab = tables[row["blob_no"]]
    return [(tab[k].decode("utf-8"), tab[v].decode("utf-8"))
            for k, v in zip(row["raw_key_ids"], row["raw_val_ids"])]


@pytest.mark.parametrize("variant", ALL_VARIANTS)
def test_raw_view_consistent_with_decoded(variant):
    fbs = fixture_fileblocks(variant)
    raw = {(r["element_type"], r["id"], r["blob_no"]): r
           for r in _raw_rows(fbs)}
    full = {(r["element_type"], r["id"], r["blob_no"]): r
            for r in _element_rows(fbs)}
    tables = _table(fbs)
    assert set(raw) == set(full)
    for key, r in raw.items():
        f = full[key]
        # P8: cumsum of the raw deltas reproduces the decoded refs;
        # the accessor exists only on ways (NULL elsewhere)
        if key[0] == "way":
            assert list(np.cumsum(r["refs_delta"])) == f["refs"]
        else:
            assert r["refs_delta"] is None
        # P12: resolving the index pairs through the raw stringtable
        # reproduces the decoded tags (goldens are all valid UTF-8)
        assert dict(_resolve(r, tables)) == dict(f["tags"] or [])


@pytest.mark.parametrize("variant", ["zlib_dense", "raw_plain"])
def test_raw_stringtable_entries(variant):
    tables = _table(fixture_fileblocks(variant))
    for entries in tables.values():
        # index 0 is the reserved blank (osmformat.proto StringTable)
        assert entries[0] == b""
        assert b"building" in entries and b"testuser" in entries


def test_way_raw_tags_zip_truncate_to_min():
    # RawTagIter zips keys and vals and stops at the shorter slice
    # (src/elements.rs:549-557): 3 key ids, 2 val ids -> 2 pairs.
    way = (varint_field(1, 7)
           + packed_field(2, [1, 2, 3])
           + packed_field(3, [4, 5])
           + packed_field(8, [100, 5], zigzag=True))
    st_msg = b"".join(len_field(1, s) for s in [b"", b"a", b"b", b"c", b"x",
                                                b"y"])
    block = len_field(1, st_msg) + len_field(2, len_field(3, way))
    [(etype, ids, pc, kid, vid, rl, rv)] = parse_block_raw(block)
    assert etype == "way" and list(ids) == [7]
    assert list(pc) == [2]
    assert list(kid) == [1, 2] and list(vid) == [4, 5]
    # raw refs stay delta-coded: wire deltas [100, 5], not [100, 105]
    assert list(rl) == [2] and list(rv) == [100, 5]


def test_dense_raw_pairs_survive_invalid_utf8():
    # decoded tags silently skip unresolvable entries
    # (src/elements.rs:513-538); the raw view never resolves, so the
    # index pair must survive (src/dense.rs:345-369).
    st_msg = b"".join(len_field(1, s) for s in [b"", b"k", b"\xff\xfe"])
    dense = (packed_field(1, [42], zigzag=True, delta=True)
             + packed_field(8, [5], zigzag=True, delta=True)
             + packed_field(9, [6], zigzag=True, delta=True)
             + packed_field(10, [1, 2, 0]))
    block = len_field(1, st_msg) + len_field(2, len_field(2, dense))
    [(etype, ids, pc, kid, vid, rl, rv)] = parse_block_raw(block)
    assert etype == "node" and list(ids) == [42]
    assert list(kid) == [1] and list(vid) == [2]
    assert rl is None and rv is None
    rows = _element_rows([("OSMData", encode_blob(block))])
    assert not rows[0]["tags"]                 # decoded view skipped it
    entries = parse_block_stringtable(block)
    assert entries[2] == b"\xff\xfe"           # raw bytes preserved (P16)


_tag = st.tuples(st.text(min_size=1, max_size=6),
                 st.text(min_size=0, max_size=6))
_id = st.integers(min_value=-(2 ** 40), max_value=2 ** 40)
_coord = st.integers(min_value=-1_800_000_000, max_value=1_800_000_000)
_node = st.builds(Node, id=_id, lat_raw=_coord, lon_raw=_coord,
                  tags=st.lists(_tag, max_size=3))
_way = st.builds(Way, id=_id, refs=st.lists(_id, min_size=1, max_size=6),
                 tags=st.lists(_tag, max_size=3))
_rel = st.builds(Relation, id=_id,
                 members=st.lists(st.tuples(st.text(max_size=4), _id,
                                            st.integers(0, 2)), max_size=3),
                 tags=st.lists(_tag, max_size=2))


@settings(max_examples=40, deadline=None)
@given(nodes=st.lists(_node, max_size=6), ways=st.lists(_way, max_size=4),
       rels=st.lists(_rel, max_size=3), dense=st.booleans())
def test_raw_view_roundtrip_property(nodes, ways, rels, dense):
    block = encode_primitive_block([nodes, ways, rels], dense=dense)
    fbs = [("OSMData", encode_blob(block, compress=False))]
    tables = _table(fbs)
    rows = _raw_rows(fbs)
    by_pos = {}
    for r in rows:
        by_pos.setdefault(r["element_type"], []).append(r)
    for i, n in enumerate(nodes):
        r = by_pos["node"][i]
        assert r["id"] == n.id and _resolve(r, tables) == n.tags
        assert r["refs_delta"] is None
    for i, w in enumerate(ways):
        r = by_pos["way"][i]
        assert r["id"] == w.id and _resolve(r, tables) == w.tags
        expect = [w.refs[0]] + [b - a for a, b in zip(w.refs, w.refs[1:])]
        assert r["refs_delta"] == expect
    for i, rel in enumerate(rels):
        r = by_pos["relation"][i]
        assert r["id"] == rel.id and _resolve(r, tables) == rel.tags
        assert r["refs_delta"] is None


def test_stringtable_batch_schema():
    fbs = fixture_fileblocks("zlib_dense")
    batch = decode_stringtable_batch(
        [("d", i, t, b) for i, (t, b) in enumerate(fbs)])
    rows = batch.to_pylist()
    assert rows[0] == {"doc_id": "d", "blob_no": 1, "sidx": 0, "value": b""}
    assert [r["sidx"] for r in rows] == list(range(len(rows)))


def test_spark_raw_readers(spark):
    from osmpbf_spark.sources.documents import (
        fileblocks_to_rows,
        make_documents,
        read_elements,
        read_elements_raw,
        read_stringtables,
    )
    doc_rows, media_rows = fileblocks_to_rows(
        "zlib_dense", fixture_fileblocks("zlib_dense"))
    docs, media = make_documents(spark, doc_rows, media_rows)
    raw = read_elements_raw(docs, media)
    sts = read_stringtables(docs, media)
    full = read_elements(docs, media)

    # Full join keys: the per-block dictionary is (doc_id, blob_no,
    # sidx) — keying on sidx alone would silently resolve through the
    # wrong block's table if the fixture ever grows a second data blob.
    raw_rows = {(r["blob_no"], r["element_type"], r["id"]): r
                for r in raw.collect()}
    full_rows = {(r["blob_no"], r["element_type"], r["id"]): r
                 for r in full.collect()}
    st_rows = sts.collect()
    table = {(r["blob_no"], r["sidx"]): bytes(r["value"]) for r in st_rows}
    assert len(table) == len(st_rows)  # no key collisions
    assert len(raw_rows) == raw.count() and len(full_rows) == full.count()
    assert set(raw_rows) == set(full_rows)
    assert all(v == b"" for (_, sidx), v in table.items() if sidx == 0)
    for key, r in raw_rows.items():
        blob_no, etype, _ = key
        f = full_rows[key]
        if etype == "way":
            assert list(np.cumsum(r["refs_delta"])) == list(f["refs"])
        else:
            assert r["refs_delta"] is None
        resolved = {table[blob_no, k].decode("utf-8"):
                    table[blob_no, v].decode("utf-8")
                    for k, v in zip(r["raw_key_ids"], r["raw_val_ids"])}
        assert resolved == dict(f["tags"] or {})
