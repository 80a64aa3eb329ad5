"""Distributed chunked PBF ingest: resync, contiguity gate, parity with
the single-node path, bounded chunk sizes smaller than one frame."""

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from osmpbf_spark.api import Engine
from osmpbf_spark.pbf.decode import split_fileblocks
from osmpbf_spark.pbf.encode import (
    Node,
    encode_blob,
    encode_primitive_block,
    frame_fileblock,
)
from osmpbf_spark.sources.fixtures import fixture_file_bytes
from osmpbf_spark.sources.ingest import pbf_frame_index, read_pbf_file


def _make_file(tmp_path, *, copies=40, big_block_nodes=60000):
    """Framed PBF: header + many small blocks + one frame much larger
    than the test chunk size (forces ranges wholly inside one frame)."""
    base = fixture_file_bytes("zlib_dense")
    big = frame_fileblock("OSMData", encode_blob(encode_primitive_block(
        [[Node(id=1_000_000 + i, lat_raw=i, lon_raw=-i)
          for i in range(big_block_nodes)]], dense=True), compress=False))
    small = frame_fileblock("OSMData", encode_blob(encode_primitive_block(
        [[Node(id=5_000_000, lat_raw=7, lon_raw=9)]]), compress=True))
    data = base * copies + big + small * 5
    p = tmp_path / "synthetic.osm.pbf"
    p.write_bytes(data)
    return str(p), data


def test_frame_index_matches_split_fileblocks(spark, tmp_path):
    path, data = _make_file(tmp_path)
    want = [(b["offset"], b["blob_type"], b["datasize"])
            for b in split_fileblocks(data)]
    idx = pbf_frame_index(spark, path, chunk_bytes=64 * 1024)
    got = [(off, bt, ds) for off, bt, hs, ds in idx]
    assert got == want
    assert len(got) > 50  # many chunk boundaries were crossed


def test_chunk_smaller_than_one_frame(spark, tmp_path):
    # several ranges fall entirely INSIDE the big frame → those tasks
    # yield nothing, the frame is owned by the range holding its start
    path, data = _make_file(tmp_path, copies=2)
    big_frame = max(b["datasize"] for b in split_fileblocks(data))
    chunk = 32 * 1024
    assert big_frame > 4 * chunk
    idx = pbf_frame_index(spark, path, chunk_bytes=chunk)
    assert [(o, t, d) for o, t, h, d in idx] == \
        [(b["offset"], b["blob_type"], b["datasize"])
         for b in split_fileblocks(data)]


def test_distributed_ingest_decodes_identically(spark, tmp_path):
    path, data = _make_file(tmp_path, copies=6, big_block_nodes=5000)
    eng_d = Engine.from_pbf_path(spark, path, chunk_bytes=48 * 1024)
    eng_b = Engine.from_pbf_bytes(spark, "synthetic.osm.pbf", data)
    a = (eng_d.elements().groupBy("element_type")
         .agg(F.count("*").alias("cnt"),
              F.sum("id").alias("sid"),
              F.sum("lat_nano").alias("slat")).collect())
    b = (eng_b.elements().groupBy("element_type")
         .agg(F.count("*").alias("cnt"),
              F.sum("id").alias("sid"),
              F.sum("lat_nano").alias("slat")).collect())
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # blob_no AND offset parity: same numbering and the same seek-
    # analogue byte offsets as the single-node walk
    cols = ["blob_no", "blob_type", "datasize", "offset"]
    meta_d = sorted(tuple(r) for r in
                    eng_d.blob_metadata().select(cols).collect())
    meta_b = sorted(tuple(r) for r in
                    eng_b.blob_metadata().select(cols).collect())
    assert meta_d == meta_b


def _jobs_run(spark, fn):
    """(fn()'s result or its ValueError, Spark jobs it ran) — counted
    from the status tracker after the listener bus drains."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"    # never reused
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    except ValueError as e:
        out = e
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _index_both_sides(spark, path, small_chunk):
    """The frame index of ``path`` scanned in the driver (one chunk of
    the whole file: no Spark job) and distributed (``small_chunk``-byte
    chunks): both sides must give the same rows or the same
    ValueError. Returns that rows list or error message."""
    size = os.path.getsize(path)
    assert small_chunk < size
    driver, jobs = _jobs_run(
        spark, lambda: pbf_frame_index(spark, path, chunk_bytes=size))
    assert jobs == 0
    dist, jobs = _jobs_run(
        spark, lambda: pbf_frame_index(spark, path, chunk_bytes=small_chunk))
    assert jobs == 1
    sides = [str(x) if isinstance(x, ValueError) else x
             for x in (driver, dist)]
    assert sides[0] == sides[1]
    return sides[0]


def test_interframe_garbage_fails_contiguity(spark, tmp_path):
    path, data = _make_file(tmp_path, copies=3, big_block_nodes=1000)
    blocks = list(split_fileblocks(data))
    cut = blocks[2]["offset"]
    bad = data[:cut] + b"\x00garbage\xff" + data[cut:]
    p = tmp_path / "garbage.osm.pbf"
    p.write_bytes(bad)
    err = _index_both_sides(spark, str(p), 4096)
    assert isinstance(err, str) and "contiguous" in err, err


def test_truncated_tail_fails(spark, tmp_path):
    path, data = _make_file(tmp_path, copies=2, big_block_nodes=1000)
    p = tmp_path / "trunc.osm.pbf"
    p.write_bytes(data[:-37])
    err = _index_both_sides(spark, str(p), 4096)
    assert isinstance(err, str) and re.search("contiguous|trailing", err), \
        err


def test_payloads_never_pass_driver_and_never_shuffle(spark, tmp_path):
    path, _ = _make_file(tmp_path, copies=3, big_block_nodes=1000)
    from osmpbf_spark.plans.audit import exchanges_carrying
    from osmpbf_spark.sources.documents import read_elements
    f = read_pbf_file(spark, path, chunk_bytes=64 * 1024)
    el = read_elements(f.documents, f.media)
    assert exchanges_carrying(el, "payload") == []
    assert el.filter("element_type = 'node'").count() > 0


def _mixed_file(tmp_path):
    """header+data, a spec-legal unknown blob type, header+data."""
    base = fixture_file_bytes("zlib_dense")
    p = tmp_path / "mixed.osm.pbf"
    p.write_bytes(base + frame_fileblock("FancyFutureType", b"\x7f" * 333)
                  + base)
    return p


def _embedded_file(tmp_path):
    """An UNCOMPRESSED blob whose body embeds a valid chained frame pair:
    a raw Blob message of an UNKNOWN type carrying the nested frames
    verbatim (decode skips unknown types; framing must not false-sync)."""
    from osmpbf_spark.pbf.wire import len_field
    inner = frame_fileblock("OSMData", encode_blob(encode_primitive_block(
        [[Node(id=7, lat_raw=1, lon_raw=1)]]), compress=True)) * 2
    carrier = frame_fileblock("BinaryAttachment", len_field(1, inner))
    base = fixture_file_bytes("zlib_dense")
    p = tmp_path / "embedded.osm.pbf"
    p.write_bytes(base + carrier + base)
    return p


def test_unknown_blob_types_index_and_skip(spark, tmp_path):
    # spec-legal unknown blob types must INDEX (contiguity holds) and be
    # dropped at decode, matching the reference's BlobType::Unknown
    # (src/blob.rs:22-29) — not fail the frame scan
    p = _mixed_file(tmp_path)
    idx = pbf_frame_index(spark, str(p), chunk_bytes=256)
    assert [t for _, t, _, _ in idx] == \
        ["OSMHeader", "OSMData", "FancyFutureType", "OSMHeader", "OSMData"]
    eng = Engine.from_pbf_path(spark, str(p), chunk_bytes=256)
    counts = {r[0]: r[1] for r in eng.elements()
              .groupBy("element_type").count().collect()}
    assert counts == {"node": 6, "way": 2, "relation": 2}


def test_embedded_fake_frames_are_cleaned(spark, tmp_path):
    # a chunk boundary inside the carrier's body makes the scanner sync
    # onto the embedded fake; the driver's cleanup must drop it (it lies
    # inside the real frame's extent) and keep the true tiling
    p = _embedded_file(tmp_path)
    data = p.read_bytes()
    # chunk size small enough that several boundaries land inside carrier
    idx = _index_both_sides(spark, str(p), 64)
    assert [(o, t, d) for o, t, h, d in idx] == \
        [(b["offset"], b["blob_type"], b["datasize"])
         for b in split_fileblocks(data)]
    # and the file decodes end-to-end (carrier dropped at decode)
    eng = Engine.from_pbf_path(spark, str(p), chunk_bytes=64)
    counts = {r[0]: r[1] for r in eng.elements()
              .groupBy("element_type").count().collect()}
    assert counts == {"node": 6, "way": 2, "relation": 2}


def test_frame_scan_property_random_framings():
    # pure-python property test: ANY frame sequence + ANY chunking must
    # reproduce the whole-file walk after index cleanup
    import random as _random

    from osmpbf_spark.pbf.decode import scan_chunk_frames
    from osmpbf_spark.pbf.encode import frame_fileblock
    from osmpbf_spark.sources.ingest import validate_frame_index
    rng = _random.Random(123)
    for trial in range(25):
        frames = []
        for _ in range(rng.randrange(1, 12)):
            t = rng.choice(["OSMData", "OSMHeader", "Weird.Type-9"])
            body = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 300)))
            frames.append(frame_fileblock(t, body))
        data = b"".join(frames)
        want = []
        pos = 0
        for f in frames:
            want.append(pos)
            pos += len(f)
        chunk = rng.randrange(7, max(8, len(data)))
        rows = []
        for s in range(0, len(data), chunk):
            rows.extend(scan_chunk_frames(data, s,
                                          min(s + chunk, len(data))))
        got = validate_frame_index(rows, len(data))
        assert [o for o, *_ in got] == want, f"trial {trial}"


def test_frame_index_df_no_collect_matches_driver_path(spark, tmp_path):
    # VERDICT r2 #4: the distributed-validation index (no per-blob
    # driver collect) must equal the collect path row-for-row, across
    # many chunk boundaries AND chunks wholly inside one frame
    from osmpbf_spark.sources.ingest import pbf_frame_index_df
    path, data = _make_file(tmp_path, copies=8)
    chunk = 32 * 1024
    want = pbf_frame_index(spark, path, chunk_bytes=chunk)
    got = [(r["offset"], r["blob_type"], r["header_size"], r["datasize"])
           for r in pbf_frame_index_df(spark, path, chunk_bytes=chunk)
           .orderBy("blob_no").collect()]
    assert got == want
    # blob_no numbering matches split_fileblocks
    nos = [r["blob_no"] for r in
           pbf_frame_index_df(spark, path, chunk_bytes=chunk)
           .orderBy("offset").collect()]
    assert nos == list(range(len(want)))


def test_frame_index_df_fails_on_garbage_and_truncation(spark, tmp_path):
    from osmpbf_spark.sources.ingest import pbf_frame_index_df
    base = fixture_file_bytes("zlib_dense")
    p = tmp_path / "garbage.osm.pbf"
    p.write_bytes(base + b"\x00GARBAGE\x00" * 3 + base)
    with pytest.raises(ValueError, match="contiguous|trailing"):
        pbf_frame_index_df(spark, str(p), chunk_bytes=64).count()
    p2 = tmp_path / "trunc.osm.pbf"
    p2.write_bytes(base[:-5])
    with pytest.raises(ValueError, match="contiguous|trailing"):
        pbf_frame_index_df(spark, str(p2), chunk_bytes=64).count()


def test_read_pbf_documents_distributed_equals_driver_path(spark, tmp_path):
    # forced tiny chunk ceiling: the driver_index=False path must build
    # byte-identical documents + media + blob-range tables (span text
    # included)
    path, data = _make_file(tmp_path, copies=3, big_block_nodes=2000)
    f1 = read_pbf_file(spark, path, chunk_bytes=32 * 1024,
                       driver_index=True)
    f2 = read_pbf_file(spark, path, chunk_bytes=32 * 1024,
                       driver_index=False)
    # the validated index is a stored leaf: no action on the tables
    # re-runs the distributed header scan (its MapInArrow)
    from osmpbf_spark.plans.audit import explain_formatted
    assert "MapInArrow" not in explain_formatted(f2.blobs)
    assert "MapInArrow" not in explain_formatted(f2.documents)
    assert sorted(map(tuple, f1.blobs.collect())) == \
        sorted(map(tuple, f2.blobs.collect()))
    d1, m1 = f1.documents, f1.media
    d2, m2 = f2.documents, f2.media
    rows1 = sorted((r["doc_id"], str(r["spans"])) for r in d1.collect())
    rows2 = sorted((r["doc_id"], str(r["spans"])) for r in d2.collect())
    assert rows1 == rows2
    pay1 = sorted((r["media_ref"], bytes(r["payload"]))
                  for r in m1.collect())
    pay2 = sorted((r["media_ref"], bytes(r["payload"]))
                  for r in m2.collect())
    assert pay1 == pay2
    # and the decoded elements agree end-to-end
    from osmpbf_spark.sources.documents import read_elements
    c1 = read_elements(d1, m1).count()
    c2 = read_elements(d2, m2).count()
    assert c1 == c2 > 0


def test_frame_index_df_embedded_fake_cleanup(spark, tmp_path):
    # same embedded-fake fixture as the collect path: a blob body that
    # contains valid-looking frames must not corrupt the index
    from osmpbf_spark.sources.ingest import pbf_frame_index_df
    inner = fixture_file_bytes("zlib_dense")
    carrier = frame_fileblock("RawPBF", encode_blob(inner, compress=False))
    data = fixture_file_bytes("zlib_dense") + carrier \
        + fixture_file_bytes("zlib_dense")
    p = tmp_path / "nested.osm.pbf"
    p.write_bytes(data)
    want = [(b["offset"], b["blob_type"], b["datasize"])
            for b in split_fileblocks(data)]
    got = [(r["offset"], r["blob_type"], r["datasize"])
           for r in pbf_frame_index_df(spark, str(p), chunk_bytes=64)
           .orderBy("offset").collect()]
    assert got == want


# -- file-backed decode: each task slices its blobs out of the file ---------

def _fixture_files(tmp_path):
    """(path, chunk_bytes) of the files above: a frame far larger than
    the chunk (uncompressed), an unknown blob type, embedded fake
    frames inside a blob body."""
    big, _ = _make_file(tmp_path, copies=3, big_block_nodes=2000)
    return [(big, 4096), (str(_mixed_file(tmp_path)), 256),
            (str(_embedded_file(tmp_path)), 64)]


def _scan_rows(eng):
    """Sorted (scan, to_json(row)) of the four decode scans, one action."""
    scans = [getattr(eng, n)().select(F.lit(n), F.to_json(F.struct("*")))
             for n in ("elements", "elements_raw", "stringtables", "header")]
    union = scans[0]
    for df in scans[1:]:
        union = union.union(df)
    return sorted(map(tuple, union.collect()))


@pytest.mark.parametrize("driver_index", [True, False])
def test_file_scans_equal_documents_scans(spark, tmp_path, driver_index):
    # every file-backed scan equals the documents-table scan over the
    # same file's (documents, media), row for row
    for path, chunk in _fixture_files(tmp_path):
        eng = Engine.from_pbf_path(spark, path, chunk_bytes=chunk,
                                   driver_index=driver_index)
        want = _scan_rows(Engine(spark, eng.documents, eng.media))
        assert {n for n, _ in want} == {
            "elements", "elements_raw", "stringtables", "header"}, path
        assert _scan_rows(eng) == want, path


def test_file_scan_corrupt_blob_fails_fast(spark, tmp_path):
    # one corrupt OSMData body (its zlib checksum) fails the file-backed
    # scan as it fails the documents-table scan: no silent skip
    data = fixture_file_bytes("zlib_dense")
    body = next(b for b in split_fileblocks(data)
                if b["blob_type"] == "OSMData")
    bad = bytearray(data)
    bad[data.index(body["blob_bytes"], body["offset"])
        + len(body["blob_bytes"]) - 1] ^= 0xFF
    p = tmp_path / "corrupt.osm.pbf"
    p.write_bytes(bytes(bad))
    eng = Engine.from_pbf_path(spark, str(p), chunk_bytes=256)
    with pytest.raises(Exception, match="zlib|checksum|data check"):
        Engine(spark, eng.documents, eng.media).elements().count()
    with pytest.raises(Exception, match="zlib|checksum|data check"):
        eng.elements().count()


@pytest.mark.parametrize("driver_index", [True, False])
def test_file_documents_equal_json_rows(spark, tmp_path, driver_index):
    # the file engine's documents (Catalyst expressions over the frame
    # index) equal the json.dumps-built rows of fileblocks_to_rows for the
    # same bytes: span text, media_ref and offsets alike, also for a blob
    # type holding JSON-special characters
    from osmpbf_spark.sources.documents import (
        make_documents,
        pbf_bytes_to_rows,
    )

    def spans(docs):
        return sorted((r["doc_id"], [tuple(sp) for sp in r["spans"]])
                      for r in docs.collect())

    odd = tmp_path / "odd-type.osm.pbf"
    odd.write_bytes(fixture_file_bytes("zlib_dense")
                    + frame_fileblock('Odd"Type\\', b"\x00" * 9))
    for path, chunk in _fixture_files(tmp_path) + [(str(odd), 64)]:
        eng = Engine.from_pbf_path(spark, path, chunk_bytes=chunk,
                                   driver_index=driver_index)
        with open(path, "rb") as f:
            data = f.read()
        docs, _ = make_documents(
            spark, *pbf_bytes_to_rows(os.path.basename(path), data))
        want = spans(docs)
        assert len(want) == len(list(split_fileblocks(data))), path
        assert spans(eng.documents) == want, path


def test_header_blobs_of_differing_shape(spark, tmp_path):
    # two OSMHeader blobs, one without a bbox: each blob's output batch
    # has the one header schema (a missing bbox is a typed NULL, never a
    # null-typed column), so a task decoding both writes both rows
    import pyarrow as pa

    from osmpbf_spark.pbf.encode import encode_header_block
    from osmpbf_spark.sources.documents import (
        HEADER_KEYS,
        _batch_decoder,
        decode_header_batch,
    )
    blobs = [encode_blob(encode_header_block(bbox_nano=(1, 2, 3, 4))),
             encode_blob(encode_header_block())]
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": ["h#0", "h#1"], "blob_no": [0, 1], "payload": blobs})
    outs = list(_batch_decoder(decode_header_batch, keys=HEADER_KEYS)(
        iter([batch])))
    assert outs[0].schema == outs[1].schema
    assert outs[1].schema.field("bbox_left").type == pa.float64()
    data = b"".join(frame_fileblock("OSMHeader", b) for b in blobs)
    p = tmp_path / "headers.osm.pbf"
    p.write_bytes(data)
    for eng in (Engine.from_pbf_path(spark, str(p)),
                Engine.from_pbf_bytes(spark, "headers", data)):
        rows = sorted(eng.header().collect(), key=lambda r: r["blob_no"])
        assert [r["bbox_left"] is None for r in rows] == [False, True]


def test_decode_plan_runs_no_job(spark, tmp_path):
    # building a spread decode plan over a file engine's tables runs no
    # Spark job: the decode_partitions check reads the planned
    # partitioning of the blob rows instead of executing the media
    # table's exchange
    from osmpbf_spark.sources.documents import read_elements
    path, _ = _make_file(tmp_path, copies=3, big_block_nodes=2000)
    eng = Engine.from_pbf_path(spark, path)
    df, jobs = _jobs_run(spark, lambda: read_elements(
        eng.documents, eng.media, decode_partitions=3))
    assert jobs == 0
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == eng.elements().count() > 0


_PYTHON_NODE = re.compile(r"MapIn\w+|\w*EvalPython\w*|FlatMap\w*InPandas\w*")


def _final_tree(df):
    """Node-tree lines of the executed (AQE final) plan."""
    from osmpbf_spark.plans.audit import explain_formatted
    tree = explain_formatted(df).split("\n\n")[0]
    return tree.split("== Initial Plan ==")[0].splitlines()


def _subtree(lines, i):
    """Lines of the subtree rooted at ``lines[i]`` (deeper indentation)."""
    depth = len(lines[i]) - len(lines[i].lstrip(" :|+-"))
    out = []
    for ln in lines[i + 1:]:
        if len(ln) - len(ln.lstrip(" :|+-")) <= depth:
            break
        out.append(ln)
    return out


def test_file_backed_pip_plan_one_python_node(spark, tmp_path):
    # the pbf_pip pass shape: file-backed nodes → grid → PIP → count. The
    # decode is the plan's only Python node, reads the range table
    # straight from a LocalTableScan (no Python-RDD scan, no exchange
    # below it) and no payload column exists anywhere. The memoized
    # cover is one checkpointed leaf, not a cached HOF build plan
    from osmpbf_spark.functions.grid import with_grid_cells
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    from osmpbf_spark.plans.audit import explain_formatted
    from osmpbf_spark.sources.synth import synth_fileblocks
    fileblocks, _ = synth_fileblocks(20_000, seed=1)
    p = tmp_path / "synth.osm.pbf"
    p.write_bytes(b"".join(frame_fileblock(t, b) for t, b in fileblocks))
    b = 1_000_000_000
    polys = make_polygons(spark, [       # bench.py's three boxes
        (name, [(a, c), (d, c), (d, e), (a, e), (a, c)])
        for name, a, c, d, e in [
            ("megacity", 42_900 * b // 1000, 8_900 * b // 1000,
             43_100 * b // 1000, 9_100 * b // 1000),
            ("band", 44 * b, 5 * b, 46 * b, 15 * b),
            ("corner", 40 * b, 5 * b, 41 * b, 6 * b)]])

    def counted():
        eng = Engine.from_pbf_path(spark, str(p))
        return pip_join(with_grid_cells(eng.nodes(), res=16), polys,
                        res=16).groupBy().count()

    # a one-chunk file is indexed in the driver: no Spark job
    _, jobs = _jobs_run(spark, lambda: Engine.from_pbf_path(spark, str(p)))
    assert jobs == 0
    counted().collect()         # the cover memo is stored on its build
    df = counted()
    rows, jobs = _jobs_run(spark, df.collect)
    assert rows[0][0] > 0
    tree = _final_tree(df)
    py = [i for i, ln in enumerate(tree) if _PYTHON_NODE.search(ln)]
    assert len(py) == 1, tree
    below = _subtree(tree, py[0])
    assert [ln.strip(" :|+-") for ln in below] == ["LocalTableScan (1)"], \
        below
    text = explain_formatted(df)
    # no Python-RDD scan anywhere; the one RDD scan is the cover leaf,
    # read straight into its broadcast, and nothing is cached
    assert "applySchemaToPythonRDD" not in text
    rdd = [i for i, ln in enumerate(tree) if "Scan ExistingRDD" in ln]
    assert len(rdd) == 1, tree
    bx = max(i for i in range(rdd[0]) if "BroadcastExchange" in tree[i])
    assert [ln.strip(" :|+-*").split(" (")[0]
            for ln in _subtree(tree, bx)] == ["Filter", "Scan ExistingRDD"], \
        tree
    node = re.search(r"\((\d+)\)", tree[rdd[0]]).group(1)
    detail = text.split(f"\n({node}) Scan ExistingRDD", 1)[1].split(
        "\n\n", 1)[0]
    assert "at localCheckpoint" in detail, detail
    assert "poly_id" in detail and "full" in detail, detail
    assert not re.search(r"InMemory(TableScan|Relation)", text)
    assert not re.search(r"\bpayload\b", text)
    # drift-free: the count runs one job per query stage, whatever the
    # host load
    assert jobs == 4
