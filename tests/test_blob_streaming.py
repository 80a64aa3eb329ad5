"""The decode scans stream one blob at a time (no Spark session): the
mapInArrow functions over blob rows yield one output batch per blob,
each equal to the kernel run on that blob alone, and the kernel has run
once, on one row, when the first batch comes out."""

import pyarrow as pa
import pytest

from osmpbf_spark.pbf.decode import decode_blob_batch
from osmpbf_spark.sources.documents import _batch_decoder
from osmpbf_spark.sources.ingest import _payload_fetcher
from osmpbf_spark.sources.synth import synth_fileblocks


def _blob_rows():
    """(doc_id, blob_no, blob_type, payload) of three OSMData blobs."""
    fileblocks, _ = synth_fileblocks(300, block_elements=100)
    bodies = [b for t, b in fileblocks if t == "OSMData"][:3]
    return [(f"s#{i}", i, "OSMData", b) for i, b in enumerate(bodies, 1)]


def _keys(rows):
    return {"doc_id": [r[0] for r in rows], "blob_no": [r[1] for r in rows],
            "blob_type": [r[2] for r in rows]}


def _range_file(rows, tmp_path):
    """The rows' bodies written into one file between filler bytes →
    (path, body offsets)."""
    data, offs = b"filler", []
    for r in rows:
        offs.append(len(data))
        data += r[3] + b"filler"
    path = tmp_path / "bodies.bin"
    path.write_bytes(data)
    return str(path), offs


def _input_batch(rows, source, tmp_path):
    """(path, one Arrow batch listing all rows) as the documents-table
    scans (``payload`` column) or the file-backed scans (byte ranges)
    feed the decoder."""
    if source == "payload":
        return None, pa.RecordBatch.from_pydict(
            {**_keys(rows),
             "payload": pa.array([r[3] for r in rows], pa.binary())})
    path, offs = _range_file(rows, tmp_path)
    return path, pa.RecordBatch.from_pydict(
        {**_keys(rows), "body_off": offs,
         "datasize": [len(r[3]) for r in rows]})


@pytest.mark.parametrize("source", ["payload", "file"])
def test_batch_decoder_yields_one_batch_per_blob(tmp_path, source):
    rows = _blob_rows()
    path, batch = _input_batch(rows, source, tmp_path)
    calls = []

    def kernel(blob_rows):
        blob_rows = list(blob_rows)
        calls.append([r[1] for r in blob_rows])
        return decode_blob_batch(blob_rows)

    out = _batch_decoder(kernel, path)(iter([batch.slice(0, 0), batch]))
    first = next(out)
    assert calls == [[1]]                 # one blob decoded, not three
    outs = [first, *out]
    assert calls == [[1], [2], [3]]
    assert len(outs) == 3
    for got, row in zip(outs, rows):
        want = decode_blob_batch([row])
        assert want.num_rows > 0
        assert got.equals(want)


def test_payload_fetcher_yields_one_batch_per_blob(tmp_path):
    rows = _blob_rows()
    path, offs = _range_file(rows, tmp_path)
    refs = [f"media://{r[0]}" for r in rows]
    batch = pa.RecordBatch.from_pydict(
        {"media_ref": refs, "body_off": offs,
         "datasize": [len(r[3]) for r in rows]})
    outs = list(_payload_fetcher(path)(iter([batch.slice(0, 0), batch])))
    assert [o.to_pylist() for o in outs] == [
        [{"media_ref": ref, "payload": r[3]}] for ref, r in zip(refs, rows)]
