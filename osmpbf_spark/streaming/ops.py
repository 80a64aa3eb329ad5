"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.8); its osmosis replication
fields are checkpoint metadata for an external incremental process. The
engine supplies the real streaming layer: an incremental element feed
(new documents → decode → elements), watermarked windowed aggregation for
late data, and checkpoint-resume (the Spark-native analogue of the
replication sequence number — BASELINE.json north_rule "resumable from
checkpoint with per-partition lineage").

All operators take/return streaming DataFrames and are exercised in tests
with the file source + a temp checkpoint dir; in production the source is
the documents table's change feed and the sink is the elements table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.documents import read_elements


def stream_elements(doc_stream: DataFrame, media: DataFrame) -> DataFrame:
    """Incremental decode: a stream of documents joined to (static) media
    payloads — the batch scan :func:`read_elements` itself, over a
    stream. Stream-static joins keep this fully incremental."""
    return read_elements(doc_stream, media)


def windowed_event_counts(events: DataFrame, *, window: str = "1 hour",
                          watermark: str = "2 hours",
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped, state is bounded (required for unbounded runs)."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("window_start"), key_col, "cnt"))


def start_resumable(df: DataFrame, checkpoint_dir: str, *,
                    out_path: str | None = None,
                    fmt: str = "parquet", trigger_once: bool = True,
                    output_mode: str = "append"):
    """Start a checkpointed sink. Re-running after a failure resumes from
    the last committed offsets in ``checkpoint_dir`` — the engine's
    resume contract (Iceberg snapshots at production; parquet+checkpoint
    locally)."""
    w = (df.writeStream
         .option("checkpointLocation", checkpoint_dir)
         .outputMode(output_mode))
    if trigger_once:
        w = w.trigger(availableNow=True)
    if out_path is not None:
        return w.format(fmt).option("path", out_path).start()
    return w.format("noop").start()


def stream_pbf_files(spark, dir_path: str, *,
                     glob: str = "*.osm.pbf") -> DataFrame:
    """Streaming decode of raw framed ``*.osm.pbf`` FILES landing in a
    directory — the minutely-diff ingestion pattern (the reference's
    osmosis replication fields point at exactly this feed,
    src/block.rs:66-86; the engine makes it a live source). Each file is
    one source row (``binaryFile``); frames are split and decoded with
    the same vectorized Arrow batch decoder as the batch path, with
    ``doc_id = <basename>#<blob_no>`` lineage.

    Files here are replication DIFFS (megabytes), not planet dumps —
    one file fits a task comfortably; point :mod:`..sources.ingest` at
    anything bigger.
    """
    import os

    from ..pbf.decode import decode_blob_batch, split_fileblocks
    from ..sources.documents import with_coordinate_columns

    raw = (spark.readStream.format("binaryFile")
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("pathGlobFilter", glob)
           .load(dir_path)
           .select("path", "content"))

    def batches(it):
        for batch in it:
            for path, content in zip(batch.column("path").to_pylist(),
                                     batch.column("content").to_pylist()):
                name = os.path.basename(path)
                rows = [(f"{name}#{b['blob_no']}", b["blob_no"],
                         b["blob_type"], b["blob_bytes"])
                        for b in split_fileblocks(bytes(content))
                        if b["blob_type"] == "OSMData"]
                if rows:
                    out = decode_blob_batch(rows)
                    if out.num_rows:
                        yield out

    from ..sources.documents import ELEMENTS_DDL
    return with_coordinate_columns(raw.mapInArrow(batches, ELEMENTS_DDL))


SESSION_OUT_DDL = ("user_id long, session_start timestamp, "
                   "session_end timestamp, n_events long")
_SESSION_STATE_DDL = ("starts array<long>, lasts array<long>, "
                      "ns array<long>")


def stream_sessionize(events: DataFrame, *, gap_minutes: int = 30,
                      ts_col: str = "ts",
                      key_col: str = "user_id") -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    gap-based sessionization over an unbounded event stream — the
    streaming twin of the batch ``sessionize`` query.

    Semantics (ADVICE r2): per-key state holds ALL still-open sessions
    as (start, last, n) triples; every invocation runs a full gap-merge
    over [open sessions ∪ new events], and a session FINALIZES only once
    the event-time watermark passes its last_event+gap — the only point
    after which no admissible event can extend or bridge it. (Emitting
    eagerly when a later event exceeds the gap was subtly wrong: with a
    watermark lagging max event time by one gap, an in-watermark late
    event can still land within gap of the emitted end and should have
    merged.) State stays bounded: open sessions are > gap apart and all
    end after watermark−gap, so a key holds O(1) of them; the timeout
    re-arms at the earliest open end+gap.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = gap_minutes * 60_000

    def fn(key, pdfs, state):
        (uid,) = key
        sessions = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [[s, l, n] for s, l, n in zip(starts, lasts, ns)]
        ts = []
        for pdf in pdfs:                  # empty iterator on pure timeout
            ts.extend(int(t.value // 1_000_000)
                      for t in pd.to_datetime(pdf[ts_col]))
        sessions += [[t, t, 1] for t in ts]
        sessions.sort(key=lambda s: (s[0], s[1]))
        merged = []
        for s in sessions:                # full gap-merge, late included
            if merged and s[0] - merged[-1][1] <= gap_ms:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(s)
        wm = state.getCurrentWatermarkMs()
        # STRICT <: an event with ts == watermark is still admitted by
        # Spark's late filter, and ts == end+gap merges in the batch
        # twin (split only when the lag EXCEEDS the gap) — so a session
        # is final only once the watermark moves strictly past end+gap
        done = [{"user_id": uid,
                 "session_start": pd.Timestamp(s, unit="ms"),
                 "session_end": pd.Timestamp(l, unit="ms"),
                 "n_events": n}
                for s, l, n in merged if l + gap_ms < wm]
        open_ = [s for s in merged if s[1] + gap_ms >= wm]
        if open_:
            state.update(([s[0] for s in open_], [s[1] for s in open_],
                          [s[2] for s in open_]))
            # earliest closeable open session — clamped above the
            # watermark (end+gap may equal it exactly now)
            state.setTimeoutTimestamp(
                max(min(s[1] for s in open_) + gap_ms, wm + 1))
        else:
            state.remove()
        if done:
            yield pd.DataFrame(done)

    return (events
            .withWatermark(ts_col, f"{gap_minutes} minutes")
            .groupBy(key_col)
            .applyInPandasWithState(fn, SESSION_OUT_DDL,
                                    _SESSION_STATE_DDL, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def stream_dedup(events: DataFrame, key_cols: list[str], *,
                 within_watermark: str | None = None,
                 ts_col: str = "ts") -> DataFrame:
    """Streaming exact deduplication: emit each distinct ``key_cols``
    combination once.

    ``within_watermark=None`` is the bounded-input / replay shape:
    plain ``dropDuplicates`` whose state holds every key seen — exact
    global dedup, state grows with distinct keys (fine for availableNow
    backfills; the batch answer is the oracle).

    ``within_watermark="2 hours"`` is the unbounded-run shape:
    ``dropDuplicatesWithinWatermark`` drops duplicates arriving within
    the watermark delay of the first sighting and EVICTS key state once
    the watermark passes it — bounded memory forever, at the documented
    cost that a duplicate arriving later than the delay re-emits. That
    trade (exactness within a horizon, bounded state) is the only
    correct one for infinite streams; pick the horizon from the
    upstream's max replay lag."""
    if within_watermark is not None:
        return (events.withWatermark(ts_col, within_watermark)
                .dropDuplicatesWithinWatermark(key_cols))
    return events.dropDuplicates(key_cols)


def stream_curate(doc_stream: DataFrame, hash_store: str, lsh_store: str,
                  out_dir: str, checkpoint_dir: str, *,
                  threshold: float = 0.5, max_bucket: int | None = 10_000,
                  text_col: str = "text", id_col: str = "doc_id",
                  gate=None, available_now: bool = True):
    """Continuous corpus refresh: every micro-batch of crawled documents
    is exact-deduped against the at-rest content-hash store, near-deduped
    against the at-rest LSH signature store, optionally ``gate``-filtered
    (a DataFrame→DataFrame quality gate), then appended to BOTH stores
    and written to ``out_dir/epoch=<id>/``. Returns the started query.

    This is the streaming face of the ``--refresh-stores`` job mode: the
    dedup state lives in the at-rest stores, NOT in Spark streaming
    state, so executor memory stays bounded no matter how much corpus
    has flowed through (contrast :func:`stream_dedup`, whose exactness
    is bounded by its watermark horizon). Each batch signs/hashes only
    itself and probes only the store partitions its keys land in.

    Crash recovery (a batch re-runs whenever the checkpoint commit
    didn't land): survivors are REPRODUCED identically — a survivor
    already appended is its own stored keeper, so the exact probe keeps
    it, and its stored signature group is itself, so the LSH probe's
    only new pair is the self-pair, which the pair join's
    ``doc_a < doc_b`` drops (the idempotence contract of
    ``dedup_exact_against_store`` / ``dedup_against_store``, tested).
    The per-epoch output directory is overwritten, and a double-append
    leaves both stores semantically intact (duplicate hash rows only
    answer existence; duplicate band rows only duplicate candidate
    pairs — ``compact_*_store`` restores the tight form).

    Both stores must exist (bootstrap with ``write_hash_store`` +
    ``write_lsh_store`` on the initial corpus, or the curation job's
    ``--refresh-stores`` first run).
    """
    import os

    from ..sources.store import (
        append_hash_store,
        append_lsh_store,
        dedup_against_store,
        dedup_exact_against_store,
    )

    def _refresh_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.head(1):          # empty trigger — nothing to do
            return
        surv = dedup_exact_against_store(
            spark, batch, hash_store, text_col=text_col, id_col=id_col)
        surv = dedup_against_store(
            spark, surv, lsh_store, threshold=threshold,
            max_bucket=max_bucket, text_col=text_col, id_col=id_col)
        if gate is not None:
            surv = gate(surv)
        surv = surv.persist()          # output write + two appends
        try:
            (surv.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"epoch={epoch_id}")))
            # appends AFTER the output write: a crash anywhere in this
            # block re-runs the epoch; see idempotence note above
            append_hash_store(surv, hash_store,
                              text_col=text_col, id_col=id_col)
            append_lsh_store(surv, lsh_store,
                             text_col=text_col, id_col=id_col)
        finally:
            surv.unpersist()

    writer = (doc_stream.writeStream.foreachBatch(_refresh_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
