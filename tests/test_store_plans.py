"""Element store layout + physical-plan audits: the scale-shape contract.

These tests pin the plans we want at 100 TB: pushdown reaching the scan,
broadcast joins where a side is small, zero row-at-a-time Python, and the
quarantine/header side channels."""

import pytest
from pyspark.sql import functions as F

from osmpbf_spark.plans.audit import audit
from osmpbf_spark.sources.documents import (
    fileblocks_to_rows,
    make_documents,
    read_elements,
    read_elements_quarantine,
    read_header,
)
from osmpbf_spark.sources.fixtures import fixture_fileblocks
from osmpbf_spark.sources.store import (
    nodes_in_id_range,
    read_store,
    scan_is_pruned,
    write_elements,
)
from osmpbf_spark.sources.synth import synth_documents


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("elstore") / "elements")
    docs, media, expected = synth_documents(spark, 20000,
                                            block_elements=2000)
    el = read_elements(docs, media)
    write_elements(el, path, sort_partitions=4)
    return read_store(spark, path), expected


def test_store_roundtrip_counts(store):
    df, expected = store
    counts = {r["element_type"]: r["cnt"] for r in
              df.groupBy("element_type").agg(F.count("*").alias("cnt"))
              .collect()}
    assert counts["node"] == expected["node"]
    assert counts["way"] == expected["way"]
    assert counts["relation"] == expected["relation"]


def test_id_range_scan_is_pruned(store):
    df, _ = store
    q = nodes_in_id_range(df, 100, 200)
    info = scan_is_pruned(q)
    # type filter reaches partition pruning; id range reaches parquet stats
    assert info["partition_filters"], info["plan"][:2000]
    assert info["pushed_filters"], info["plan"][:2000]
    assert q.count() == 101


def test_zone_map_parity_with_reference_semantics(store):
    # A3: per-blob min/max ranges materialized == zone maps
    from osmpbf_spark.operators.parity import element_id_ranges
    df, _ = store
    ranges = element_id_ranges(df)
    row = (ranges.filter("element_type = 'node'")
           .agg(F.min("min_id").alias("lo"), F.max("max_id").alias("hi"))
           .collect()[0])
    assert row["lo"] == 1 and row["hi"] == 20000


def test_semi_join_is_broadcast_and_codegen(store):
    df, _ = store
    from osmpbf_spark.operators.parity import tag_eq, ways_and_deps
    _, nodes = ways_and_deps(df, tag_eq("building", "yes"))
    a = audit(nodes, execute=True)
    assert a["broadcast_joins"] >= 1, a["plan"][:2000]
    assert a["row_at_a_time_python"] == 0
    assert a["codegen_stages"] >= 1
    assert a["pushed_filters"]


def test_pip_join_plan_shape(spark, store):
    # big side must not shuffle: cover and polygons joins are broadcast
    df, _ = store
    from osmpbf_spark.functions.grid import with_grid_cells
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    B = 1_000_000_000
    polys = make_polygons(spark, [
        ("box", [(40 * B, 5 * B), (50 * B, 5 * B), (50 * B, 15 * B),
                 (40 * B, 15 * B), (40 * B, 5 * B)])])
    nodes = with_grid_cells(df.filter("element_type = 'node'"))
    joined = pip_join(nodes, polys)
    a = audit(joined)
    assert a["broadcast_joins"] >= 2, a["plan"][:3000]
    assert a["sortmerge_joins"] == 0
    assert a["row_at_a_time_python"] == 0
    # refine is Catalyst decimal math — no Python beyond the decode UDF
    assert a["python_evals"] <= 1


def test_default_decode_path_never_shuffles_payload(spark, tmp_path):
    # VERDICT r1 #3: no batch decode scan may move payload bytes through
    # any Exchange — broadcasting the metadata side streams the media
    # scan straight into the decode UDF. Checked for all six scans over
    # in-memory and parquet-backed (documents, media); the header scan
    # once broadcast the whole media table.
    from osmpbf_spark.plans.audit import exchanges_carrying
    from osmpbf_spark.sources.documents import (
        blob_metadata,
        read_elements_raw,
        read_node_points,
        read_stringtables,
    )
    doc_rows, media_rows = fileblocks_to_rows(
        "p", fixture_fileblocks("zlib_dense"))
    docs, media = make_documents(spark, doc_rows, media_rows)
    docs.write.parquet(str(tmp_path / "docs"))
    media.write.parquet(str(tmp_path / "media"))
    for d, m in [(docs, media), (spark.read.parquet(str(tmp_path / "docs")),
                                 spark.read.parquet(str(tmp_path / "media")))]:
        scans = {"read_elements": read_elements(d, m),
                 "read_node_points": read_node_points(d, m),
                 "read_elements_raw": read_elements_raw(d, m),
                 "read_stringtables": read_stringtables(d, m),
                 "read_header": read_header(d, m)}
        scans["quarantine elements"], scans["quarantine errors"] = \
            read_elements_quarantine(d, m)
        moved = {n: exchanges_carrying(df, "payload")
                 for n, df in scans.items()}
        assert moved == {n: [] for n in scans}, moved
    # decode still correct on the default path
    el = scans["read_elements"]
    counts = {r["element_type"]: r["cnt"] for r in
              el.groupBy("element_type").agg(F.count("*").alias("cnt"))
              .collect()}
    assert counts == {"node": 3, "way": 1, "relation": 1}
    assert scans["read_header"].count() == 1
    # detector sanity: a plain (unhinted) metadata ⋈ media join DOES
    # carry payload through an exchange
    el_sh = blob_metadata(docs).join(media, "media_ref")
    assert exchanges_carrying(el_sh, "payload"), \
        "detector failed to flag the payload-carrying join"


def test_decode_scan_prunes_payload_for_metadata(spark):
    # header-only queries must not carry the payload column (lazy decode
    # analogue): scan of documents for blob metadata reads spans only
    from osmpbf_spark.sources.documents import blob_metadata
    doc_rows, media_rows = fileblocks_to_rows(
        "p", fixture_fileblocks("zlib_dense"))
    docs, _ = make_documents(spark, doc_rows, media_rows)
    plan = blob_metadata(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "payload" not in plan


def test_read_header(spark):
    doc_rows, media_rows = fileblocks_to_rows(
        "h", fixture_fileblocks("loc_on_ways"))
    docs, media = make_documents(spark, doc_rows, media_rows)
    hdr = read_header(docs, media).collect()
    assert len(hdr) == 1
    h = hdr[0]
    assert set(h["required_features"]) == {"OsmSchema-V0.6"}
    assert set(h["optional_features"]) == {"LocationsOnWays"}
    assert abs(h["bbox_top"] - 52.1224031) < 1e-6


def test_quarantine_mode(spark):
    good = fixture_fileblocks("zlib_dense")
    corrupt = (good[1][0], good[1][1][:-6] + b"\x00" * 6)
    doc_rows, media_rows = fileblocks_to_rows(
        "q", good + [corrupt])
    docs, media = make_documents(spark, doc_rows, media_rows)
    elements, errors = read_elements_quarantine(docs, media)
    assert elements.count() == 5           # good blob decodes fully
    errs = errors.collect()
    assert len(errs) == 1
    assert errs[0]["doc_id"] == "q#2"
    assert "Error" in errs[0]["error"] or "error" in errs[0]["error"]


def test_quarantine_single_pass_decode_counter(spark):
    # VERDICT r2 #6: the quarantine scan must decode each clean blob
    # EXACTLY once per action, not twice, and one blob per kernel call
    # (the blob is the unit of decode and of quarantine). Counted via a
    # wrapper written through a local[*] worker (same process space
    # under fork, so the counter file works).
    import json
    import tempfile

    import osmpbf_spark.pbf.decode as D
    cnt_file = tempfile.mktemp()
    real = D.decode_blob_batch

    def counting(rows):
        with open(cnt_file, "a") as f:
            f.write(json.dumps([r[1] for r in rows]) + "\n")
        return real(rows)

    good = fixture_fileblocks("zlib_dense")
    doc_rows, media_rows = fileblocks_to_rows("c", good * 3)
    docs, media = make_documents(spark, doc_rows, media_rows)
    import osmpbf_spark.sources.documents as SD
    orig = SD.read_elements_quarantine
    try:
        D.decode_blob_batch = counting
        # re-bind inside the module under test (closure captures module
        # attr at call time via the local import in the function)
        elements, errors = read_elements_quarantine(
            docs, media, decode_partitions=1)
        n = elements.count()
        assert n == 15
        import os
        calls = [json.loads(ln) for ln in open(cnt_file)] \
            if os.path.exists(cnt_file) else []
    finally:
        D.decode_blob_batch = real
    decoded = [b for call in calls for b in call]
    # every OSMData blob decoded exactly once in the elements action
    assert sorted(decoded) == sorted(set(decoded)), calls
    # and one kernel call per OSMData blob, each with one row
    assert len(calls) == 3 * sum(t == "OSMData" for t, _ in good), calls
    assert all(len(call) == 1 for call in calls), calls


def test_quarantine_bisection_isolates_multiple_bad_blobs(spark):
    good = fixture_fileblocks("zlib_dense")
    corrupt = [(good[1][0], good[1][1][:-6] + b"\x00" * 6),
               (good[1][0], b"\x1f\x8bnot-zlib")]
    blocks = good + [corrupt[0]] + good[1:] + [corrupt[1]] + good[1:]
    doc_rows, media_rows = fileblocks_to_rows("m", blocks)
    docs, media = make_documents(spark, doc_rows, media_rows)
    elements, errors = read_elements_quarantine(
        docs, media, decode_partitions=1)
    assert elements.count() == 15          # 3 clean OSMData blobs
    errs = sorted(r["doc_id"] for r in errors.collect())
    assert errs == ["m#2", "m#4"]


def test_ivf_store_prunes_partitions_and_matches_in_memory(spark, tmp_path):
    # the at-rest IVF layout must (a) return EXACTLY what the in-memory
    # ivf_topk returns on the same frozen centroids, and (b) prune the
    # scan to the probed cid partitions at plan time
    from osmpbf_spark.operators.knn import ivf_topk
    from osmpbf_spark.sources.store import read_ivf_topk, write_ivf_store
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    queries = (emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 13))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    path = str(tmp_path / "ivf")
    write_ivf_store(emb, cent, path)
    got = read_ivf_topk(spark, path, queries, 5, cent, nprobe=2)
    want = ivf_topk(emb, queries, 5, cent, nprobe=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # partition pruning: the scan carries a PartitionFilters predicate
    # on cid (plan-time pruning — Spark then lists only those
    # directories; .inputFiles() reports the UNPRUNED relation, so it
    # can't witness this), and the probed-cid set is a strict subset of
    # the store's partitions, so the pruning has something to cut
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines()
                  if "PartitionFilters" in l]
    assert scan_lines and any("cid" in l for l in scan_lines), plan
    import os
    from osmpbf_spark.operators.knn import ivf_assign
    all_parts = {int(d.split("=")[1]) for d in os.listdir(path)
                 if d.startswith("cid=")}
    probed = {r["cid"] for r in
              ivf_assign(queries, cent, 2, id_col="query_id")
              .select("cid").distinct().collect()}
    assert probed < all_parts, (probed, all_parts)


def test_build_ivf_store_trains_and_serves(spark, tmp_path):
    # offline build end-to-end (round 4): train_centroids → partitioned
    # write; serving over the store equals in-memory ivf_topk on the
    # SAME trained centroids, and the build is deterministic (a second
    # build returns identical centroids)
    from osmpbf_spark.operators.knn import ivf_topk
    from osmpbf_spark.sources.store import build_ivf_store, read_ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = (emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 23))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    path = str(tmp_path / "ivf_built")
    cent = build_ivf_store(emb, 4, path, iters=2)
    got = read_ivf_topk(spark, path, queries, 5, cent, nprobe=2)
    want = ivf_topk(emb, queries, 5, cent, nprobe=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    c1 = sorted((r["cid"], tuple(r["cvec"])) for r in cent.collect())
    c2 = sorted((r["cid"], tuple(r["cvec"])) for r in
                build_ivf_store(emb, 4, str(tmp_path / "ivf2"),
                                iters=2).collect())
    assert c1 == c2


def test_append_ivf_store_incremental_refresh(spark, tmp_path):
    # corpus-refresh parity for the ANN index (the hash/LSH stores'
    # append story, applied to embeddings): appending a new crawl under
    # the FROZEN centroids must serve exactly like a store built from
    # the union, and skip_existing re-appends must be idempotent
    from osmpbf_spark.sources.store import (
        append_ivf_store,
        ivf_store_stats,
        read_ivf_topk,
        write_ivf_store,
    )
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    old = emb.filter(F.col("vec_id") < 40)
    new = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    union = emb.filter(F.col("vec_id") < 60)
    queries = (emb.filter((F.col("vec_id") >= 70) & (F.col("vec_id") < 73))
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    path = str(tmp_path / "ivf_inc")
    write_ivf_store(old, cent, path)
    append_ivf_store(new, cent, path)
    got = read_ivf_topk(spark, path, queries, 5, cent, nprobe=3)

    full = str(tmp_path / "ivf_full")
    write_ivf_store(union, cent, full)
    want = read_ivf_topk(spark, full, queries, 5, cent, nprobe=3)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    # crash-recovery idempotence: re-appending the same batch with
    # skip_existing adds zero rows and leaves serving unchanged
    n_before = spark.read.parquet(path).count()
    assert n_before == union.count()
    append_ivf_store(new, cent, path, skip_existing=True)
    assert spark.read.parquet(path).count() == n_before
    again = read_ivf_topk(spark, path, queries, 5, cent, nprobe=3)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, want.collect()))

    # stats: totals reconcile and the imbalance ratio is well-formed
    stats = ivf_store_stats(spark, path)
    assert stats["rows"] == n_before
    assert sum(stats["per_cid"].values()) == stats["rows"]
    assert stats["imbalance"] >= 1.0
    assert stats["partitions"] == len(stats["per_cid"])

    # plan pin (PLANS.md "IVF store append"): the skip_existing probe
    # partition-prunes the store scan and keeps both joins broadcast —
    # the stored vectors must never shuffle
    from osmpbf_spark.operators.knn import ivf_assign
    from osmpbf_spark.sources.store import _fresh_appendable, scan_is_pruned
    assign = ivf_assign(new, cent, 1)
    fresh = _fresh_appendable(
        new.join(assign.select("vec_id", "cid"), "vec_id"),
        path, "vec_id")
    fresh.collect()
    info = scan_is_pruned(fresh)
    # the plan also holds unpartitioned embeddings.parquet scans (whose
    # "PartitionFilters: []" would trip the blunt helper), so pin the
    # STORE scan's cid pruning by its filter text instead
    assert "PartitionFilters: [cid" in info["plan"], info["plan"][:2000]
    assert "BroadcastHashJoin" in info["plan"]
    assert "SortMergeJoin" not in info["plan"]


def test_compact_ivf_store_and_empty_append(spark, tmp_path):
    # many small appends → compaction restores few files per cid with
    # identical contents; appending an EMPTY crawl is a no-op on both
    # append paths
    from osmpbf_spark.sources.store import (
        append_ivf_store,
        compact_ivf_store,
        write_ivf_store,
    )
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = (emb.filter(F.col("vec_id") < 4)
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec")))
    path = str(tmp_path / "ivf_many")
    write_ivf_store(emb.filter(F.col("vec_id") < 20), cent, path)
    for lo in range(20, 60, 10):           # 4 small append batches
        append_ivf_store(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)),
            cent, path)
    def _rows(df):
        return sorted((r["vec_id"], r["cid"], tuple(r["embedding"]))
                      for r in df.collect())

    before = _rows(spark.read.parquet(path))
    rep = compact_ivf_store(spark, path)
    assert rep["rows"] == 60
    assert rep["files_after"] <= cent.count()          # one per cid
    assert rep["files_after"] < rep["files_before"]
    after = spark.read.parquet(path)
    assert _rows(after) == before
    assert not any(p.endswith((".compact.tmp", ".compact.old"))
                   for p in str(tmp_path).split())

    empty = emb.filter(F.lit(False))
    append_ivf_store(empty, cent, path)
    append_ivf_store(empty, cent, path, skip_existing=True)
    assert spark.read.parquet(path).count() == 60


def test_minhash_self_join_reuses_exchange(spark):
    # scale audit (r4): the LSH band self-join's twin signature
    # pipelines must collapse to ONE execution via AQE's ReusedExchange
    # (identical (band, band_val) exchanges) — a regression here doubles
    # the dominant shingle→permute→min cost at corpus scale
    from osmpbf_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    df = minhash_lsh_pairs(docs)
    df.collect()                      # AQE finalizes at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:2000]


# ---- at-rest LSH signature store (VERDICT r4 #2) ---------------------------

def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.fixture(scope="module")
def lsh_corpora(spark):
    """old corpus A (with internal near-dups + a template group) and a
    new crawl B (internal dups, near-dups of A, exact-sig matches of A,
    and fresh uniques)."""
    old = [("a%02d" % i, t) for i, t in enumerate([
        "the quick brown fox jumps over the lazy dog in the park",
        "the quick brown fox jumps over the lazy dog in the yard",
        "completely unrelated text about cooking pasta with tomato sauce",
        "template words boiler plate header footer legal contact terms",
        "template words boiler plate header footer legal contact terms",
        "another unique document concerning winter mountain hiking gear",
    ])]
    new = [("b%02d" % i, t) for i, t in enumerate([
        # near-dup of a00/a01
        "the quick brown fox jumps over the lazy dog in the rain",
        # exact-signature match of the a03/a04 template group
        "template words boiler plate header footer legal contact terms",
        # new-only near-dup pair
        "fresh crawl document about quantum computing and error rates",
        "fresh crawl document about quantum computing and error bars",
        # unique
        "entirely novel content on deep sea creatures and biolumin",
    ])]
    return old, new


def test_lsh_store_pairs_equal_full_recompute_on_union(
        spark, tmp_path_factory, lsh_corpora):
    from osmpbf_spark.operators.dedup import minhash_lsh_pairs
    from osmpbf_spark.sources.store import lsh_store_pairs, write_lsh_store
    old_rows, new_rows = lsh_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("lshstore") / "store")
    write_lsh_store(old, path, k=16, bands=8)

    def pset(df):
        return {(r["doc_a"], r["doc_b"], r["est_jaccard"])
                for r in df.collect()}
    full = pset(minhash_lsh_pairs(old.unionByName(new), k=16, bands=8,
                                  threshold=0.5))
    old_only = pset(minhash_lsh_pairs(old, k=16, bands=8, threshold=0.5))
    incr = pset(lsh_store_pairs(spark, new, path, threshold=0.5))
    assert old_only | incr == full
    assert old_only.isdisjoint(incr)
    # the incremental result found real cross pairs, incl. the exact-
    # signature template match at est exactly 1.0
    assert any(a.startswith("a") and b.startswith("b") and e == 1.0
               for a, b, e in incr)
    assert any(a.startswith("b") and b.startswith("b") for a, b, e in incr)


def test_lsh_store_probe_is_partition_pruned(spark, tmp_path_factory,
                                             lsh_corpora):
    import os
    from osmpbf_spark.sources.store import (
        lsh_store_pairs,
        scan_is_pruned,
        write_lsh_store,
    )
    old_rows, new_rows = lsh_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("lshstore2") / "store")
    write_lsh_store(old, path, k=16, bands=8, n_subbuckets=32)
    # partition layout on disk: band=<b>/bvb=<m>
    band_dirs = [d for d in os.listdir(os.path.join(path, "bands"))
                 if d.startswith("band=")]
    assert len(band_dirs) == 8
    pairs = lsh_store_pairs(spark, new, path, threshold=0.5)
    pairs.collect()
    plan = scan_is_pruned(pairs)["plan"]
    # every scan of the bands table must carry non-empty
    # PartitionFilters (the membership scan is legitimately unpruned —
    # it reads (doc_id, grp_id) only for the expansion join)
    band_scans = [ln for ln in plan.splitlines()
                  if "FileScan parquet" in ln and "store/bands" in ln]
    assert band_scans, "expected FileScan lines over the bands table"
    for ln in band_scans:
        assert "PartitionFilters: []" not in ln and \
            "PartitionFilters: [" in ln, ln[:200]


def test_lsh_store_append_and_dedup_cycle(spark, tmp_path_factory,
                                          lsh_corpora):
    from osmpbf_spark.operators.dedup import minhash_lsh_pairs
    from osmpbf_spark.sources.store import (
        append_lsh_store,
        dedup_against_store,
        lsh_store_pairs,
        write_lsh_store,
    )
    old_rows, new_rows = lsh_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("lshstore3") / "store")
    write_lsh_store(old, path, k=16, bands=8)
    kept = dedup_against_store(spark, new, path, threshold=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # b00 dups a00/a01 (store wins); b01 dups the a03/a04 template;
    # b02/b03 are a new-only pair -> keep min (b02); b04 unique
    assert ids == {"b02", "b04"}
    # complete the refresh: append survivors, then a THIRD crawl that
    # dups a survivor must see it through the store
    append_lsh_store(kept, path)
    third = _corpus(spark, [
        ("c00", "fresh crawl document about quantum computing and "
                "error rates")])  # near-dup of b02 (now at rest)
    kept3 = dedup_against_store(spark, third, path, threshold=0.5)
    assert kept3.count() == 0
    pairs3 = lsh_store_pairs(spark, third, path, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs3.collect()}
    assert ("b02", "c00") in got


def test_lsh_store_pairs_capped_equals_capped_recompute(spark,
                                                        tmp_path_factory):
    # review r5 repro: with max_bucket ENGAGED the probe must still
    # equal the capped full recompute — the cap has to count DISTINCT
    # signatures over the combined population (per-batch groups leave a
    # signature shared across batches as two rows where the union
    # recompute holds one representative; counting rows fired the cap
    # early and MISSED pair (a0, b1))
    from osmpbf_spark.operators.dedup import minhash_lsh_pairs
    from osmpbf_spark.sources.store import (
        lsh_store_bucket_overflow,
        lsh_store_pairs,
        write_lsh_store,
    )
    text = "the quick brown fox jumps over the lazy dog in the %s"
    old = _corpus(spark, [("a0", text % "park"), ("a1", text % "yard")])
    new = _corpus(spark, [("b0", text % "park"), ("b1", text % "rain")])
    path = str(tmp_path_factory.mktemp("lshcap") / "store")
    write_lsh_store(old, path, k=16, bands=8)

    def pset(df):
        return {(r["doc_a"], r["doc_b"], r["est_jaccard"])
                for r in df.collect()}
    for cap in (3, 2, 1, None):
        full = pset(minhash_lsh_pairs(old.unionByName(new), k=16,
                                      bands=8, threshold=0.5,
                                      max_bucket=cap))
        old_only = pset(minhash_lsh_pairs(old, k=16, bands=8,
                                          threshold=0.5, max_bucket=cap))
        incr = pset(lsh_store_pairs(spark, new, path, threshold=0.5,
                                    max_bucket=cap))
        assert old_only | incr == full, (cap, full - (old_only | incr),
                                         (old_only | incr) - full)
    # uncapped: 4 distinct sigs all share buckets; ("a0","b1") found
    assert any(p[:2] == ("a0", "b1") for p in incr)
    # the audit names the buckets a tight cap excluded
    over = lsh_store_bucket_overflow(spark, new, path, max_bucket=1)
    rows = over.collect()
    assert rows and all(r["bucket_n"] > 1 for r in rows)
    assert lsh_store_bucket_overflow(spark, new, path,
                                     max_bucket=10_000).isEmpty()


def test_lsh_store_compaction_merges_cross_batch_groups(
        spark, tmp_path_factory):
    # append groups per batch: the same signature in 3 crawls holds 3
    # banding rows until compaction merges them (min group id = global
    # min member); probe results identical before/after
    from osmpbf_spark.sources.store import (
        append_lsh_store,
        compact_lsh_store,
        lsh_store_pairs,
        write_lsh_store,
    )
    t = "shared template boiler plate header footer legal contact %s"
    b1 = _corpus(spark, [("a0", t % "terms"), ("a1", t % "terms"),
                         ("a2", "unrelated text about deep sea life")])
    b2 = _corpus(spark, [("b0", t % "terms"),
                         ("b1", "novel musings on alpine railway")])
    b3 = _corpus(spark, [("c0", t % "terms")])
    path = str(tmp_path_factory.mktemp("lshcompact") / "store")
    write_lsh_store(b1, path, k=16, bands=8)
    append_lsh_store(b2, path)
    append_lsh_store(b3, path)
    probe = _corpus(spark, [("q0", t % "terms"),
                            ("q1", "fresh quantum computing question")])

    def pset(df):
        return {tuple(r) for r in df.collect()}
    before = pset(lsh_store_pairs(spark, probe, path, threshold=0.5))
    stats = compact_lsh_store(spark, path)
    after = pset(lsh_store_pairs(spark, probe, path, threshold=0.5))
    assert before == after
    # template sig spanned 3 batches (groups a0, b0, c0) + 2 uniques
    assert stats == {"reps_before": 5, "reps_after": 3}
    # q0 pairs with EVERY stored template member at est exactly 1.0
    assert {("a0", "q0", 1.0), ("a1", "q0", 1.0),
            ("b0", "q0", 1.0), ("c0", "q0", 1.0)} <= after


# ---------------------------------------------------------------------------
# at-rest content-hash store (exact-dedup refresh counterpart of the LSH
# store)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hash_corpora(spark):
    old = [("a%02d" % i, t) for i, t in enumerate([
        "alpha text one", "alpha text one",       # internal exact dup
        "beta text two", "gamma text three",
    ])]
    new = [("b%02d" % i, t) for i, t in enumerate([
        "alpha text one",                          # dup of stored a00
        "delta text four", "delta text four",      # new-only dup group
        "epsilon text five",                       # fresh unique
    ])]
    return old, new


def test_hash_store_dedup_matches_full_recompute(spark, tmp_path_factory,
                                                 hash_corpora):
    from osmpbf_spark.operators.dedup import dedup_documents
    from osmpbf_spark.sources.store import (
        dedup_exact_against_store,
        write_hash_store,
    )
    old_rows, new_rows = hash_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("hashstore") / "store")
    write_hash_store(old, path, n_buckets=16)
    surv = dedup_exact_against_store(spark, new, path)
    got = {r["doc_id"] for r in surv.collect()}
    # identity with full-union exact dedup restricted to the new side —
    # which holds here because stored ids sort below new ids (the
    # normal crawl ordering); see the stored-wins test below for the
    # deliberate divergence when they don't
    full = dedup_documents(old.unionByName(new), method="exact")
    want = {r["doc_id"] for r in full.collect() if r["doc_id"][0] == "b"}
    assert got == want == {"b01", "b03"}


def test_hash_store_stored_document_wins_over_lower_new_id(
        spark, tmp_path_factory):
    """Deliberate divergence from full-union recompute: the at-rest
    corpus stays stable, so a stored keeper beats a NEW document with
    a lower-sorting id (dedup_documents would re-elect the global min
    and evict the already-kept document)."""
    from osmpbf_spark.sources.store import (
        dedup_exact_against_store,
        write_hash_store,
    )
    old = _corpus(spark, [("z01", "shared text")])
    new = _corpus(spark, [("a01", "shared text")])
    path = str(tmp_path_factory.mktemp("hashstore5") / "store")
    write_hash_store(old, path, n_buckets=16)
    # a01 < z01 but the stored z01 wins; a01 is dropped
    assert dedup_exact_against_store(spark, new, path).count() == 0


def test_hash_store_hits_report_stored_keeper(spark, tmp_path_factory,
                                              hash_corpora):
    from osmpbf_spark.sources.store import hash_store_hits, write_hash_store
    old_rows, new_rows = hash_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("hashstore2") / "store")
    write_hash_store(old, path, n_buckets=16)
    hits = {(r["doc_id"], r["keeper"])
            for r in hash_store_hits(spark, new, path).collect()}
    # b00 duplicates the a00/a01 group whose stored keeper is a00
    assert hits == {("b00", "a00")}


def test_hash_store_probe_is_partition_pruned_and_broadcast(
        spark, tmp_path_factory, hash_corpora):
    from osmpbf_spark.sources.store import (
        hash_store_hits,
        scan_is_pruned,
        write_hash_store,
    )
    old_rows, new_rows = hash_corpora
    old = _corpus(spark, old_rows)
    # single-doc probe: prunes to one hb partition
    new = _corpus(spark, [("b00", "alpha text one")])
    path = str(tmp_path_factory.mktemp("hashstore3") / "store")
    write_hash_store(old, path, n_buckets=16)
    res = hash_store_hits(spark, new, path)
    info = scan_is_pruned(res)
    assert info["partition_filters"]
    assert "BroadcastHashJoin" in info["plan"]
    # the store side must not shuffle: no hashpartitioning exchange
    # feeds the store scan's join (broadcast legs only)
    assert res.collect()[0]["keeper"] == "a00"


def test_hash_store_append_and_compact_cycle(spark, tmp_path_factory,
                                             hash_corpora):
    import os
    from osmpbf_spark.sources.store import (
        append_hash_store,
        compact_hash_store,
        dedup_exact_against_store,
        write_hash_store,
    )
    old_rows, new_rows = hash_corpora
    old, new = _corpus(spark, old_rows), _corpus(spark, new_rows)
    path = str(tmp_path_factory.mktemp("hashstore4") / "store")
    write_hash_store(old, path, n_buckets=16)
    surv = dedup_exact_against_store(spark, new, path)
    append_hash_store(surv, path)
    # idempotence (review r5): re-probing the SAME crawl after its
    # survivors were appended returns the same survivors — each is its
    # own stored keeper, and "a document is not a duplicate of itself";
    # this is what makes the curation job's crash-recovery re-run safe
    again = dedup_exact_against_store(spark, new, path)
    assert ({r["doc_id"] for r in again.collect()}
            == {r["doc_id"] for r in surv.collect()} == {"b01", "b03"})
    # a DIFFERENT crawl repeating a stored text is still dropped
    third = dedup_exact_against_store(
        spark, _corpus(spark, [("x01", "delta text four")]), path)
    assert third.count() == 0
    # out-of-band duplicate append, then compaction restores the
    # one-row-per-hash invariant with the global-min keeper
    append_hash_store(_corpus(spark, [("z99", "alpha text one")]), path)
    stats = compact_hash_store(spark, path)
    assert stats["rows_after"] < stats["rows_before"]
    hashes = spark.read.parquet(os.path.join(path, "hashes"))
    per = (hashes.groupBy("content_hash").count()
           .filter("count > 1").count())
    assert per == 0
    row = (hashes.filter("keeper in ('a00','z99')").collect())
    assert {r["keeper"] for r in row} == {"a00"}
