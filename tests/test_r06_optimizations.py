"""Focused equivalence tests for the r6 optimization reworks.

Every optimization in round 6 restructures HOW something is computed,
never WHAT: these tests pin the new implementations against the old
formulations (or an independent oracle) value-for-value, including the
edge cases that motivated each guard.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from osmpbf_spark.functions.grid import GRID_RES_FINE, with_grid_cells
from osmpbf_spark.functions.text import (
    poly_hash_sql,
    poly_hash_vec,
    tokens_sql,
)

B = 1_000_000_000


def _box(pid, la0, lo0, la1, lo1):
    return (pid, [(la0, lo0), (la1, lo0), (la1, lo1), (la0, lo1),
                  (la0, lo0)])


_POLY_ZOO = [
    _box("megacity", int(42.9 * B), int(8.9 * B), int(43.1 * B),
         int(9.1 * B)),
    _box("band", 44 * B, 5 * B, 46 * B, 15 * B),
    ("diamond", [(45 * B, 7 * B), (47 * B, 9 * B), (45 * B, 11 * B),
                 (43 * B, 9 * B), (45 * B, 7 * B)]),
    ("concave", [(41 * B, 12 * B), (44 * B, 12 * B), (44 * B, 14 * B),
                 (43 * B, 13 * B), (42 * B, 14 * B), (41 * B, 12 * B)]),
    ("am", [(48 * B, int(179.5 * B)), (49 * B, int(179.5 * B)),
            (49 * B, int(180.5 * B)), (48 * B, int(180.5 * B)),
            (48 * B, int(179.5 * B))]),
    ("tiny", [(int(41.00001 * B), int(7.00001 * B)),
              (int(41.00002 * B), int(7.00002 * B)),
              (int(41.00001 * B), int(7.00003 * B)),
              (int(41.00001 * B), int(7.00001 * B))]),
]


def _zoo_points(spark, n=120_000):
    pts = spark.range(0, n).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % (10 * B) + 40 * B).alias("lat_nano"),
        ((F.col("id") * 2246822519) % (10 * B) + 5 * B).alias("lon_nano"))
    return with_grid_cells(pts, res=GRID_RES_FINE)


def test_classified_cover_pip_join_matches_unclassified(spark):
    """pip_join over the classified (interval-tested, coarsened) cover
    must emit EXACTLY the rows the plain bbox cover + full ray cast
    emits — incl. antimeridian copies and sub-cell polygons."""
    from osmpbf_spark.operators.pip import (
        make_polygons,
        pip_join,
        polygon_cover,
        split_antimeridian,
    )
    pts = _zoo_points(spark)
    polys = make_polygons(spark, _POLY_ZOO)
    old_cover = polygon_cover(split_antimeridian(polys), GRID_RES_FINE,
                              tight="auto")
    old = pip_join(pts, polys, res=GRID_RES_FINE,
                   cover=old_cover).select("poly_id", "id")
    new = pip_join(pts, polys, res=GRID_RES_FINE).select("poly_id", "id")
    assert old.count() == new.count() > 0
    assert old.exceptAll(new).isEmpty()
    assert new.exceptAll(old).isEmpty()


def test_classified_cover_classes_partition_each_polygon(spark):
    """Coarse supercells, residual fine fulls and boundary cells must
    tile disjoint areas: no fine cell may also be covered by a coarse
    row of the same ring copy."""
    from osmpbf_spark.functions.grid import RES_SHIFT, Y_SHIFT, cell_xy
    from osmpbf_spark.operators.pip import (
        _COARSE_STEP,
        make_polygons,
        polygon_cover,
        split_antimeridian,
    )
    polys = make_polygons(spark, _POLY_ZOO)
    cc = polygon_cover(split_antimeridian(polys), GRID_RES_FINE,
                       classify=True)
    assert getattr(cc, "_osmpbf_coarse_res", None) == \
        GRID_RES_FINE - _COARSE_STEP
    res_col, x, y = cell_xy("cell")
    k = 1 << _COARSE_STEP
    fine = cc.filter(res_col == GRID_RES_FINE).withColumn(
        "pcell",
        (F.lit(GRID_RES_FINE - _COARSE_STEP).cast("long")
         * F.lit(RES_SHIFT)
         + (x / k).cast("long") * F.lit(Y_SHIFT) + (y / k).cast("long")))
    coarse = cc.filter(res_col == GRID_RES_FINE - _COARSE_STEP).select(
        "poly_id", "_ck", F.col("cell").alias("pcell"))
    overlap = fine.join(coarse, ["poly_id", "_ck", "pcell"], "left_semi")
    assert overlap.isEmpty()
    # every coarse row is full, and cells are unique per ring copy
    assert cc.filter(res_col == GRID_RES_FINE - _COARSE_STEP) \
             .filter(~F.col("full")).isEmpty()
    assert cc.groupBy("poly_id", "_ck", "cell").count() \
             .filter("count > 1").isEmpty()


def test_minhash_arrow_sigs_match_catalyst(spark):
    """The mapInArrow signature kernel must reproduce the Catalyst
    minhash_signatures values bit-for-bit — incl. astral code points,
    CJK, NULL/empty/whitespace-only documents."""
    from osmpbf_spark.operators.dedup import (
        minhash_doc_sigs,
        minhash_signatures,
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "emoji \U0001F600 mid \U0001F680 text with several words"),
         (3, "中文 分词 测试 中文 分词 测试 与 更多 词"),
         (4, None), (5, ""), (6, "   "), (7, "one two"),
         (8, "a b c a b c a b c"),
         (9, "tab\tkept big   gaps collapse to empties here ok")],
        "doc_id long, text string")
    k = 8
    piv = (minhash_signatures(docs, k=k, shingle_n=3)
           .groupBy("doc_id")
           .agg(F.expr("array_sort(collect_list(struct(j, sig)))")
                .alias("js"))
           .select("doc_id",
                   F.expr("transform(js, s -> s.sig)").alias("sigs")))
    new = minhash_doc_sigs(docs, k=k, shingle_n=3)
    assert piv.count() == new.count()
    assert piv.exceptAll(new).isEmpty()
    assert new.exceptAll(piv).isEmpty()


def test_simhash_arrow_matches_catalyst(spark):
    from osmpbf_spark.operators.dedup import simhash
    docs = spark.createDataFrame(
        [(1, "the cat and the cat and the"), (2, None), (3, ""),
         (4, "unicode \U0001F600 token mix"), (5, "x"),
         (6, "repeat repeat repeat distinct")],
        "doc_id long, text string")
    toks = (docs.select(F.col("doc_id"),
                        F.explode(F.expr(tokens_sql("text"))).alias("tok"))
            .withColumn("h", F.expr(poly_hash_sql("tok"))))
    bits = 32
    votes = (toks.join(F.broadcast(
        spark.range(bits).select(F.col("id").alias("b"))))
        .withColumn("bit", F.expr("(h DIV CAST(power(2, b) AS BIGINT))"
                                  " % 2"))
        .groupBy("doc_id", "b")
        .agg(F.sum("bit").alias("ones"), F.count("*").alias("n")))
    old = (votes.withColumn(
        "term", F.when(F.col("ones") * 2 > F.col("n"),
                       F.expr("CAST(power(2, b) AS BIGINT)"))
        .otherwise(F.lit(0).cast("long")))
        .groupBy("doc_id").agg(F.sum("term").alias("simhash")))
    new = simhash(docs)
    assert old.count() == new.count()
    assert old.exceptAll(new).isEmpty()
    assert new.exceptAll(old).isEmpty()


def test_poly_hash_vec_matches_sql_fold(spark):
    texts = ["hello world", "café", "€ uro", "emoji \U0001F600 x", "",
             "a", "ßß", "mixed 中文 text", "tab\there", None, "   "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    a = [tuple(r) for r in df.select(
        "i", F.expr(poly_hash_sql("text")).alias("h"))
        .orderBy("i").collect()]
    b = [tuple(r) for r in df.select(
        "i", poly_hash_vec("text").alias("h")).orderBy("i").collect()]
    assert a == b


def test_dsum_fast_matches_decimal_sum(spark):
    from osmpbf_spark.queries import _dsum, _dsum_fast
    df = spark.createDataFrame(
        [(1, 0.03125), (1, 1e9 + 0.12345), (1, -7.77775),
         (2, 123456789.9999), (2, 0.00005), (3, None), (3, 2.5)],
        "g int, v double")
    a = sorted(map(tuple, df.groupBy("g")
                   .agg(F.expr(_dsum("v")).alias("s")).collect()))
    b = sorted(map(tuple, df.groupBy("g")
                   .agg(F.expr(_dsum_fast("v")).alias("s")).collect()))
    assert a == b


def test_scan_messages_vec_matches_scan_fields():
    """The lockstep scanner must agree field-for-field with the scalar
    scanner — last-occurrence-wins, absent-vs-empty LEN distinction,
    I32/I64 skipping, unknown fields — and raise on truncation."""
    from osmpbf_spark.pbf.wire import (
        WT_LEN,
        WT_VARINT,
        len_field,
        scan_fields,
        scan_messages_vec,
        tag,
        varint_field,
    )
    msgs = [
        varint_field(1, 42) + len_field(8, b"\x01\x02"),
        len_field(8, b"") + varint_field(1, (1 << 64) - 5),
        b"",                                       # empty message
        len_field(2, b"abc") + len_field(2, b"zz"),   # repeated: last wins
        varint_field(1, 7) + tag(5, 1) + b"\x00" * 8   # I64 skipped
        + tag(6, 5) + b"\x00" * 4                      # I32 skipped
        + len_field(9, b"xyz"),
        varint_field(99, 1) + len_field(98, b"skipme") + varint_field(1, 3),
    ]
    big, vals, spans = scan_messages_vec(
        msgs, varint_fields=(1,), len_fields=(2, 8, 9))
    for i, m in enumerate(msgs):
        ref_v = {1: 0}
        ref_l = {2: (None, False), 8: (None, False), 9: (None, False)}
        for fno, wt, value in scan_fields(m):
            if fno == 1 and wt == WT_VARINT:
                ref_v[1] = value
            elif wt == WT_LEN and fno in (2, 8, 9):
                ref_l[fno] = (bytes(value), True)
        assert int(vals[1][i]) == ref_v[1], i
        for fno in (2, 8, 9):
            st, ln, pr = spans[fno]
            got = (big[st[i]:st[i] + ln[i]].tobytes(), bool(pr[i]))
            want = ref_l[fno] if ref_l[fno][1] else (b"", False)
            assert got == want, (i, fno)
    with pytest.raises(ValueError):
        scan_messages_vec([b"\x08"], varint_fields=(1,), len_fields=())
    with pytest.raises(ValueError):  # LEN length overruns the message
        scan_messages_vec([tag(2, WT_LEN) + b"\x7f" + b"x"],
                          varint_fields=(), len_fields=(2,))


def _knn_coords(n, a, b, offset=0):
    """Deterministic scattered (id, lat_nano, lon_nano) arrays in a
    2° box at 44°N 7°E."""
    ids = np.arange(n, dtype=np.int64)
    return (ids + offset, (ids * a) % (2 * B) + 44 * B,
            (ids * b) % (2 * B) + 7 * B)


def _knn_frame(spark, cols, id_name, res):
    ids, lat, lon = cols
    return with_grid_cells(spark.createDataFrame(pd.DataFrame(
        {id_name: ids, "lat_nano": lat, "lon_nano": lon})), res=res)


def _numpy_knn(pts, qs, k):
    """(query_id, id, rn) by brute force, with grid_knn's exact double
    formula: integer diffs cast once, then d*d + d*d; ties by id."""
    pid, plat, plon = pts
    out = set()
    for qid, qla, qlo in zip(*qs):
        dla = (qla - plat).astype(np.float64)
        dlo = (qlo - plon).astype(np.float64)
        order = np.lexsort((pid, dla * dla + dlo * dlo))[:k]
        out |= {(int(qid), int(pid[i]), r + 1) for r, i in enumerate(order)}
    return out


def _executions(spark):
    """(id, description) of the SQL executions in the status store,
    oldest first."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sorted((lst.apply(i).executionId(), lst.apply(i).description())
                  for i in range(lst.size()))


def _last_execution_id(spark):
    return max((i for i, _ in _executions(spark)), default=-1)


def _knn_labels(spark, after_id):
    """Distinct grid_knn job descriptions of the executions after
    ``after_id``, in order of first use."""
    return list(dict.fromkeys(
        d for i, d in _executions(spark)
        if i > after_id and d and d.startswith("grid_knn")))


_KNN_PTS = _knn_coords(40_000, 2654435761, 2246822519)
_KNN_QS = _knn_coords(500, 3141592653, 2718281829, offset=1_000_000)


def test_grid_knn_auto_start_disk_matches_explicit(spark, monkeypatch):
    """The first disk is a SCHEDULE, never a result: the measured start
    and a forced wider one must return identical rows."""
    from osmpbf_spark.operators import knn
    assert knn._start_disk(0, 0, 5) == 1
    assert knn._start_disk(100, 1000, 5) == 8      # λ = 0.1 → capped
    assert knn._start_disk(40_000, 1000, 3) == 1   # dense
    res = 12
    pts = _knn_frame(spark, _KNN_PTS, "id", res)
    qdf = _knn_frame(spark, _KNN_QS, "query_id", res)
    auto = knn.grid_knn(pts, qdf, 3, res=res).select("query_id", "id", "rn")
    monkeypatch.setattr(knn, "_start_disk", lambda n, cells, k: 4)
    fixed = knn.grid_knn(pts, qdf, 3, res=res).select("query_id", "id", "rn")
    assert auto.count() == fixed.count() == 1500
    assert auto.exceptAll(fixed).isEmpty()
    assert fixed.exceptAll(auto).isEmpty()


@pytest.mark.parametrize("shape,consts", [
    ("rev", {"_REV_MIN_ROWS": 0}),
    ("bcast", {"_REV_MIN_ROWS": 1 << 60}),
    ("shuffle", {"_BCAST_ROWS": 0}),
], ids=["rev", "bcast", "shuffle"])
def test_grid_knn_reversed_probe_matches_cand_cells(spark, monkeypatch,
                                                    shape, consts):
    """Each round shape — reversed probe (broadcast queries keyed by
    their own cell; points explode by the offsets), broadcast candidate
    cells, and the shuffle join — is a JOIN SHAPE, never a result: each
    forced shape must return exactly the brute-force rows, including
    duplicate-coordinate ties and near-cell-boundary points."""
    from osmpbf_spark.operators import knn
    for name, value in consts.items():
        monkeypatch.setattr(knn, name, value)
    res = 12
    # duplicate coordinates: ids 40000.. replay the first 200 points
    ids, lat, lon = _KNN_PTS
    pts_np = (np.concatenate([ids, ids[:200] + 40_000]),
              np.concatenate([lat, lat[:200]]),
              np.concatenate([lon, lon[:200]]))
    pts = _knn_frame(spark, pts_np, "id", res)
    qdf = _knn_frame(spark, _KNN_QS, "query_id", res)
    before = _last_execution_id(spark)
    got = knn.grid_knn(pts, qdf, 3, res=res).select(
        "query_id", "id", F.col("rn").cast("long"))
    want = spark.createDataFrame(sorted(_numpy_knn(pts_np, _KNN_QS, 3)),
                                 "query_id long, id long, rn long")
    assert got.count() == 1500
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()
    rounds = _knn_labels(spark, before)[1:]
    assert rounds and all(f" {shape} " in r for r in rounds), rounds


def test_grid_knn_multi_round_brute_backstop(spark, monkeypatch):
    """A schedule of doubling rounds that ends in the brute-force
    backstop returns the brute-force rows; every action is labelled by
    phase, and the caller's job description is restored."""
    from osmpbf_spark.operators import knn
    monkeypatch.setattr(knn, "_start_disk", lambda n, cells, k: 1)
    monkeypatch.setattr(knn, "_MAX_DISK", 2)
    res = 12
    rng = np.random.default_rng(7)
    pts_np = (np.arange(3000, dtype=np.int64),
              rng.integers(44 * B, 45 * B, 3000),
              rng.integers(7 * B, 8 * B, 3000))
    # 40 queries in the cloud, 10 a degree north of it (~23 cells: no
    # point within the disk-2 guard, so they reach the backstop)
    qs_np = (np.arange(50, dtype=np.int64) + 10_000,
             np.concatenate([rng.integers(44 * B, 45 * B, 40),
                             rng.integers(46 * B, 47 * B, 10)]),
             rng.integers(7 * B, 8 * B, 50))
    pts = _knn_frame(spark, pts_np, "id", res)
    qdf = _knn_frame(spark, qs_np, "query_id", res)
    sc = spark.sparkContext
    sc.setJobDescription("caller phase")
    try:
        before = _last_execution_id(spark)
        out = knn.grid_knn(pts, qdf, 4, res=res)
        assert sc.getLocalProperty("spark.job.description") == "caller phase"
        labels = _knn_labels(spark, before)
    finally:
        sc.setJobDescription(None)
    got = {(r["query_id"], r["id"], r["rn"]) for r in out.collect()}
    assert got == _numpy_knn(pts_np, qs_np, 4)
    assert labels[0] == "grid_knn probe"
    assert labels[1] == "grid_knn r1 disk=1 bcast open=50", labels
    assert len(labels) == 3, labels
    assert labels[2].startswith("grid_knn r2 disk=2 bcast open="), labels
    assert int(labels[2].rsplit("=", 1)[1]) >= 10


def test_grid_knn_rejects_duplicate_query_ids(spark):
    """Duplicate query ids would merge into one ranked window and keep
    the open-query count from reaching 0: they fail loudly instead."""
    from osmpbf_spark.operators.knn import grid_knn
    res = 12
    pts = _knn_frame(spark, _knn_coords(100, 2654435761, 2246822519),
                     "id", res)
    qdf = _knn_frame(spark, (np.array([1, 2, 1]), np.full(3, 44 * B),
                             np.full(3, 7 * B)), "query_id", res)
    with pytest.raises(ValueError, match="unique"):
        grid_knn(pts, qdf, 3, res=res)


def test_local_relation_validates_row_width(spark):
    """local_relation must plan a LocalRelation with the exact DDL
    schema, keep NULLs, and raise loudly on ragged or mis-width rows
    (createDataFrame raised there too — silent truncation would be
    data loss)."""
    from osmpbf_spark.session import local_relation
    df = local_relation(spark, [(1, None), (None, 2.5)],
                        "a long, b double")
    assert [tuple(r) for r in df.orderBy("a").collect()] == \
        [(None, 2.5), (1, None)]
    assert "LocalTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError):
        local_relation(spark, [(1, 2, 3)], "a int, b int")
    with pytest.raises(ValueError):
        local_relation(spark, [(1, 2), (3,)], "a int, b int")
    with pytest.raises(ValueError, match="duplicate"):
        local_relation(spark, [(1, 2)], "a int, A int")
    with pytest.raises(ValueError, match="differs from DDL"):
        local_relation(spark, [(1,)], "a int not null")


def test_decode_spread_skips_only_matching_partitioning(spark):
    """decode_partitions must still consolidate/spread when the source
    partitioning differs, and skip the payload shuffle when it already
    matches (balance is identical either way — counts pinned here)."""
    from osmpbf_spark.sources.documents import read_elements
    from osmpbf_spark.sources.synth import synth_documents
    docs, media, exp = synth_documents(spark, 30_000, num_partitions=8,
                                       block_elements=2000)
    n = exp["node"] + exp["way"] + exp["relation"]
    match = read_elements(docs, media, decode_partitions=8)
    assert match.rdd.getNumPartitions() == 8
    assert match.count() == n
    spread = read_elements(docs, media, decode_partitions=4)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == n


def test_doc_signals_vec_matches_sql_renderings(spark):
    """The fused Arrow doc_profile kernel must reproduce every
    dual-rendered SQL signal value-for-value — including NULL text
    (NULL fingerprint/n_tokens/quality but 'und' lang and 0.0 ratios),
    empty/whitespace docs, astral code points, exact dyadic
    quantization ties, multi-language marker ties, and the
    bullet/ellipsis line edges."""
    from osmpbf_spark.functions.text import (
        bullet_line_frac_sql,
        doc_signals_vec,
        ellipsis_line_frac_sql,
        langid_sql,
        mean_word_length_sql,
        quality_score_sql,
        repetition_ratio_sql,
        symbol_word_ratio_sql,
    )
    texts = [
        None, "", " ", "   ", "the", "the the the the",
        "a b a b a b", "der die und le la et el que il",
        "le la et les des est un une", "😀 🚀😀 the 😀",
        "日本語 中文 한국어 the and of",
        "- bullet\n* bullet2\n• b3\n normal",
        "line...\nline…   \nline\n\n\n", "### ... …… #", "a" * 500,
        " ".join(["tok"] * 200), "x\ny\nz", "\n\n\n", "...",
        " ".join(f"w{i % 8}" for i in range(32)),     # 1/31 etc. ties
        "the and of to is in that it", "Tab\tsep one\ttoken",
        "trailing space ", " leading", "…", "#",
        "mixed#sym ... tok …", "the ... the ... the",
        " ".join(f"w{i % 16}" for i in range(128)),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    old = df.select(
        "doc_id",
        F.expr(poly_hash_sql("text")).alias("fingerprint"),
        F.expr(f"CAST(size({tokens_sql('text')}) AS BIGINT)")
        .alias("n_tokens"),
        F.expr(quality_score_sql("text")).alias("quality"),
        F.expr(langid_sql("text")).alias("lang_guess"),
        F.expr(repetition_ratio_sql("text")).alias("rep_bigram"),
        F.expr(mean_word_length_sql("text")).alias("mean_word_len"),
        F.expr(symbol_word_ratio_sql("text")).alias("symbol_ratio"),
        F.expr(bullet_line_frac_sql("text")).alias("bullet_frac"),
        F.expr(ellipsis_line_frac_sql("text")).alias("ellipsis_frac"))
    new = (df.select("doc_id", doc_signals_vec("text").alias("s"))
           .select("doc_id", "s.fingerprint", "s.n_tokens", "s.quality",
                   "s.lang_guess", "s.rep_bigram", "s.mean_word_len",
                   "s.symbol_ratio", "s.bullet_frac", "s.ellipsis_frac"))
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
    # the 9 field extractions must collapse to ONE Python evaluation
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
