"""Regenerate PLANS.md: formatted physical plans of the flagship
operators, with the scale-relevant properties called out. Run after any
operator change: python tools/dump_plans.py

``python tools/dump_plans.py --pin NAME`` re-prints one pinned default
scan of ``plans/default_scans/NAME.txt`` (pbf_pip, read_elements) in
this fresh local[2] session: its id-normalized and full sha256 and its
node tree. It exits 1 when the id-normalized sha256 differs from the one
the pin records.
``--pin`` with no name, or with several, re-checks each named pin (every
pin in ``plans/default_scans/`` when none is named) in its own fresh
process and exits 1 if any of them differs."""

from __future__ import annotations

import hashlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PIN_DIR = os.path.join(REPO, "plans", "default_scans")
PIN_SHA = re.compile(r"^# id-normalized sha256[^:]*: ([0-9a-f]{64})$", re.M)


def fmt(df, max_lines=60):
    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # drop the verbose per-node detail section after the tree
    tree = s.split("\n\n")[0]
    lines = tree.splitlines()[:max_lines]
    return "\n".join(lines)


def fmt_exec(df, max_lines=60, max_cols=200):
    """Executed-plan string (call after an action): unlike the formatted
    tree this keeps scan attributes inline — PartitionFilters /
    PushedFilters — which is the evidence these sections exist for."""
    lines = (df._jdf.queryExecution().executedPlan().toString()
             .splitlines()[:max_lines])
    out = []
    for ln in lines:
        if len(ln) <= max_cols:
            out.append(ln)
            continue
        m = re.search(r"PartitionFilters: \[[^\]]*\]", ln)
        if m:     # the evidence these sections exist for — never cut it
            out.append(ln[:ln.index("Location:") + 9] + " …, " + m.group(0)
                       + ", …" if "Location:" in ln[:max_cols]
                       else ln[:140] + " …, " + m.group(0) + ", …")
        else:
            out.append(ln[:max_cols] + " …")
    return "\n".join(out)


def main():
    from pyspark.sql import functions as F

    from osmpbf_spark.functions.grid import GRID_RES_FINE, with_grid_cells
    from osmpbf_spark.operators.dedup import minhash_lsh_pairs
    from osmpbf_spark.operators.parity import tag_eq, ways_and_deps
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    from osmpbf_spark.session import get_spark
    from osmpbf_spark.sources.documents import read_elements
    from osmpbf_spark.sources.synth import synth_documents

    spark = get_spark("dump-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs, media, _ = synth_documents(spark, 5000, block_elements=1000)
    el = read_elements(docs, media)

    sections = []
    sections.append((
        "Decode scan (documents+media → elements)",
        "blob_type filter evaluated on pruned metadata BEFORE payloads; "
        "one MapInArrow (the only Python in the engine); derived coords "
        "as projections.",
        fmt(el)))

    ways_f, nodes = ways_and_deps(el, tag_eq("building", "yes"))
    sections.append((
        "ways_and_deps semi-join (reference J1)",
        "filtered refs explode → distinct → BroadcastExchange → "
        "LeftSemi BroadcastHashJoin — the big node side never shuffles.",
        fmt(nodes)))

    B = 1_000_000_000
    polys = make_polygons(spark, [
        ("band", [(44 * B, 5 * B), (46 * B, 5 * B), (46 * B, 15 * B),
                  (44 * B, 15 * B), (44 * B, 5 * B)])])
    pip = pip_join(with_grid_cells(el.filter("element_type = 'node'"),
                                   res=GRID_RES_FINE), polys,
                   res=GRID_RES_FINE)
    sections.append((
        "PIP join (cover prefilter + exact refine)",
        "two BroadcastHashJoins (cell cover, polygon rings); refine is a "
        "codegen'd Filter with DECIMAL(38) integer cross products; the "
        "point side never shuffles.",
        fmt(pip)))

    docs_t = spark.createDataFrame(
        [(i, "w%d the quick brown fox jumps over dog %d" % (i, i))
         for i in range(50)], "doc_id long, text string")
    mh = minhash_lsh_pairs(docs_t, k=16, bands=8)
    sections.append((
        "MinHash-LSH pairs",
        "narrow shingle/hash pipeline; map-side partial MIN before the "
        "one signature shuffle; bucket self-join carries signature "
        "arrays so the estimate needs no second join.",
        fmt(mh, max_lines=70)))

    from osmpbf_spark.operators.asof import asof_join
    from osmpbf_spark.operators.rangejoin import range_join
    lt = spark.createDataFrame(
        [(i, "k%d" % (i % 7), i * 13 % 997) for i in range(200)],
        "eid long, k string, ts long")
    rt = spark.createDataFrame(
        [("k%d" % (i % 7), i * 29 % 997, i) for i in range(60)],
        "k string, rts long, rid long")
    sections.append((
        "as-of join (point-in-time lookup)",
        "union-tag both sides; ONE Exchange (the window's partition-by-"
        "key sort) then last(_r, ignorenulls) carry-forward — no range "
        "join, no nested loop.",
        fmt(asof_join(lt, rt, on="k", left_ts="ts", right_ts="rts"))))
    vals = lt.select("eid", F.col("ts").alias("v"))
    ivs = rt.select("rid", F.col("rts").alias("lo"),
                    (F.col("rts") + 50).alias("hi"))
    sections.append((
        "bucketed interval range join",
        "interval side explodes to covered buckets; the containment "
        "join is an EQUI-join on the bucket key (BroadcastHashJoin "
        "here; sort-merge at scale) + exact refine — never "
        "BroadcastNestedLoopJoin.",
        fmt(range_join(vals, ivs, value_col="v", lo_col="lo",
                       hi_col="hi", bucket_width=50))))

    # at-rest store probes (VERDICT r4 #8): partition-pruning evidence
    # for the IVF ANN store and the LSH signature store, pinned here so
    # the PartitionFilters survive refactors (tests assert the same).
    import math
    import shutil
    import tempfile
    tmp = tempfile.mkdtemp(prefix="dump_plans_store_")
    try:
        from osmpbf_spark.sources.store import (
            lsh_store_pairs,
            read_ivf_topk,
            write_ivf_store,
            write_lsh_store,
        )
        dim = 8
        emb = spark.range(512).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(1), F.lit(dim)),
                        lambda d: F.sin((F.col("id") + 1) * d))
            .alias("embedding"))
        cent = spark.createDataFrame(
            [(c, [math.cos(c * d + 1) for d in range(dim)])
             for c in range(8)], "cid int, cvec array<double>")
        ivf_path = os.path.join(tmp, "ivf")
        write_ivf_store(emb, cent, ivf_path)
        qs = emb.limit(4).select(F.col("vec_id").alias("query_id"),
                                 "embedding")
        ivf = read_ivf_topk(spark, ivf_path, qs, 3, cent, nprobe=2)
        ivf.collect()
        sections.append((
            "IVF ANN probe over the at-rest store",
            "the probed centroid ids (driver metadata, ≤ #centroids) "
            "become PartitionFilters on the cid-partitioned store — "
            "only probed partitions are read; queries ride a "
            "BroadcastHashJoin on cid.",
            fmt_exec(ivf, max_lines=40)))

        from osmpbf_spark.sources.store import (
            read_ivfpq_topk,
            write_ivfpq_store,
        )
        from osmpbf_spark.operators.pq import train_pq_codebooks
        books = train_pq_codebooks(emb, 4, 4, iters=1)
        ivfpq_path = os.path.join(tmp, "ivfpq")
        write_ivfpq_store(emb, cent, books, ivfpq_path)
        ivfpq = read_ivfpq_topk(spark, ivfpq_path, qs, 3, cent, books,
                                nprobe=2)
        ivfpq.collect()
        sections.append((
            "IVF-PQ probe over the codes-only at-rest store",
            "same PartitionFilters pruning as the IVF store, but the "
            "scan reads (vec_id, codes) — no raw vectors at rest; the "
            "per-query ADC lookup table and the query→bucket map are "
            "both BroadcastHashJoins, and the only shuffle is the "
            "(query_id, vec_id) partial-sum aggregate.",
            fmt_exec(ivfpq, max_lines=46)))

        lsh_path = os.path.join(tmp, "lsh")
        corpus = spark.range(64).select(
            F.col("id").cast("string").alias("doc_id"),
            F.concat(F.lit("stored corpus doc body words "),
                     F.col("id")).alias("text"))
        write_lsh_store(corpus, lsh_path, k=16, bands=8)
        newc = spark.range(4).select(
            (F.col("id") + 100).cast("string").alias("doc_id"),
            F.concat(F.lit("stored corpus doc body words "),
                     F.col("id")).alias("text"))
        lsh = lsh_store_pairs(spark, newc, lsh_path, threshold=0.5)
        lsh.collect()
        sections.append((
            "LSH signature-store probe (incremental corpus-refresh dedup)",
            "the new crawl's distinct (band, sub-bucket) keys — driver "
            "metadata bounded by bands × n_subbuckets — prune the "
            "band-partitioned signature store (PartitionFilters on "
            "band/bvb); only matching buckets join, then the row-local "
            "zip_with estimate as in the in-memory path.",
            fmt_exec(lsh, max_lines=46)))

        from osmpbf_spark.sources.store import (
            hash_store_hits,
            write_hash_store,
        )
        hash_path = os.path.join(tmp, "hash")
        write_hash_store(corpus, hash_path, n_buckets=16)
        probe = newc.limit(2)
        hits = hash_store_hits(spark, probe, hash_path)
        hits.collect()
        sections.append((
            "content-hash store probe (incremental EXACT dedup)",
            "the crawl's distinct hash buckets prune the store "
            "(PartitionFilters on hb — a plain IN on the single "
            "partition column); the pruned scan left-semi-joins a "
            "BROADCAST of the crawl's distinct hashes, so the stored "
            "corpus is never shuffled and never re-hashed.",
            fmt_exec(hits, max_lines=40)))

        from osmpbf_spark.operators.knn import ivf_assign
        from osmpbf_spark.sources.store import (
            _fresh_appendable,
            write_ivf_store,
        )
        emb = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.pmod(F.xxhash64(F.col("id") * 7 + F.lit(i)),
                              F.lit(100)) / 25.0).alias(f"c{i}")
                      for i in range(8)]).alias("embedding"))
        cent = spark.range(4).select(
            F.col("id").alias("cid"),
            F.array(*[(F.pmod(F.xxhash64(F.col("id") * 3 + F.lit(i)),
                              F.lit(100)) / 25.0).alias(f"c{i}")
                      for i in range(8)]).alias("cvec"))
        ivf_path = os.path.join(tmp, "ivf")
        write_ivf_store(emb.filter("vec_id < 48"), cent, ivf_path)
        newv = emb.filter("vec_id >= 40")          # 8 dups + 16 fresh
        assign = ivf_assign(newv, cent, 1)
        fresh = _fresh_appendable(
            newv.join(assign.select("vec_id", "cid"), "vec_id"),
            ivf_path, "vec_id")
        fresh.collect()
        sections.append((
            "IVF store append — skip_existing probe (incremental ANN "
            "refresh)",
            "the new crawl's assigned cids prune the store scan "
            "(PartitionFilters on cid); the pruned id projection "
            "left-semi-joins a BROADCAST of the new ids, and the "
            "resulting hit set (bounded by the crawl, not the store) "
            "rides a broadcast anti-join back onto the new rows — the "
            "stored vectors never shuffle, so crash-recovered "
            "re-appends cost one pruned scan.",
            fmt_exec(fresh, max_lines=44)))

        from osmpbf_spark.operators.decontaminate import decontaminate
        corpus = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[
                F.concat(F.lit("w"),
                         F.pmod(F.xxhash64(F.col("id") * 13 + F.lit(i)),
                                F.lit(40)))
                for i in range(20)]).alias("text"))
        evald = corpus.filter("doc_id % 37 = 0")
        decon = decontaminate(corpus, evald, n=5, min_hits=2)
        decon.collect()
        sections.append((
            "Benchmark decontamination (n-gram collision vs eval set)",
            "the eval set's distinct n-gram hashes BROADCAST into a "
            "map-side left-semi against the corpus's row-local shingle "
            "projection — only hit rows reach the (doc_id) count "
            "shuffle, bounded by contamination volume, and the "
            "contaminated-id list rides a broadcast anti-join back "
            "onto the full documents (payloads never shuffle).",
            fmt_exec(decon, max_lines=44)))

        from osmpbf_spark.operators.semdedup import semdedup_pairs
        emb = spark.range(400).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.pmod(F.xxhash64(F.col("id") * 7 + F.lit(i)),
                              F.lit(1000)).cast("double") / 500 - 1)
                      for i in range(8)]).alias("embedding"))
        cent = spark.createDataFrame(
            [(c, [(((c * 11 + i * 5) % 13) - 6) / 6.0
                  for i in range(8)]) for c in range(4)],
            "cid long, cvec array<double>")
        sd = semdedup_pairs(emb, cent, threshold=0.8,
                            max_cluster=100_000)
        from osmpbf_spark.operators.lm import (
            perplexity,
            prune_lm,
            train_bigram_lm,
        )
        lm = prune_lm(train_bigram_lm(corpus.filter("doc_id < 40")),
                      min_count=1)
        ppl = perplexity(corpus, lm)
        ppl.collect()
        sections.append((
            "LM perplexity scoring (pruned model broadcast)",
            "the pruned bigram/prefix/vocab tables all BROADCAST, so "
            "the corpus's exploded bigram stream scores map-side "
            "(three BroadcastHashJoins, no corpus shuffle); only the "
            "per-doc (doc_id, quantized-log) aggregate shuffles, with "
            "map-side partial combine.",
            fmt_exec(ppl, max_lines=44)))

        sd.collect()
        sections.append((
            "SemDeDup within-cluster pair generation",
            "centroids are a BROADCAST dimension (assignment is "
            "map-side — the embedding table never shuffles to learn "
            "its cid); the within-cluster self-join shuffles both "
            "sides ONCE on cid, candidates are bounded by cluster "
            "size (the SemDeDup recipe's point) with the shared "
            "degenerate-bucket cap excluding collapsed clusters.",
            fmt_exec(sd, max_lines=44)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    from osmpbf_spark.operators.tileclip import GEOM_T, build_vector_tiles
    B9 = 1_000_000_000
    ring = [{"lat_nano": a * B9, "lon_nano": b * B9} for a, b in
            [(10, 10), (10, 40), (40, 40), (40, 10), (10, 10)]]
    geoms = spark.createDataFrame([("r1", ring)],
                                  f"feature_id string, ring {GEOM_T}")
    vt = build_vector_tiles(geoms, zoom=6)
    vt.collect()
    sections.append((
        "Vector-tile cut (cover → clip → quantize → per-tile build)",
        "bbox cover and MVT quantization are codegen'd JVM expressions; "
        "fully-inside geometries route around Python entirely (the "
        "Union's first leg); only boundary-crossing pairs hit the "
        "ArrowEvalPython clip; the single Exchange is the final "
        "groupBy(zoom, tx, ty) — the at-rest tile-store partitioning.",
        fmt_exec(vt, max_lines=44)))

    from osmpbf_spark.operators.pip import make_polygons
    from osmpbf_spark.operators.polyjoin import polygon_intersects_join

    def _sq(clat, clon, h):
        return [(clat - h, clon - h), (clat - h, clon + h),
                (clat + h, clon + h), (clat + h, clon - h),
                (clat - h, clon - h)]
    pj = polygon_intersects_join(
        make_polygons(spark, [(f"l{i}", _sq(i * B9, 0, B9))
                              for i in range(6)]),
        make_polygons(spark, [("r0", _sq(0, 0, 3 * B9))]))
    pj.collect()
    sections.append((
        "Polygon-polygon intersects join (cover candidates + banded refine)",
        "both covers and the candidate cell join BROADCAST the small "
        "zone side (no BNLJ/cartesian anywhere); the left rings shuffle "
        "once on id to meet their candidates; the refine is a UNION of "
        "three fully codegen'd legs — edges exploded to lat-band rows "
        "meeting in a BroadcastHashJoin on (right_id, ring_ck, band) "
        "for the exact DECIMAL(38,0) segment predicate, plus two "
        "ray-cast parity aggregates over the probe point's single band "
        "(note every leg's `*(N)` whole-stage span: no interpreted HOF "
        "touches the decimal math); the final (left_id, right_id) "
        "groupBy carries only bare ids + a 1-byte ord.",
        fmt_exec(pj, max_lines=44)))

    out = ["# PLANS — physical plans of the flagship operators",
           "",
           "Regenerate with `python tools/dump_plans.py`. These are the "
           "plans we iterated toward (SURVEY.md §4); tests in "
           "tests/test_store_plans.py pin the load-bearing properties "
           "(broadcasts, pushdown, zero row-at-a-time Python).", ""]
    for title, note, plan in sections:
        plan = re.sub(r"#\d+L?", "", plan)  # strip attr ids for stable diffs
        out += [f"## {title}", "", note, "", "```", plan, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


def normalized_sha256(text: str) -> str:
    """sha256 of a formatted plan with its session-dependent ids masked
    (``#n`` expression ids, ``plan_id=n``, ``RDD[n]``): two prints of
    one plan hash alike whatever their sessions ran before."""
    for pat, rep in ((r"#\d+", "#n"), (r"plan_id=\d+", "plan_id=n"),
                     (r"RDD\[\d+\]", "RDD[n]")):
        text = re.sub(pat, rep, text)
    return hashlib.sha256(text.encode()).hexdigest()


def pin_plan(name: str) -> str:
    """Formatted executed plan of one default scan over the synth 20k-node
    .osm.pbf (seed 1): ``pbf_pip`` is the third file-backed nodes →
    ``with_grid_cells(res=16)`` → ``pip_join`` (bench.py's boxes) →
    count pass, so the cover memo is warm; ``read_elements`` collects
    ``read_elements`` over the file engine's (documents, media)."""
    import tempfile

    from osmpbf_spark.api import Engine
    from osmpbf_spark.functions.grid import with_grid_cells
    from osmpbf_spark.operators.pip import make_polygons, pip_join
    from osmpbf_spark.pbf.encode import frame_fileblock
    from osmpbf_spark.plans.audit import explain_formatted
    from osmpbf_spark.session import get_spark
    from osmpbf_spark.sources.documents import read_elements
    from osmpbf_spark.sources.synth import synth_fileblocks

    spark = get_spark("default-scan-pin", master="local[2]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    b = 1_000_000_000
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "synth-20k-s1.osm.pbf")
        with open(path, "wb") as f:
            for t, blob in synth_fileblocks(20_000, seed=1)[0]:
                f.write(frame_fileblock(t, blob))
        if name == "pbf_pip":
            polys = make_polygons(spark, [
                (pid, [(a, c), (d, c), (d, e), (a, e), (a, c)])
                for pid, a, c, d, e in [
                    ("megacity", 42_900 * b // 1000, 8_900 * b // 1000,
                     43_100 * b // 1000, 9_100 * b // 1000),
                    ("band", 44 * b, 5 * b, 46 * b, 15 * b),
                    ("corner", 40 * b, 5 * b, 41 * b, 6 * b)]])
            for _ in range(3):
                df = pip_join(with_grid_cells(
                    Engine.from_pbf_path(spark, path).nodes(), res=16),
                    polys, res=16).groupBy().count()
                df.collect()
        else:
            eng = Engine.from_pbf_path(spark, path)
            df = read_elements(eng.documents, eng.media)
            df.collect()
        text = explain_formatted(df)
    spark.stop()
    return text


def check_pin(name: str) -> int:
    text = pin_plan(name)
    got = normalized_sha256(text)
    print(f"id-normalized sha256: {got}")
    print(f"full sha256:          "
          f"{hashlib.sha256(text.encode()).hexdigest()}")
    print(text.split("\n\n")[0])
    with open(os.path.join(PIN_DIR, name + ".txt")) as f:
        m = PIN_SHA.search(f.read())
    if m is None or m.group(1) != got:
        print(f"{name}: pinned {m and m.group(1)}, printed {got}")
        return 1
    return 0


def check_pins(names: list[str]) -> int:
    """Re-check each pin in a fresh process; 1 if any differs."""
    import subprocess
    failed = [n for n in names if subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--pin", n]).returncode]
    for n in names:
        print(f"{n}: {'MISMATCH' if n in failed else 'ok'}")
    return 1 if failed else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--pin"]:
        names = sys.argv[2:] or sorted(
            f[:-len(".txt")] for f in os.listdir(PIN_DIR)
            if f.endswith(".txt"))
        sys.exit(check_pin(names[0]) if len(names) == 1
                 else check_pins(names))
    main()
