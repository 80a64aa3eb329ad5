"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each as a DataFrame composition of JVM-side built-ins.

Design for 100 TB:
- exact dedup: hash-groupBy — one shuffle on a 16-byte key, AQE-coalesced.
- MinHash: shingle→hash→permute→min is a narrow pipeline + one groupBy;
  the LSH band join touches only bucket collisions (no n² pair space).
  All hashes are pure arithmetic mod 1e9+7 — the same formulas render to
  DuckDB for the correctness oracle (no engine-specific hash functions).
- SimHash: 32-bit signatures via explode(bit)-aggregate; near-dup pairs
  from banding on signature bytes + popcount (bit_count) refine.
- embedding near-dup: hyperplane-LSH buckets + cosine refine (see knn).

Determinism: every signature derives from frozen integer constants —
same input ⇒ same pairs at any parallelism / cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    HASH_MOD,
    poly_hash_sql,
    shingles_sql,
    tokens_sql,
)
from ..session import materialize

P = HASH_MOD


def perm_sql(j: str) -> tuple[str, str]:
    """Deterministic MinHash permutation constants for permutation ``j``
    (identical text in Spark and DuckDB SQL)."""
    return (f"(({j} + 1) * 104729 + 7) % {P}",
            f"(({j} + 1) * 7919 + 3) % {P}")


def exact_dups(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) → groups with >1 member.
    Returns (content_hash, cnt, min_doc_id as the keeper)."""
    return (docs
            .select(F.md5(F.col(text_col)).alias("content_hash"),
                    F.col(id_col))
            .groupBy("content_hash")
            .agg(F.count("*").alias("cnt"),
                 F.min(id_col).alias("keeper"))
            .filter(F.col("cnt") > 1))


def minhash_signatures(docs: DataFrame, *, k: int = 32, shingle_n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """MinHash signature matrix: (doc_id, j, sig) for j in [0, k).

    shingles → poly-hash → cross join k permutations (tiny broadcast
    range) → groupBy min. Deliberately the explode+groupBy formulation,
    NOT nested higher-order functions: HOF lambdas evaluate interpreted
    (outside whole-stage codegen) and projection collapse re-inlines the
    shingle hashing k times — measured ~7× slower than this shape. The
    shuffle here is small by construction: map-side partial MIN reduces
    it to docs×k rows (a few hundred bytes per document, far less than
    the input text itself). Documents with no shingles get no signature
    rows and never pair."""
    sh = _shingle_hashes(docs, shingle_n=shingle_n, text_col=text_col,
                         id_col=id_col)
    perms = F.broadcast(
        docs.sparkSession.range(k).select(F.col("id").alias("j")))
    a, b = perm_sql("j")
    return (sh.join(perms)
            .withColumn("mh", F.expr(f"(({a}) * h + ({b})) % {P}"))
            .groupBy(id_col, "j")
            .agg(F.min("mh").alias("sig")))


def _shingle_hashes(docs: DataFrame, *, shingle_n: int, text_col: str,
                    id_col: str) -> DataFrame:
    """(id_col, shingle, h): distinct word-shingles per document with
    their polynomial hashes. Per-document shingle dedup is row-local
    (array_distinct BEFORE the explode) — the .distinct() it replaces
    shuffled the full exploded doc×shingle set, the widest dataset in
    the pipeline."""
    return (docs.select(
        F.col(id_col),
        F.explode_outer(F.expr(
            f"array_distinct({shingles_sql(text_col, shingle_n)})"))
        .alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .withColumn("h", F.expr(poly_hash_sql("shingle"))))


def _minhash_sig_batches(k: int, shingle_n: int):
    """mapInArrow generator: (id, text) batches → (id, sigs) batches.

    Bit-identical to the Catalyst rendering by construction — every
    step replicates the dual-rendered SQL exactly in integer space:
    tokens = split on ' ' dropping empties; shingles = the n-token
    windows joined by ' ', per-document DISTINCT (a set — MIN is
    order-independent); h = the poly-hash fold (acc·31 + codepoint)
    mod P over code points (``split(s, '')`` in Spark iterates code
    points incl. astral — verified against the SQL on an emoji/CJK
    corpus); sig_j = MIN over shingles of (a_j·h + b_j) mod P with the
    :func:`perm_sql` constants. All int64: values < P ≈ 2^30, products
    < 2^60. Documents with no shingles emit no row (the explode_outer
    + isNotNull semantics of the SQL path)."""
    import numpy as np
    import pyarrow as pa
    a_c = np.array([((j + 1) * 104729 + 7) % P for j in range(k)],
                   dtype=np.int64)
    b_c = np.array([((j + 1) * 7919 + 3) % P for j in range(k)],
                   dtype=np.int64)

    def batches(it):
        for batch in it:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids, doc_lens, all_sh = [], [], []
            for i, txt in enumerate(texts):
                if txt is None:
                    continue
                toks = [t for t in txt.split(" ") if t]
                if len(toks) < shingle_n:
                    continue
                seen = {" ".join(toks[p:p + shingle_n])
                        for p in range(len(toks) - shingle_n + 1)}
                out_ids.append(ids[i])
                doc_lens.append(len(seen))
                all_sh.extend(seen)
            if not out_ids:
                continue
            lens = np.fromiter((len(s) for s in all_sh), dtype=np.int64,
                               count=len(all_sh))
            codes = np.frombuffer("".join(all_sh).encode("utf-32-le"),
                                  dtype="<u4").astype(np.int64)
            offs = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            h = np.zeros(len(lens), dtype=np.int64)
            for step in range(int(lens.max()) if len(lens) else 0):
                m = lens > step
                h[m] = (h[m] * 31 + codes[offs[:-1][m] + step]) % P
            starts = np.zeros(len(doc_lens), dtype=np.int64)
            np.cumsum(np.asarray(doc_lens[:-1], dtype=np.int64),
                      out=starts[1:])
            sig_cols = [np.minimum.reduceat((a_c[j] * h + b_c[j]) % P,
                                            starts)
                        for j in range(k)]
            sigs = np.stack(sig_cols, axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=batch.column(0).type),
                 pa.array(sigs.tolist(), type=pa.list_(pa.int64()))],
                names=["_id", "sigs"])
    return batches


def minhash_doc_sigs(docs: DataFrame, *, k: int = 32, shingle_n: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document signature ARRAY (doc_id, sigs), ordered by
    permutation index — identical values to collecting
    :func:`minhash_signatures`, with ZERO shuffles.

    r6 (guide §4.2): text → sigs is computed entirely inside one
    vectorized ``mapInArrow`` pass — a document's shingles never leave
    the row, so the exploded doc×shingle table, the per-char
    interpreted poly-hash fold (the measured 2.7 s hot spot of
    minhash_lsh_pairs at sf0.1 — 260k shingles × ~40 interpreted
    lambda steps each), and the groupBy(k × MIN) shuffle all
    disappear. The numpy kernel replicates the dual-rendered SQL
    arithmetic bit-for-bit (see :func:`_minhash_sig_batches`;
    equivalence against the Catalyst :func:`minhash_signatures` path
    is pinned in tests incl. unicode/astral corpora, and the DuckDB
    oracle hash-checks the whole pipeline end-to-end)."""
    id_type = dict(docs.dtypes)[id_col]
    out = docs.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _minhash_sig_batches(k, shingle_n),
        f"_id {id_type}, sigs array<bigint>")
    return out.withColumnRenamed("_id", id_col)


def _bucket_cap(df: DataFrame, bucket_cols: list[str],
                max_bucket: int | None) -> DataFrame:
    """Degenerate-bucket defense shared by every LSH pair family
    (VERDICT r4 #1): rows in buckets larger than ``max_bucket`` are
    EXCLUDED from the subsequent self-join (which would emit |bucket|²
    candidates). The count is a window over the bucket key, which
    shares its exchange with the self-join's shuffle on the same key,
    and the filtered subtrees stay identical on both join sides so
    AQE's ReusedExchange still runs the pipeline once.

    The loud overflow metric lives in :func:`bucket_overflow` /
    :func:`minhash_bucket_overflow` as a SEPARATE action by design: a
    ``df.observe`` CollectMetrics node on this subtree silently never
    registers when AQE's empty-relation propagation prunes a
    downstream-empty stage (measured on Spark 4.1 — ``Observation.get``
    then fails), which is exactly the "capped everything" case the
    metric must report loudly."""
    if max_bucket is None:
        return df
    bw = Window.partitionBy(*bucket_cols)
    return (df.withColumn("bucket_n", F.count("*").over(bw))
            .filter(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n"))


def bucket_overflow(df: DataFrame, bucket_cols: list[str],
                    max_bucket: int) -> DataFrame:
    """The loud companion of :func:`_bucket_cap`: the buckets whose row
    count EXCEEDS ``max_bucket`` (and were therefore excluded from
    pairing), as (bucket_cols..., bucket_n). A non-empty result on a
    production corpus means near-identical templates survived
    signature-group compression — page someone, don't just drop rows
    silently. Runs as its own aggregation action (see _bucket_cap's
    docstring for why this is not a ``df.observe`` metric)."""
    return (df.groupBy(*bucket_cols)
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket))


def _sig_groups(docs: DataFrame, *, k: int, shingle_n: int,
                text_col: str, id_col: str,
                sig_cache: list | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Identical-signature group compression (VERDICT r4 #1 — the
    degenerate-bucket defense).

    Template/boilerplate corpora contain huge groups of documents with
    IDENTICAL MinHash signatures (exact dedup upstream removes only
    byte-identical text). Banding those directly puts |group| rows in
    every one of their band buckets and the self-join emits |group|²
    candidates per bucket — the classic LSH production failure. But an
    identical-signature group is a near-dup CLIQUE by definition
    (est_jaccard = 1 pairwise), so it carries no information the group
    id doesn't: compress each group to one representative BEFORE
    banding and expand membership afterwards.

    Returns ``(mem, reps)``:

    - ``mem``  — (id_col, grp_id, grp_n): every signed document with
      its group id (= MIN doc id over identical signatures) and size;
    - ``reps`` — (grp_id, sigs, grp_n): ONE row per distinct signature.

    One shuffle (window over the signature array); documents with no
    shingles produce no signature and appear in neither output, exactly
    as before. WITHIN one action the two outputs share the window
    exchange (AQE ReusedExchange, same audit as the r4 band join note).
    Callers that consume mem and reps in SEPARATE actions (store
    build/probe — exchange reuse never crosses actions) pass
    ``sig_cache``: the signature table is persisted — caching the
    expensive shingle→permute→min pipeline; the window is one cheap
    shuffle over (id, k longs) — and appended to the list for the
    caller to unpersist (review r5: the unpersisted store build signed
    the corpus twice)."""
    sigs = minhash_doc_sigs(docs, k=k, shingle_n=shingle_n,
                            text_col=text_col, id_col=id_col)
    if sig_cache is not None:
        sigs = sigs.persist()
        sig_cache.append(sigs)
    w = Window.partitionBy("sigs")
    with_grp = sigs.select(
        F.col(id_col), "sigs",
        F.min(id_col).over(w).alias("grp_id"),
        F.count("*").over(w).alias("grp_n"))
    # r6: mem and reps are consumed up to 5× across the band-join /
    # diagonal / expansion subtrees. The r4 audit relied on AQE
    # ReusedExchange collapsing the twins — which held for the
    # pure-Catalyst pipeline at small scale but does NOT fire across
    # the MapInArrow sig node, and at bench scale AQE converts the
    # band self-join to a broadcast join whose asymmetric sides never
    # canonicalize equal (verified on the executed sf0.1 plan:
    # 0 ReusedExchange, the grouping window executed 5×). A LAZY local
    # checkpoint of the WINDOW OUTPUT (id, sigs, grp_id, grp_n — the
    # same per-doc footprint as the sig table) materializes the whole
    # signature→window pipeline once on first use; every reference
    # reads its blocks regardless of AQE's join choice, and the blocks
    # are released by the ContextCleaner when the frame is GC'd
    # (unlike persist(), which pins a CacheManager entry with no
    # unpersist hook here). The sig_cache path keeps its caller-managed
    # persist for cross-ACTION reuse (store build/probe).
    with_grp = with_grp.localCheckpoint(eager=False)
    mem = with_grp.select(id_col, "grp_id", "grp_n")
    reps = (with_grp.filter(F.col(id_col) == F.col("grp_id"))
            .select("grp_id", "sigs", "grp_n"))
    return mem, reps


def _band_values(reps: DataFrame, *, k: int, bands: int) -> DataFrame:
    """Explode each representative's signature array into its
    ``bands`` LSH band buckets → (grp_id, sigs, band, band_val)."""
    r = k // bands
    # band value: order-independent sum(sig·31^(j mod r)) with mod-reduced
    # integer powers — computed row-locally from the signature array
    pows = "array(" + ",".join(str(pow(31, i, P)) for i in range(r)) + ")"
    band_expr = (f"transform(sequence(0, {bands - 1}), b -> "
                 f"aggregate(zip_with(slice(sigs, b * {r} + 1, {r}), {pows},"
                 f" (s, p) -> (s * p) % {P}), 0L, (acc, v) -> acc + v))")
    return (reps
            .select("grp_id", "sigs",
                    F.posexplode(F.expr(band_expr))
                    .alias("band", "band_val")))


def _rep_band_pairs(reps: DataFrame, *, k: int, bands: int,
                    threshold: float,
                    max_bucket: int | None) -> DataFrame:
    """Band-bucket self-join over signature-group REPRESENTATIVES →
    (grp_a, grp_b, est_jaccard) with est ≥ threshold, grp_a < grp_b.

    ``max_bucket`` caps the bucket size in representative space: a
    bucket still larger than the cap after identical-signature
    compression means a mass of near-identical-but-distinct signatures
    (the residual adversarial case); its rows are EXCLUDED from pairing
    rather than allowed to emit |bucket|² candidates — audit with
    :func:`minhash_bucket_overflow` (see
    ``jobs/curate_training_data_job.py`` for the wiring). The bucket
    count is a window over (band, band_val), which shares its exchange
    with the self-join's shuffle."""
    bands_df = _bucket_cap(_band_values(reps, k=k, bands=bands),
                           ["band", "band_val"], max_bucket)
    # NOTE (verified r4): the static plan shows two full sig pipelines,
    # but AQE inserts a ReusedExchange at runtime — the self-join's
    # twin subtrees shuffle on identical (band, band_val) exchanges, so
    # the pipeline up to here executes ONCE. No persist needed (the
    # r3-measured ~15% persist win predated checking the EXECUTED plan;
    # an eager localCheckpoint 2×'d the small-scale path and was
    # rejected). Plan-audited: exactly one ReusedExchange after AQE.
    left = bands_df.select(F.col("grp_id").alias("grp_a"),
                           F.col("sigs").alias("sigs_a"), "band", "band_val")
    right = bands_df.select(F.col("grp_id").alias("grp_b"),
                            F.col("sigs").alias("sigs_b"), "band", "band_val")
    # bucket self-join on (band, band_val) — the only remaining shuffle;
    # signature arrays ride along so the Jaccard estimate is a row-local
    # zip_with on the joined pair (no second join)
    return (left.join(right, ["band", "band_val"])
            .filter(F.col("grp_a") < F.col("grp_b"))
            .select("grp_a", "grp_b",
                    (F.expr("size(filter(zip_with(sigs_a, sigs_b, "
                            "(x, y) -> x = y), v -> v))")
                     / F.lit(k)).alias("est_jaccard"))
            .distinct()
            .filter(F.col("est_jaccard") >= threshold))


def minhash_bucket_overflow(docs: DataFrame, *, k: int = 32,
                            bands: int = 8, shingle_n: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            max_bucket: int = 10_000) -> DataFrame:
    """Overflow audit for :func:`minhash_lsh_pairs` /
    :func:`near_dup_clusters`: the band buckets whose REPRESENTATIVE
    count exceeds ``max_bucket`` — i.e. the buckets the cap silently
    excluded from pairing — as (band, band_val, bucket_n). Run this
    alongside any capped dedup pass and alert on a non-empty result
    (``jobs/curate_training_data_job.py`` emits the count as the
    ``lsh_overflow_buckets`` metric)."""
    _, reps = _sig_groups(docs, k=k, shingle_n=shingle_n,
                          text_col=text_col, id_col=id_col)
    return bucket_overflow(_band_values(reps, k=k, bands=bands),
                           ["band", "band_val"], max_bucket)


def _expand_rep_pairs(rp: DataFrame, mem: DataFrame, reps: DataFrame,
                      *, id_col: str, threshold: float) -> DataFrame:
    """Expand representative-level pairs (grp_a, grp_b, est_jaccard)
    to document-level (doc_a, doc_b, est_jaccard): ONE symmetric
    group-pair relation feeds a single expansion join chain — both
    directions of every rep pair, plus the diagonal (g, g) for
    multi-member groups, whose pairwise est_jaccard is exactly 1.0
    (k/k, the same double the zip_with produces on identical arrays).
    After joining members on each side, doc_a < doc_b keeps exactly one
    orientation per unordered pair. The member table shuffles once on
    grp_id and is reused for both sides. Shared by
    :func:`minhash_lsh_pairs` and the at-rest store probe
    (``sources/store.lsh_store_pairs``)."""
    diag = reps.filter(F.col("grp_n") > 1).select(
        F.col("grp_id").alias("ga"), F.col("grp_id").alias("gb"),
        F.lit(1.0).alias("est_jaccard"))
    rp_sym = (rp.select(F.col("grp_a").alias("ga"),
                        F.col("grp_b").alias("gb"), "est_jaccard")
              .unionByName(rp.select(F.col("grp_b").alias("ga"),
                                     F.col("grp_a").alias("gb"),
                                     "est_jaccard"))
              .unionByName(diag))
    return (rp_sym
            .join(mem.select(F.col(id_col).alias("doc_a"),
                             F.col("grp_id").alias("ga")), "ga")
            .join(mem.select(F.col(id_col).alias("doc_b"),
                             F.col("grp_id").alias("gb")), "gb")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "est_jaccard")
            .filter(F.col("est_jaccard") >= threshold))


def minhash_lsh_pairs(docs: DataFrame, *, k: int = 32, bands: int = 8,
                      shingle_n: int = 3, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = 10_000) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH banding.

    k signatures in ``bands`` bands of r=k/bands rows; band value =
    order-independent polynomial sum of the band's signatures (exact
    integer arithmetic). Candidate pairs share ≥1 band bucket; the
    estimated Jaccard (fraction of equal signature rows) must reach
    ``threshold``. Returns (doc_a, doc_b, est_jaccard).

    100 TB shape (VERDICT r4 #1): the band self-join runs over ONE
    representative per distinct signature (:func:`_sig_groups`), so a
    million-document template group contributes one row per bucket
    instead of a million — join work is quadratic in DISTINCT
    signatures per bucket (further capped by ``max_bucket``), never in
    documents. The pair-level expansion afterwards is inherently
    |clique|² because that is this function's OUTPUT contract; pipelines
    that only need the transitive closure should consume
    :func:`lsh_candidate_edges` (linear) via :func:`near_dup_clusters`
    instead of materializing pairs."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    mem, reps = _sig_groups(docs, k=k, shingle_n=shingle_n,
                            text_col=text_col, id_col=id_col)
    rp = _rep_band_pairs(reps, k=k, bands=bands, threshold=threshold,
                         max_bucket=max_bucket)
    return _expand_rep_pairs(rp, mem, reps, id_col=id_col,
                             threshold=threshold)


def lsh_candidate_edges(docs: DataFrame, *, k: int = 32, bands: int = 8,
                        shingle_n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_bucket: int | None = 10_000) -> DataFrame:
    """Near-dup edges (doc_a, doc_b) whose connected components equal
    those of :func:`minhash_lsh_pairs` — but LINEAR in corpus size.

    Identical-signature groups enter as membership STARS (member →
    group id, |group|−1 edges) instead of cliques (|group|² pairs);
    inter-group links enter once per representative pair. A star and a
    clique have the same transitive closure, so clustering over these
    edges is exact while a 10⁶-document template group contributes 10⁶
    edges instead of 10¹² pairs. This is the edge set
    :func:`near_dup_clusters` feeds to connected components."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    mem, reps = _sig_groups(docs, k=k, shingle_n=shingle_n,
                            text_col=text_col, id_col=id_col)
    rp = _rep_band_pairs(reps, k=k, bands=bands, threshold=threshold,
                         max_bucket=max_bucket)
    rep_edges = rp.select(F.col("grp_a").alias("doc_a"),
                          F.col("grp_b").alias("doc_b"))
    if threshold > 1.0:
        # est_jaccard ∈ [0, 1]: nothing can pass, incl. intra-group 1.0
        return rep_edges
    star = (mem.filter(F.col(id_col) != F.col("grp_id"))
            .select(F.col(id_col).alias("doc_a"),
                    F.col("grp_id").alias("doc_b")))
    return star.unionByName(rep_edges)


def _simhash_batches(bits: int):
    """mapInArrow generator: (id, text) batches → (id, simhash).
    Bit-identical to the SQL rendering: tokens = split on ' ' dropping
    empties (docs with no tokens emit no row — the explode semantics);
    h = the poly-hash fold over code points (segmented modular power
    sum, exact int64 — see ``text.poly_hash_vec``); bit b of the
    signature = majority of (h DIV 2^b) % 2 across the doc's tokens
    (NOT distinct — repeated tokens vote repeatedly, as in the SQL)."""
    import numpy as np
    import pyarrow as pa
    from ..functions.text import HASH_BASE, HASH_MOD

    def batches(it):
        for batch in it:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids, tok_counts, all_toks = [], [], []
            for i, txt in enumerate(texts):
                if txt is None:
                    continue
                toks = [t for t in txt.split(" ") if t]
                if not toks:
                    continue
                out_ids.append(ids[i])
                tok_counts.append(len(toks))
                all_toks.extend(toks)
            if not out_ids:
                continue
            lens = np.fromiter((len(t) for t in all_toks), dtype=np.int64,
                               count=len(all_toks))
            codes = np.frombuffer("".join(all_toks).encode("utf-32-le"),
                                  dtype="<u4").astype(np.int64)
            ends = np.cumsum(lens)
            pows = np.ones(int(lens.max()), dtype=np.int64)
            for k in range(1, len(pows)):
                pows[k] = (pows[k - 1] * HASH_BASE) % HASH_MOD
            exps = np.repeat(ends - 1, lens) - np.arange(int(lens.sum()))
            h = np.add.reduceat((codes * pows[exps]) % HASH_MOD,
                                ends - lens) % HASH_MOD
            n = np.asarray(tok_counts, dtype=np.int64)
            dstarts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=dstarts[1:])
            sig = np.zeros(len(n), dtype=np.int64)
            for b in range(bits):
                ones = np.add.reduceat((h >> b) & 1, dstarts)
                sig |= ((2 * ones > n).astype(np.int64)) << b
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=batch.column(0).type),
                 pa.array(sig.tolist(), type=pa.int64())],
                names=["_id", "simhash"])
    return batches


def simhash(docs: DataFrame, *, bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over whitespace tokens: bit b of the signature is
    the majority vote of bit b across token hashes. Returns
    (doc_id, simhash).

    r6 (guide §4.2): one vectorized ``mapInArrow`` pass — a document's
    tokens never leave the row, so the exploded doc×token table, its
    per-char interpreted hash fold, and the groupBy shuffle all
    disappear (2.0 s → ~0.35 s at sf0.1; bit-equality vs the Catalyst
    shape pinned in tests incl. unicode, and the DuckDB oracle
    hash-checks the pipeline end-to-end)."""
    id_type = dict(docs.dtypes)[id_col]
    out = docs.select(F.col(id_col), F.col(text_col)).mapInArrow(
        _simhash_batches(bits), f"_id {id_type}, simhash bigint")
    return out.withColumnRenamed("_id", id_col)


def simhash_pairs(docs: DataFrame, *, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_bucket: int | None = 100_000) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming. Candidates via
    byte-banding (pigeonhole: ≤3 differing bits over 4 bytes ⇒ ≥1 equal
    byte), refine via bit_count(xor).

    ``max_bucket`` is the same degenerate-bucket cap as
    :func:`minhash_lsh_pairs` (VERDICT r4 #1, lower severity here):
    byte-band buckets larger than the cap are excluded from pairing
    instead of emitting |bucket|² candidates (audit with
    :func:`bucket_overflow`). The default is looser than MinHash's
    because byte-banding is intentionally coarse (1024 possible
    buckets) — size it to executor memory at the target corpus."""
    # lazy checkpoint for the same reason as _sig_groups (r6): the band
    # self-join references the signature subtree twice, and exchange
    # reuse does not canonicalize across the MapInArrow node
    sh = simhash(docs, text_col=text_col, id_col=id_col) \
        .localCheckpoint(eager=False)
    bands = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.expr(f"(simhash DIV {1 << (8 * i)}) % 256")
                     .alias("byte"))
            for i in range(4)])).alias("bb")) \
        .select(id_col, "simhash", "bb.band", "bb.byte")
    bands = _bucket_cap(bands, ["band", "byte"], max_bucket)
    left = bands.select(F.col(id_col).alias("doc_a"),
                        F.col("simhash").alias("sh_a"), "band", "byte")
    right = bands.select(F.col(id_col).alias("doc_b"),
                         F.col("simhash").alias("sh_b"), "band", "byte")
    return (left.join(right, ["band", "byte"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.expr("bit_count(CAST(sh_a AS BIGINT) ^ "
                           "CAST(sh_b AS BIGINT))").alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(docs: DataFrame, candidates: DataFrame, *,
                        n: int = 3, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """True character-n-gram Jaccard for given candidate pairs
    (doc_a, doc_b) — the exact refine step after any LSH prefilter.
    Returns (doc_a, doc_b, jaccard rounded to 6)."""
    from ..functions.text import char_ngrams_sql
    grams = docs.select(F.col(id_col),
                        F.expr(char_ngrams_sql(text_col, n)).alias("grams"))
    ga = grams.select(F.col(id_col).alias("doc_a"),
                      F.col("grams").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("doc_b"),
                      F.col("grams").alias("g_b"))
    return (candidates.join(ga, "doc_a").join(gb, "doc_b")
            .select("doc_a", "doc_b",
                    F.round(
                        F.expr("size(array_intersect(g_a, g_b))")
                        / F.expr("size(array_union(g_a, g_b))"),
                        6).alias("jaccard")))


def _star_contraction(sym: DataFrame, max_rounds: int,
                      stats: dict | None = None) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public paper) →
    (node, label) with label = component minimum.

    Per round: LARGE-STAR connects every neighbour v > u to
    m = min(N(u) ∪ {u}); SMALL-STAR re-points every smaller neighbour
    (and u itself) at m. The edge set contracts toward star graphs
    rooted at each component's minimum in O(log² n) rounds worst case
    (O(log n) observed) — this is the scale path for high-diameter
    graphs where min-label propagation's O(diameter) rounds would not
    terminate. Each round shuffles only (node, node) pairs. A caller-
    supplied ``stats`` dict receives {"rounds", "edge_counts"} — the
    per-round surviving-edge counts ARE the round's shuffle volume
    (evidence for BENCH_NEWOPS.md; zero cost, the counts drive the
    fixed-point check anyway).
    """
    # canonical orientation a > b; self-loops carry no information
    e = materialize(sym.filter(F.col("a") != F.col("b"))
                    .select(F.greatest("a", "b").alias("a"),
                            F.least("a", "b").alias("b"))
                    .distinct())
    n_edges = e.count()
    if stats is not None:
        stats["rounds"] = 0
        stats["edge_counts"] = [n_edges]
    for _ in range(max_rounds):
        prev, n_prev = e, n_edges
        # large-star over the SYMMETRIC neighbourhood
        s = e.unionByName(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        mins = (s.groupBy("a").agg(F.min("b").alias("mn"))
                .select("a", F.least("mn", "a").alias("m")))
        e = (s.join(mins, "a")
             .filter(F.col("b") > F.col("a"))
             .select(F.col("b").alias("a"), F.col("m").alias("b"))
             .distinct())
        # small-star over the larger→smaller directed edges (a > b here
        # by construction: m = min(N(u) ∪ {u}) < v for every emitted v)
        mins = e.groupBy("a").agg(F.min("b").alias("mn"))
        e = materialize(e.join(mins, "a")
                        .filter(F.col("b") != F.col("mn"))
                        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
                        .unionByName(mins.select("a", F.col("mn").alias("b")))
                        .distinct())
        n_edges = e.count()
        if stats is not None:
            stats["rounds"] += 1
            stats["edge_counts"].append(n_edges)
        # fixed point = the FULL round changed nothing (comparing to the
        # large-star intermediate stops one round early on chains: a
        # path's first round yields {(2,1),(3,1),(4,2),(5,3)}, which
        # small-star maps to itself although 4 and 5 are not yet rooted
        # at 1). Sets are distinct: same size + empty one-sided diff.
        if n_edges == n_prev and \
                e.join(prev, ["a", "b"], "left_anti").isEmpty():
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds")
    # structural guard (loud, one aggregation): a genuine star forest has
    # exactly one outgoing edge per non-root — a spurious fixed point of
    # the COMPOSED round (small∘large) that isn't a fixed point of each
    # op separately would show up here as a multi-parent node
    multi = (e.groupBy("a").count().filter(F.col("count") > 1))
    if not multi.isEmpty():
        raise RuntimeError(
            "star contraction stopped at a non-star fixed point "
            "(multi-parent nodes present); raise max_rounds")
    # converged ⇒ star forest rooted at component minima: every non-root
    # appears as `a` pointing at its root `b`; roots label themselves.
    # Singletons (nodes whose only edges were self-loops) re-enter via
    # the left join and keep their own id as the label.
    stars = (e.select(F.col("a").alias("node"), F.col("b").alias("label"))
             .unionByName(e.select(F.col("b").alias("node"),
                                   F.col("b").alias("label")))
             .groupBy("node").agg(F.min("label").alias("label")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    return materialize(nodes.join(stars, "node", "left")
                       .select("node",
                               F.coalesce("label", "node").alias("label")))


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", *,
                         max_iters: int = 30,
                         fallback_after: int = 8,
                         stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected edge list → (node, label)
    with label = MIN node id of the component.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbours' labels (one equi-join + one
    groupBy-min per round, both on the node key), until a round changes
    nothing. Converges in O(component diameter) rounds — near-dup
    clusters are dense (LSH pairs link most members directly), so
    diameters are tiny in practice. If it has not converged after
    ``fallback_after`` rounds (a high-diameter graph: chains, sparse
    link networks), the loop switches to large-star/small-star
    contraction (:func:`_star_contraction`, O(log n) rounds) instead of
    burning O(diameter) rounds or raising. The labelling is identical —
    both compute label = component minimum — so the fallback never
    changes results, only the round count. Every round's result is
    eagerly checkpointed (lineage would otherwise double per round) and
    the previous generation is released. 100 TB note: rounds shuffle
    ONLY (node, label) pairs — never document payloads — and the edge
    list is partitioned once and reused.
    """
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .distinct()
           .repartition(n_shuffle, "a").persist())
    labels = materialize(sym.select(F.col("a").alias("node"))
                         .distinct()
                         .withColumn("label", F.col("node")))
    for _ in range(min(max_iters, fallback_after)):
        prop = (sym.join(labels, sym["a"] == labels["node"])
                .select(F.col("b").alias("node"), "label"))
        new = materialize(labels.unionByName(prop)
                          .groupBy("node").agg(F.min("label").alias("label")))
        changed = (new.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new
        if changed == 0:
            sym.unpersist()
            return labels
    result = _star_contraction(sym, max_rounds=max_iters,
                               stats=stats)
    sym.unpersist()
    return result


def near_dup_clusters(docs: DataFrame, *, k: int = 32, bands: int = 8,
                      shingle_n: int = 3, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = 10_000) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH pairs → connected components
    → canonical keeper per cluster. Returns one row per document that
    participates in at least one near-dup pair:
    (doc_id, cluster_id = min doc_id of the cluster, is_keeper).

    This is the step a real training-data pipeline runs after pair
    generation — "drop everything in a cluster except one" needs the
    transitive closure, not the raw pairs (A~B, B~C must discard two of
    three even when A~C was never emitted).

    100 TB shape (VERDICT r4 #1): components are computed over
    :func:`lsh_candidate_edges` — membership stars + representative
    pairs — which has the SAME transitive closure as the full pair set
    but stays linear in corpus size where template-heavy data would
    make the pair set quadratic. ``max_bucket`` flows through to the
    banding cap."""
    edges = lsh_candidate_edges(docs, k=k, bands=bands,
                                shingle_n=shingle_n, threshold=threshold,
                                text_col=text_col, id_col=id_col,
                                max_bucket=max_bucket)
    cc = connected_components(edges, "doc_a", "doc_b")
    return cc.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"))


def dedup_documents(docs: DataFrame, *, method: str = "exact",
                    text_col: str = "text", id_col: str = "doc_id",
                    **kwargs) -> DataFrame:
    """The end-user dedup step: return ``docs`` with duplicates REMOVED.

    ``method="exact"`` drops every row whose text hash already has a
    smaller doc_id (one shuffle on the 16-byte hash). ``method="minhash"``
    drops every non-keeper of each near-dup cluster (transitive closure
    via :func:`near_dup_clusters` — A~B, B~C removes two of three even
    when A and C never paired). Extra kwargs flow to the pair generator.
    Both keep exactly one representative (min doc_id) per group and pass
    unique documents through untouched; the big side anti-joins against
    a small drop-list, so document payloads never shuffle."""
    if method == "exact":
        groups = exact_dups(docs, text_col=text_col, id_col=id_col)
        drop = (docs.select(F.md5(F.col(text_col)).alias("content_hash"),
                            F.col(id_col))
                .join(groups, "content_hash")
                .filter(F.col(id_col) != F.col("keeper"))
                .select(id_col))
    elif method == "minhash":
        drop = (near_dup_clusters(docs, text_col=text_col, id_col=id_col,
                                  **kwargs)
                .filter(~F.col("is_keeper")).select(id_col))
    else:
        raise ValueError(f"unknown dedup method {method!r}")
    return docs.join(drop, id_col, "left_anti")


def embedding_neardup_pairs(embeddings: DataFrame, planes, *,
                            threshold: float = 0.95,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            max_bucket: int | None = 100_000) -> DataFrame:
    """Embedding near-duplicates: hyperplane-LSH bucket join then exact
    cosine refine ≥ threshold. Returns (id_a, id_b, cos_sim).

    ``max_bucket``: the shared degenerate-bucket cap
    (:func:`_bucket_cap`, VERDICT r4 #1) over the hyperplane signature —
    a zero-vector-heavy or low-entropy embedding column would otherwise
    pile everything into one bucket and the join would emit |bucket|²
    refine candidates."""
    from .knn import _dot, _norm, hyperplane_signature
    sig = hyperplane_signature(embeddings, planes, vec_col=vec_col)
    # per-ROW norm hoisted above the self-join: bit-identical values,
    # one interpreted HOF fold per pair instead of three
    sig = _bucket_cap(sig, ["sig"], max_bucket).withColumn(
        "nrm", _norm(vec_col))
    a = sig.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("v_a"),
                   F.col("nrm").alias("nrm_a"), "sig")
    b = sig.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("v_b"),
                   F.col("nrm").alias("nrm_b"), "sig")
    return (a.join(b, "sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim",
                        _dot("v_a", "v_b")
                        / (F.col("nrm_a") * F.col("nrm_b")))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
            .distinct())
