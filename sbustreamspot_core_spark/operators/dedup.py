"""Document deduplication suite (training-data pipeline ops).

- exact: hash-groupBy on a content digest (md5) — one shuffle, map-side
  combine; keeps the smallest doc_id per digest (deterministic).
- n-gram Jaccard: character-shingle explode + self-equi-join on shingle ->
  sparse intersection counts; |A u B| = |A| + |B| - |A n B|.
- MinHash + LSH: k independent affine minhashes over a portable 60-bit base
  hash of each shingle, banded into buckets, bucket self-join for candidates
  — the classic shingle->minhash->band->bucket-join pipeline.
- SimHash near-dup: 64-bit sign-projection over the same portable base hash;
  near-dups = sketches within a Hamming radius via band-join candidates.
- embedding cosine near-dup: see operators.ann (exact all-pairs).

Portability: the base hash is the first 60 bits of md5(shingle) parsed as an
integer — computable bit-identically by Spark JVM expressions
(conv(substring(md5(s),1,15),16,10)) and by ANSI SQL / DuckDB
(CAST('0x' || substring(md5(s),1,15) AS BIGINT)), so every derived operator
has an exact SQL oracle.  The affine family is Carter-Wegman over the
Mersenne prime p = 2^31-1: h_i(x) = (a_i*(x mod p) + b_i) mod p with
a_i in [1,p).  a_i*(x mod p) < 2^62 stays strictly inside int64, and the
multiplication wraps p ~2^31 times — a genuinely scrambling permutation
family (small-coefficient variants wrap only once or twice and are badly
min-wise biased).

The set-similarity paths are JVM column expressions (explode / groupBy /
join), except two Arrow Python kernels: the minhash signatures and the
pair-restricted exact Jaccard verifier (``_minhash_batches``,
``_jaccard_batches``), which measured faster than their JVM plans.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.snaptable import SnapTable

MINHASH_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_coeffs(num_hashes: int, seed: int) -> tuple:
    """(A, B) int64 arrays for the Carter-Wegman family — shared with
    oracle-SQL generation so both sides use the same constants."""
    rng = np.random.default_rng(seed)
    A = rng.integers(1, MINHASH_MOD, size=num_hashes, dtype=np.int64)
    Bv = rng.integers(0, MINHASH_MOD, size=num_hashes, dtype=np.int64)
    return A, Bv


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One surviving row id per distinct text: (digest, keep_id, dup_count)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def char_shingles(docs: DataFrame, n: int = 5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Distinct character n-grams per doc: (id, shingle).

    The n-gram rule: ``max(len - n + 1, 1)`` windows of ``n`` chars, so a
    text shorter than ``n`` (or empty) is one whole-text gram and a null
    text one null gram.  The window index is a plain int-sequence explode
    with the ``substring`` in the projection (a ``transform`` lambda inside
    the Generate would take the stage off whole-stage codegen)."""
    c = int(n)
    n_grams = F.greatest(F.length(text_col) - c + 1, F.lit(1))
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"),
                    F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("i"))
        .select("id", F.col("t").substr(F.col("i") + 1, F.lit(c))
                .alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 5) -> DataFrame:
    """(id_a < id_b, jaccard) for every pair sharing >= 1 n-gram (exact).

    Sparse set-similarity join: sizes via groupBy, intersections via
    self-equi-join on the shingle key.

    Scale note: a shingle occurring in f docs contributes f^2/2 join rows, so
    ubiquitous n-grams blow up quadratically; the banded MinHash path
    (``minhash_lsh_candidates``) is the one for large corpora.
    """
    sh = char_shingles(docs, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter
        .join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") /
             (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"))
    )


def _grams(text: str, n: int) -> list:
    """The n-gram rule of the Arrow kernels, ``char_shingles``' rule in
    Python: ``max(len - n + 1, 1)`` windows of ``n`` code points."""
    return [text[i:i + n] for i in range(max(len(text) - n + 1, 1))]


def _minhash_batches(batches, *, k, c, Ac, Bc):
    """``minhash_signatures`` kernel: (id, text) batches -> (id, sig)."""
    from hashlib import md5
    p = MINHASH_MOD
    for pdf in batches:
        ids, sigs = [], []
        for did, text in zip(pdf["id"], pdf["text"]):
            ids.append(did)
            if not isinstance(text, str):
                sigs.append([None] * k)
                continue
            xs = np.array(
                [(int.from_bytes(md5(g.encode("utf-8")).digest()[:8],
                                 "big") >> 4) % p for g in _grams(text, c)],
                dtype=np.int64)
            sigs.append(((Ac * xs[None, :] + Bc) % p).min(axis=1).tolist())
        yield pd.DataFrame({"id": ids, "sig": sigs})


def minhash_signatures(docs: DataFrame, num_hashes: int = 64, n: int = 5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, sig array<long>) — k minhashes over n-gram shingles, one
    Arrow-batched pass (guide §4.2 shape: Spark distributes, the kernel
    hands whole batches to hashlib+numpy).

    h_i(x) = (a_i*(x mod p) + b_i) mod p, p = 2^31-1, (a_i, b_i) drawn by
    ``minhash_coeffs`` with seed 23, over the shingle's portable 60-bit
    base hash (first 60 bits of md5 — computed here as
    big-endian digest bytes >> 4, bit-identical to the SQL
    conv(substring(md5(s),1,15),16,10) the oracles use; equality is
    pytest-pinned against the expression path).  The k affine mins per doc
    are one (k, n_grams) numpy matmul-min — a_i*x < 2^62 stays exact in
    int64, same bound as the JVM expression.

    Round-7 rewrite rationale (measured, BENCH.md round 7): the former pure-JVM
    explode + 64 parallel min() aggregates was dominated by interpreted
    per-shingle expression evaluation (its n-gram explode was then a
    ``transform`` lambda, a codegen fallback that took the whole
    Generate/HashAggregate stage off whole-stage codegen): 7.7 s for 50k
    docs vs 3.9 s for this kernel, and the gap widens under host load.
    ``char_shingles`` has since lost that lambda; the kernel-vs-codegen
    A/B has not been re-run.  Zero shuffles either way (the old path's
    map-side combine already collapsed to one row per doc; this one emits
    exactly one row per doc).

    Precondition (unchanged contract, now structural): one input row per
    ``id_col`` — run ``exact_dedup`` upstream first.  A null/absent text
    yields sig = array of k nulls, exactly as min() over no rows did.

    Single-file inputs are repartitioned up to the default parallelism
    before the kernel (the sf inputs are one parquet split: without this
    the whole hash pass runs on ONE core — guide §2.5 input skew)."""
    A, Bv = minhash_coeffs(num_hashes, 23)
    kernel = partial(_minhash_batches, k=int(num_hashes), c=int(n),
                     Ac=A.astype(np.int64)[:, None],
                     Bc=Bv.astype(np.int64)[:, None])
    sel = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    target = docs.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < target:
        # scale-adaptive: a 100 TB corpus already has >> target splits and
        # skips this; a single-file bench input gets its map work spread
        sel = sel.repartition(target)
    return sel.mapInPandas(kernel, schema="id long, sig array<long>")


def _split_hot(banded: DataFrame, cols: list, cap: int | None):
    """(normal, hot): ``banded`` rows in buckets of at most / more than
    ``cap`` members; hot is None when there is no cap.  The hot-key table
    is tiny, so both sides broadcast it instead of shuffling ``banded``."""
    if cap is None:
        return banded, None
    hot_keys = (banded.groupBy(*cols).agg(F.count("*").alias("_n"))
                .filter(F.col("_n") > cap).select(*cols))
    return (banded.join(F.broadcast(hot_keys), cols, "left_anti"),
            banded.join(F.broadcast(hot_keys), cols, "left_semi"))


def banded_self_join_pairs(banded: DataFrame, bucket_cols: list,
                           id_col: str = "id",
                           max_bucket_size: int | None = 10_000,
                           out_a: str = "id_a",
                           out_b: str = "id_b",
                           distinct: bool = True) -> DataFrame:
    """Distinct (a < b) pairs sharing a bucket, with hot-bucket STAR
    reduction: buckets larger than ``max_bucket_size`` emit only (min-id
    hub, member) pairs — O(B) rows per bucket — instead of the full B^2/2
    self-join no single task could produce (equal join keys must meet, so
    AQE skew handling cannot split a same-key self-join).

    The star subset is CLUSTER-exact, not PAIR-exact: connected components
    over the pairs are provably identical to the full self-join's (every
    member connects to the bucket's min id), and every member appears in at
    least one pair — but member-member pairs inside a hot bucket are NOT
    emitted; they surface only transitively via CC.  A consumer that
    POST-FILTERS pairs (exact-Jaccard / Hamming / cosine thresholds) can
    therefore lose true pairs whose hub link fails the filter: hub-member
    may score below threshold while member-member would have passed.
    Exactness-claiming operators must default max_bucket_size=None and
    treat the cap as an opt-in scale knob (see
    ``simhash_hamming_candidates``, ``lsh.candidate_pairs``); use
    ``star_reduction_stats`` to measure how much candidate mass a given
    cap star-reduces.  max_bucket_size=None restores the plain full
    self-join.
    Extra non-key columns in ``banded`` survive on both sides with ``_a``
    / ``_b`` suffixes only if pre-renamed by the caller; this helper keeps
    only the id pair.

    Kept fully LAZY on purpose: the repeated ``banded`` subtrees (sizes /
    anti / semi / join sides) compile into one job whose identical
    exchanges AQE reuses (ReusedExchange), so an uncached upstream costs
    ~one extra aggregation pass — an eager hot-key collect() was measured
    SLOWER (splits into two jobs; exchange reuse does not span jobs)."""
    normal, hot = _split_hot(banded, bucket_cols, max_bucket_size)
    a = normal.select(F.col(id_col).alias(out_a), *bucket_cols)
    b = normal.select(F.col(id_col).alias(out_b), *bucket_cols)
    # shuffle_hash: skips the sort-merge sorts of both band-table sides;
    # per-partition build size is bounded by the bucket cap (hot buckets
    # are star-reduced away) and exactness consumers' uncapped buckets are
    # corpus-bounded the same way the SMJ partition would be (round 7,
    # measured on the 50k-doc corpus: guide §3.1)
    pairs = (a.join(b.hint("shuffle_hash"), bucket_cols)
             .filter(F.col(out_a) < F.col(out_b))
             .select(out_a, out_b))
    if hot is not None:
        hub = hot.groupBy(*bucket_cols).agg(F.min(id_col).alias(out_a))
        star = (hot.join(F.broadcast(hub), bucket_cols)
                .filter(F.col(id_col) != F.col(out_a))
                .select(out_a, F.col(id_col).alias(out_b)))
        # hub is the bucket minimum, so out_a < out_b already holds
        pairs = pairs.unionByName(star)
    # distinct=False skips the dedup shuffle for consumers that de-duplicate
    # anyway (e.g. CC symmetrize) — same pair SET, with multiplicity
    return pairs.distinct() if distinct else pairs


def star_reduction_stats(banded: DataFrame, bucket_cols: list,
                         max_bucket_size: int | None) -> DataFrame:
    """One-row DataFrame measuring how much of ``banded``'s candidate mass a
    hot-bucket cap would star-reduce: (total_rows, hot_rows, hot_buckets,
    hot_frac).  ``hot_frac`` near 1.0 means nearly every bucket exceeds the
    cap — the banding is under-resolved for the corpus (raise n_planes /
    bands) and pair-level consumers would see mostly hub-star pairs.
    Jobs log this before capped self-joins so the degradation is visible,
    not silent."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count("*").alias("n"))
    cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
    return sizes.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.coalesce(F.sum(F.when(F.col("n") > cap, F.col("n"))), F.lit(0))
        .cast("long").alias("hot_rows"),
        F.count(F.when(F.col("n") > cap, 1)).cast("long").alias("hot_buckets"),
        (F.coalesce(F.sum(F.when(F.col("n") > cap, F.col("n"))), F.lit(0))
         / F.sum("n")).alias("hot_frac"))


def minhash_lsh_candidates(signatures: DataFrame, bands: int = 16,
                           max_bucket_size: int | None = 10_000) -> DataFrame:
    """Band the signature into ``bands`` rows and self-join buckets ->
    (id_a < id_b) candidate pairs.

    The bucket key is the band's values joined into a string — collision-free
    (unlike hashing the band) and a plain shuffle key at scale.  Buckets
    above ``max_bucket_size`` are star-reduced (``banded_self_join_pairs``):
    the cap bounds any task's pair fan-out to max_bucket_size^2/2 while
    every hot-bucket member still pairs with the bucket's min id, so
    duplicate CLUSTERS are preserved (pair-level consumers: see the star
    contract on ``banded_self_join_pairs``; collapse exact duplicates
    upstream — jobs/run_dedup.py — to keep hot buckets rare)."""
    banded = minhash_bands(signatures, bands)
    return banded_self_join_pairs(banded, ["band_idx", "band_key"],
                                  max_bucket_size=max_bucket_size)


def minhash_bands(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """(id, band_idx, band_key) — the banded signature table behind
    ``minhash_lsh_candidates``, public so jobs can measure bucket occupancy
    (``star_reduction_stats``) on the exact table the self-join sees.

    Round 7: the band index is exploded as a plain int sequence and the
    key built by slice/array_join in the projection — the former
    ``transform`` lambda was a codegen fallback that took the Generate off
    whole-stage codegen, and this table is re-derived several times per
    candidate job (sizes / anti / semi / join sides); measured 2x on the
    50k-doc corpus with byte-identical output.

    A null signature (null text: ``minhash_signatures`` emits k nulls)
    keeps its one row per band with a NULL ``band_key``, so every bucket
    equi-join drops it and null-text docs never pair with each other."""
    key = F.expr(f"array_join(slice(sig, band_idx * int(size(sig) / {bands})"
                 f" + 1, int(size(sig) / {bands})), '_')")
    return signatures.select(
        "id", "sig",
        F.explode(F.sequence(F.lit(0), F.lit(int(bands) - 1)))
        .alias("band_idx"),
    ).select(
        "id", "band_idx",
        F.when(F.get("sig", 0).isNotNull(), key).alias("band_key"),
    )


def incremental_lsh_candidates(index_bands: DataFrame | None,
                               new_bands: DataFrame,
                               max_bucket_size: int | None = None
                               ) -> DataFrame:
    """Candidate pairs INVOLVING at least one new doc: new-new pairs via
    the banded self-join plus new-index pairs via a bucket equi-join —
    never touching index-index pairs (those were emitted when the index
    docs were themselves the new batch).

    Both inputs are band tables shaped like ``minhash_bands`` output
    (id, band_idx, band_key); ids must be globally unique across batches.
    Cumulative-equivalence contract (pytest-pinned): the union of every
    batch's incremental candidates equals ``minhash_lsh_candidates`` over
    the full corpus, because a pair shares a band bucket independently of
    which batch each side arrived in.  ``index_bands=None`` is the empty
    index: the result is the new batch's banded self-join alone.

    ``max_bucket_size`` star-reduces hot buckets on BOTH legs: the new-new
    self-join uses ``banded_self_join_pairs``'s star contract, and a hot
    INDEX bucket (> cap members) pairs each new member only with the
    bucket's min index id — O(new) rows instead of |bucket| x |new| through
    one task.  Cluster-exact for the same reason as the self-join star
    (old members of a hot bucket were already interconnected when ingested);
    pair-level consumers: default None, see ``banded_self_join_pairs``.
    """
    cols = ["band_idx", "band_key"]
    if index_bands is None:
        return banded_self_join_pairs(new_bands, cols,
                                      max_bucket_size=max_bucket_size)
    nn = banded_self_join_pairs(new_bands, cols,
                                max_bucket_size=max_bucket_size,
                                distinct=False)
    normal_idx, hot_idx = _split_hot(index_bands, cols, max_bucket_size)
    nw = new_bands.select(F.col("id").alias("id_n"), *cols)
    o = normal_idx.select(F.col("id").alias("id_o"), *cols)
    cross = (nw.join(o, cols)
             .filter(F.col("id_n") != F.col("id_o"))
             .select(F.least("id_n", "id_o").alias("id_a"),
                     F.greatest("id_n", "id_o").alias("id_b")))
    pairs = nn.unionByName(cross)
    if hot_idx is not None:
        hub = hot_idx.groupBy(*cols).agg(F.min("id").alias("id_o"))
        star = (nw.join(F.broadcast(hub), cols)
                .filter(F.col("id_n") != F.col("id_o"))
                .select(F.least("id_n", "id_o").alias("id_a"),
                        F.greatest("id_n", "id_o").alias("id_b")))
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def build_dedup_index(docs: DataFrame, num_hashes: int = 64, n: int = 5,
                      bands: int = 16, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The persisted-signature-index table for incremental dedup:
    (id, band_idx, band_key) = ``minhash_bands(minhash_signatures(docs))``.
    One table serves both roles — it IS the banded self-join input for a
    full-corpus pass and the join side for every later incremental batch."""
    return minhash_bands(
        minhash_signatures(docs, num_hashes=num_hashes, n=n,
                           id_col=id_col, text_col=text_col), bands)


def dedup_batch(prior: DataFrame | None, new_docs: DataFrame,
                index: SnapTable | None, summary: dict, base: int, *,
                num_hashes: int = 64, n: int = 5, bands: int = 16,
                id_col: str = "doc_id", text_col: str = "text",
                max_bucket_size: int | None = None
                ) -> tuple[DataFrame, dict]:
    """One incremental near-dup step over a SnapTable signature index.

    Builds the batch's bands (``new_docs`` only: no corpus signature is
    recomputed), joins them against ``prior``, the index before this batch
    (None: empty; ``incremental_lsh_candidates``), caches and counts the
    pairs, then appends the bands to ``index`` as one commit with
    ``summary`` plus ``band_rows``, pinned to metadata version ``base``.
    ``index=None`` commits nothing: a recovery whose bands already landed.

    Returns the cached pairs, which the caller unpersists, and their
    counts: ``pairs``, and ``band_rows`` when the bands were committed.
    The pairs plan reads the prior snapshot's own files and the commit
    writes new ones, so the commit leaves the cache valid."""
    new_bands = build_dedup_index(
        new_docs, num_hashes=num_hashes, n=n, bands=bands,
        id_col=id_col, text_col=text_col).cache()
    pairs = incremental_lsh_candidates(
        prior, new_bands, max_bucket_size=max_bucket_size).cache()
    try:
        counts = {"pairs": pairs.count()}
        if index is not None:
            counts["band_rows"] = new_bands.count()
            index.append(new_bands,
                         summary={**summary, "band_rows": counts["band_rows"]},
                         base=base)
    except BaseException:
        # e.g. CommitConflict from an overlapping run: the cache must not
        # outlive a failed step
        pairs.unpersist()
        raise
    finally:
        new_bands.unpersist()
    return pairs, counts


def incremental_dedup_batch(spark, index_path: str,
                            new_docs: DataFrame) -> DataFrame:
    """Append-only dedup: find near-dup candidates of ``new_docs`` against
    the SnapTable signature index at ``index_path`` (created empty on first
    use) WITHOUT recomputing any corpus signature, then commit the batch's
    bands to the index: ``dedup_batch`` at its defaults, the body
    ``streaming/table_dedup.py:table_dedup_step`` runs too.

    An incoming batch costs the signature build over the NEW docs only
    (the shingle explode + k min-aggregates never touch the corpus) plus
    one scan of the index band table (16 small rows/doc, read under the
    table's recorded schema) for the bucket equi-join.  Returns the cached
    candidate pairs (id_a < id_b); the caller unpersists them.
    """
    index = SnapTable.open_or_create(index_path)
    base = index.current_version()
    prior = None if index.current_snapshot_id() is None else index.read(spark)
    return dedup_batch(prior, new_docs, index, {}, base)[0]


def _gram_set(t, present, c):
    """(size, set) of ``t``'s c-grams: absent doc -> 0 grams; null text ->
    the old null-shingle row: size 1, matches nothing."""
    if present is not True:
        return 0, frozenset()
    if not isinstance(t, str):
        return 1, frozenset()
    s = set(_grams(t, c))
    return len(s), s


def _jaccard_batches(batches, *, c):
    """``exact_jaccard_for_pairs`` kernel: (id_a, id_b, ta, pa, tb, pb)
    batches -> (id_a, id_b, jaccard)."""
    for pdf in batches:
        out = []
        for ta, pa, tb, pb in zip(pdf["ta"], pdf["pa"], pdf["tb"], pdf["pb"]):
            sa, seta = _gram_set(ta, pa, c)
            sb, setb = _gram_set(tb, pb, c)
            inter = len(seta & setb) if sa and sb else 0
            denom = sa + sb - inter
            out.append(inter / denom if denom > 0 else 0.0)
        yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"],
                            "jaccard": out})


def exact_jaccard_for_pairs(docs: DataFrame, pairs: DataFrame, n: int = 5,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(id_a, id_b, jaccard) — EXACT n-gram Jaccard restricted to the given
    (id_a, id_b) pairs.

    The verifier for LSH candidate evaluation: cost is O(|pairs| * |doc
    shingles|) join rows instead of the all-pairs quadratic blowup, so it
    scales with the candidate volume (near-linear for a banded design).
    Pairs with zero shared shingles get jaccard 0.

    Round-7 shape (guide §8: decide on small rows, and §4.2: batch the
    per-pair kernel): texts — not exploded shingle rows — are attached to
    the pair table (semi-join restriction first, so only candidate docs are
    touched), and the per-pair intersection runs as an Arrow-batched set
    kernel.  The former shingle-explode + three-way join shuffled the full
    O(|candidate docs| * |doc shingles|) gram table several times and was
    measured 25-75 s on the 50k-doc cadence vs 2.7-3.5 s for this plan
    (BENCH.md round 7); per pair the kernel is two Python set builds + one
    intersection, bit-identical math (integer counts, one IEEE division).

    Null/absent semantics (pytest-pinned vs the old plan): a doc row with
    null text counts as ONE shingle that matches nothing (the old null
    shingle row under join equality); an id absent from ``docs`` has size
    0; both make inter 0, and a zero denominator yields jaccard 0.0.
    Precondition: one ``docs`` row per id (run ``exact_dedup`` upstream) —
    the old plan pooled duplicate-id shingles, this one would emit one
    output row per duplicate.
    """
    ids = (pairs.select(F.col("id_a").alias("id"))
           .unionByName(pairs.select(F.col("id_b").alias("id")))
           .distinct())
    dr = (docs.join(ids, docs[id_col] == ids["id"], "left_semi")
          .select(F.col(id_col).alias("id"), F.col(text_col).alias("t")))
    a = dr.select(F.col("id").alias("id_a"), F.col("t").alias("ta"),
                  F.lit(True).alias("pa"))
    b = dr.select(F.col("id").alias("id_b"), F.col("t").alias("tb"),
                  F.lit(True).alias("pb"))
    j = pairs.join(a, "id_a", "left").join(b, "id_b", "left")

    return j.mapInPandas(partial(_jaccard_batches, c=int(n)),
                         schema="id_a long, id_b long, jaccard double")


def simhash_hamming_candidates(sketches: DataFrame, radius: int = 3,
                               bands: int = 4,
                               max_bucket_size: int | None = None
                               ) -> DataFrame:
    """(id_a, id_b, hamming) — ALL pairs of 64-bit SimHashes within
    ``radius`` Hamming distance, found WITHOUT an all-pairs scan.

    Pigeonhole banding: split the 64 bits into ``bands`` equal bands; any
    pair within Hamming distance < ``bands`` shares at least one band
    exactly, so a bucket-equality self-join on (band_idx, band_val) yields a
    candidate superset, then ``bit_count(xor)`` filters to the true radius.
    Requires radius < bands (asserted).  Shuffle cost is the banded table
    (4 rows/doc), never the quadratic pair space.

    max_bucket_size defaults to None because this operator CLAIMS exactness
    and then POST-FILTERS on hamming: star-reducing a hot band bucket
    (members agree only on ~64/bands bits, not near-identity) would drop
    true within-radius member-member pairs while the emitted hub pairs can
    fail the radius filter — a silent recall hole.  Pass a cap only when a
    candidate SUPERSET is acceptable downstream (e.g. CC clustering, where
    the star is cluster-exact) or after confirming via
    ``star_reduction_stats`` that hot buckets carry negligible mass; at
    scale, prefer raising ``bands`` (finer buckets) over capping.
    """
    banded = simhash_bands(sketches, radius, bands)
    pairs = banded_self_join_pairs(banded,
                                   ["band_idx", "band_val"],
                                   max_bucket_size=max_bucket_size)
    sa = sketches.select(F.col("id").alias("id_a"),
                         F.col("simhash").alias("ha"))
    sb = sketches.select(F.col("id").alias("id_b"),
                         F.col("simhash").alias("hb"))
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                F.bit_count(F.expr("ha ^ hb")).alias("hamming"))
        .filter(F.col("hamming") <= radius)
    )


def simhash_bands(sketches: DataFrame, radius: int = 3,
                  bands: int = 4) -> DataFrame:
    """(id, band_idx, band_val) — the pigeonhole band table behind
    ``simhash_hamming_candidates``, public so jobs can measure bucket
    occupancy (``star_reduction_stats``) on the exact table the self-join
    sees."""
    if radius >= bands:
        raise ValueError(f"pigeonhole needs radius < bands "
                         f"(radius={radius}, bands={bands})")
    bits = 64 // bands
    mask = (1 << bits) - 1
    # the LAST band absorbs the remainder bits (unmasked arithmetic shift
    # reaches through bit 63) so the bands cover all 64 bits even when
    # ``bands`` does not divide 64
    shifted = F.expr(f"shiftright(simhash, band_idx * {bits})")
    return sketches.select(
        "id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
    ).select(
        "id", "band_idx",
        F.when(F.col("band_idx") == bands - 1, shifted)
        .otherwise(shifted.bitwiseAND(F.lit(mask))).alias("band_val"))


def minhash_jaccard_estimate(signatures: DataFrame,
                             candidates: DataFrame) -> DataFrame:
    """(id_a, id_b, est_jaccard) — matching-minhash fraction for candidates."""
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                              lambda m: m))
    return (
        candidates.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                (matches / F.size("sig_a")).alias("est_jaccard"))
    )


def simhash64(docs: DataFrame, n: int = 5, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash over character n-grams: (id, simhash long).

    bit j = sign of sum over distinct shingles of (+1 if bit j of the
    shingle's 64-bit portable hash else -1) — pure column expressions + one
    groupBy; no Python in the loop.  Bit j of the portable hash is bit
    (j mod 4) of md5 hex digit (j div 4), so the identical computation runs
    in ANSI SQL (the oracle).  bit 63's place value is Long.MIN_VALUE; the
    final sum stays in [-2^63, 2^63-1] by construction (each place value
    appears at most once).
    """
    sh = char_shingles(docs, n, id_col, text_col).select(
        "id", F.md5("shingle").alias("m"))
    exploded = sh.select(
        "id", "m", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j")
    ).select(
        "id", "j", F.expr(
            "case when (shiftright(cast(conv(substring(m, cast(j / 4 as int)"
            " + 1, 1), 16, 10) as int), j % 4) & 1) = 1 then 1 else -1 end"
        ).alias("s"))
    bits = (
        exploded.groupBy("id", "j").agg(F.sum("s").alias("tot"))
        .select("id", F.when(F.col("tot") >= 0,
                             F.expr("shiftleft(cast(1 as bigint), j)"))
                .otherwise(F.lit(0).cast("long")).alias("bitval"))
        .groupBy("id").agg(F.sum("bitval").alias("simhash"))
    )
    return bits
