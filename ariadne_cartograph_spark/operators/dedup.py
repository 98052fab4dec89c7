"""Deduplication operator family (SURVEY.md §2.5 W6 + north-star
"dedup": exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design (100 TB):
- exact dedup: hash-groupBy on a fingerprint — one shuffle keyed by the
  fingerprint, deterministic representative (min id), no window over
  the whole table;
- MinHash signatures are computed row-local with array expressions
  (no explode), then candidates come from an equi-join on (band,
  band_hash) — the classic LSH bucket join; shuffle volume is
  #docs × #bands small rows, never #docs²;
- verification joins only candidate pairs back to shingle sets.

All hashing uses xxhash64 (stable across executors/runs); no Python in
the signature path.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, hashed_word_shingles
from . import probe_memo

# Persisted shingle frames created by the near-dup builders below. The
# returned DataFrames are lazy, so the builders cannot unpersist before
# the caller materializes them; instead every persist() is tracked here
# and callers that loop (bench.py, the parity harness, foreachBatch
# users) call release_caches() between materializations so repeated
# invocations in one long-lived session don't accumulate cached
# partitions until storage-memory eviction churn.
_LIVE_CACHES: list[DataFrame] = []


def _track_persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    # Shingle frames are hot but small relative to executor memory;
    # deserialized memory-only avoids paying disk-spill serialization
    # for frames cheap to recompute.
    cached = df.persist(StorageLevel.MEMORY_ONLY)
    _LIVE_CACHES.append(cached)
    return cached


def release_caches() -> None:
    """Unpersist every shingle frame cached by near-dup builders since
    the last call. Safe to call at any time: already-materialized
    results are unaffected, un-materialized plans just recompute."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


@contextlib.contextmanager
def cache_scope():
    """Exception-safe auto-release (r7 polish item): persists tracked
    INSIDE the with-block are unpersisted on exit; caches created
    before entry are untouched, so scopes nest.

        with cache_scope():
            pairs = minhash_lsh_pairs(docs, ...)
            pairs.count()   # materialize while shingle frames are hot
        # shingle persists released here, even on exception
    """
    mark = len(_LIVE_CACHES)
    try:
        yield
    finally:
        while len(_LIVE_CACHES) > mark:
            _LIVE_CACHES.pop().unpersist()


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row per distinct ``text_col`` content — the one
    with the smallest ``id_col`` (deterministic, unlike dropDuplicates).
    Implemented as groupBy(fingerprint).min(id) + semi join back, which
    at scale is two narrow shuffles on fingerprint/id; the alternative
    row_number window has the same shuffle but sorts each group.
    """
    fp = df.withColumn("__fp", fingerprint_md5(text_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        fp.join(keep, [ "__fp", id_col], "left_semi").drop("__fp")
    )


def dedup_exact_keepers(
    df: DataFrame, text_col: str, id_col: str, *carry: str
) -> DataFrame:
    """The keep-set of :func:`dedup_exact` without the join back: one
    narrow groupBy(fingerprint) shuffle returning ``(id_col, *carry)``
    of the kept (min-``id_col``) row per distinct content. ``carry``
    columns ride through the aggregate via ``min_by`` (deterministic —
    ``id_col`` is unique, so there are no ties). Census consumers that
    only need the keepers' ids/attributes skip dedup_exact's semi join
    and its payload-bearing probe side entirely (r14 optimization
    round)."""
    fp = df.withColumn("__fp", fingerprint_md5(text_col))
    return fp.groupBy("__fp").agg(
        F.min(id_col).alias(id_col),
        *[F.min_by(c, id_col).alias(c) for c in carry],
    ).drop("__fp")


def _minhash_from_shingles(shingles: "F.Column", n_hashes: int) -> "F.Column":
    """array<long> MinHash signature from an array<long> shingle set.
    The i-th family member rehashes each fixed-width shingle hash with
    seed i; expressed as one nested transform over a seed sequence
    rather than n_hashes separate expressions — 32 unrolled copies made
    whole-stage codegen compile for seconds (cold-start dominant at
    bench scale); the loop form generates ~1/30th the bytecode. (Plain
    h1 + i·h2 double hashing would wrap, which ANSI mode — Spark 4
    default — rejects as overflow.)"""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(shingles, lambda h: F.xxhash64(i, h))),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    r = n_hashes/bands rows; docs agreeing on any full band become a
    candidate pair. Returns distinct (id_a, id_b), id_a < id_b.

    The band join shuffles (band_idx, band_hash) — at 100 TB, band
    buckets are the unit of parallelism and hot buckets (boilerplate
    docs) are the skew risk. AQE skew-join splits a hot bucket's TASKS,
    but the candidate COUNT still grows as bucket², so
    ``max_bucket_size`` drops buckets above the bound before the join
    (a viral band bucket of B docs would alone emit B²/2 candidates).
    Dropping a bucket is the standard LSH degradation: a pair is still
    found via any of its other ``bands − 1`` buckets, so only pairs
    whose EVERY shared band is viral are lost — on boilerplate corpora
    those are exactly the pairs the verify step would reject or the
    exact-dup collapse already handled. Not silent: the number of
    dropped buckets/rows is logged (one model-sized aggregate on the
    already-computed bucket-frequency table). ``None`` (default)
    disables the cap — the exact contract the DuckDB oracles check.
    """
    r = n_hashes // bands
    banded = sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("mh_sig")[b * r + j] for j in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    if max_bucket_size is not None:
        bucket_n = _track_persist(
            banded.groupBy("band_idx", "band_hash").agg(
                F.count(F.lit(1)).alias("__bn")
            )
        )
        dropped = bucket_n.filter(F.col("__bn") > max_bucket_size).agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum("__bn"), F.lit(0)).alias("rows"),
        ).first()
        if dropped["buckets"]:
            import logging

            logging.getLogger(__name__).warning(
                "lsh_candidate_pairs: dropping %d hot band buckets "
                "(> %d rows each, %d banded rows total) — pairs only "
                "reachable through those buckets are not candidates",
                dropped["buckets"], max_bucket_size, dropped["rows"],
            )
        banded = banded.join(
            bucket_n.filter(F.col("__bn") <= max_bucket_size).select(
                "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
            "left_semi",
        )
    a = banded.alias("a")
    # shuffle_hash: both sides are the same SF-scaling frame, so a
    # broadcast is impossible at scale AND (measured at the sf1
    # rehearsal) pins the whole bucket join to the stream side's scan
    # parallelism — 1 task on a single-file table. The co-partitioned
    # shuffle join runs at spark.sql.shuffle.partitions parallelism,
    # ReuseExchange ships the frame once, and AQE can split hot
    # buckets.
    b = banded.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard on candidate pairs only. Emits
    (id_a, id_b, jaccard) for pairs ≥ threshold. Shingle sets are
    compared as hashes (hashed_word_shingles) — same sets, 8-byte
    elements. Pass ``shingles`` (id_col, sh) to reuse an
    already-materialized shingle frame instead of re-deriving it."""
    sh = (
        shingles
        if shingles is not None
        else df.select(
            F.col(id_col), hashed_word_shingles(text_col, n=shingle_size).alias("sh")
        )
    )
    # shuffle_hash on the array-carrying side, as in the prefix route's
    # verify: the default plan broadcasts or sort-merges the shingle
    # relation, paying the array payload through the build/sort; the
    # hash join streams it through one id-keyed exchange (r14 A/B).
    out = (
        candidates.join(
            sh.withColumnRenamed("sh", "sh_a").hint("shuffle_hash"),
            candidates.id_a == sh[id_col],
        )
        .drop(id_col)
        .join(
            sh.withColumnRenamed("sh", "sh_b")
            .withColumnRenamed(id_col, "__idb")
            .hint("shuffle_hash"),
            F.col("id_b") == F.col("__idb"),
        )
        .drop("__idb")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    # Two sub-shingle-length docs share a (NULL-filled) minhash band, so
    # empty-set candidate pairs DO reach this verify; their Jaccard is
    # 0/0 — NULL (filtered), never a pair and never an ANSI
    # divide-by-zero, matching the count/prefix paths which emit
    # nothing for empty shingle sets.
    return (
        out.withColumn("jaccard", F.when(union > 0, inter / union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: signature → band join →
    exact-Jaccard verification. b=8, r=4 → LSH threshold ≈ (1/8)^(1/4)
    ≈ 0.59, matched to the default verify threshold.

    The shingle frame is computed ONCE and persisted: signatures derive
    from it row-locally and the verification step reuses the same sets,
    so tokenize+hash (the scan-side cost at 100 TB) runs a single time
    instead of twice.

    Exact duplicates collapse to representatives before the band join
    and re-expand after, when the measured duplicate ratio clears the
    gate (see _exact_dup_collapse) — output-identical (identical texts
    always share all bands, so the naive plan finds the same pairs),
    with signature+candidate work k²-fold smaller on k-fold duplicated
    corpora; intra-cluster pairs emit at jaccard 1.0, exactly what the
    naive verify computes for identical non-empty sets (empty-shingle
    clusters are excluded — the naive verify yields NULL for them)."""
    df, member = _exact_dup_collapse(df, id_col, text_col)
    sh = _track_persist(df.select(
        F.col(id_col), hashed_word_shingles(text_col, n=shingle_size).alias("sh")
    ))
    sigs = sh.select(
        F.col(id_col), _minhash_from_shingles(F.col("sh"), n_hashes).alias("mh_sig")
    )
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, bands, max_bucket_size)
    rep_pairs = jaccard_verify(
        cands, df, id_col, text_col, shingle_size, threshold, shingles=sh
    )
    empty_reps = sh.filter(F.size("sh") == 0).select(F.col(id_col).alias("__rep"))
    return _expand_collapsed_pairs(
        rep_pairs, member, id_col, "jaccard", F.lit(1.0),
        exclude_intra_reps=empty_reps,
    )


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int
) -> DataFrame:
    """Persisted (id, sh: array<long>, n_sh) frame shared by the exact
    n-gram join variants — it feeds self-joins plus size lookups, so
    without the persist the shingle expression re-runs up to 4×."""
    return _track_persist(
        df.select(F.col(id_col), hashed_word_shingles(text_col, n=shingle_size).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Exhaustive (non-approximate) n-gram Jaccard similarity join:
    explode distinct hashed shingles → self-equi-join on shingle →
    count intersections per pair → Jaccard ≥ threshold.

    Shingles travel as xxhash64 longs, so the shuffle carries 8-byte
    keys. The explode join is Σ df(g)² pairs — fine when shingle
    doc-frequencies are uniform (measured max df ≈ 25 on the test
    corpus). For corpora with HOT shingles (boilerplate), use
    ngram_jaccard_pairs_prefix, which bounds the blowup, or
    ngram_jaccard_pairs_auto, which picks per-corpus on measured df.
    """
    sh = _sh if _sh is not None else _shingle_frame(df, id_col, text_col, shingle_size)
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("g"))
    a = exploded.alias("a")
    # shuffle_hash: SF-scaling self-join — see lsh_candidate_pairs.
    b = exploded.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.8,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join: C(a,b) = |A∩B| / min(|A|,|B|).

    Jaccard misses partial copies — a paragraph quoted inside a much
    longer document has high containment but low Jaccard because the
    union is dominated by the longer side. Containment normalizes by
    the smaller set, so it flags quote/excerpt-style duplication
    (the signal used for "document A is substantially inside B"
    decisions in crawl curation).

    Same physical shape as ngram_jaccard_pairs: 8-byte hashed-shingle
    equi-self-join → per-pair intersection count → size lookups. The
    Σ df² candidate bound and its skew remedies apply identically
    (route hot-shingle corpora through the prefix/auto variants first
    to produce the candidate set, then score containment on it).

    Exact duplicates collapse/re-expand behind the same measured-
    duplication gate as the Jaccard family (duplicates share their
    rep's size, so cross-cluster pairs inherit the rep containment
    exactly; intra pairs are 1.0; empty-shingle clusters excluded —
    0/0 containment is NULL in the naive plan). On the k-fold
    replica rehearsal this is the k² candidate cut that kept the
    entry from scaling.
    """
    if _sh is None:
        df, member = _exact_dup_collapse(df, id_col, text_col)
    else:
        member = None
    sh = _sh if _sh is not None else _shingle_frame(df, id_col, text_col, shingle_size)
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("g"))
    a = exploded.alias("a")
    # shuffle_hash: SF-scaling self-join — see lsh_candidate_pairs.
    b = exploded.hint("shuffle_hash").alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    rep_pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    empty_reps = sh.filter(F.size("sh") == 0).select(F.col(id_col).alias("__rep"))
    return _expand_collapsed_pairs(
        rep_pairs, member, id_col, "containment", F.lit(1.0),
        exclude_intra_reps=empty_reps,
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
    _sh: DataFrame | None = None,
    _freq: DataFrame | None = None,
) -> DataFrame:
    """Prefix-filtered exact Jaccard join with positional pruning
    (AllPairs, Bayardo et al. 2007 + the PPJoin positional filter, Xiao
    et al. 2008 — both public, both lossless): under one global total
    order of shingles — rarest first, by (doc-frequency, shingle) — any
    pair with Jaccard ≥ t must share a shingle inside each doc's first
    (n − ⌈t·n⌉ + 1) shingles. Only prefixes enter the self-join, so HOT
    shingles (the Σ df² quadratic blowup of ngram_jaccard_pairs at
    100 TB) sort to the end and almost never into a prefix. The
    positional bound then drops matches that cannot reach the required
    overlap α = ⌈t/(1+t)·(n_a+n_b)⌉ given how deep in each prefix the
    shared shingle sits — on a measured skewed corpus this prunes ~97%
    of candidate rows before the distinct (261k → 8k) while the output
    is bit-identical. Pays an extra frequency pass + per-doc rank, so
    on uniform corpora the plain count-based form is faster.
    """
    from pyspark.sql.window import Window as W

    sh = _sh if _sh is not None else _shingle_frame(df, id_col, text_col, shingle_size)
    exploded = sh.select(F.col(id_col), "n_sh", F.explode("sh").alias("g"))
    freq = (
        _freq
        if _freq is not None
        else exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
    )
    rnk = F.row_number().over(W.partitionBy(id_col).orderBy("df_g", "g"))
    prefix = (
        exploded.join(freq, "g")
        .withColumn("__rnk", rnk)
        .filter(F.col("__rnk") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1)
        .select(id_col, "n_sh", "g", "__rnk")
    )
    a = prefix.alias("a")
    # shuffle_hash: SF-scaling self-join — see lsh_candidate_pairs.
    b = prefix.hint("shuffle_hash").alias("b")
    # Jaccard ≥ t ⇔ overlap ≥ t/(1+t)·(n_a+n_b); a match at prefix
    # ranks (ra, rb) leaves at most min(n_a−ra, n_b−rb)+1 shingles of
    # possible overlap (suffixes after the match, plus the match
    # itself, under the shared total order).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    remaining = (
        F.least(
            F.col("a.n_sh") - F.col("a.__rnk"), F.col("b.n_sh") - F.col("b.__rnk")
        )
        + 1
    )
    cands = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: jaccard ≤ min(n)/max(n), so sizes must be
            # within a factor 1/t of each other
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh"))
            & (remaining >= alpha),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # Exact verification on the (small) candidate set only.
    # shuffle_hash on the array-carrying side: the default plan sorts
    # BOTH sides (SMJ) to join 8-byte ids, paying two sorts of rows
    # whose payload is the full shingle array — hash-joining on the id
    # skips the sorts (r14 isolated A/B at sf0.1: verify stage 2.93 →
    # 2.05 s min-of-3; broadcast measured 2.91 — the driver-side build
    # of the array relation eats the win). Same SF-scaling posture as
    # the candidate self-join hints: both sides are id-partitioned
    # row streams, the per-partition build side is the doc-count-bounded
    # shingle frame slice.
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")).hint(
        "shuffle_hash"
    )
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")).hint(
        "shuffle_hash"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard join with strategy auto-selected on
    MEASURED shingle skew — the default entry point for near-dup at
    scale. One pass computes the shingle doc-frequency table (the same
    table the prefix path needs anyway); a 1-row collect of
    (max df, Σ df) — bounded model statistics, not data — picks the
    plan with a scale-free rule: the count-based join materializes
    ~df(g)² candidate rows per shingle, so if the single hottest
    shingle alone would emit more pairs than the linear pass has rows
    (max_df² ≥ Σ df), the corpus is skew-dominated:

    - max_df² <  Σ df → count-based exhaustive join (cheapest on
      uniform corpora: no rank window, no frequency join);
    - max_df² ≥ Σ df → AllPairs prefix filter, which keeps the
      candidate count bounded because hot boilerplate shingles sort
      out of every prefix.

    Both strategies are lossless, so the output is identical either
    way; only the physical plan changes. The persisted shingle frame
    and the df table are reused by whichever path runs.

    Exact duplicates collapse to representatives first when the
    measured duplicate ratio clears the gate (see _exact_dup_collapse;
    output-identical, re-expanded after) — this both shrinks every
    df(g) back to its deduped value (so the skew rule measures REAL
    shingle skew, not duplication inflation) and cuts candidate volume
    k²-fold on k-fold duplicated corpora; on dup-free corpora the
    collapse is skipped entirely.
    """
    rep_pairs, member, empty_reps = _ngram_rep_pairs(
        df, id_col, text_col, shingle_size, threshold
    )
    return _expand_collapsed_pairs(
        rep_pairs, member, id_col, "jaccard", F.lit(1.0),
        exclude_intra_reps=empty_reps,
    )


def _ngram_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    threshold: float,
):
    """Shared core of the auto-routed n-gram Jaccard join: collapse
    gate → measured-skew strategy pick → representative pair set.
    Returns (rep_pairs, member, empty_reps); member is None when the
    collapse gate skipped, empty_reps is the single-column (__rep)
    frame of clusters with EMPTY shingle sets (their intra pairs must
    never be emitted — see _expand_collapsed_pairs)."""
    df, member = _exact_dup_collapse(df, id_col, text_col)
    sh = _shingle_frame(df, id_col, text_col, shingle_size)
    # Skew stats are measured POST-collapse (so the rule sees real
    # shingle skew, not duplication inflation) and memoized by the
    # routing frame's plan hash: a warm call (bench's min-of-3 loop,
    # the parity harness) routes with ZERO probe jobs, and on the
    # count route the frequency table is then never built at all.
    skey = probe_memo.key("shingle_stats", df, text_col, shingle_size)
    stats = probe_memo.get(skey)
    freq = None
    if stats is None:
        exploded = sh.select(F.col(id_col), "n_sh", F.explode("sh").alias("g"))
        # persisted: the df table feeds BOTH the stats action below and
        # the prefix path's rank join — without it the explode+groupBy
        # runs twice
        freq = _track_persist(
            exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
        )
        row = freq.agg(
            F.max("df_g").alias("max_df"),
            F.sum("df_g").alias("total"),
            F.sum(F.col("df_g") * F.col("df_g")).alias("sum_sq"),
        ).first()
        stats = ((row["max_df"] or 0), (row["total"] or 0), (row["sum_sq"] or 0))
        probe_memo.put(skey, stats)
    max_df, total, sum_sq = stats
    if ngram_join_strategy(max_df, total, sum_sq) == "prefix":
        rep_pairs = ngram_jaccard_pairs_prefix(
            df, id_col, text_col, shingle_size, threshold, _sh=sh, _freq=freq
        )
    else:
        rep_pairs = ngram_jaccard_pairs(
            df, id_col, text_col, shingle_size, threshold, _sh=sh
        )
    empty_reps = sh.filter(F.size("sh") == 0).select(F.col(id_col).alias("__rep"))
    return rep_pairs, member, empty_reps


def ngram_near_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """(id_a, id_b) edge list whose connected components are IDENTICAL
    to ngram_jaccard_pairs_auto's pair set — the input to cluster
    resolution / leakage-safe splitting, where only connectivity
    matters. Collapsed duplicate clusters are expanded as a rep→member
    STAR (k−1 edges) instead of a clique (k(k−1)/2 pairs), and
    cross-cluster matches stay one rep-rep edge instead of k_a·k_b
    member pairs: on a k-fold duplicated corpus the edge list feeding
    the (iterative, per-round-shuffled) component rounds shrinks ~k²×
    with the same components — at the sf1 10×-replica rehearsal the
    clique form made corpus_leakage_safe_split the single worst entry
    (937 s). Star edges for empty-shingle clusters are excluded,
    mirroring the pair set (those duplicates never pair — NULL
    Jaccard), so members stay singletons in both forms."""
    rep_pairs, member, empty_reps = _ngram_rep_pairs(
        df, id_col, text_col, shingle_size, threshold
    )
    edges = rep_pairs.select("id_a", "id_b")
    if member is None:
        return edges
    star = (
        member.join(empty_reps, "__rep", "left_anti")
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return edges.unionByName(star)


def ngram_jaccard_join_two_tables(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Cross-TABLE exact n-gram Jaccard similarity join — the
    decontamination shape: score every LEFT (corpus) document against
    every RIGHT (benchmark/eval) document it shares a shingle with,
    emit pairs with Jaccard >= threshold. Unlike the self-join family
    above, candidates come from an equi-join of two different shingle
    frames, so the cost is Σ_g df_L(g)·df_R(g) — proportional to the
    benchmark's footprint in the corpus, not corpus². The right side
    (benchmarks are small) enters the join as a broadcast when AQE
    sizes permit; thresholds are intentionally low (0.1 default):
    decontamination wants partial-overlap hits, not near-identity.

    Each side independently runs the measured exact-dup collapse gate
    (:func:`_exact_dup_collapse`): on k-fold duplicated corpora (the
    10× replica stress set) shingling runs k× narrower and the
    candidate volume falls k_L·k_R× — pairs are scored once per
    (rep_L, rep_R) and expanded back through the member maps (exact
    collapse, so every expanded pair's jaccard equals its rep pair's).
    Lossless: dup-free sides skip both the collapse and the expansion.
    """
    # Both sides' gate probes run as ONE combined job on a cold call
    # (and zero jobs on a warm plan-hash hit — see _dup_gate_stats).
    gate_l, gate_r = _dup_gate_stats([(left, text_col), (right, text_col)])
    left_r, member_l = _exact_dup_collapse(left, left_id, text_col, _stats=gate_l)
    right_r, member_r = _exact_dup_collapse(right, right_id, text_col, _stats=gate_r)
    sh_l = _track_persist(
        left_r.select(
            F.col(left_id), hashed_word_shingles(text_col, n=shingle_size).alias("sh")
        ).withColumn("n_sh", F.size("sh"))
    )
    sh_r = _track_persist(
        right_r.select(
            F.col(right_id), hashed_word_shingles(text_col, n=shingle_size).alias("sh")
        ).withColumn("n_sh", F.size("sh"))
    )
    ex_l = sh_l.select(F.col(left_id), F.explode("sh").alias("g"))
    ex_r = sh_r.select(F.col(right_id), F.explode("sh").alias("g"))
    inter = (
        ex_l.join(ex_r, "g")
        .groupBy(left_id, right_id)
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sl = sh_l.select(F.col(left_id), F.col("n_sh").alias("n_l"))
    sr = sh_r.select(F.col(right_id), F.col("n_sh").alias("n_r"))
    rep_pairs = (
        inter.join(sl, left_id)
        .join(sr, right_id)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard")
    )
    # Cross-table expansion: the two id spaces are independent, so each
    # rep pair simply fans out over both member maps — no intra-cluster
    # case (that's a self-join concern, _expand_collapsed_pairs).
    out = rep_pairs
    if member_l is not None:
        out = (
            out.withColumnRenamed(left_id, "__rep_l")
            .join(
                member_l.select(F.col(left_id), F.col("__rep").alias("__rep_l")),
                "__rep_l",
            )
            .drop("__rep_l")
        )
    if member_r is not None:
        out = (
            out.withColumnRenamed(right_id, "__rep_r")
            .join(
                member_r.select(F.col(right_id), F.col("__rep").alias("__rep_r")),
                "__rep_r",
            )
            .drop("__rep_r")
        )
    return out.select(left_id, right_id, "jaccard")


def ngram_join_strategy(
    max_df: int, total_shingle_rows: int, sum_df_sq: int | None = None
) -> str:
    """The auto-selection rule, exposed for tests: 'prefix' when either

    - the hottest shingle ALONE would emit at least as many candidate
      pairs as the linear pass has rows (max_df² ≥ Σ df — the
      boilerplate-skew shape: one ToS footer in every doc), or
    - the AGGREGATE candidate volume dwarfs the linear pass
      (Σ df² ≥ 32·Σ df — the duplicated-corpus shape: no single hot
      shingle, but every df inflated k× multiplies candidates k²×;
      measured at the 10×-replica rehearsal: Σ df²/Σ df went 10.7 at
      sf0.1 → 107 at sf1, turning the count plan's candidate join
      into 1.4×10⁸ rows while the prefix plan stays bounded),

    else 'count' (cheapest on uniform corpora: no rank window, no
    frequency join). Σ df² costs nothing extra: it folds into the
    same 1-row stats aggregate the max-df rule already runs.
    """
    if max_df * max_df >= total_shingle_rows:
        return "prefix"
    if sum_df_sq is not None and sum_df_sq >= 32 * total_shingle_rows:
        return "prefix"
    return "count"


# ---------------------------------------------------------------------------
# SimHash (Charikar 2002): 64-bit sketch; near-dups have small Hamming
# distance. Signature is pure array math; the pair search uses the
# pigeonhole block trick (split 64 bits into k+1 blocks — any pair
# within Hamming k agrees on ≥1 whole block) — an equi-join, not n².
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    # Frequency-weighted (every occurrence votes): vote margins scale
    # with doc length, so small edits flip few bits — distinct-token
    # voting has near-zero margins on repetitive corpora and degrades
    # the sketch (measured: hamming 5-8 vs 1-3 on ~99%-similar docs).
    #
    # Shape note: the bit tests ride a literal MASK array + nested
    # transforms (bit b ↔ h & mask[b], sign bit via the MIN_VALUE
    # mask), NOT 64 unrolled when-expressions — the unrolled form made
    # whole-stage codegen compile for ~6s. Packing sums the masks of
    # positive-vote bits: distinct power-of-two masks (one negative)
    # can't overflow, so ANSI mode is satisfied.
    from ..functions.text import _bind

    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(63)],
        F.lit(-(1 << 63)).cast("long"),
    )

    def _pack(bit_counts):
        signed = F.zip_with(
            bit_counts,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x)

    toks = F.split(F.col(text_col), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    packed = _bind(
        hashes,
        lambda hs: _pack(
            F.aggregate(
                hs,
                F.array_repeat(F.lit(0).cast("long"), 64),
                lambda acc, h: F.zip_with(
                    acc,
                    F.transform(
                        masks,
                        lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1))
                        .otherwise(F.lit(-1))
                        .cast("long"),
                    ),
                    lambda x, y: x + y,
                ),
            )
        ),
    )
    return df.withColumn(out_col, packed)


def _md5_token_bits(tok: "F.Column") -> "F.Column":
    """64 pseudo-random bits for one token from two md5 digests (64 hex
    digits; bit b = parity of digit b) — the cross-engine hash scheme:
    DuckDB computes the identical bits with md5 || md5('x:'||tok), so a
    simhash built on these bits is oracle-checkable (same pattern as
    text_winnow_fingerprint_md5). xxhash64 stays the scale scheme.

    Extraction parses the digest in 8-digit chunks via conv() and takes
    digit parities arithmetically — measured 4x faster at sf0.1 (10.1s
    vs 40.6s) than the original per-bit substr+ascii form (64 substring
    allocations per token occurrence), bit-for-bit identical: parity of
    digit i of chunk c is (c div 16^(7-i)) mod 2, and chunks are <= 32
    bits so the double-division floor is exact."""
    h = F.concat(F.md5(tok), F.md5(F.concat(F.lit("x:"), tok)))
    from ..functions.text import _bind

    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.conv(h.substr(i * F.lit(8) + 1, F.lit(8)), 16, 10).cast("long"),
    )
    return _bind(
        chunks,
        lambda cs: F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda b: (
                (
                    F.element_at(cs, (b / F.lit(8)).cast("int") + 1)
                    / F.pow(
                        F.lit(2.0),
                        (F.lit(28) - (b % F.lit(8)) * F.lit(4)).cast("double"),
                    )
                ).cast("long")
                % 2
            ),
        ),
    )


def simhash_md5(df: DataFrame, text_col: str, out_col: str = "sim_bits") -> DataFrame:
    """Frequency-weighted 64-bit SimHash as an ARRAY of bits, votes from
    md5-derived token bits (cross-engine; see _md5_token_bits). Same
    vote semantics as simhash(): every occurrence votes, bit set when
    the vote count is positive."""
    from ..functions.text import _bind

    toks = F.split(F.col(text_col), r"\s+")
    counts = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(acc, _md5_token_bits(t), lambda x, b: x + 2 * b - 1),
    )
    bits = _bind(counts, lambda c: F.transform(c, lambda x: F.when(x > 0, 1).otherwise(0).cast("long")))
    return df.withColumn(out_col, bits)


# Skip the duplicate-collapse pre-pass when fewer than this fraction of
# rows are exact duplicates: the collapse semi-join + the re-expansion
# joins cost more than they save on (near-)dup-free corpora — measured
# as the only r5 bench regression (ngram_jaccard_skewed_corpus
# 2.77→3.80 s from an unconditional collapse on a dup-free corpus).
_COLLAPSE_MIN_DUP_RATIO = 0.02


def _dup_gate_agg(df: DataFrame, text_col: str, suffix: str = ""):
    """The 1-row duplication-gate aggregate: (count, countDistinct) of
    the corpus' xxhash64 text fingerprints. xxhash64 is cheaper than
    the md5 the collapse itself fingerprints with; exact countDistinct
    beats approx_count_distinct here — at rsd tight enough to trust a
    2% gate the HLL registers cost MORE than the exact shuffle of
    8-byte hashes."""
    return df.select(F.xxhash64(F.col(text_col)).alias("__gfp")).agg(
        F.count(F.lit(1)).alias(f"n{suffix}"),
        F.countDistinct("__gfp").alias(f"n_fp{suffix}"),
    )


def _dup_gate_stats(
    frames: list[tuple[DataFrame, str]],
) -> list[tuple[int, int]]:
    """(n rows, n distinct text fingerprints) for each (df, text_col),
    memoized by semantic plan hash. All cache misses run as ONE
    combined Spark job (1-row aggregates crossJoined), so the
    two-sided decontamination join pays one probe, not two, and bench
    repeats pay none."""
    keys = [probe_memo.key("dup_gate", df, text_col) for df, text_col in frames]
    out: list = [probe_memo.get(k) for k in keys]
    misses = [i for i, hit in enumerate(out) if hit is None]
    if misses:
        probe = None
        for i in misses:
            agg = _dup_gate_agg(frames[i][0], frames[i][1], suffix=f"_{i}")
            probe = agg if probe is None else probe.crossJoin(agg)
        row = probe.first()
        for i in misses:
            stats = ((row[f"n_{i}"] or 0), (row[f"n_fp_{i}"] or 0))
            out[i] = stats
            probe_memo.put(keys[i], stats)
    return out


def _exact_dup_collapse(
    df: DataFrame,
    id_col: str,
    text_col: str,
    _stats: tuple[int, int] | None = None,
):
    """Collapse exact-text duplicates to their min-id representative
    before a pair join. Returns (rep_df, member): rep_df is the input
    restricted to representatives; member maps every id to its
    (__rep, __fp) cluster. On k-fold duplicated corpora this cuts pair
    candidates k² → 1 per cluster pair AND signature computation k → 1
    (measured at the sf1 replica rehearsal: simhash 346s → the pair
    join and the 64-bit signature pass both ran 10x wider than needed).

    GATED on measured duplication: one 1-row aggregate over the
    (persisted) fingerprint frame compares count vs countDistinct; when
    the corpus is (almost) duplicate-free the collapse and re-expansion
    are skipped entirely — ``member`` comes back None and
    :func:`_expand_collapsed_pairs` is a no-op. Output is identical
    either way (the collapse is lossless and, with the empty-shingle
    guard in _expand_collapsed_pairs, row-identical to the naive plan),
    so the gate only changes the physical plan. The fingerprint stats
    are model-sized (2 longs), never data.

    ``_stats``: precomputed (n, n_fp) gate statistics — callers that
    fold the gate probe into a larger combined job (the auto router,
    the two-table join) pass them in; otherwise the memoized probe
    runs (~0.3 s cold at sf0.1, zero jobs on a plan-hash hit, vs ~1 s
    of collapse + expansion joins it saves on dup-free corpora).
    """
    if _stats is None:
        (_stats,) = _dup_gate_stats([(df, text_col)])
    n, n_fp = _stats
    if n_fp >= n * (1.0 - _COLLAPSE_MIN_DUP_RATIO):
        return df, None
    base = _track_persist(
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("__fp"))
    )
    reps = base.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    # member fans out into 4 joins in _expand_collapsed_pairs — persist
    # so the fingerprint scan + groupBy + join run once, not per branch.
    member = _track_persist(
        base.join(reps, "__fp").select(F.col(id_col), F.col("__rep"), F.col("__fp"))
    )
    # No broadcast hint: reps is corpus-sized on a dup-free corpus.
    rep_df = df.join(reps.select(F.col("__rep").alias(id_col)), id_col, "left_semi")
    return rep_df, member


def _expand_collapsed_pairs(
    rep_pairs: DataFrame,
    member: DataFrame | None,
    id_col: str,
    metric_col: str,
    exact_value: "F.Column",
    exclude_intra_reps: DataFrame | None = None,
) -> DataFrame:
    """Reconstruct the full pair set from representative pairs: every
    cross-cluster member pair inherits the rep pair's metric (identical
    texts → identical signatures), intra-cluster pairs are emitted
    directly at the exact-duplicate metric value. Row-identical to the
    naive all-members pair join. ``member=None`` (the gated no-dup
    case) passes rep_pairs through untouched.

    ``exclude_intra_reps``: single-column (__rep) frame of clusters
    whose intra pairs must NOT be emitted. The Jaccard callers pass the
    empty-shingle representatives here: the naive plan computes 0/0 →
    NULL Jaccard for a duplicated pair of sub-shingle-length texts and
    filters it out, so the expansion must not resurrect those pairs at
    1.0 (the Hamming callers keep the unconditional emission — identical
    texts have Hamming 0 regardless of length)."""
    if member is None:
        return rep_pairs
    ma = member.select(F.col("__rep").alias("id_a"), F.col(id_col).alias("__ma"))
    mb = member.select(F.col("__rep").alias("id_b"), F.col(id_col).alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            F.col(metric_col),
        )
    )
    intra_member = member
    if exclude_intra_reps is not None:
        intra_member = member.join(exclude_intra_reps, "__rep", "left_anti")
    m1 = intra_member.alias("m1")
    # shuffle_hash: SF-scaling self-join — see lsh_candidate_pairs.
    m2 = intra_member.hint("shuffle_hash").alias("m2")
    intra = m1.join(
        m2,
        (F.col("m1.__fp") == F.col("m2.__fp"))
        & (F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}")),
    ).select(
        F.col(f"m1.{id_col}").alias("id_a"),
        F.col(f"m2.{id_col}").alias("id_b"),
        exact_value.alias(metric_col),
    )
    return cross.unionByName(intra)


def _packed_block_pairs(
    sigs: DataFrame, id_col: str, sig_col: str, max_hamming: int
) -> DataFrame:
    """Shared pigeonhole-block Hamming verify over PACKED 64-bit
    signatures: explode (max_hamming+1) bit-blocks (lossless — any
    pair within Hamming k agrees on ≥1 whole block), equi-join on
    (block index, block value), popcount-XOR exact verify. The
    signature travels the candidate shuffle as ONE long (8 bytes) and
    the verify is a single whole-stage-codegen ``bit_count(xor)`` —
    the trajectory bitmask lesson (operators/trajectory.py) applied to
    the Hamming family; the md5 twin previously shipped a 64-element
    bit array per side and re-aggregated it per candidate.

    ``sigs`` is persisted here: (a) the self-join consumes it twice, and
    (b) without the lineage break InferFiltersFromConstraints derives
    ``isnotnull(<signature>)`` from the inner-join keys and pushes the
    ENTIRE signature expression down into the parquet scan's data
    filter — measured 92 s (vs 2 s persisted) at the sf1 replica, where
    the md5 vote pipeline re-ran per scanned row per side. The frame is
    (id, 1 long) per doc — model-sized relative to executor memory."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sigs = _track_persist(sigs)
    blocks = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk_idx", "blk_val"),
    )
    a = blocks.alias("a")
    # shuffle_hash: SF-scaling self-join — see lsh_candidate_pairs.
    b = blocks.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{sig_col}").alias("sh_a"),
            F.col(f"b.{sig_col}").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_md5_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """simhash_near_dup_pairs twin on the md5 bit scheme: the 64-bit
    vote array is packed into ONE long right after signature
    computation, then rides the shared popcount block join
    (_packed_block_pairs). Output (id_a, id_b, hamming) is value-hash
    checkable against a DuckDB oracle recomputing the same bits —
    packing is lossless (bit i of the array ↔ bit i of the long), so
    Hamming over the packed XOR equals the old per-element array sum.
    Exact duplicates are collapsed before the block join and
    re-expanded after (see _exact_dup_collapse) — output unchanged,
    candidate work k²-fold smaller on k-fold duplicated corpora."""
    df, member = _exact_dup_collapse(df, id_col, text_col)
    s = simhash_md5(df.select(id_col, text_col), text_col)
    # bit i of sim_bits → mask 1<<i; the 64 distinct power-of-two masks
    # (one negative) sum without overflow, satisfying ANSI mode — the
    # same packing scheme as simhash()._pack.
    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(63)],
        F.lit(-(1 << 63)).cast("long"),
    )
    packed = F.aggregate(
        F.zip_with(
            F.col("sim_bits"),
            masks,
            lambda bit, m: F.when(bit == 1, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sigs = s.select(F.col(id_col), packed.alias("__sig"))
    rep_pairs = _packed_block_pairs(sigs, id_col, "__sig", max_hamming)
    return _expand_collapsed_pairs(
        rep_pairs, member, id_col, "hamming", F.lit(0).cast("long")
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with simhash Hamming distance ≤ max_hamming via the
    pigeonhole block join over (max_hamming+1) bit-blocks
    (_packed_block_pairs). Exact duplicates are collapsed/re-expanded
    as in the md5 twin."""
    df, member = _exact_dup_collapse(df, id_col, text_col)
    s = simhash(df.select(id_col, text_col), text_col)
    rep_pairs = _packed_block_pairs(s, id_col, "simhash", max_hamming)
    return _expand_collapsed_pairs(
        rep_pairs, member, id_col, "hamming", F.lit(0).cast("long")
    )


def repeated_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span signal (public scheme — the
    exact-substring dedup of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — at k-token window granularity):
    every positional k-token window is hashed; windows whose gram occurs
    in ≥ ``min_docs`` distinct documents are "repeated", and each doc
    reports how much of it is covered by repeated spans. High coverage →
    boilerplate/templated/duplicated passages worth trimming.

    Scale design: grams travel as xxhash64 longs (8 bytes, never gram
    strings — output carries only counts, so a 2⁻⁶⁴ collision is the
    only accuracy cost); the repeated set comes from one groupBy on the
    hash with a distinct-doc count (map-side combinable), re-joined as a
    semi-join; per-doc coverage is one more agg on the id key. The
    token array and its per-token hashes are let-bound (_bind) so
    tokenize+hash run once per ROW, not once per window — the earlier
    slice+concat_ws form re-inlined the split into every window and
    built k-token strings before hashing (same lesson as
    hashed_word_shingles); the window hash combines k consecutive
    token hashes instead, and the exploded window frame is persisted
    because three aggregates consume it.
    """
    from ..functions.text import _bind

    grams = _bind(
        F.split(F.col(text_col), r"\s+"),
        lambda t: _bind(
            F.transform(t, lambda x: F.xxhash64(x)),
            lambda th: F.when(
                F.size(th) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size(th) - k + 1),
                    lambda i: F.xxhash64(
                        *[F.element_at(th, i + j) for j in range(k)]
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        ),
    )
    w = _track_persist(df.select(F.col(id_col), F.explode(grams).alias("g")))
    rep = (
        w.groupBy("g")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    flagged = w.join(rep, "g", "left_semi").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_repeated")
    )
    totals = w.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_windows"))
    return (
        totals.join(flagged, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
            (
                F.coalesce("n_repeated", F.lit(0)).cast("double")
                / F.col("n_windows")
            )
            .cast("float")
            .alias("repeated_frac"),
        )
    )


def _span_removal_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_docs: int,
    cnt_col: str | None = None,
) -> DataFrame:
    """The shared span-removal plan (see :func:`remove_repeated_spans`
    for semantics and scale notes). When ``cnt_col`` is given, the input
    rows are exact-duplicate-cluster REPRESENTATIVES carrying their
    cluster cardinality: a gram's distinct-document count is then the
    SUM of cardinalities over distinct (gram, rep) — identical to
    ``countDistinct(id)`` over the uncollapsed corpus, because every
    copy of a text contains exactly the same grams."""
    from ..functions.text import _bind

    toks = F.split(F.col(text_col), r"\s+")
    grams = _bind(
        toks,
        lambda t: _bind(
            F.transform(t, lambda x: F.xxhash64(x)),
            lambda th: F.when(
                F.size(th) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size(th) - k + 1),
                    lambda i: F.xxhash64(
                        *[F.element_at(th, i + j) for j in range(k)]
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        ),
    )
    extra = [F.col(cnt_col)] if cnt_col else []
    ex = _track_persist(
        df.select(F.col(id_col), *extra, F.posexplode(grams).alias("p0", "g")).select(
            id_col, *([cnt_col] if cnt_col else []), (F.col("p0") + 1).alias("tpos"), "g"
        )
    )
    if cnt_col is None:
        rep = (
            ex.groupBy("g")
            .agg(F.countDistinct(id_col).alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("g")
        )
    else:
        rep = (
            ex.groupBy("g", id_col)
            .agg(F.first(cnt_col).alias("__c"))
            .groupBy("g")
            .agg(F.sum("__c").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("g")
        )
    starts = (
        ex.join(rep, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("tpos").alias("starts"))
    )
    covered = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("starts"),
                    lambda s: F.sequence(s, s + F.lit(k - 1)),
                )
            )
        )
    )
    kept = _bind(
        toks,
        lambda t: _bind(
            F.coalesce(covered, F.array().cast("array<bigint>")),
            lambda cov: F.struct(
                F.size(t).cast("bigint").alias("n_tok"),
                F.size(cov).cast("bigint").alias("n_removed"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_except(
                                F.sequence(F.lit(1), F.size(t)).cast(
                                    "array<bigint>"
                                ),
                                cov,
                            ),
                            lambda i: F.element_at(t, i.cast("int")),
                        ),
                        " ",
                    )
                ).alias("clean_md5"),
            ),
        ),
    )
    return df.join(starts, id_col, "left").select(
        F.col(id_col), kept.alias("r")
    ).select(id_col, "r.n_tok", "r.n_removed", "r.clean_md5")


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    _stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the rewrite half of the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), at k-token window granularity:
    a token is removed when ANY k-token window containing it occurs in
    ≥ ``min_docs`` distinct documents. This is the conservative
    remove-all-copies variant (the paper discusses both; keeping one
    copy needs an arbitrary keeper choice, removing all is the
    anti-memorization default). ``repeated_span_coverage`` is the
    matching detection/signal operator.

    Returns (id_col, n_tok, n_removed, clean_md5): token counts plus an
    md5 of the cleaned text (tokens re-joined with single spaces), so
    the output stays count-sized however large the corpus is.

    Scale design: NO token string ever enters a shuffle and no window
    function runs over the token stream. One explode emits (id, pos,
    xxhash64-of-k-window) longs for the n−k+1 window starts; the
    repeated set is one map-side-combinable groupBy on the 8-byte hash;
    a left-semi join keeps only the REPEATED window starts (sparse on
    clean corpora); their k-token coverage intervals expand ROW-LOCALLY
    (`flatten(transform(starts, s → sequence(s, s+k−1)))` — window
    starts satisfy s+k−1 ≤ n by construction, so no clamp) after a
    groupBy(id) gathers each doc's starts; the cleaned text is rebuilt
    against the original row with `array_except` (hash-set build, O(n +
    #covered) per doc — no quadratic blowup on boilerplate-heavy docs)
    in one doc-count-sized join. Shuffled bytes are O(#windows·16) +
    O(#repeated-starts·16), independent of token text size.

    GATED exact-duplicate doc collapse (the family's standard gate —
    ``_exact_dup_collapse`` pattern, measured + memoized probe): on
    duplicated corpora (crawl data; the 10× sf1 replica is the
    by-construction worst case) every copy of a text re-pays the window
    explode, the gram groupBy and the md5 rebuild. When the probe
    measures ≥2% exact-text duplication, distinct texts collapse to
    their min-id representative FIRST; gram doc-counts weight each rep
    by its cluster cardinality (lossless — see
    :func:`_span_removal_plan`), and per-doc outputs re-expand by one
    count-sized join (identical texts → identical (n_tok, n_removed,
    clean_md5)). Output is row-identical either way; the gate only
    changes the physical plan. ``_stats``: precomputed (n, n_fp) probe
    stats, for callers that fold the probe into a combined job and for
    the route-equality tests."""
    if _stats is None:
        (_stats,) = _dup_gate_stats([(df, text_col)])
    n, n_fp = _stats
    if n_fp >= n * (1.0 - _COLLAPSE_MIN_DUP_RATIO):
        return _span_removal_plan(df, id_col, text_col, k, min_docs)
    base = _track_persist(
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("__fp"))
    )
    reps = base.groupBy("__fp").agg(
        F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__cnt")
    )
    member = base.join(reps, "__fp").select(F.col(id_col), F.col("__rep"))
    rep_df = df.join(
        reps.select(F.col("__rep").alias(id_col), F.col("__cnt")), id_col
    )
    rep_out = _span_removal_plan(
        rep_df, id_col, text_col, k, min_docs, cnt_col="__cnt"
    )
    return member.join(
        rep_out.withColumnRenamed(id_col, "__rep"), "__rep"
    ).select(F.col(id_col), "n_tok", "n_removed", "clean_md5")


def chunk_exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 40,
) -> DataFrame:
    """CCNet-style duplicated-passage removal, on token chunks.

    CCNet (and most web-corpus pipelines) dedups at *paragraph* level:
    every paragraph is fingerprinted corpus-wide and only its first
    occurrence is kept, so boilerplate shared across pages disappears
    while unique prose survives. This corpus has no line structure, so
    the passage unit is the non-overlapping ``chunk_size``-token chunk
    (same slicing formula as the text_chunking plan, stride = size:
    every token in exactly one chunk).

    Keeps, per distinct chunk fingerprint, the occurrence with the
    smallest ``(id, chunk_idx)`` and rebuilds each document from its
    surviving chunks in order. Output: one row per input document with
    ``doc_id, n_chunks, n_kept, new_text`` (empty string when every
    chunk was a duplicate).

    Plan shape / 100 TB posture: explode to chunks (narrow), then the
    keeper per fingerprint is a groupBy().min() — map-side combinable,
    so a boilerplate chunk repeated 10^9 times costs one partial per
    task, never a single-reducer sort (a row_number window here would
    skew-stall on exactly the hot chunks this operator exists to kill).
    Join back on fingerprint+key (equi, AQE-skew-splittable), then one
    groupBy(id) to reassemble. Three shuffles total, zero Python.
    """
    t = F.split(F.col(text_col), r"\s+")
    n_chunks = F.greatest(
        F.ceil((F.size(t) - F.lit(chunk_size)).cast("double") / chunk_size).cast(
            "long"
        )
        + 1,
        F.lit(1).cast("long"),
    )
    chunks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(t, i * chunk_size + 1, chunk_size),
            )
        ).alias("__idx", "__c"),
    ).select(
        "__id",
        "__idx",
        "__c",
        F.md5(F.array_join("__c", " ")).alias("__fp"),
        # one bigint key per occurrence; 10^6 > chunks-per-doc always
        (F.col("__id") * 1_000_000 + F.col("__idx")).alias("__key"),
    )
    keeper = chunks.groupBy("__fp").agg(F.min("__key").alias("__keep_key"))
    marked = chunks.join(keeper, "__fp").withColumn(
        "__kept", F.col("__key") == F.col("__keep_key")
    )
    return (
        marked.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("__kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__kept"),
                                    F.struct(
                                        F.col("__idx").alias("i"),
                                        F.col("__c").alias("c"),
                                    ),
                                )
                            )
                        ),
                        lambda s: s["c"],
                    )
                ),
                " ",
            ).alias("new_text"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_chunks",
            "n_kept",
            "new_text",
        )
    )
