"""Incremental (streaming) near-duplicate filtering — the online form
of corpus dedup: every arriving batch of documents is checked against
everything seen so far, duplicates are dropped, and the index grows by
the batch. This is what a crawl-ingest pipeline runs continuously; the
batch operators in operators/dedup.py are its offline twin.

Contract (deterministic given the arrival order, partition-
independent within a batch): a document is DROPPED iff it has a
verified near-duplicate (exact Jaccard >= threshold among MinHash-LSH
candidates) with (i) ANY already-stored document — arrival precedence
— or (ii) a SMALLER-id document in its own batch. When batches arrive
in id order this equals the pure offline rule "keep iff no smaller-id
neighbor" (pinned in tests/test_incremental_dedup.py); out-of-order
arrival degrades gracefully to first-arrival-wins precedence. The
per-edge predicate is chosen over sequential greedy ("keep iff no
previously-KEPT neighbor") on purpose: greedy has a sequential
dependency chain that needs diameter-many rounds, while this rule is
one join. On transitive in-batch chains A~B~C (A!~C) greedy keeps C
where this rule drops it: a documented over-drop, the standard trade
for distributed determinism.

State is ONE parquet table, ``store_dir/index``, partitioned by
``(__batch, __bucket)`` — unified in r14 from the earlier bands/
shingles pair so each micro-batch pays exactly ONE write action (the
4-batch sf1 replay was driver-overhead bound). Per-batch cost stays
O(batch + candidates), never O(store):

- one row per (doc, band): (doc_id, band_idx, band_hash) — the LSH
  probe side. The probe self-join reads ONLY these narrow columns
  (column pruning skips the shingle payload), so the band join
  shuffles ids only; at scale (band_idx, band_hash) are the natural
  bucket keys for a co-located probe.
- the band-0 row additionally carries the doc's shingle payload:
  ``sh`` (the set), ``__fp`` (xxhash64 of the sorted set) and ``__n``
  (set size), computed ONCE at append so the per-batch verify decides
  exact-duplicate pairs and Jaccard denominators on narrow columns
  without re-sorting or re-sizing stored arrays. Candidate fetch is a
  broadcast semi-join against ``__bucket``-pruned partitions
  (``__bucket = pmod(xxhash64(doc_id), N_BUCKETS)``) — the scan
  touches the candidate buckets, not the corpus; the current batch's
  own rows partition-prune via ``__batch``.

The store format is internal — a directory in the pre-r14 two-table
layout is rejected with an explicit rebuild instruction. Each batch
appends one file per bucket; a long-lived ingest compacts them
periodically with ``sources.layout.compact_parquet_dir`` (orthogonal
to correctness — append order never matters here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hashed_word_shingles
from ..operators.dedup import _minhash_from_shingles

# Index partition fanout — the knob that bounds per-batch pruning
# granularity (candidate ids hit ~min(|candidates|, N_BUCKETS)
# partitions). 16 over 64: every batch's index append pays one
# partition-directory commit per bucket DRIVER-SIDE (the replay is
# driver-overhead bound), and on crawl corpora the candidate set hits
# most buckets anyway, so finer pruning bought nothing the semi-join +
# min/max skipping don't already give. At cluster scale raise it with
# the store size; correctness is bucket-count independent (the bucket
# id is recomputed from the key).
N_BUCKETS = 16


def _bucket(col: F.Column) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def set_fingerprint(col: str) -> F.Column:
    """xxhash64 over the sorted shingle set — the exact-duplicate
    short-circuit key. Computed once per doc at store-append time and
    persisted (``__fp``), so later batches never re-sort stored
    arrays."""
    return F.xxhash64(F.array_sort(F.col(col)))


def _index_batch(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_size: int,
) -> DataFrame:
    """(id, sh, band_idx, band_hash) rows for a batch — one row per
    (doc, band). The batch-sized working set both store tables derive
    from (``sh`` repeats per band here, but only within the batch —
    the persisted bands table strips it)."""
    r = n_hashes // bands
    sh = batch.select(
        F.col(id_col), hashed_word_shingles(text_col, n=shingle_size).alias("sh")
    )
    sigs = sh.withColumn("mh_sig", _minhash_from_shingles(F.col("sh"), n_hashes))
    return sigs.select(
        F.col(id_col),
        F.col("sh"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("mh_sig")[b * r + j] for j in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def _next_batch_id(index_dir: str) -> int:
    """Next ``__batch`` partition ordinal — a driver-side directory
    listing, zero jobs. A crashed append leaves its ``__batch=N`` dir
    behind, so the replay writes N+1; the duplicated doc rows that
    creates are neutralized in the probe (id inequality on the stored
    branch) and the pair distinct."""
    if not os.path.isdir(index_dir):
        return 0
    ids = [
        int(e.split("=", 1)[1])
        for e in os.listdir(index_dir)
        if e.startswith("__batch=")
    ]
    return max(ids) + 1 if ids else 0


def _dropped_ids(
    spark: SparkSession,
    store: DataFrame,
    batch_id: int,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Ids of current-batch docs with a verified near-duplicate, read
    entirely off the just-appended unified index (the batch's own rows
    ARE the ``__batch == batch_id`` partition — r14: the index is
    written once and re-read, never checkpointed). Lazy; every shuffle
    is candidate- or batch-sized:

    - the band probe self-joins the index carrying IDS ONLY (the
      shingle payload is column-pruned off both probe scans); the new
      side partition-prunes to the current ``__batch``;
    - the shingle fetch is a broadcast LeftSemi of candidate ids
      against ``__bucket``-pruned partitions — never a store-wide
      aggregate.
    """
    is_cur = F.col("__batch") == F.lit(batch_id)
    # <= rather than "everything in the dir": freezes the probe against
    # batches appended AFTER this one, so a returned `kept` frame stays
    # correct however late the caller consumes it.
    le_cur = F.col("__batch") <= F.lit(batch_id)

    new_bands = store.filter(is_cur).select(id_col, "band_idx", "band_hash")
    probe_side = store.filter(le_cur).select(
        id_col,
        "band_idx",
        "band_hash",
        (F.col("__batch") < F.lit(batch_id)).alias("__stored"),
    )

    a = new_bands.alias("a")  # the NEW doc
    b = probe_side.alias("b")
    # Candidate pairs dedupe on IDS ONLY — shingle arrays through the
    # distinct would shuffle duplicated sets per matching band (the
    # same scale bug class as vector-wide LSH distincts); shingles are
    # re-fetched by id afterward. Checkpointed because both the verify
    # join and the candidate-id fetch consume it. The stored branch
    # requires id INEQUALITY, not just __stored: after a crash-replay
    # the same document's rows can exist under two batch ordinals, and
    # a doc must never pair with itself.
    pair_ids = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (
                (
                    F.col("b.__stored")
                    & (F.col(f"b.{id_col}") != F.col(f"a.{id_col}"))
                )
                | (
                    ~F.col("b.__stored")
                    & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
                )
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("old_id"),
        )
        # repartition BEFORE distinct: hash partitioning on new_id
        # satisfies the distinct's ClusteredDistribution(new_id, old_id)
        # (subset rule), so the aggregate runs exchange-free on the
        # repartitioned data — ONE shuffle where distinct-then-
        # repartition paid two, and the output is already spread by
        # new_id for the verify join (this loop is driver-overhead
        # bound at local scale: ~90 jobs per 4-batch replay, so every
        # elided exchange is an AQE materialization saved).
        .repartition(spark.sparkContext.defaultParallelism, "new_id")
        .distinct()
        # The explicit repartition above also pins the spread the
        # checkpoint freezes: without it AQE coalesced the distinct's
        # output to ONE partition when the pair ids compressed small,
        # and the verify join's intersect CPU ran single-threaded
        # (measured 2.8 s → 0.6 s per sf1 batch). Eager on purpose:
        # lazy localCheckpoints measured SLOWER here (both this frame
        # and idx_new are referenced twice inside their first
        # consumer's plan, which defeats single-pass materialization).
        .localCheckpoint(eager=True)
    )

    # One shingle row per doc via band_idx == 0 — a narrow filter, not
    # a dropDuplicates shuffle; __fp/__n are the PRECOMPUTED columns
    # written once at append (r13 — previously every batch re-ran
    # xxhash64(array_sort(sh)) over every fetched stored candidate).
    sh_new = store.filter(is_cur & (F.col("band_idx") == 0)).select(
        F.col(id_col).alias("new_id"),
        F.col("sh").alias("sh_new"),
        F.col("__fp").alias("__fp_n"),
        F.col("__n").alias("__n_n"),
    )
    cand_old = (
        pair_ids.select("old_id")
        .distinct()
        .withColumn("__cb", _bucket(F.col("old_id")))
    )
    # Candidate buckets as STATIC partition filters: at most N_BUCKETS
    # ints (a model-sized collect off the checkpointed candidate set,
    # same class as skew counters) — deterministic partition pruning on
    # the fetch scan, no reliance on DPP heuristics over stat-less
    # checkpoints. In-batch and stored candidates fetch through the
    # SAME pruned scan (the unified index holds both).
    buckets = [r["__cb"] for r in cand_old.select("__cb").distinct().collect()]
    if not buckets:
        # no candidate pairs at all -> nothing dropped (empty frame of
        # the right shape, derived from the empty checkpointed pairs)
        return pair_ids.select(F.col("new_id").alias(id_col)).distinct()
    fetch = store.filter(
        le_cur & (F.col("band_idx") == 0) & F.col("__bucket").isin(buckets)
    )
    sh_old = (
        fetch.join(
            F.broadcast(cand_old),
            (fetch["__bucket"] == cand_old["__cb"])
            & (fetch[id_col] == cand_old["old_id"]),
            "left_semi",
        )
        .select(
            F.col(id_col).alias("old_id"),
            F.col("sh").alias("sh_old"),
            F.col("__fp").alias("__fp_o"),
            F.col("__n").alias("__n_o"),
        )
    )

    # Set-fingerprint short-circuit for the verify: on crawl-style
    # corpora most LSH candidates are EXACT duplicates (the sf1 replica
    # set: ~90% of ~114k pairs/batch), and the O(|a|·|b|) per-pair
    # array_intersect is pure waste on them. Equal-fingerprint pairs
    # verify as Jaccard 1.0 inside a CASE WHEN whose intersect branch
    # never evaluates for them (CaseWhen evaluates branches lazily per
    # row; a SPLIT plan — fp-only pairs decided before any array join —
    # was A/B-measured SLOWER at sf1: the arrays never ballooned
    # through a shuffle, so the split only added join passes).
    # size > 0 guards the empty-set pairs that reach the verify through
    # shared NULL-filled bands — those must stay NULL-rejected (0/0),
    # not fp-matched. Accuracy: a false drop needs an xxhash64
    # collision on the sorted set (2⁻⁶⁴) — the same accepted class as
    # hashed_word_shingles.
    cands = (
        pair_ids.join(sh_new, "new_id")
        .join(sh_old, "old_id")
        .withColumn("__fp_eq", F.col("__fp_n") == F.col("__fp_o"))
    )
    # Sizes come from the precomputed __n columns (stored side: read
    # off the store; in-batch side: computed once at index time) — the
    # verify never re-measures fetched arrays (r14, ADVICE: __n was
    # written but unread).
    inter = F.size(F.array_intersect("sh_new", "sh_old")).cast("double")
    union = (F.col("__n_n") + F.col("__n_o")).cast("double") - inter
    # when(union > 0): two sub-shingle-length docs share their
    # NULL-filled minhash bands, so empty-set pairs DO reach this
    # verify — 0/0 must be NULL (pair rejected), not an ANSI
    # divide-by-zero that kills the foreachBatch (same guard as
    # operators/dedup.jaccard_verify).
    jaccard = F.when(
        F.col("__fp_eq") & (F.col("__n_n") > 0), F.lit(1.0)
    ).otherwise(F.when(union > 0, inter / union))
    return (
        cands.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )


def incremental_near_dup_filter(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Filter ``batch`` against the accumulated store, RETURN the kept
    rows, and append the batch's index rows to the store (all batch
    docs — dropped ones too, so later arrivals dedup against them).

    r14 job-count rework (the replay was driver-overhead bound, ~90
    jobs for ~6 s of execution): the batch's index is written ONCE to
    the unified table and every downstream consumer re-reads it with
    partition pruning — the write IS the materialization barrier, so
    the former idx localCheckpoint, the dropped localCheckpoint, and
    the second store write are all gone (3 fewer actions per batch).
    Write-before-probe also removes the read-after-append hazard the
    dropped checkpoint existed for: the probe explicitly filters
    ``__batch <= current``, so later appends can never leak into a
    returned ``kept`` frame.
    """
    from ..sources.tables import fan_out

    index_dir = os.path.join(store_dir, "index")
    legacy = [
        d
        for d in ("bands", "shingles")
        if os.path.isdir(os.path.join(store_dir, d))
    ]
    if legacy:
        raise ValueError(
            f"store at {store_dir} predates the r14 single-table index "
            f"format (found legacy {legacy} subdirectories) — the index "
            "is derivable from the corpus: delete store_dir and replay "
            "the stream to rebuild"
        )
    batch_id = _next_batch_id(index_dir)

    # fan_out BEFORE the index projection: a micro-batch often arrives
    # as one split (a single file, one kafka partition) while the
    # shingle+minhash projection is pure CPU — measured 4.9 s → 1.5 s
    # per 50k-doc batch at sf1 on local[32]. The repartition below
    # re-narrows to one file per bucket, so the fan-out never
    # multiplies store file counts.
    idx = _index_batch(
        fan_out(batch), id_col, text_col, n_hashes, bands, shingle_size
    )
    row0 = F.col("band_idx") == 0
    (
        idx.select(
            F.col(id_col),
            "band_idx",
            "band_hash",
            # shingle payload rides ONLY the band-0 row (null elsewhere,
            # RLE-compressed away); probe scans never read it
            F.when(row0, F.col("sh")).alias("sh"),
            F.when(row0, set_fingerprint("sh")).alias("__fp"),
            F.when(row0, F.size("sh")).alias("__n"),
            F.lit(batch_id).alias("__batch"),
            _bucket(F.col(id_col)).alias("__bucket"),
        )
        .repartition("__bucket")
        .write.mode("append")
        .partitionBy("__batch", "__bucket")
        .parquet(index_dir)
    )
    store = spark.read.parquet(index_dir)
    dropped = _dropped_ids(spark, store, batch_id, id_col, threshold)
    return batch.join(dropped, id_col, "left_anti")
