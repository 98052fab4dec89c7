"""Similarity search over embedding columns (north-star "similarity
search": brute-force cosine top-k baseline + LSH-bucketed ANN scale
path; embedding-cosine near-dup).

Scale design (100 TB):
- brute-force top-k against a FIXED query set: broadcast the queries,
  one pass over the corpus, per-partition top-k via
  TakeOrderedAndProject / window — O(corpus × queries) but zero
  shuffle of the corpus;
- ANN: random-hyperplane LSH buckets (signature computed row-local from
  seeded hashes — no model state), equi-join on bucket → exact rerank
  inside buckets. Corpus shuffles once on bucket id;
- embedding near-dup: same bucket join with a distance threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.vector import cosine, hyperplane_sign_bits
from . import probe_memo


# Below this many (corpus × query) score pairs the broadcast-crossjoin
# column-math plan wins (no collect_list regroup, no Arrow hop); above
# it the interpreted per-pair fold is the bottleneck and the blocked
# numpy-GEMM kernel wins. r7 recalibration — measured head-to-head at
# sf0.1 (64-dim, local[32], steady-state):
#   pairs    20k   100k   500k    2M     4M
#   crossjoin 0.5s  2.2s   7.8s  37.0s  78.0s   (~20 µs/pair fold)
#   blocked   0.9s  0.85s  0.76s  0.94s  1.4s   (fixed shuffle+Arrow)
# The old 2M threshold (back-derived from the sf1 16M-pair blow-up)
# left a 100k-2M blind spot where auto picked a 10-40× slower plan;
# the crossover sits between 20k and 100k.
BLOCKED_TOPK_MIN_PAIRS = 65_536


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id_col: str | None = None,
    strategy: str = "auto",
    block_rows: int = 1024,
    queries_count_hint: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, id, cosine_f32, rank) with deterministic
    tie-break on corpus id. cosine is cast to float32 — ranking on the
    f32 value keeps ordering reproducible across engines/platforms.

    ``strategy``: ``"crossjoin"`` broadcasts the queries and scores
    with column math (best for small pair counts); ``"blocked"`` runs
    the blocked-GEMM kernel (see :func:`_cosine_topk_blocked`);
    ``"auto"`` (default) routes at BLOCKED_TOPK_MIN_PAIRS pairs from
    parquet-footer statistics where they decide, else one memoized
    count job — both plans are exact and (under the f32 policy)
    hash-identical, so the choice is physical only. The blocked path
    needs integral ids; non-integral ids always take the crossjoin
    path.

    ``queries_count_hint``: caller-asserted |queries| cardinality (the
    same contract as ``F.broadcast`` — an optimizer hint, not checked).
    A filtered query side is opaque to footer statistics, so without
    the hint an ambiguous shape costs one probe job; a caller that
    knows its query-set size (a point lookup, a fixed probe list)
    passes it and routing is jobless. A wrong hint can only mis-pick
    between two exact plans, never change results.
    """
    qid = query_id_col or ("q_" + id_col)
    q_src = query_id_col if query_id_col is not None else id_col
    if strategy == "auto":
        integral = _is_integral_id(corpus, id_col) and _is_integral_id(queries, q_src)
        if integral:
            strategy = _route_topk(
                corpus, queries, BLOCKED_TOPK_MIN_PAIRS, q_rows=queries_count_hint
            )
        else:
            strategy = "crossjoin"
    if strategy == "blocked":
        return _cosine_topk_blocked(
            corpus, queries, id_col, vec_col, k, qid, q_src, block_rows
        )
    q = queries.select(
        F.col(id_col).alias(qid) if query_id_col is None else F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
    )
    scored = (
        corpus.alias("c")
        .crossJoin(F.broadcast(q))
        .filter(F.col(qid) != F.col(id_col))
        .select(
            F.col(qid),
            F.col(id_col),
            cosine(F.col(vec_col), F.col("__qvec")).cast("float").alias("cosine"),
        )
    )
    w = W.partitionBy(qid).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# Plan nodes that can only preserve or reduce the row count of the one
# file relation beneath them — the shapes whose row counts parquet
# footers can answer (exactly for a bare scan, as an upper bound under
# Filter/Project/Limit). Anything else (joins, generators, aggregates,
# unions) can change cardinality arbitrarily.
_ROW_PRESERVING_NODES = {
    "Relation", "LogicalRelation", "Filter", "Project",
    "GlobalLimit", "LocalLimit",
}


def _footer_rows(df: DataFrame) -> tuple[int | None, int | None]:
    """(exact, upper) row counts from local parquet footers — the
    ANALYZE-statistics answer, ZERO Spark jobs. Exact when the
    optimized plan is a bare file relation; an upper bound when only
    row-reducing nodes sit on top; (None, None) for any other plan
    shape, non-parquet or non-local files. Memoized by semantic plan
    hash, which saves the footer reads + plan stringification when the
    same logical plan routes repeatedly."""
    import re
    from urllib.parse import unquote, urlparse

    key = probe_memo.key("footer_rows", df)
    out = probe_memo.get(key)
    if out is None:
        out = _footer_rows_uncached(df, re, unquote, urlparse)
        probe_memo.put(key, out)
    return out


def _footer_rows_uncached(df, re, unquote, urlparse):
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        names: set[str] = set()
        for line in plan.splitlines():
            m = re.match(r"^[\s+:\-]*'?([A-Za-z]+)", line)
            if m:
                names.add(m.group(1))
        if not names or not names.issubset(_ROW_PRESERVING_NODES):
            return (None, None)
        files = df.inputFiles()
        if not files:
            return (None, None)
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file") or not f.endswith(".parquet"):
                return (None, None)
            total += pq.ParquetFile(unquote(p.path)).metadata.num_rows
        exact = names.issubset({"Relation", "LogicalRelation", "Project"})
        return (total if exact else None, total)
    except Exception:
        return (None, None)


def _route_topk(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: int,
    q_rows: int | None = None,
) -> str:
    """Pick the physical top-k strategy (both are exact and
    hash-identical — this is a plan decision only). Order of cheapness:
    a caller cardinality hint plus footer statistics, footer statistics
    alone (exact counts, or upper bounds that cannot reach the blocked
    zone) — both jobless — otherwise ONE combined, memoized count job
    (:func:`_pair_counts`)."""
    c_exact, c_ub = _footer_rows(corpus)
    q_exact, q_ub = _footer_rows(queries)
    if q_rows is not None:
        q_exact = q_ub = q_rows
    if c_exact is not None and q_exact is not None:
        return "blocked" if c_exact * q_exact >= threshold else "crossjoin"
    if c_ub is not None and q_ub is not None and c_ub * q_ub < threshold:
        return "crossjoin"  # even pessimistic bounds can't reach blocked
    n_c, n_q = _pair_counts(corpus, queries)
    if q_rows is not None:
        n_q = q_rows
    return "blocked" if n_c * n_q >= threshold else "crossjoin"


def _pair_counts(corpus: DataFrame, queries: DataFrame) -> tuple[int, int]:
    """Row counts of both sides in ONE Spark job (two 1-row aggregates
    cross-joined) instead of two `.count()` actions, memoized by
    semantic plan hash — the r6 verdict's fence-creep item: the auto
    gate was costing two scheduler round-trips per call."""
    key = probe_memo.key("pair_counts", corpus, queries)
    hit = probe_memo.get(key)
    if hit is not None:
        return hit
    row = (
        corpus.agg(F.count(F.lit(1)).alias("__n_c"))
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("__n_q")))
        .collect()[0]
    )
    out = (row["__n_c"], row["__n_q"])
    probe_memo.put(key, out)
    return out


def _is_integral_id(df: DataFrame, col: str) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(
        df.schema[col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )


def _cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    qid: str,
    q_src: str,
    block_rows: int,
) -> DataFrame:
    """Blocked-GEMM exact top-k (the exact_cosine_pairs_blocked kernel
    pointed at the top-k shape): hash corpus AND queries into
    ~n/block_rows groups of packed rows, cross the group frames, score
    each (query-block × corpus-block) with ONE numpy matmul, emit each
    block's local top-(k+1) candidates per query (k+1 because the
    query's own corpus row may occupy one slot; any global top-k item
    is inside its block's local top-k, so the union of block-local
    lists is a lossless candidate set), and finish with the same
    global rank window as the crossjoin path. Work is still n·q dot
    products, but as (n/B)·(q/B) BLAS calls — a natural 1000-executor
    fan-out unit — instead of n·q interpreted per-pair folds. Local
    ordering uses a stable argsort on (-cosine_f32) over id-ascending
    columns, exactly the (cosine DESC, id ASC) global convention, so
    boundary ties select the same candidates the full sort would."""
    import math

    n_c = corpus.count()
    n_q = queries.count()
    ncb = max(1, math.ceil(n_c / block_rows))
    nqb = max(1, math.ceil(n_q / block_rows))
    cb = (
        corpus.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(ncb)).alias("cb"),
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
        )
        .groupBy("cb")
        .agg(F.collect_list(F.struct("cid", "cv")).alias("crows"))
    )
    qb = (
        queries.select(
            F.pmod(F.xxhash64(F.col(q_src)), F.lit(nqb)).alias("qb"),
            F.col(q_src).alias("qid"),
            F.col(vec_col).alias("qv"),
        )
        .groupBy("qb")
        .agg(F.collect_list(F.struct("qid", "qv")).alias("qrows"))
    )
    pairs = cb.crossJoin(qb)
    kk = k + 1  # one extra slot: the query's own corpus row

    def score(batches):
        import numpy as np
        import pandas as pd

        def unpack(rows, idf, vf):
            ids = np.array([r[idf] for r in rows], dtype=np.int64)
            mat = np.array([r[vf] for r in rows], dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            return ids, mat / nrm[:, None]

        for pdf in batches:
            out_q, out_c, out_s = [], [], []
            for crows, qrows in zip(pdf["crows"], pdf["qrows"]):
                ids_c, mc = unpack(crows, "cid", "cv")
                order = np.argsort(ids_c)  # id-asc columns for stable ties
                ids_c, mc = ids_c[order], mc[order]
                ids_q, mq = unpack(qrows, "qid", "qv")
                s32 = (mq @ mc.T).astype(np.float32)
                top = np.argsort(-s32, axis=1, kind="stable")[:, : min(kk, len(ids_c))]
                cand_c = ids_c[top]
                cand_s = np.take_along_axis(s32, top, axis=1)
                cand_q = np.repeat(ids_q, top.shape[1]).reshape(top.shape)
                m = (cand_q != cand_c).ravel()
                out_q.append(cand_q.ravel()[m])
                out_c.append(cand_c.ravel()[m])
                out_s.append(cand_s.ravel()[m])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "cid": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

    cand = pairs.mapInPandas(score, "qid long, cid long, cosine float")
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(qid),
            F.col("cid").alias(id_col),
            F.col("cosine"),
            F.col("rank"),
        )
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Each vector gets ``n_tables`` bucket keys (signature over
    ``n_planes`` planes per table); query and corpus rows meet via an
    equi-join on (table, bucket); exact cosine reranks within the
    candidate set. Recall grows with n_tables; cost is the bucket-join
    fan-in instead of |corpus| × |queries|.
    """
    # Bucket frames carry ONLY (id, tbl, bucket) — the n_tables-way
    # posexplode and the bucket equi-join must never duplicate embedding
    # arrays across the exchange (at 100 TB that is a wide shuffle of
    # n_tables copies of every vector). Vectors are re-fetched by id
    # AFTER the candidate pairs are deduped.
    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.posexplode(
                F.array(
                    *[
                        hyperplane_sign_bits(vec_col, n_planes, seed=seed + 1000 * t)
                        for t in range(n_tables)
                    ]
                )
            ).alias(f"{prefix}_tbl", f"{prefix}_bucket"),
        )

    pair_ids = (
        with_buckets(corpus, "c")
        .join(
            with_buckets(queries, "q"),
            (F.col("c_tbl") == F.col("q_tbl")) & (F.col("c_bucket") == F.col("q_bucket")),
        )
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    scored = _rerank_pairs(pair_ids, corpus, queries, id_col, vec_col)
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _rerank_pairs(
    pair_ids: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Join vectors back onto deduped (q_id, c_id) pairs and score.

    The query side is typically a small fixed set → broadcast; the
    corpus-side fetch is an id-keyed equi-join carrying one copy of each
    candidate vector (AQE picks the strategy at runtime)."""
    q_vecs = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c_vecs = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    return (
        pair_ids.join(F.broadcast(q_vecs), "q_id")
        .join(c_vecs, "c_id")
        .select(
            F.col("q_id"),
            F.col("c_id").alias(id_col),
            cosine("c_vec", "q_vec").cast("float").alias("cosine"),
        )
    )


def ann_lsh_topk_literal(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ann_lsh_topk twin whose hyperplanes are literal ±1 Rademacher
    components (functions/vector.rademacher_planes) instead of
    executor-side xxhash64 draws. Identical algorithm and plan shape;
    the literal planes exist so a DuckDB oracle can recompute the SAME
    buckets and therefore hash-check the full approximate pipeline —
    see plans/text_queries.similarity_ann_lsh. The xxhash64 variant
    stays the 100 TB path (no literal shipping, planes derived
    executor-side)."""
    from ..functions.vector import literal_plane_sign_bits, rademacher_planes

    dim = len(corpus.select(vec_col).first()[0])
    tables = [
        rademacher_planes(n_planes, dim, seed=seed + 1000 * t) for t in range(n_tables)
    ]

    # Same id-only bucket-join discipline as ann_lsh_topk: no vectors on
    # the exchange, re-fetch by id after the pair dedup.
    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.posexplode(
                F.array(*[literal_plane_sign_bits(vec_col, planes) for planes in tables])
            ).alias(f"{prefix}_tbl", f"{prefix}_bucket"),
        )

    pair_ids = (
        with_buckets(corpus, "c")
        .join(
            with_buckets(queries, "q"),
            (F.col("c_tbl") == F.col("q_tbl")) & (F.col("c_bucket") == F.col("q_bucket")),
        )
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    scored = _rerank_pairs(pair_ids, corpus, queries, id_col, vec_col)
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: str = "hash",
    path: str | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a coarse
    quantizer partitions the corpus into centroid cells; each query
    scans only its ``n_probe`` nearest cells with exact cosine rerank.

    Centroid selection is deterministic: ``centroids="hash"`` samples
    the rows with the smallest xxhash64(id) (reproducible pseudo-random
    spread, the 100 TB default); ``centroids="first"`` takes the
    n_centroids smallest ids — equally deterministic AND expressible in
    the DuckDB oracle (no xxhash64 there), which is what the
    driver-checked catalog entry uses. Either way the collect is
    n_centroids × dim doubles — a model-broadcast footprint. Assignment
    is pure column math (argmax over literal-centroid cosines — no
    join), so building the index is ONE projection + the cell write;
    at 100 TB the cell id becomes the partition key and each query
    touches n_probe/n_centroids of the data.
    """
    order = (
        [F.xxhash64(F.col(id_col)), F.col(id_col)]
        if centroids == "hash"
        else [F.col(id_col)]
    )
    cent_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(*order)
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in cent_rows]
    return _ivf_search(corpus, queries, cents, id_col, vec_col, k, n_probe, path=path)


def _centroid_score_array(vec: str | F.Column, cents: list[list[float]]) -> F.Column:
    """array<double> of cosine(vec, centroid_i) over literal centroids —
    pure column math, no join; the quantizer ships inside the plan.

    The row norm is computed ONCE (let-bound) instead of once per
    centroid, and centroid norms fold to plan literals (python
    math.sqrt over a left-to-right sum — the same IEEE sequence as the
    column norm(), so scores are bit-identical to the plain
    cosine-per-centroid form; measured: the per-centroid norm
    recompute put +30%% on the sf1 trained-IVF entry after cosine()
    gained its zero guard). Zero vectors score 0.0 on every centroid,
    matching cosine()."""
    import math

    from ..functions.text import _bind
    from ..functions.vector import dot, norm

    def _n(c: list[float]) -> float:
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    def scores(nv: F.Column) -> F.Column:
        cols = []
        for c in cents:
            lit_c = F.array(*[F.lit(float(x)) for x in c])
            denom = nv * F.lit(_n(c))
            cols.append(
                F.when(denom != 0.0, dot(vec, lit_c) / denom).otherwise(F.lit(0.0))
            )
        return F.array(*cols)

    return _bind(norm(vec), scores)


# Above this many model floats (n_centroids × dim, or m × k × dsub for
# PQ codebooks) the quantizer ships as ONE broadcast row instead of
# inline plan literals: a literal plan at production ANN scale
# (k=4096, dim=768 → 3.1M expression nodes) stalls Catalyst before any
# data moves, while the broadcast-matrix plan is O(1) nodes at any k.
LITERAL_MODEL_MAX = 10_000

# Power-of-two fixed-point scale for the k-means centroid update (see
# kmeans_centroids): scaling by 2^31 keeps float32-origin components
# exact, and the resulting integer sums are associative — the property
# that makes trained centroids reproducible across partitionings.
KMEANS_UPDATE_SCALE = float(1 << 31)


def _with_centroid_scores(
    df: DataFrame,
    vec_col: str,
    cents: list[list[float]],
    out: str = "__cs",
    path: str | None = None,
) -> DataFrame:
    """Attach ``out`` = array<double> of cosine(vec, centroid_i).

    Two physically different, numerically IDENTICAL paths (same cosine
    fold order element-by-element, so assignments and scores agree
    bit-for-bit — pinned in tests/test_model_broadcast_path.py):

    - ``"literal"``: centroids inline as plan literals (k×dim nodes) —
      what the DuckDB oracles mirror; best below LITERAL_MODEL_MAX;
    - ``"broadcast"``: the whole centroid matrix ships as a single
      broadcast row (one-row crossJoin, the gmax pattern) and scores
      come from a higher-order ``transform`` over it — constant plan
      size regardless of model size.

    ``path=None`` auto-selects by model size.
    """
    if path is None:
        n_lits = len(cents) * (len(cents[0]) if cents else 0)
        path = "literal" if n_lits <= LITERAL_MODEL_MAX else "broadcast"
    if path == "literal":
        return df.withColumn(out, _centroid_score_array(vec_col, cents))
    from ..functions.text import _bind
    from ..functions.vector import dot, norm

    cmat = df.sparkSession.createDataFrame(
        [([[float(x) for x in c] for c in cents],)],
        "__cmat array<array<double>>",
    )
    # Same row-norm factoring as the literal path (norm(v) once per
    # row, not per centroid); centroid norms come from the broadcast
    # matrix with the identical IEEE fold, so both paths stay
    # bit-identical (pinned in tests/test_model_broadcast_path.py).
    scores = _bind(
        norm(F.col(vec_col)),
        lambda nv: F.transform(
            F.col("__cmat"),
            lambda c: _bind(
                nv * norm(c),
                lambda d: F.when(d != 0.0, dot(F.col(vec_col), c) / d).otherwise(
                    F.lit(0.0)
                ),
            ),
        ),
    )
    return (
        df.crossJoin(F.broadcast(cmat))
        .withColumn(out, scores)
        .drop("__cmat")
    )


def _argmax_cell(scores: F.Column) -> F.Column:
    """First-max cell index (ties → lowest cell, matching the DuckDB
    oracles' ORDER BY s DESC, cell ASC convention)."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    path: str | None = None,
) -> DataFrame:
    """IVF search path shared by the sampled and k-means quantizers:
    assign corpus rows to their argmax-cosine cell (column math over
    the centroid model — literal or broadcast-matrix form, see
    :func:`_with_centroid_scores`), explode each query's n_probe best
    cells, equi-join on cell, exact cosine rerank."""
    c_assigned = _with_centroid_scores(
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        "c_vec",
        cents,
        path=path,
    ).select("c_id", "c_vec", _argmax_cell(F.col("__cs")).alias("cell"))
    # query side: explode the n_probe best cells
    q_scored = _with_centroid_scores(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_vec",
        cents,
        path=path,
    )
    probe = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.col("__cs"),
                    lambda s, i: F.struct(s.alias("s"), i.cast("int").alias("cell")),
                )
            )
        ),
        1,
        n_probe,
    )
    q_probes = q_scored.select(
        "q_id", "q_vec", F.explode(F.transform(probe, lambda p: p["cell"])).alias("cell")
    )
    scored = (
        c_assigned.join(q_probes, "cell")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("c_id").alias(id_col),
            cosine("c_vec", "q_vec").cast("float").alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    init: str = "hash",
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd) for the IVF coarse
    quantizer. Deterministic: init takes the ``n_centroids`` rows with
    smallest xxhash64(id) (``init="hash"``, reproducible spread) or
    smallest id (``init="first"``); assignment ties resolve to the
    first-max cell; iteration count is fixed.

    Scale design: each Lloyd round is ONE corpus pass — assignment is
    column math against the centroid model (literal or broadcast-matrix
    form, auto-selected by size — see _with_centroid_scores), and
    the update aggregates vec[i] per dimension as ``dim`` avg columns
    (map-side combinable, k×dim result — a model, not data; no
    posexplode shuffle of n×dim rows). Total cost: n_iter scans +
    n_iter tiny collects.

    Returns the trained centroids as a plain list (a broadcast-sized
    model for :func:`ann_ivf_topk`'s search path).
    """
    dim = len(corpus.select(vec_col).first()[0])
    order = (
        [F.xxhash64(F.col(id_col)), F.col(id_col)]
        if init == "hash"
        else [F.col(id_col)]
    )
    cents = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col).orderBy(*order).limit(n_centroids).collect()
    ]
    # Each Lloyd round re-scans the vector column from source on
    # purpose: caching the deserialized array rows was MEASURED slower
    # than the columnar parquet re-read at the sf1 rehearsal (42-45 s
    # vs 33 s for the trained-IVF entry) — array rows cache fat while
    # the scan is cheap relative to the per-row centroid scoring.
    vecs = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(n_iter):
        upd = (
            _with_centroid_scores(vecs, "v", cents)
            .select(_argmax_cell(F.col("__cs")).alias("cell"), "v")
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # Quantized-integer centroid update instead of float
                # avg: v[i]*2^31 is EXACT for float32-origin data
                # (power-of-two scaling), and integer sums are
                # ASSOCIATIVE — so the trained centroids are
                # bit-identical across partitionings, task orders, and
                # engines (float summation order made them run-shaky).
                # Quantization error ≤ 2^-32 per component, far below
                # the f32 data resolution. Overflow headroom: |v|·2^31
                # per row → safe to ~2^31/max|v| rows per cell; shrink
                # the scale for corpora beyond ~10^9 rows per cell.
                *[
                    F.sum(
                        F.round(F.col("v")[i] * KMEANS_UPDATE_SCALE).cast("long")
                    ).alias(f"d{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new_cents = list(cents)  # empty cells keep their old centroid
        for r in upd:
            n = float(r["__n"])
            new_cents[r["cell"]] = [
                float(r[f"d{i}"]) / n / KMEANS_UPDATE_SCALE for i in range(dim)
            ]
        cents = new_cents
    return cents


def ann_ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 5,
    path: str | None = None,
    init: str = "hash",
) -> DataFrame:
    """IVF search over a TRAINED coarse quantizer: Lloyd k-means
    centroids instead of sampled rows. Cells adapt to the data
    distribution, so cell populations even out and recall-per-probe
    beats the sampled-centroid variant on clustered corpora.

    Since the quantized-integer centroid update (kmeans_centroids),
    training is fully deterministic — bit-identical across
    partitionings AND engines — so with an SQL-expressible ``init``
    (``"first"``) the whole train→search pipeline value-hash checks
    against a DuckDB replay of the Lloyd rounds
    (plans/text_queries._ann_ivf_trained_oracle). Recall vs brute
    force stays pinned in tests/test_dedup_similarity.py.
    """
    cents = kmeans_centroids(
        corpus, vec_col, n_centroids, n_iter, id_col=id_col, init=init
    )
    return _ivf_search(corpus, queries, cents, id_col, vec_col, k, n_probe, path=path)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucketed candidate generation +
    exact cosine filter (id_a < id_b)."""
    # Id-only buckets on the self-join exchange (no vector duplication);
    # vectors are joined back onto the deduped pairs for the exact check.
    buckets = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    hyperplane_sign_bits(vec_col, n_planes, seed=seed + 1000 * t)
                    for t in range(n_tables)
                ]
            )
        ).alias("tbl", "bucket"),
    )
    a = buckets.alias("a")
    # shuffle_hash: both sides are the SF-scaling bucket frame — a
    # broadcast OOMs at scale and (measured, sf1 rehearsal) serializes
    # the pair join onto the scan's partition count; co-partitioned
    # shuffle keeps full parallelism, AQE splits hot buckets.
    b = buckets.hint("shuffle_hash").alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    return (
        pair_ids.join(vecs, pair_ids["id_a"] == vecs["__vid"])
        .withColumnRenamed("__v", "vec_a")
        .drop("__vid")
        .join(vecs, pair_ids["id_b"] == vecs["__vid"])
        .withColumnRenamed("__v", "vec_b")
        .drop("__vid")
        .withColumn("cosine", cosine("vec_a", "vec_b").cast("float"))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


# Exact-duplicate vector collapse gate for semantic_dedup — the
# embedding-space twin of dedup._exact_dup_collapse. Skip when fewer
# than this fraction of rows are exact vector duplicates (the collapse
# joins cost more than they save on dup-free corpora), and NEVER
# collapse above _VEC_COLLAPSE_MAX_THRESHOLD: a member's drop proof is
# "cosine(member, rep) == 1.0 >= threshold", but the blocked scorer
# computes an f32 cosine that can land at 0.99999994 for identical
# vectors — at thresholds that close to 1 the uncollapsed plan must
# decide.
_VEC_COLLAPSE_MIN_DUP_RATIO = 0.02
_VEC_COLLAPSE_MAX_THRESHOLD = 0.99

def _vec_collapse_cols(id_col: str, vec_col: str):
    """(__nz, __fp) grouping columns for the vector collapse. Non-zero
    finite vectors fingerprint by xxhash64 of the array (a 2⁻⁶⁴
    collision is the repo's accepted class); zero or NaN-bearing
    vectors get a per-row fingerprint (their cosine with an identical
    twin is 0 or NaN, NOT 1, so they must never collapse), and __nz in
    the grouping key keeps the two populations apart."""
    v = F.col(vec_col)
    # coalesce: a NULL vector must land in the per-row-fingerprint
    # population, and the (__nz, __fp) pair must be join-safe (the
    # member re-attach below is an equi-join, which unlike a window
    # partition is not null-safe) — fp is xxhash64(id) for these rows
    # either way, so the grouping outcome is unchanged.
    nz = F.coalesce(
        F.exists(v, lambda x: x != F.lit(0.0)) & ~F.exists(v, F.isnan), F.lit(False)
    )
    fp = F.when(nz, F.xxhash64(v)).otherwise(F.xxhash64(F.col(id_col)))
    return nz.alias("__nz"), fp.alias("__fp")


def _vec_dup_stats(corpus: DataFrame, id_col: str, vec_col: str) -> tuple[int, int]:
    """(row count, distinct-vector/rep count) in ONE 1-row Spark job,
    memoized by semantic plan hash. Also supplies the row count the
    block-grid sizing would otherwise pay a corpus.count() action for."""
    key = probe_memo.key("vec_dup_stats", corpus, id_col, vec_col)
    hit = probe_memo.get(key)
    if hit is not None:
        return hit
    nz, fp = _vec_collapse_cols(id_col, vec_col)
    row = corpus.select(nz, fp).agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("__nz", "__fp").alias("__n_reps"),
    ).first()
    out = (row["__n"], row["__n_reps"])
    probe_memo.put(key, out)
    return out


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_centroids: int = 16,
    centroids: str = "hash",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public scheme, Abbas et
    al. 2023): coarse-quantize the corpus into centroid cells, compare
    pairs ONLY within a cell, and drop every member of a near-dup pair
    except the smallest id.

    Output: (cell, id, is_dropped) — one row per corpus vector.

    Scale design (100 TB): candidate generation is cell-local, so the
    corpus shuffles ONCE on the cell id and the pair join is
    per-cell-quadratic instead of corpus-quadratic — with k cells of
    ~n/k rows the comparison volume drops by k×, and cells are the
    natural partition key (skewed/huge cells can be re-split by raising
    n_centroids or salting the within-cell join). ``centroids="first"``
    (smallest ids) keeps the quantizer reproducible inside a DuckDB
    oracle; ``centroids="hash"`` (xxhash64 sample) is the scale default;
    a trained quantizer (kmeans_centroids) slots in unchanged.
    """
    order = (
        [F.xxhash64(F.col(id_col)), F.col(id_col)]
        if centroids == "hash"
        else [F.col(id_col)]
    )
    # The centroid TakeOrdered and the gate/stats probe are independent
    # driver actions over the same corpus — submit both from a 2-thread
    # pool so the second job back-fills executors the first leaves idle
    # (guide §2.6; r14 verdict item 4's job-count fold). Results are
    # identical to the sequential form; only wall-clock overlaps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        cent_fut = pool.submit(
            lambda: corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(*order)
            .limit(n_centroids)
            .collect()
        )
        stats_fut = pool.submit(_vec_dup_stats, corpus, id_col, vec_col)
        cent_rows = cent_fut.result()
        n, n_reps = stats_fut.result()
    cents = [[float(x) for x in r[vec_col]] for r in cent_rows]

    # Exact-duplicate vector collapse, gated on MEASURED duplication
    # (one memoized 1-row job — overlapped with the centroid take
    # above — that also supplies the block-grid row count below). On
    # k-fold-replicated corpora every duplicate inflates the dominant
    # cell's block count, and every block's vector list ships once per
    # partner block through the pair join's Arrow exchange — collapse
    # cuts that k² (sf1 replica: ~8 s → ~1 s engine-side). Lossless at
    # threshold ≤ 0.99: identical vectors land in the same argmax cell,
    # members inherit dropped=True from their smaller-id cosine-1.0
    # rep, and a rep's own verdict depends only on other reps (any
    # qualifying smaller-id member implies its rep qualifies at the
    # same cosine with a smaller id still). Zero/NaN vectors never
    # collapse (_vec_collapse_cols). Centroid selection stays on the
    # FULL corpus so the quantizer is byte-identical either way.
    member = None
    work = corpus
    n_work = n
    if (
        threshold <= _VEC_COLLAPSE_MAX_THRESHOLD
        and n_reps < n * (1.0 - _VEC_COLLAPSE_MIN_DUP_RATIO)
    ):
        # Rep assignment via groupBy(nz, fp) with PARTIAL (map-side)
        # aggregation, r15: the r14 form was one min(id) window over
        # (nz, fp), which shuffled the full corpus INCLUDING vector
        # payloads with no partial aggregation — a hot duplicate group
        # (the exact condition that opens this gate) collocated in a
        # single sort task (the r14 advice's straggler bound). The
        # aggregate emits at most one (rep id, rep vector) candidate
        # per group per map partition, so a k-fold-duplicated corpus
        # shrinks k× BEFORE its only payload-bearing exchange, and the
        # min_by(vec, id) candidate is the rep's own vector (group
        # members share a fingerprint, i.e. identical bytes modulo the
        # accepted 2^-64 xxhash64 class), so `work` is byte-identical
        # to the window form's rep rows. The member→rep map re-attaches
        # through a narrow (id, nz, fp) equi-join — 24 bytes/row, never
        # the payload (guide §8: decide with small rows).
        nz, fp = _vec_collapse_cols(id_col, vec_col)
        reps = (
            corpus.select(F.col(id_col), F.col(vec_col), nz, fp)
            .groupBy("__nz", "__fp")
            .agg(
                F.min(id_col).alias("__rep"),
                F.min_by(vec_col, F.col(id_col)).alias("__repv"),
            )
        )
        member = (
            corpus.select(F.col(id_col).alias("__mid"), nz, fp)
            .join(reps.select("__nz", "__fp", "__rep"), ["__nz", "__fp"])
            .select("__mid", "__rep")
        )
        work = reps.select(
            F.col("__rep").alias(id_col), F.col("__repv").alias(vec_col)
        )
        n_work = n_reps

    assigned = work.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _argmax_cell(_centroid_score_array(vec_col, cents)).alias("cell"),
    )
    # Within-cell scoring runs BLOCKED (same GEMM kernel idea as
    # exact_cosine_pairs_blocked): cells are the comparison scope, but
    # a skewed quantizer can funnel most of the corpus into one cell —
    # observed at the sf1 rehearsal with centroids="first" on a
    # clustered corpus (2x10^8 within-cell pairs; 242 s interpreted,
    # 130 s with codegen'd per-pair cosine, ~8 s blocked). Hashing ids
    # into ~block_rows blocks and crossing (cell, block) groups keeps
    # the quadratic work in numpy matmuls AND breaks a hot cell into
    # many parallel tasks instead of one straggler.
    # float32-cast cosine on both engines so the threshold comparison
    # is representation-stable (same convention as embedding_near_dup).
    import math

    n_blocks = max(1, math.ceil(n_work / 1024))
    blocks = assigned.select(
        "cell", "id", "v", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("b")
    )
    grouped = blocks.groupBy("cell", "b").agg(
        F.collect_list(F.struct("id", "v")).alias("rows")
    )
    ga = grouped.select("cell", F.col("b").alias("ba"), F.col("rows").alias("ra"))
    gb = grouped.select("cell", F.col("b").alias("bb"), F.col("rows").alias("rb"))
    bpairs = ga.join(gb, "cell").filter(F.col("ba") <= F.col("bb"))
    thr = float(threshold)

    def score(batches):
        import numpy as np
        import pandas as pd

        def unpack(rows):
            ids = np.array([r["id"] for r in rows], dtype=np.int64)
            mat = np.array([r["v"] for r in rows], dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            return ids, mat / nrm[:, None]

        for pdf in batches:
            out = []
            for ba, ra, bb, rb in zip(pdf["ba"], pdf["ra"], pdf["bb"], pdf["rb"]):
                ia, ma = unpack(ra)
                if ba == bb:
                    ib, mb = ia, ma
                else:
                    ib, mb = unpack(rb)
                s32 = (ma @ mb.T).astype(np.float32)
                keep = s32.astype(np.float64) >= thr
                ii, jj = np.nonzero(keep)
                id_i, id_j = ia[ii], ib[jj]
                m = id_i != id_j  # self-pairs on the same-block diagonal
                # pair (lo, hi) qualifying → hi is dropped (keep-min-id)
                out.append(np.maximum(id_i, id_j)[m])
            if out:
                yield pd.DataFrame({"id": np.unique(np.concatenate(out))})

    dropped = bpairs.mapInPandas(score, "id long").distinct()
    # (cell, id) re-derived by exploding `grouped` rather than from a
    # second copy of the `assigned` subtree: grouped's exchange already
    # feeds the block self-join, so the verdict join hangs off that
    # same shuffle instead of re-scanning the corpus and re-running the
    # rep aggregation + argmax a second time (r15; the explode is a
    # lossless unpack — grouped partitions assigned's rows exactly).
    cell_ids = grouped.select(
        "cell", F.explode("rows").alias("__r")
    ).select("cell", F.col("__r.id").alias("id"))
    rep_out = (
        cell_ids
        .join(dropped.withColumn("__d", F.lit(1)), ["id"], "left")
        .select(
            "cell",
            "id",
            F.coalesce(F.col("__d") == 1, F.lit(False)).alias("is_dropped"),
        )
    )
    if member is None:
        return rep_out
    # Re-expand the collapsed rows: every member inherits its rep's
    # cell (identical vectors assign identically); non-rep members are
    # dropped by construction (their rep is a smaller-id exact-dup
    # neighbor at cosine 1.0 ≥ threshold), reps keep their verdict.
    return (
        member.join(rep_out, member["__rep"] == rep_out["id"])
        .select(
            "cell",
            F.col("__mid").alias("id"),
            F.when(F.col("__mid") != F.col("__rep"), F.lit(True))
            .otherwise(F.col("is_dropped"))
            .alias("is_dropped"),
        )
    )


def exact_cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_rows: int = 1024,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-matrix scoring.

    The row-at-a-time form (non-equi self-join + per-pair expression)
    costs ~1 us/pair no matter how the pair expression is written —
    measured ~500 s for 2x10^8 pairs at the sf1 rehearsal — because
    the nested-loop join itself dominates. The scalable exact plan is
    the classic blocked GEMM: hash ids into ~n/block_rows blocks,
    group each block's vectors into ONE row, cross the block rows
    (upper triangle), and score each block pair with one vectorized
    numpy matmul inside Arrow `mapInPandas`. Work is n^2 either way,
    but it runs as (n/B)^2/2 BLAS calls sharded across executors
    instead of n^2 interpreter iterations: seconds instead of minutes
    at rehearsal scale, and block pairs are a natural 1000-executor
    fan-out unit. Memory per task is 2 blocks + one B x B score
    matrix.

    Output: (id_a, id_b, cosine float32) with id_a < id_b, one row
    per unordered pair — identical contract (and, under the repo's
    f32 policy for division-derived values, identical hashes) to the
    join-based exact form; equality is pinned in
    tests/test_dedup_similarity.py.
    """
    import math

    n = df.count()  # one scalar aggregate to size the block grid
    n_blocks = max(1, math.ceil(n / block_rows))
    blocks = df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("b"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
    )
    grouped = blocks.groupBy("b").agg(
        F.collect_list(F.struct("id", "v")).alias("rows")
    )
    ga = grouped.select(F.col("b").alias("ba"), F.col("rows").alias("ra"))
    gb = grouped.select(F.col("b").alias("bb"), F.col("rows").alias("rb"))
    pairs = ga.join(gb, F.col("ba") <= F.col("bb"))

    thr = float(threshold)

    def score(batches):
        import numpy as np
        import pandas as pd

        def unpack(rows):
            ids = np.array([r["id"] for r in rows], dtype=np.int64)
            mat = np.array([r["v"] for r in rows], dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            return ids, mat / nrm[:, None]

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ba, ra, bb, rb in zip(pdf["ba"], pdf["ra"], pdf["bb"], pdf["rb"]):
                ia, ma = unpack(ra)
                same = ba == bb
                if same:
                    ib, mb = ia, ma
                else:
                    ib, mb = unpack(rb)
                # f32 cast first, then compare against the DOUBLE
                # threshold (numpy would silently downcast the
                # threshold to f32 otherwise — not what SQL does).
                s32 = (ma @ mb.T).astype(np.float32)
                keep = s32.astype(np.float64) >= thr
                if same:
                    # upper triangle only, or each within-block pair
                    # (i,j)/(j,i) would emit twice
                    keep &= np.tri(len(ia), k=-1, dtype=bool).T
                ii, jj = np.nonzero(keep)
                id_i, id_j = ia[ii], ib[jj]
                lo = np.minimum(id_i, id_j)
                hi = np.maximum(id_i, id_j)
                m = lo < hi  # drops hash-collision self-pairs cross-block
                out_a.append(lo[m])
                out_b.append(hi[m])
                out_c.append(s32[ii, jj][m])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return pairs.mapInPandas(score, "id_a long, id_b long, cosine float")
