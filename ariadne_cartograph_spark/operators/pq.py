"""Product quantization (PQ) over embedding columns (U4 scale path).

Public scheme (Jégou et al. 2011, "Product Quantization for Nearest
Neighbor Search"): split each D-dim vector into ``m`` contiguous
subvectors; quantize each subspace against its own ``k``-codeword
codebook; a vector compresses to ``m`` small integer codes (m bytes at
k≤256 vs 4·D bytes of float32 — 32× for D=64, m=8).

Scale design (100 TB):
- codebooks are MODEL state: m·k·(D/m) = k·D floats total — collected
  once and shipped either as plan literals (small models — what the
  DuckDB oracles mirror) or as ONE broadcast row consumed by
  higher-order transforms (above similarity.LITERAL_MODEL_MAX floats —
  constant plan size for production codebooks); never a shuffled join
  against a codebook table;
- encoding is pure column math (slice → codeword argmin) — one
  projection over the corpus, no shuffle, stays in whole-stage codegen;
- the compressed code table is what a 100 TB ANN system scans;
  reconstruction-based rescoring (``pq_adc_topk``) reads codes + the
  broadcast codebooks, touching the full float vectors never.

Determinism: codebook init takes the ``k`` smallest-id rows (the same
reproducible-and-SQL-expressible convention as ann_ivf_topk's
``centroids="first"``); Lloyd refinement (``n_iter>0``) is the trained
variant — deterministic but cross-engine-chaotic, so it is pinned by
recall tests, not value hashes (same policy as ann_ivf_topk_kmeans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 — sequential fold in element order (deterministic;
    elementwise (x-y)² matches the DuckDB oracle's expression shape)."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _lit_vec(xs: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    n_iter: int = 0,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``books[j][c]`` is codeword ``c``
    of subspace ``j`` (length D/m). Init = subvectors of the ``k``
    smallest-id rows; each Lloyd round is ONE corpus pass per subspace
    set (assignment by literal-codeword argmin, update as D/m avg
    columns — map-side combinable, k×D result; the kmeans_centroids
    pattern applied per subspace)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    dim = len(rows[0][vec_col])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    books = [
        [[float(x) for x in r[vec_col][j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]
    for _ in range(n_iter):
        new_books = []
        for j in range(m):
            sub = as_double(F.slice(F.col(vec_col), j * dsub + 1, dsub))
            dists = F.array(*[_sq_l2(sub, _lit_vec(cw)) for cw in books[j]])
            cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            upd = (
                corpus.select(cell.alias("c"), sub.alias("v"))
                .groupBy("c")
                .agg(*[F.avg(F.col("v")[i]).alias(f"d{i}") for i in range(dsub)])
                .collect()
            )
            nb = list(books[j])  # empty cells keep their old codeword
            for r in upd:
                nb[r["c"]] = [float(r[f"d{i}"]) for i in range(dsub)]
            new_books.append(nb)
        books = new_books
    return books


def _books_df(df: DataFrame, books: list[list[list[float]]]):
    """The full codebook tensor as ONE broadcastable row —
    array<array<array<double>>> indexed [subspace][codeword][dim]."""
    return df.sparkSession.createDataFrame(
        [([[[float(x) for x in cw] for cw in bj] for bj in books],)],
        "__books array<array<array<double>>>",
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    books: list[list[list[float]]],
    path: str | None = None,
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, length m) and ``pq_err``
    (float32 total squared reconstruction error). First-min tie-break
    (array_position of the min) — the ORDER BY d, code convention of
    the oracles.

    The codebook model ships either inline as plan literals
    (``path="literal"``, m×k×dsub nodes — what the DuckDB oracles
    mirror) or as a single broadcast row consumed by higher-order
    transforms (``path="broadcast"``, O(1) plan nodes — the form for
    production codebooks, e.g. m=96/k=256/dsub=8). Auto-selected by
    model size; both paths fold distances in identical element order so
    codes and errors agree bit-for-bit
    (tests/test_model_broadcast_path.py)."""
    from .similarity import LITERAL_MODEL_MAX

    m = len(books)
    k = len(books[0])
    dsub = len(books[0][0])
    if path is None:
        path = "literal" if m * k * dsub <= LITERAL_MODEL_MAX else "broadcast"
    if path == "broadcast":
        df = df.crossJoin(F.broadcast(_books_df(df, books)))
    codes, errs = [], []
    for j in range(m):
        sub = as_double(F.slice(F.col(vec_col), j * dsub + 1, dsub))
        if path == "broadcast":
            dists = F.transform(
                F.element_at(F.col("__books"), j + 1),
                lambda cw: _sq_l2(sub, cw),
            )
        else:
            dists = F.array(*[_sq_l2(sub, _lit_vec(cw)) for cw in books[j]])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
        errs.append(F.array_min(dists))
    total_err = errs[0]
    for e in errs[1:]:
        total_err = total_err + e
    out = df.withColumn("pq_codes", F.array(*codes)).withColumn(
        "pq_err", total_err.cast("float")
    )
    return out.drop("__books") if path == "broadcast" else out


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    path: str | None = None,
) -> DataFrame:
    """IVF-PQ composite (the canonical billion-scale ANN layout): an
    IVF coarse quantizer prunes the scan to ``n_probe`` cells per
    query; inside the probed cells, ranking is PQ asymmetric distance
    over the code table. Corpus footprint per query: n_probe/n_cells of
    the rows × m bytes of codes per row — the layout FAISS-style
    systems deploy at 10⁹+ vectors.

    Both models (centroids + codebooks) ship as plan literals; the
    only joins are the cell equi-join and the broadcast query join.
    At scale the cell id is the partition key of the stored code table,
    so a probe touches only its cells' files (partition pruning).
    """
    from pyspark.sql.window import Window as W

    from .similarity import (
        LITERAL_MODEL_MAX,
        _argmax_cell,
        _with_centroid_scores,
    )

    m = len(books)
    kk = len(books[0])
    dsub = len(books[0][0])
    if path is None:
        n_lits = max(len(centroids) * len(centroids[0]), m * kk * dsub)
        path = "literal" if n_lits <= LITERAL_MODEL_MAX else "broadcast"
    # corpus side: cell + codes — computed in ONE projection; at 100 TB
    # this frame is precomputed and stored partitioned by cell.
    enc = _with_centroid_scores(
        pq_encode(corpus, vec_col, books, path=path), vec_col, centroids, path=path
    ).select(F.col(id_col), "pq_codes", _argmax_cell(F.col("__cs")).alias("cell"))
    q_scored = _with_centroid_scores(
        queries.select(
            F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
        ),
        "q_vec",
        centroids,
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
    probed = enc.join(q_probes, "cell").filter(F.col("q_id") != F.col(id_col))
    if path == "broadcast":
        probed = probed.crossJoin(F.broadcast(_books_df(corpus, books)))
    dist = None
    for j in range(m):
        if path == "broadcast":
            cw_j = F.element_at(
                F.element_at(F.col("__books"), j + 1), F.col("pq_codes")[j] + 1
            )
        else:
            cw_j = F.element_at(
                F.array(*[_lit_vec(cw) for cw in books[j]]), F.col("pq_codes")[j] + 1
            )
        dj = _sq_l2(cw_j, F.slice(F.col("q_vec"), j * dsub + 1, dsub))
        dist = dj if dist is None else dist + dj
    scored = probed.select(
        "q_id", id_col, (-dist).cast("float").alias("neg_adc_dist")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("neg_adc_dist"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    k: int = 10,
    path: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: exact query vector vs the corpus's PQ
    codes — the scan reads only (id, pq_codes); the full float corpus
    is never touched. Queries broadcast (small fixed set).

    Distance is summed PER SUBSPACE in subspace order (the canonical
    ADC distance-table formulation) — the same association order the
    DuckDB oracle uses, so double-precision folds agree bit-for-bit.
    The codebook ships as literals or one broadcast row (``path``,
    auto by size — see pq_encode)."""
    from pyspark.sql.window import Window as W

    from .similarity import LITERAL_MODEL_MAX

    m = len(books)
    kk = len(books[0])
    dsub = len(books[0][0])
    if path is None:
        path = "literal" if m * kk * dsub <= LITERAL_MODEL_MAX else "broadcast"
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
    )
    base = corpus_codes.select(F.col(id_col), "pq_codes").crossJoin(F.broadcast(q))
    if path == "broadcast":
        base = base.crossJoin(F.broadcast(_books_df(corpus_codes, books)))
    dist = None
    for j in range(m):
        if path == "broadcast":
            cw_j = F.element_at(
                F.element_at(F.col("__books"), j + 1), F.col("pq_codes")[j] + 1
            )
        else:
            cw_j = F.element_at(
                F.array(*[_lit_vec(cw) for cw in books[j]]), F.col("pq_codes")[j] + 1
            )
        dj = _sq_l2(cw_j, F.slice(F.col("q_vec"), j * dsub + 1, dsub))
        dist = dj if dist is None else dist + dj
    scored = base.filter(F.col("q_id") != F.col(id_col)).select(
        "q_id",
        id_col,
        (-dist).cast("float").alias("neg_adc_dist"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("neg_adc_dist"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
