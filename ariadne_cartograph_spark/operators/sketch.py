"""Mergeable frequency sketches (U3/A5 + north-star text-analysis
family): Misra-Gries heavy hitters with an exact-recount second pass.

Public algorithm: Misra-Gries frequent-items summaries are mergeable
(Agarwal et al., "Mergeable Summaries", PODS'12) — per-partition
summaries of capacity m combine by adding counts and re-pruning, with
total undercount error bounded by n/(m+1). That makes the classic
two-pass exact heavy-hitters plan work distributed:

  pass 1  scan → mapInPandas MG summary per partition (≤ m rows out
          per partition — the ONLY data that shuffles is sketch rows,
          never raw tokens);
  pass 2  exact recount of the candidate set only: explode tokens,
          broadcast-semi-join the candidates, groupBy(token) with
          map-side partial aggregation — shuffle is O(candidates × P).

Guarantee: any token with true frequency > n/(m+1) appears in the
merged candidate set, so if the true k-th frequency clears that bound
the final top-k is EXACT (hash-checkable against a plain SQL oracle).

Scale design (100 TB): no full-token shuffle anywhere. Pass 1 moves
≤ m rows per partition; pass 2's aggregate is candidate-only and
combines map-side. The candidate list is model-sized (≤ m × P before
dedup, vocabulary-bounded after) and broadcasts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_partials(
    df: DataFrame, text_col: str, capacity: int = 4096
) -> DataFrame:
    """Per-partition Misra-Gries summaries over whitespace tokens of
    ``text_col``. Output: (tok, mg_count) with ≤ ``capacity`` rows per
    input partition; mg_count is the MG lower-bound count within the
    partition (undercounts by ≤ n_partition/(capacity+1)).

    Tokenization MUST agree with the recount in
    :func:`heavy_hitters_topk` and the SQL oracle, or "candidate
    superset is always safe" silently breaks: a token the sketch never
    forms (e.g. one joined by non-ASCII whitespace that Java's
    ASCII-only ``\\s`` does not split) can never enter the candidate
    set no matter how heavy it is. All three sides therefore tokenize
    identically: split on the ASCII whitespace class (Java ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]`` — pandas regex ``\\s`` is Unicode-aware,
    so the class is spelled out) and drop empty tokens (the recount
    and oracle filter ``tok <> ''`` to cancel Java/DuckDB split()
    edge-token differences).
    """

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        for batch in batches:
            toks = (
                batch[text_col]
                .str.split(r"[ \t\n\x0b\f\r]+", regex=True)
                .explode()
                .dropna()
            )
            toks = toks[toks != ""]
            if toks.empty:
                continue
            vc = toks.value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > capacity:
                # Mergeable-summaries prune: subtract the (m+1)-th
                # largest count from everything, drop non-positives.
                thr = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters - thr
                counters = counters[counters > 0]
        if len(counters):
            yield pd.DataFrame(
                {"tok": counters.index.astype(str), "mg_count": counters.astype("int64")}
            )

    return df.select(text_col).mapInPandas(sketch, schema="tok string, mg_count long")


def heavy_hitters_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    capacity: int = 4096,
) -> DataFrame:
    """Exact top-``k`` most frequent tokens via MG candidates + exact
    recount. Output: (tok, n_occurrences) ordered by count desc, token
    asc — deterministic and hash-checkable when the k-th frequency
    clears the MG bound (see module docstring)."""
    cands = mg_partials(df, text_col, capacity).select("tok").distinct()
    toks = df.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    exact = (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return exact.orderBy(F.desc("n_occurrences"), F.asc("tok")).limit(k)
