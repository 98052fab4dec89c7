"""Salted aggregation/join equivalence checks (operators/skew.py):
results must be identical to the unsalted plans on skewed data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.skew import salted_agg


def _skewed_df(spark):
    # 90% of rows share one key — the straggler shape.
    return spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        r.k: (r.s, r.n, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.s, r.n, r.mn, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {"s": ("v", "sum"), "n": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_spreads_hot_key(spark):
    df = _skewed_df(spark)
    phase1_groups = (
        df.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(8))
        )
        .filter(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert phase1_groups == 8  # the hot key really fans out


@pytest.mark.slow
def test_prefix_join_lossless_on_random_corpora(spark):
    """Property evidence for the AllPairs + PPJoin-positional prefix
    path: on randomized corpora (mixed vocab sizes, duplicated docs,
    boilerplate suffixes, length spread) its output must equal the
    exhaustive count-based join exactly — the positional bound may
    prune candidates, never pairs."""
    import random

    from ariadne_cartograph_spark.operators import dedup as D

    rng = random.Random(20260813)
    words = [f"w{i}" for i in range(40)]
    for trial in range(5):
        docs = []
        for d in range(60):
            n = rng.randint(3, 30)
            toks = [rng.choice(words) for _ in range(n)]
            if rng.random() < 0.5:
                toks += ["common", "boilerplate", "footer", "text"]
            docs.append((d, " ".join(toks)))
            # inject exact and near duplicates
            if rng.random() < 0.3:
                dup = list(toks)
                if dup and rng.random() < 0.5:
                    dup[rng.randrange(len(dup))] = rng.choice(words)
                docs.append((1000 + d, " ".join(dup)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for thr in (0.3, 0.6, 0.9):
            exact = {
                (r.id_a, r.id_b)
                for r in D.ngram_jaccard_pairs(
                    df, "doc_id", "text", shingle_size=2, threshold=thr
                ).collect()
            }
            pref = {
                (r.id_a, r.id_b)
                for r in D.ngram_jaccard_pairs_prefix(
                    df, "doc_id", "text", shingle_size=2, threshold=thr
                ).collect()
            }
            D.release_caches()
            assert pref == exact, (
                f"trial {trial} thr {thr}: prefix lost "
                f"{exact - pref} / gained {pref - exact}"
            )


def test_salted_topk_matches_plain_window(spark):
    from pyspark.sql import Window

    from ariadne_cartograph_spark.operators.skew import salted_topk_per_key

    df = _skewed_df(spark).withColumn(
        "uid", F.monotonically_increasing_id()
    )
    order = [F.col("v").desc(), F.col("uid")]
    w = Window.partitionBy("k").orderBy(*order)
    plain = sorted(
        (r.k, r.uid)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    )
    salted = sorted(
        (r.k, r.uid)
        for r in salted_topk_per_key(df, ["k"], order, k=7, n_salts=8).collect()
    )
    assert salted == plain
    # k larger than some groups: still exact.
    plain1 = sorted(
        (r.k, r.uid)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 1000)
        .collect()
    )
    salted1 = sorted(
        (r.k, r.uid)
        for r in salted_topk_per_key(df, ["k"], order, k=1000, n_salts=4).collect()
    )
    assert salted1 == plain1
