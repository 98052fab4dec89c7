"""Misra-Gries heavy hitters (operators/sketch.py) and DSIR-style
importance resampling (operators/sampling.py): guarantee + determinism
evidence beyond the catalog's oracle hash checks."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.sampling import importance_resample
from ariadne_cartograph_spark.operators.sketch import (
    heavy_hitters_topk,
    mg_partials,
)


def _corpus(spark, rows, n_parts=8):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    ).repartition(n_parts)


def test_mg_partials_bounded_output(spark):
    docs = _corpus(spark, [f"tok{i % 50} tok{i % 7}" for i in range(400)], n_parts=4)
    cap = 16
    per_part = (
        mg_partials(docs, "text", capacity=cap)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert per_part, "sketch emitted nothing"
    assert all(r["count"] <= cap for r in per_part)


def test_mg_candidates_contain_all_heavy_tokens(spark):
    # Zipf-ish random corpus; every token with true freq > n/(m+1) must
    # survive in the merged candidate set (mergeable-summaries bound).
    rng = random.Random(7)
    toks = [f"w{min(int(rng.paretovariate(1.1)), 200)}" for _ in range(20000)]
    docs = _corpus(
        spark, [" ".join(toks[i : i + 20]) for i in range(0, len(toks), 20)]
    )
    cap = 32
    cands = {r["tok"] for r in mg_partials(docs, "text", cap).select("tok").collect()}
    from collections import Counter

    true = Counter(toks)
    # merged-summary undercount bound n/(m+1), independent of the
    # partition count (errors add, but so do the per-partition n's)
    bound = len(toks) / (cap + 1)
    heavy = {t for t, c in true.items() if c > bound}
    assert heavy, "test corpus produced no heavy tokens — tighten params"
    assert heavy <= cands, f"missing heavy tokens: {heavy - cands}"


def test_heavy_hitters_topk_exact_when_bound_clears(spark):
    # 300x "hot", 150x "warm", 1000 singletons; n=1450, cap=16 →
    # bound ≈ 85 < 150, so top-2 is guaranteed exact.
    rows = ["hot"] * 300 + ["warm"] * 150 + [f"u{i}" for i in range(1000)]
    random.Random(3).shuffle(rows)
    docs = _corpus(spark, rows)
    got = heavy_hitters_topk(docs, "doc_id", "text", k=2, capacity=16).collect()
    assert [(r["tok"], r["n_occurrences"]) for r in got] == [("hot", 300), ("warm", 150)]


def test_importance_resample_deterministic_across_partitioning(spark):
    rng = random.Random(11)
    vocab_en = ["alpha", "beta", "gamma", "delta"]
    vocab_xx = ["zeta", "eta", "theta", "iota", "alpha"]
    rows = []
    for i in range(300):
        en = i % 3 == 0
        words = rng.choices(vocab_en if en else vocab_xx, k=12)
        rows.append((i, " ".join(words), "en" if en else "xx"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = F.col("lang") == "en"
    a = importance_resample(df.repartition(2), "doc_id", "text", pred, budget=50)
    b = importance_resample(df.repartition(16), "doc_id", "text", pred, budget=50)
    ra, rb = a.collect(), b.collect()
    assert [r["rank"] for r in ra] == list(range(1, 51))
    assert [(r["rank"], r["doc_id"]) for r in ra] == [
        (r["rank"], r["doc_id"]) for r in rb
    ]
    for x, y in zip(ra, rb):
        assert abs(x["log_ratio"] - y["log_ratio"]) < 1e-5


def test_importance_resample_favors_target_like_docs(spark):
    # Docs written purely in target-subset vocabulary must outrank docs
    # written purely in out-of-target vocabulary on raw weight.
    rows = (
        [(i, "alpha beta gamma alpha beta gamma", "en") for i in range(40)]
        + [(100 + i, "zeta eta theta zeta eta theta", "xx") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = importance_resample(
        df, "doc_id", "text", F.col("lang") == "en", budget=80
    ).collect()
    w = {r["doc_id"]: r["log_ratio"] for r in got}
    assert min(w[i] for i in range(40)) > max(w[100 + i] for i in range(40))


def test_logreg_weights_partition_independent(spark):
    """The f32 per-iteration rounding must absorb partition-order sum
    noise: training on 2 vs 32 partitions lands on identical weights."""
    import random

    from ariadne_cartograph_spark.operators.classifier import train_logreg

    rng = random.Random(13)
    rows = [
        (float(rng.randint(5, 200)) / 100.0, float(rng.randint(50, 900)) / 1000.0,
         1.0 if rng.random() < 0.4 else 0.0)
        for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    w2 = train_logreg(df.repartition(2), ["x1", "x2"], "y", n_iter=5, lr=0.5)
    w32 = train_logreg(df.repartition(32), ["x1", "x2"], "y", n_iter=5, lr=0.5)
    assert w2 == w32
    assert any(abs(x) > 1e-4 for x in w2), "training produced all-zero weights"
