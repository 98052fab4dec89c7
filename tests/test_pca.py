"""operators/pca.py — distributed PCA projection.

Pins: (1) partition-count independence of the integer Gram (the
determinism contract the oracle relies on), (2) agreement of the
trained direction with numpy's exact top eigenvector on a spectrally
well-separated corpus, (3) the degenerate zero-Gram guard, (4) the
int64-envelope assertion.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from ariadne_cartograph_spark.operators.pca import (
    Q_SCALE,
    V_SCALE,
    gram_matrix,
    pca_power_project,
    power_iteration,
    quantize_vec,
)


def _mkdf(spark, X, parts=4):
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        parts
    )


def test_gram_partition_independence(spark):
    rng = np.random.RandomState(3)
    X = rng.randn(200, 8).astype(np.float32) * 0.3
    import pyspark.sql.functions as F

    grams = []
    for parts in (1, 3, 13):
        df = _mkdf(spark, X, parts).select(
            quantize_vec(F.col("embedding")).alias("q")
        )
        grams.append(gram_matrix(df, "q"))
    assert grams[0] == grams[1] == grams[2]
    # and it equals the exact numpy int64 Gram of the same quantization
    Q = np.floor(X.astype(np.float64) * Q_SCALE + 0.5).astype(np.int64)
    assert grams[0] == (Q.T @ Q).tolist()


def test_direction_matches_numpy_eigenvector(spark):
    # strongly 1-spike spectrum: power iteration converges in 3 steps
    rng = np.random.RandomState(11)
    d = 16
    u = rng.randn(d)
    u /= np.linalg.norm(u)
    X = np.outer(rng.randn(400) * 3.0, u) + rng.randn(400, d) * 0.05
    X = X.astype(np.float32)
    import pyspark.sql.functions as F

    df = _mkdf(spark, X).select(quantize_vec(F.col("embedding")).alias("q"))
    G = gram_matrix(df, "q")
    p = np.array(power_iteration(G), dtype=np.float64)
    p /= np.linalg.norm(p)
    w, V = np.linalg.eigh(np.array(G, dtype=np.float64))
    top = V[:, np.argmax(w)]
    assert abs(float(p @ top)) > 0.999


def test_projection_exact_integer_dot(spark):
    rng = np.random.RandomState(5)
    X = rng.randn(50, 6).astype(np.float32) * 0.4
    df = _mkdf(spark, X, 2)
    out = {
        r["vec_id"]: r["pc1"]
        for r in pca_power_project(df, ["vec_id"], "embedding").collect()
    }
    Q = np.floor(X.astype(np.float64) * Q_SCALE + 0.5).astype(np.int64)
    p = power_iteration((Q.T @ Q).tolist())
    for i in range(len(X)):
        assert out[i] == int(Q[i] @ np.array(p, dtype=np.int64))


def test_zero_gram_keeps_init_direction():
    G = [[0] * 4 for _ in range(4)]
    assert power_iteration(G) == [1, 0, 0, 0]


def test_int64_envelope_assertion():
    big = 2**62
    G = [[big, big], [big, big]]
    with pytest.raises(AssertionError, match="envelope"):
        power_iteration(G)


def test_gram_envelope_enforced_in_accumulation(spark):
    # r12 advice: the power-iteration assert cannot see a Gram entry
    # that already wrapped during the int64 X.T@X accumulation — the
    # partial itself must enforce sum(n·max|q|^2) < 2^63. Two rows of
    # ~sqrt(2^63) exceed the envelope and must raise, not wrap.
    from ariadne_cartograph_spark.operators.pca import gram_matrix

    big = 3_100_000_000  # big^2 > 2^63 / 2
    df = spark.createDataFrame([([big, 0],), ([big, 0],)], "q array<long>")
    with pytest.raises(Exception, match="envelope"):
        gram_matrix(df.repartition(1), "q")

    # well inside the envelope: exact, sentinel rows stripped
    small = spark.createDataFrame([([3, 4],), ([1, 2],)], "q array<long>")
    assert gram_matrix(small, "q") == [[10, 14], [14, 20]]


def test_iteration_float_semantics_match_sql_formula():
    # floor(u * 32768.0 / m + 0.5) with huge ints: Python must follow
    # the same IEEE sequence the oracle uses (int->double once, exact
    # *2^15, one rounded divide). Spot-check a value where naive
    # rational arithmetic would differ in the last ulp.
    u, m = 3698123456789012345, 7396246913578024689
    got = math.floor(u * float(V_SCALE) / m + 0.5)
    want = math.floor((float(u) * 32768.0) / float(m) + 0.5)
    assert got == want


def test_streaming_gram_equals_batch_gram(spark, tmp_path):
    import pyspark.sql.functions as F

    from ariadne_cartograph_spark.streaming.pca import streaming_gram

    rng = np.random.RandomState(9)
    X = rng.randn(120, 8).astype(np.float32) * 0.3
    rows = [(i, 0, [float(v) for v in x]) for i, x in enumerate(X)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    batch_G = gram_matrix(
        df.select(quantize_vec(F.col("embedding")).alias("q")), "q"
    )
    for n_files in (1, 5):
        stage = str(tmp_path / f"stage{n_files}")
        df.repartition(n_files).write.mode("overwrite").parquet(stage)
        assert streaming_gram(spark, stage) == batch_G
