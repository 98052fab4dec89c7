"""Streaming/incremental PCA training (T6-style incremental twin of
operators/pca.py): the int64 Gram matrix is ASSOCIATIVE, so per-batch
Gram partials accumulated across an availableNow stream sum to exactly
the batch-mode Gram — the trained direction and every projection are
bit-identical to the offline train, which is what the parity catalog
entry (plans/text_queries.embedding_stream_pca_parity) pins against the
same DuckDB oracle as the batch entry.

This is the standard production shape for model-state maintenance over
an append-only embedding store: each micro-batch contributes a d²
integer increment (model-sized — the driver state is 64×64 longs, never
O(rows)), and retraining after any number of batches is a driver-side
O(iters·d²) pass with no replay of historical data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.pca import Q_SCALE, gram_matrix, quantize_vec
from ..sources.tables import load_table


def stage_embeddings_as_stream_source(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> None:
    """Rewrite the embeddings table as n_files parquet files so a
    file-source stream replays it as (at least) n_files micro-batches
    with maxFilesPerTrigger=1."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb.repartition(n_files).write.mode("overwrite").parquet(stage_dir)


def streaming_gram(
    spark: SparkSession, stage_dir: str, q_scale: int = Q_SCALE
) -> list[list[int]]:
    """Accumulate the exact integer Gram across an availableNow file
    stream (one file per micro-batch). Python-int accumulation on the
    driver: unbounded precision, and each per-batch partial is already
    an exact int64 Spark aggregate."""
    from pyspark.sql import functions as F

    schema = spark.read.parquet(stage_dir).schema
    acc: list[list[int]] = []

    def _process(batch: DataFrame, batch_id: int) -> None:
        qdf = batch.select(quantize_vec(F.col("embedding"), q_scale).alias("q"))
        G = gram_matrix(qdf, "q")
        if not G:
            return
        if not acc:
            acc.extend([row[:] for row in G])
        else:
            for i in range(len(G)):
                for j in range(len(G)):
                    acc[i][j] += G[i][j]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    ckpt = tempfile.mkdtemp(prefix="acs_pca_ckpt_")
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(ckpt, "gram"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return acc
