"""Python UDTF surface (U3): a row-at-a-time chunker UDTF, the
reference implementation of the chunk formula, must emit exactly what
the production column-math chunker plan
(plans/text_queries.text_chunking) emits."""

from __future__ import annotations

import math
import re

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx int, chunk_tokens bigint, chunk_text string")
class ChunkDoc:
    """Overlapping fixed-size token windows for one document: chunk i
    covers tokens [i*stride, i*stride + size); n_chunks =
    max(ceil((n - size)/stride) + 1, 1)."""

    def eval(self, text: str, size: int, stride: int):
        # re.split(r"\s+") matches Spark's F.split(text, r"\s+")
        # exactly, including the leading-empty-token and empty-string
        # edge cases.
        toks = re.split(r"\s+", text or "")
        n_chunks = max(math.ceil((len(toks) - size) / stride) + 1, 1)
        for i in range(n_chunks):
            chunk = toks[i * stride : i * stride + size]
            yield i, len(chunk), " ".join(chunk)


def test_udtf_chunker_matches_column_math_chunker(spark):
    from ariadne_cartograph_spark.plans.text_queries import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
        text_chunking,
    )
    from ariadne_cartograph_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    spark.udtf.register("chunk_doc", ChunkDoc)
    docs = load_table(spark, sf, "documents")
    docs.createOrReplaceTempView("docs_udtf_src")
    got = spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx,
               c.chunk_tokens, md5(c.chunk_text) AS chunk_md5
        FROM docs_udtf_src d,
             LATERAL chunk_doc(d.text, {_CHUNK_SIZE}, {_CHUNK_STRIDE}) c
        """
    )
    want = text_chunking(spark, sf)
    g = {(r.doc_id, r.chunk_idx): (r.chunk_tokens, r.chunk_md5) for r in got.collect()}
    w = {(r.doc_id, r.chunk_idx): (r.chunk_tokens, r.chunk_md5) for r in want.collect()}
    assert g == w


def test_udtf_chunker_edge_cases(spark):
    spark.udtf.register("chunk_doc_e", ChunkDoc)
    df = spark.createDataFrame(
        [(1, "one two three"), (2, "")], ["id", "text"]
    )
    df.createOrReplaceTempView("edge_docs")
    rows = spark.sql(
        "SELECT id, c.* FROM edge_docs, LATERAL chunk_doc_e(text, 2, 1) c"
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append((r.chunk_idx, r.chunk_tokens, r.chunk_text))
    # 3 tokens, size 2, stride 1 → ceil((3-2)/1)+1 = 2 chunks
    assert sorted(by_id[1]) == [(0, 2, "one two"), (1, 2, "two three")]
    # empty text → one chunk containing the single empty token
    assert by_id[2] == [(0, 1, "")]
