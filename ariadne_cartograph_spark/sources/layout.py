"""Table layouts for the 100 TB posture (SURVEY.md §4.1 partition
pruning): a Z-order key for sort-on-write, the partitioned text-corpus
layout, small-file compaction, and promoted tag-key presence columns
that give the OSM tables row-group skipping.

The reference has no partitioning (its PostGIS tables rely on GiST
indexes, README.md:27-31 — S9, a documented non-goal for Spark); the
Spark-native substitute is Hive-style partition layout plus Catalyst's
static partition pruning and parquet min/max statistics, which turn a
predicate into "read only these directories / row groups".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def morton_key(x_col: str | F.Column, y_col: str | F.Column, bits: int = 16) -> F.Column:
    """Z-order (Morton) interleave of two non-negative integer columns
    into one long: bit i of x lands at position 2i, bit i of y at
    2i+1. Sorting on this key clusters 2-D-near rows near each other
    in 1-D file order, so a bbox scan touches O(few) row-group ranges
    instead of striding the whole file — the standard lakehouse
    Z-ORDER layout trick, here as a plain column expression (pure bit
    math, whole-stage codegen, no UDF).

    ``bits`` per dimension (≤31; 16 covers tile coords to z16). Values
    must fit in ``bits`` bits — caller clamps/validates upstream.
    """
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = x.cast("long")
    y = y.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1).cast("long")), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1).cast("long")), 2 * i + 1)
        )
    return out


def write_corpus_layout(
    docs: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    sort_col: str | None = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Text-corpus layout for the LLM-pipeline side (partition
    pruning applied to `documents`): Hive-
    partition by low-cardinality curation keys (source, lang) so
    domain-scoped jobs — per-domain dedup, mixture resampling, quality
    sweeps — prune whole directories before any I/O; sort within files
    on the dedup key so fingerprint ranges cluster per row group and
    min/max stats skip pages.

    repartition on the partition keys first: one writing task per
    partition directory, no tasks×partitions small-file explosion."""
    pcols = partition_cols or ["source", "lang"]
    keyed = docs.repartition(*pcols)
    if sort_col:
        keyed = keyed.sortWithinPartitions(*pcols, sort_col)
    keyed.write.mode(mode).partitionBy(*pcols).parquet(path)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction for append-heavy parquet dirs (streaming
    sinks, incremental upserts): rewrite the directory into
    ceil(bytes / target) files, optionally re-sorted so min/max stats
    regain selectivity. Returns the new file count.

    SINGLE-WRITER, NO-CONCURRENT-READER semantics: the rewrite goes
    through a sibling temp dir and two renames (old → trash, temp →
    live), and between those renames the live path briefly does not
    exist — a reader racing the swap can fail. A crash in that window
    is recoverable: the next call restores the trash dir before
    compacting (no data loss either way — the data sits complete in
    trash). At real scale this is a table-format job (Iceberg/Delta
    rewrite actions hold a lock / use snapshots); the file-swap form
    here is the no-dependency equivalent for plain parquet dirs."""
    import math
    import os
    import shutil

    trash0 = path.rstrip("/") + ".__compact_old__"
    if not os.path.isdir(path) and os.path.isdir(trash0):
        # crashed between the two renames of a previous run: the trash
        # dir holds the complete pre-compaction data — restore it.
        os.rename(trash0, path)

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    trash = path.rstrip("/") + ".__compact_old__"
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, trash)
    os.rename(tmp, path)
    shutil.rmtree(trash)
    return n_out


# ---------------------------------------------------------------------------
# hstore-index substitute (S9, `/root/reference/README.md:29-31`): the
# reference creates `CREATE INDEX ... USING gist(tags)` on all three
# planet_osm tables so `tags ? 'key'` / `tags->'key' = v` queries don't
# scan. Spark has no secondary indexes and a parquet map column carries
# no usable row-group statistics — so the substitute is PROMOTED
# PRESENCE COLUMNS: one boolean `__has_<key>` per indexed tag key,
# written alongside the map. Booleans get real parquet min/max stats,
# so a row group where no row carries the key has max(__has_k)=false
# and is skipped entirely by the pushed filter; the residual map stays
# complete for everything else (exactly osm2pgsql's promoted-column +
# hstore split, applied to skipping instead of schema).
# ---------------------------------------------------------------------------

TAG_INDEX_PREFIX = "__has_"


def tag_index_column(key: str) -> str:
    """Indexed column name for a tag key (':' and other non-word chars
    → '_', the osm2pgsql column convention)."""
    import re

    return TAG_INDEX_PREFIX + re.sub(r"\W", "_", key)


def with_tag_key_index(
    df: DataFrame, keys: list[str], tags_col: str = "tags"
) -> DataFrame:
    """Append one `__has_<key>` boolean per indexed key. Sanitized
    names must stay distinct (e.g. 'a:b' vs 'a_b' would collide —
    rejected loudly rather than silently merged)."""
    cols = [tag_index_column(k) for k in keys]
    if len(set(cols)) != len(cols):
        raise ValueError(f"tag keys collide after sanitization: {keys}")
    out = df
    for key, col in zip(keys, cols):
        out = out.withColumn(col, F.col(tags_col).getItem(key).isNotNull())
    return out


# Layout version of write_tag_indexed's on-disk format: BUMP whenever
# the presence-column naming, sort order, or any other at-rest shape
# changes, so content-keyed fixture caches (scan_tag_index_pruned)
# can fold it into their digest and never reuse a stale layout.
TAG_INDEX_LAYOUT_VERSION = 1


def write_tag_indexed(
    df: DataFrame,
    path: str,
    keys: list[str],
    tags_col: str = "tags",
    mode: str = "overwrite",
    sort_by_first_key: bool = True,
) -> None:
    """Write with presence columns for ``keys``. By default rows are
    sorted within partitions on the presence columns so each boolean
    CLUSTERS into all-true / all-false row groups — that's what makes
    min/max skipping decisive instead of probabilistic (the same
    sort-for-stats move write_corpus_layout does for fingerprints)."""
    indexed = with_tag_key_index(df, keys, tags_col)
    if sort_by_first_key:
        indexed = indexed.sortWithinPartitions(
            *[F.col(tag_index_column(k)).desc() for k in keys]
        )
    indexed.write.mode(mode).parquet(path)


def indexed_tag_predicate(
    df: DataFrame, key: str, value: str | None = None, tags_col: str = "tags"
) -> F.Column:
    """The query-side rewrite: `tags ? key` (value None) or
    `tags->key = value`, expressed through the presence column when the
    table carries one — the boolean conjunct is a plain source filter
    parquet can evaluate against row-group stats, while the map lookup
    (which parquet cannot skip on) only runs on surviving groups.
    Tables without the index fall back to the raw map expression, so
    callers can use this unconditionally."""
    has = F.col(tags_col).getItem(key).isNotNull()
    col = tag_index_column(key)
    if col in df.columns:
        has = F.col(col)
    if value is None:
        return has
    return has & (F.col(tags_col).getItem(key) == value)
