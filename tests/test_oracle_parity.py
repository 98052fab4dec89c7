"""Driver-gate mirror: every catalog query with an oracle must
hash-match DuckDB on the same parquet (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import pytest

from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries
from ariadne_cartograph_spark.plans.oracle_harness import compare, duckdb_connection

get_queries()  # populate REGISTRY

_WITH_ORACLE = sorted(n for n, e in REGISTRY.items() if e.oracle is not None)
_ROWS_ONLY = sorted(n for n, e in REGISTRY.items() if e.oracle is None)

# Tier-2 parity entries (r15): these 17 cases each cost 8-50 s at
# sf0.001 — dominated by the DuckDB side replaying BFS/stream/k-means
# loops — and together were ~325 s of the default run. Every one stays
# covered each round by the full-catalog sweep
# (tools/full_parity_artifact.py → PARITY_sf0.01.json) and the entries
# in the driver's live window are hashed by the driver itself; the
# default tier keeps a same-family representative for each (e.g.
# osm_route_members for the routing family, events_stream_session_
# parity for the stream drains, similarity_topk_cosine for the ANN
# family).
_SLOW_PARITY = {
    "ann_recall_eval",
    "corpus_leakage_safe_split",
    "dedup_cluster_resolution",
    "dedup_keep_best_quality",
    "docs_incremental_dedup_parity",
    "docs_stream_topk_parity",
    "events_stream_interval_join_parity",
    "osm_diff_incremental_parity",
    "osm_replication_pipeline_parity",
    "osm_route_bfs_reach",
    "osm_route_cost_matrix",
    "osm_style_feature_tables",
    "osm_topology_mapconfig",
    "similarity_ann_ivf",
    "similarity_ann_ivf_trained",
    "similarity_ann_ivfpq",
    "similarity_ann_lsh",
}


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_PARITY else n
        for n in _WITH_ORACLE
    ],
)
def test_oracle_parity(name, spark, sf_dir, oracle_con):
    entry = REGISTRY[name]
    report = compare(name, entry.fn(spark, sf_dir), entry.oracle, sf_dir, con=oracle_con)
    assert report.ok, report.describe()


def test_slow_parity_names_are_live():
    """A renamed/removed catalog entry must not leave a stale tier-2
    name silently deselecting nothing."""
    stale = _SLOW_PARITY - set(_WITH_ORACLE)
    assert not stale, f"_SLOW_PARITY names not in the catalog: {sorted(stale)}"


def test_no_rows_only_entries_remain():
    """Round-7 invariant: EVERY catalog entry carries a full value-hash
    oracle (the last holdouts — BPE merge training, the enrichment
    fixture, and trained-IVF k-means — gained replay/census oracles).
    A new entry without one must be a deliberate, documented decision,
    not an accident."""
    assert _ROWS_ONLY == [], (
        f"entries without oracles: {_ROWS_ONLY} — add an oracle or "
        "document why the semantics are not SQL-expressible"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(se.oracle_sql()) <= set(se.queries())


def test_sweep_isolates_an_entry_that_raises_while_planning(spark, sf_dir, monkeypatch):
    """An entry whose plan build raises fails in its own ParityReport;
    the sweep still reports the entries after it."""
    from ariadne_cartograph_spark.plans.catalog import CatalogEntry
    from ariadne_cartograph_spark.plans.oracle_harness import run_catalog_parity

    def raises(spark, sf_dir):
        raise RuntimeError("plan build failed")

    def one_row(spark, sf_dir):
        return spark.createDataFrame([(1,)], "x int")

    monkeypatch.setitem(REGISTRY, "aa_raises", CatalogEntry("aa_raises", raises, "SELECT 1 AS x"))
    monkeypatch.setitem(REGISTRY, "ab_one_row", CatalogEntry("ab_one_row", one_row, "SELECT 1 AS x"))
    reports = {r.name: r for r in run_catalog_parity(spark, sf_dir, ["aa_raises", "ab_one_row"])}
    assert not reports["aa_raises"].ok
    assert reports["aa_raises"].error == "RuntimeError: plan build failed"
    assert reports["ab_one_row"].ok, reports["ab_one_row"].describe()
