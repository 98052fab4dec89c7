"""Manifest file-statistics and data-skipping scans (SURVEY.md §2.1 S4
at 100 TB — the READ side of copy-on-write).

The bucketed MERGE table already writes O(touched buckets) per commit;
these tests pin the symmetric scan property: with ``stats_cols`` set,
every commit records per-data-file (min, max, nulls, rows) in the
manifest — computed by scanning back ONLY the files it wrote, carried
by reference for untouched buckets — and ``read_pruned`` skips files a
predicate provably cannot match (Delta/Iceberg file skipping over
plain parquet). The headline property: an incremental consumer
(``updated_at > T``) reads only the buckets written since T. The
reference's pipeline re-scans its whole ways table per run
(`/root/reference/update_ways_metadata.py:19-23`); at 100 TB the
incremental read must be metadata-pruned, not a full scan.

Pruning is advisory, correctness is not: ``read_pruned`` re-applies
the full predicate to surviving files, so every test also checks exact
equality against an unpruned ``read().where(...)``.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.merge import ParquetMergeTable


def _mk(spark, path, **kw):
    return ParquetMergeTable(
        spark,
        str(path),
        "gid",
        stale_marker_sec=2.0,
        retain_versions=10,
        vacuum_grace_sec=600.0,
        **kw,
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "gid bigint, val bigint, updated_at bigint")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def seeded(spark, tmp_path):
    """8-bucket table: 64 keys at updated_at=1, then 3 keys touched at
    updated_at=2 (the incremental batch)."""
    t = _mk(
        spark,
        tmp_path / "t",
        n_buckets=8,
        stats_cols=["val", "updated_at"],
    )
    t.upsert(_df(spark, [(g, g * 10, 1) for g in range(64)]))
    t.upsert(_df(spark, [(g, g * 10 + 1, 2) for g in (3, 17, 42)]))
    return t


def test_stats_recorded_for_every_file_and_carried(spark, seeded):
    m = seeded._manifest_for(None)
    assert set(m["stats"]) == set(m["data"])
    for ent in m["stats"].values():
        assert set(ent) == {"val", "updated_at"}
        for s in ent.values():
            assert s["rows"] > 0 and s["nulls"] == 0
            assert s["min"] is not None and s["min"] <= s["max"]
    # carried buckets kept their v1 stats entry verbatim (same rel)
    m1 = seeded._manifest_for(1)
    carried = set(m["data"]) & set(m1["data"])
    assert carried  # 8 buckets, 3 keys touched: most carry forward
    for rel in carried:
        assert m["stats"][rel] == m1["stats"][rel]


def test_incremental_read_skips_carried_buckets(spark, seeded):
    kept, skipped = seeded.prune_report([("updated_at", ">", 1)])
    # only the buckets rewritten by the updated_at=2 batch survive
    m = seeded._manifest_for(None)
    m1 = seeded._manifest_for(1)
    rewritten = set(m["data"]) - set(m1["data"])
    assert set(kept) == rewritten and len(kept) <= 3
    got = _sorted_rows(seeded.read_pruned([("updated_at", ">", 1)]))
    want = _sorted_rows(seeded.read().where(F.col("updated_at") > 1))
    assert got == want
    assert {r[0] for r in got} == {3, 17, 42}


@pytest.mark.parametrize(
    "preds",
    [
        [("val", "=", 171)],
        [("val", "in", (171, 421, 999999))],
        [("val", "<=", 50), ("updated_at", "=", 1)],
        [("val", ">", 500)],
        [("updated_at", ">=", 2), ("val", "<", 400)],
    ],
)
def test_pruned_scan_exact_vs_unpruned(spark, seeded, preds):
    got = _sorted_rows(seeded.read_pruned(preds))
    ref = seeded.read()
    for c, op, v in preds:
        ref = ref.where(ParquetMergeTable._pred_expr(c, op, v))
    assert got == _sorted_rows(ref)


def test_impossible_predicate_prunes_everything(spark, seeded):
    kept, skipped = seeded.prune_report([("val", "=", 10**9)])
    assert kept == [] and len(skipped) == len(seeded._manifest_for(None)["data"])
    df = seeded.read_pruned([("val", "=", 10**9)])
    assert df.count() == 0
    assert set(df.columns) >= {"gid", "val", "updated_at"}


def test_null_stats_and_is_null_pruning(spark, seeded):
    # no nulls anywhere: is_null prunes every file, exactly
    kept, _ = seeded.prune_report([("val", "is_null")])
    assert kept == []
    assert seeded.read_pruned([("val", "is_null")]).count() == 0
    # insert a NEW key with NULL val (upsert is NULL-no-overwrite for
    # existing keys); only its bucket should survive the prune
    seeded.upsert(
        spark.createDataFrame(
            [(1000, None, 3)], "gid bigint, val bigint, updated_at bigint"
        )
    )
    kept, _ = seeded.prune_report([("val", "is_null")])
    assert len(kept) == 1
    got = _sorted_rows(seeded.read_pruned([("val", "is_null")]))
    assert got == _sorted_rows(seeded.read().where(F.col("val").isNull()))
    assert len(got) == 1 and got[0][0] == 1000
    # comparison predicates never match NULL rows (SQL semantics): the
    # pruned result must equal the unpruned .where on the same table
    got = _sorted_rows(seeded.read_pruned([("val", ">", -1)]))
    assert got == _sorted_rows(seeded.read().where(F.col("val") > -1))
    assert all(r[1] is not None for r in got)


def test_delete_refreshes_stats(spark, seeded):
    m_before = seeded._manifest_for(None)
    seeded.delete(spark.createDataFrame([(42,)], "gid bigint"))
    m = seeded._manifest_for(None)
    assert set(m["stats"]) == set(m["data"])
    # the rewritten bucket's stats changed rel (fresh dir), carried ones didn't
    assert set(m["data"]) != set(m_before["data"])
    got = _sorted_rows(seeded.read_pruned([("updated_at", ">", 1)]))
    assert {r[0] for r in got} == {3, 17}


def _key(spark, g):
    return spark.createDataFrame([(g,)], "gid bigint")


def test_point_lookup_reads_single_bucket(spark, seeded):
    df = seeded.read_keys(_key(spark, 17))
    rows = df.collect()
    assert len(rows) == 1 and rows[0].val == 171
    files = df.inputFiles()
    assert files and len({f.split("__bucket=")[1].split("/")[0] for f in files}) == 1
    # provably-absent key in a populated bucket: empty, still 1 bucket
    assert seeded.read_keys(_key(spark, 10**9)).count() == 0
    # time travel: the pre-incremental version sees the old value
    assert seeded.read_keys(_key(spark, 17), version=1).collect()[0].val == 170


def test_point_lookup_unbucketed_fallback(spark, tmp_path):
    t = _mk(spark, tmp_path / "plain", stats_cols=["val"])
    t.upsert(_df(spark, [(g, g, 1) for g in range(10)]))
    assert t.read_keys(_key(spark, 7)).collect()[0].val == 7
    assert t.read_keys(_key(spark, 99)).count() == 0


def test_no_stats_cols_keeps_everything_and_stays_exact(spark, tmp_path):
    t = _mk(spark, tmp_path / "nostats", n_buckets=4)
    t.upsert(_df(spark, [(g, g, 1) for g in range(20)]))
    kept, skipped = t.prune_report([("val", "=", 5)])
    assert skipped == [] and len(kept) > 0
    got = _sorted_rows(t.read_pruned([("val", "=", 5)]))
    assert got == [(5, 5, 1)]


def test_bad_predicates_rejected(spark, seeded):
    with pytest.raises(ValueError):
        seeded.prune_report([("val", "between", 1, 2)])
    with pytest.raises(ValueError):
        seeded.read_pruned([("val", "~", 1)])


# ---------------------------------------------------------------------------
# optimize(): range-clustered rewrite (Delta OPTIMIZE ZORDER analog)
# ---------------------------------------------------------------------------


def test_optimize_clusters_tighten_pruning(spark, tmp_path):
    """Before optimize: one plain data dir -> every scan reads it.
    After optimize(cluster by val, 8 files): a narrow val range prunes
    to a small fraction of the rels, and content is bit-identical."""
    t = _mk(spark, tmp_path / "t", stats_cols=["val", "updated_at"])
    # val deliberately uncorrelated with insert order
    t.upsert(_df(spark, [(g, (g * 37) % 512, 1) for g in range(512)]))
    before = _sorted_rows(t.read())

    assert t.optimize(["val"], n_files=8)
    assert _sorted_rows(t.read()) == before  # rewrite preserves content

    kept, skipped = t.prune_report([("val", ">=", 100), ("val", "<", 120)])
    assert len(kept) + len(skipped) >= 6  # clustered into several rels
    assert len(kept) <= 2  # disjoint ranges: narrow predicate -> few rels
    pruned = t.read_pruned([("val", ">=", 100), ("val", "<", 120)])
    expect = t.read().where((F.col("val") >= 100) & (F.col("val") < 120))
    assert _sorted_rows(pruned) == _sorted_rows(expect)


def test_optimize_zorder_two_dims(spark, tmp_path):
    """Morton-interleave clustering tightens BOTH raw dimensions: a
    predicate on either column alone prunes after optimize()."""
    from ariadne_cartograph_spark.sources.layout import morton_key

    t = ParquetMergeTable(
        spark, str(tmp_path / "t"), "gid",
        stale_marker_sec=2.0, retain_versions=10, vacuum_grace_sec=600.0,
        stats_cols=["x", "y"],
    )
    rows = [(g, g % 64, (g * 29) % 64) for g in range(1024)]
    t.upsert(spark.createDataFrame(rows, "gid bigint, x bigint, y bigint"))
    assert t.optimize([morton_key("x", "y", bits=8), "x", "y"], n_files=16)

    for col in ("x", "y"):
        kept, skipped = t.prune_report([(col, ">=", 0), (col, "<", 8)])
        assert skipped, f"no pruning on {col}"
        pruned = t.read_pruned([(col, ">=", 0), (col, "<", 8)])
        expect = t.read().where((F.col(col) >= 0) & (F.col(col) < 8))
        assert _sorted_rows(pruned.select("gid", "x", "y")) == _sorted_rows(
            expect.select("gid", "x", "y")
        )


def test_optimize_rejects_bucketed_layout(spark, seeded):
    with pytest.raises(ValueError, match="plain layout"):
        seeded.optimize(["val"])


def test_optimize_then_upsert_stays_correct(spark, tmp_path):
    """A post-optimize upsert (plain layout: full rewrite) replaces the
    clustered snapshot wholesale and stays readable + time-travelable."""
    t = _mk(spark, tmp_path / "t", stats_cols=["val"])
    t.upsert(_df(spark, [(g, g, 1) for g in range(100)]))
    t.optimize(["val"], n_files=4)
    v_clustered = t.history()[-1]
    t.upsert(_df(spark, [(5, 999, 2)]))
    got = {r["gid"]: r["val"] for r in t.read().collect()}
    assert got[5] == 999 and got[6] == 6 and len(got) == 100
    old = {r["gid"]: r["val"] for r in t.read(version=v_clustered).collect()}
    assert old[5] == 5  # the clustered snapshot is still intact


# ---------------------------------------------------------------------------
# changes(): CHANGE DATA FEED between retained versions
# ---------------------------------------------------------------------------


def test_change_feed_classifies_all_four(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_buckets=4)
    t.upsert(_df(spark, [(1, 10, 1), (2, 20, 1), (3, 30, 1)]))      # v1
    t.upsert(_df(spark, [(2, 99, 2), (4, 40, 2)]))                  # v2: update 2, insert 4
    t.delete(spark.createDataFrame([(3,)], "gid bigint"))           # v3: delete 3
    got = {
        r["gid"]: (r["change"], r["old_val"], r["new_val"])
        for r in t.changes(1, compare_cols=["val"]).collect()
    }
    assert got == {
        1: ("unchanged", 10, 10),
        2: ("update", 20, 99),
        3: ("delete", 30, None),
        4: ("insert", None, 40),
    }
    # narrower window: v2 -> v3 sees only the delete
    got23 = {r["gid"]: r["change"] for r in t.changes(2, 3, ["val"]).collect()}
    assert got23 == {1: "unchanged", 2: "unchanged", 4: "unchanged", 3: "delete"}
    with pytest.raises(ValueError):
        t.changes(99)  # never-committed version


# ---------------------------------------------------------------------------
# stats_summary(): metadata-only count/min/max/nulls
# ---------------------------------------------------------------------------


def test_stats_summary_metadata_only(spark, seeded):
    s = seeded.stats_summary(["val", "updated_at"])
    real = seeded.read().agg(
        F.count(F.lit(1)), F.min("val"), F.max("val"),
        F.sum(F.col("val").isNull().cast("long")),
    ).collect()[0]
    assert s["rows"] == real[0]
    assert s["cols"]["val"] == {"min": real[1], "max": real[2], "nulls": real[3]}
    # time travel: the pre-incremental version's summary differs
    s1 = seeded.stats_summary(["updated_at"], version=1)
    assert s1["cols"]["updated_at"]["max"] == 1
    assert seeded.stats_summary(["updated_at"])["cols"]["updated_at"]["max"] == 2


def test_stats_summary_declines_honestly(spark, tmp_path):
    # no stats_cols configured -> no stats entries -> decline
    t = _mk(spark, tmp_path / "nostats", n_buckets=2)
    t.upsert(_df(spark, [(1, 1, 1)]))
    assert t.stats_summary(["val"]) is None
    # unknown column -> decline
    t2 = _mk(spark, tmp_path / "s", stats_cols=["val"])
    t2.upsert(_df(spark, [(1, 1, 1)]))
    assert t2.stats_summary(["nope"]) is None
    # all-NULL column in a file -> min/max unrepresentable -> decline
    t3 = _mk(spark, tmp_path / "nulls", stats_cols=["val"])
    t3.upsert(
        spark.createDataFrame([(1, None, 1)], "gid bigint, val bigint, updated_at bigint")
    )
    assert t3.stats_summary(["val"]) is None
    # empty table: zero rows, no cols
    t4 = _mk(spark, tmp_path / "empty", stats_cols=["val"])
    assert t4.stats_summary(["val"]) == {"rows": 0, "cols": {}}
