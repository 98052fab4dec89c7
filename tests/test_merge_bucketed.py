"""Bucketed copy-on-write MERGE (SURVEY.md §2.1 S4 at 100 TB).

The plain ParquetMergeTable rewrites the whole table per upsert —
O(table) I/O per batch, unusable against a huge table. With
``n_buckets=N`` an upsert scans and rewrites ONLY the hash buckets
containing updated keys; every other bucket's files are carried into
the new snapshot manifest by reference (Delta MERGE's file-pruning
model, re-expressed over plain parquet). These tests pin:

- value equivalence with the plain layout (same ON CONFLICT semantics,
  `/root/reference/update_ways_metadata.py:50-54`),
- the pruning property itself (untouched buckets are NOT rewritten),
- time travel / txn replay / vacuum shared-file retention under
  bucketing.
"""

from __future__ import annotations

import itertools
import os

import pytest

from ariadne_cartograph_spark.operators.merge import ParquetMergeTable


def _rows(df):
    return {r.gid: tuple(r)[1:] for r in df.collect()}


def test_bucketed_equals_plain(spark, tmp_path):
    """The same upsert sequence (inserts, full-row updates, per-column
    updates, a new column) lands identically in both layouts."""
    plain = ParquetMergeTable(spark, str(tmp_path / "plain"), key="gid")
    buck = ParquetMergeTable(spark, str(tmp_path / "buck"), key="gid", n_buckets=8)
    batches = [
        ([(i, float(i), "a") for i in range(20)], None),
        ([(5, -5.0, "b"), (21, 21.0, "c")], None),  # update + insert
        ([(7, 70.0), (8, 80.0)], ["val"]),  # per-column: tag untouched
    ]
    for rows, cols in batches[:2]:
        df = spark.createDataFrame(rows, "gid long, val double, tag string")
        plain.upsert(df)
        buck.upsert(df)
    df = spark.createDataFrame(batches[2][0], "gid long, val double")
    plain.upsert(df, update_cols=["val"])
    buck.upsert(df, update_cols=["val"])
    # schema evolution: a column the table never had
    df = spark.createDataFrame([(3, 1.5)], "gid long, score double")
    plain.upsert(df, update_cols=["score"])
    buck.upsert(df, update_cols=["score"])
    p = {r.gid: (r.val, r.tag, r.score) for r in plain.read().collect()}
    b = {r.gid: (r.val, r.tag, r.score) for r in buck.read().collect()}
    assert p == b
    assert p[5] == (-5.0, "b", None)
    assert p[7] == (70.0, "a", None)
    assert p[3] == (3.0, "a", 1.5)


def test_bucketed_rewrites_only_affected_buckets(spark, tmp_path):
    """The 100 TB property: an upsert touching keys in k buckets
    produces a manifest whose OTHER bucket entries are byte-identical
    references to the previous snapshot's files."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=16)
    t.upsert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(200)], "gid long, val double"
        )
    )
    m1 = t._read_manifest(t._current()[1])
    assert m1["n_buckets"] == 16 and len(m1["buckets"]) > 4
    t.upsert(spark.createDataFrame([(0, -1.0)], "gid long, val double"))
    m2 = t._read_manifest(t._current()[1])
    changed = {
        b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"].get(b)
    }
    assert len(changed) == 1  # exactly the bucket holding gid=0
    # carried-over references still resolve to the ORIGINAL files
    for b, rel in m2["buckets"].items():
        if b not in changed:
            assert rel == m1["buckets"][b]
            assert os.path.exists(os.path.join(t.path, rel))
    rows = _rows(t.read())
    assert rows[0] == (-1.0,) and rows[1] == (1.0,) and len(rows) == 200


def test_bucketed_time_travel_txn_and_vacuum(spark, tmp_path):
    """Retention semantics under shared files: a vacuumed version's
    manifest goes away, but data leaves still referenced by retained
    versions survive GC; replayed txn versions are skipped."""
    t = ParquetMergeTable(
        spark,
        str(tmp_path / "tbl"),
        key="gid",
        n_buckets=4,
        retain_versions=2,
        stale_marker_sec=0.0,
    )
    sink = t.streaming_sink("app")
    sink(spark.createDataFrame([(i, 1.0) for i in range(40)], "gid long, val double"), 0)
    sink(spark.createDataFrame([(0, 2.0)], "gid long, val double"), 1)
    sink(spark.createDataFrame([(1, 3.0)], "gid long, val double"), 2)
    # replay of batch 1 is skipped against the current high-water mark
    sink(spark.createDataFrame([(0, 99.0)], "gid long, val double"), 1)
    assert t._current()[0] == 3
    assert _rows(t.read())[0] == (2.0,)
    assert t.history() == [1, 2, 3]
    assert _rows(t.read(1))[0] == (1.0,)
    # vacuum v1; v2/v3 manifests share v1-era leaves for untouched
    # buckets — those leaves must survive the GC pass
    assert t.vacuum(grace_sec=0.0) == [1]
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        t.read(1)
    assert _rows(t.read(2))[0] == (2.0,)
    assert len(_rows(t.read())) == 40


def test_bucket_count_fixed_by_manifest(spark, tmp_path):
    """Reopening with a different n_buckets must not shift the
    key→bucket map: the first commit's count is authoritative."""
    t1 = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=8)
    t1.upsert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "gid long, val double"
        )
    )
    t2 = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=3)
    t2.upsert(spark.createDataFrame([(0, -1.0)], "gid long, val double"))
    m = t2._read_manifest(t2._current()[1])
    assert m["n_buckets"] == 8
    rows = _rows(t2.read())
    assert rows[0] == (-1.0,) and len(rows) == 50


def test_bucketed_null_key_rows_carried(spark, tmp_path):
    """NULL keys hash to a stable bucket and never match each other in
    the full-outer merge (same as the plain layout / SQL semantics)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=4)
    t.upsert(spark.createDataFrame([(None, 1.0), (1, 1.0)], "gid long, val double"))
    t.upsert(spark.createDataFrame([(None, 2.0)], "gid long, val double"))
    rows = t.read().collect()
    assert sorted(r.val for r in rows if r.gid is None) == [1.0, 2.0]
    assert len(rows) == 3


def test_bucketed_concurrent_writers(spark, tmp_path):
    """OCC serialization holds identically under the bucketed layout:
    racing disjoint-key upserts all land."""
    import threading

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=4)
    t.upsert(spark.createDataFrame([(0, 0.0)], "gid long, val double"))
    errs = []

    def writer(base):
        try:
            t.upsert(
                spark.createDataFrame(
                    [(base * 10 + i, float(base)) for i in range(3)],
                    "gid long, val double",
                )
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    rows = _rows(t.read())
    assert rows[0] == (0.0,)
    for b in (1, 2):
        for i in range(3):
            assert rows[b * 10 + i] == (float(b),)
    assert t._current()[0] == 3


def test_delete_rewrites_only_affected_buckets(spark, tmp_path):
    """GDPR-style key delete under copy-on-write: rows gone, untouched
    buckets carried by reference, a fully-emptied bucket drops out of
    the manifest, absent-key deletes still advance the version (txn
    high-water must move), and pre-delete versions stay readable."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=16)
    t.upsert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(200)], "gid long, val double"
        )
    )
    m1 = t._read_manifest(t._current()[1])
    # find one bucket's full key set so the delete empties it
    import pyspark.sql.functions as F

    bexpr = F.pmod(F.xxhash64("gid"), F.lit(16)).cast("int")
    by_bucket = {}
    for r in t.read().select("gid", bexpr.alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.gid)
    victim_bucket, victims = min(by_bucket.items(), key=lambda kv: len(kv[1]))
    assert t.delete(
        spark.createDataFrame([(g,) for g in victims], "gid long")
    )
    m2 = t._read_manifest(t._current()[1])
    assert str(victim_bucket) not in m2["buckets"]  # emptied → dropped
    for b, rel in m2["buckets"].items():
        assert rel == m1["buckets"][b]  # every surviving bucket reused
    rows = _rows(t.read())
    assert len(rows) == 200 - len(victims)
    assert not set(victims) & set(rows)
    # pre-delete version still readable (time travel)
    assert len(_rows(t.read(1))) == 200
    # absent keys: commits (version advances), carries everything
    v = t._current()[0]
    assert t.delete(spark.createDataFrame([(10**9,)], "gid long"))
    assert t._current()[0] == v + 1
    assert len(_rows(t.read())) == 200 - len(victims)


def test_delete_plain_mode_and_txn_replay(spark, tmp_path):
    """Plain-layout delete plus exactly-once delete semantics: a
    replayed (app, batch) delete is skipped."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid")
    t.upsert(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "gid long, val double")
    )
    assert t.delete(
        spark.createDataFrame([(3,), (7,)], "gid long"),
        txn_app="gdpr", txn_version=0,
    )
    assert sorted(_rows(t.read())) == [0, 1, 2, 4, 5, 6, 8, 9]
    # replay of the same delete batch: skipped, no new version
    v = t._current()[0]
    assert not t.delete(
        spark.createDataFrame([(5,)], "gid long"),
        txn_app="gdpr", txn_version=0,
    )
    assert t._current()[0] == v
    assert 5 in _rows(t.read())
    # delete on an empty table is a clean no-op commit
    t2 = ParquetMergeTable(spark, str(tmp_path / "tbl2"), key="gid")
    assert t2.delete(spark.createDataFrame([(1,)], "gid long"))
    assert t2.read() is None


def test_streaming_delete_sink_exactly_once(spark, tmp_path):
    """A CDC delete feed through foreachBatch: batches apply as key
    deletes, a replayed batch id is skipped, and an upsert app's
    high-water marks stay independent of the delete app's."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=4)
    up, dl = t.streaming_sink("ing"), t.streaming_delete_sink("gdpr")
    up(spark.createDataFrame([(i, float(i)) for i in range(10)],
                             "gid long, val double"), 0)
    dl(spark.createDataFrame([(3,), (7,)], "gid long"), 0)
    assert sorted(_rows(t.read())) == [0, 1, 2, 4, 5, 6, 8, 9]
    v = t._current()[0]
    dl(spark.createDataFrame([(5,)], "gid long"), 0)  # replay: skipped
    assert t._current()[0] == v and 5 in _rows(t.read())
    up(spark.createDataFrame([(3, 30.0)], "gid long, val double"), 1)
    dl(spark.createDataFrame([(0,)], "gid long"), 1)
    assert sorted(_rows(t.read())) == [1, 2, 3, 4, 5, 6, 8, 9]
    assert _rows(t.read())[3] == (30.0,)


def test_rebucket_changes_layout_preserving_data(spark, tmp_path):
    """rebucket() is the one operation allowed to change the key→bucket
    map (a full rewrite): data survives bit-for-bit, the new manifest
    records the new count, subsequent upserts prune under the NEW map,
    and rebucket(None) returns to the plain layout."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=4)
    t.upsert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "gid long, val double"
        )
    )
    before = _rows(t.read())
    assert t.rebucket(16)
    m = t._read_manifest(t._current()[1])
    assert m["n_buckets"] == 16 and len(m["buckets"]) > 4
    assert _rows(t.read()) == before
    # single-key upsert now rewrites one of SIXTEEN buckets
    t.upsert(spark.createDataFrame([(0, -1.0)], "gid long, val double"))
    m2 = t._read_manifest(t._current()[1])
    changed = {b for b in m2["buckets"] if m2["buckets"][b] != m["buckets"].get(b)}
    assert len(changed) == 1
    # back to plain: one whole-table dir, still identical data
    assert t.rebucket(None)
    m3 = t._read_manifest(t._current()[1])
    assert m3["n_buckets"] is None and len(m3["data"]) == 1
    got = _rows(t.read())
    assert got == {**before, 0: (-1.0,)}
    # an empty table just flips the recorded layout
    t2 = ParquetMergeTable(spark, str(tmp_path / "t2"), key="gid")
    assert t2.rebucket(8)
    assert t2._read_manifest(t2._current()[1])["n_buckets"] == 8
    t2.upsert(spark.createDataFrame([(1, 1.0)], "gid long, val double"))
    assert t2._read_manifest(t2._current()[1])["n_buckets"] == 8


@pytest.mark.slow
def test_model_based_random_ops_both_layouts(spark, tmp_path):
    """Model-based check: a seeded random sequence of upserts (full-row
    and per-column, with NULLs that must NOT overwrite under the
    coalesce rule), deletes (present and absent keys), and vacuums runs
    against BOTH layouts and a pure-Python model; after every op the
    current table AND every retained time-travel version must equal the
    model's snapshots."""
    import random

    rng = random.Random(1337)
    plain = ParquetMergeTable(spark, str(tmp_path / "p"), key="gid",
                              retain_versions=3)
    buck = ParquetMergeTable(spark, str(tmp_path / "b"), key="gid",
                             retain_versions=3, n_buckets=4)
    snapshots = {0: {}}  # version -> {gid: (val, tag)}
    cur = {}

    def model_upsert(rows, cols):
        for gid, val, tag in rows:
            old = cur.get(gid, (None, None))
            nv = val if (cols is None or "val" in cols) and val is not None else old[0]
            nt = tag if (cols is None or "tag" in cols) and tag is not None else old[1]
            cur[gid] = (nv, nt)

    ops = []
    for step in range(1, 11):
        kind = rng.choice(["upsert", "upsert", "upsert", "delete"])
        if kind == "upsert":
            rows = [
                (
                    rng.randrange(12),
                    rng.choice([None, round(rng.uniform(0, 9), 2)]),
                    rng.choice([None, "a", "b"]),
                )
                for _ in range(rng.randrange(1, 5))
            ]
            # de-dup keys inside a batch (merge joins one update row/key)
            rows = list({r[0]: r for r in rows}.values())
            cols = rng.choice([None, ["val"]])
            df = spark.createDataFrame(rows, "gid long, val double, tag string")
            if cols == ["val"]:
                df = df.select("gid", "val")
            plain.upsert(df, update_cols=cols)
            buck.upsert(df, update_cols=cols)
            model_upsert(rows, cols)
            ops.append(("upsert", rows, cols))
        else:
            keys = [rng.randrange(16) for _ in range(rng.randrange(1, 4))]
            kdf = spark.createDataFrame([(k,) for k in keys], "gid long")
            plain.delete(kdf)
            buck.delete(kdf)
            for k in keys:
                cur.pop(k, None)
            ops.append(("delete", keys, None))
        snapshots[step] = dict(cur)
        for t in (plain, buck):
            got = {
                r.gid: (r.val, r.tag if "tag" in r.__fields__ else None)
                for r in t.read().collect()
            } if t.read() is not None else {}
            assert got == snapshots[step], (t.path, step, ops[-1])
            # read_keys agrees with the model under both layouts at
            # every step: a random probe mixing present, absent, and
            # NULL keys returns exactly the model's rows for it
            probe = [rng.randrange(16) for _ in range(3)] + [None]
            pdf = spark.createDataFrame([(k,) for k in probe], "gid long")
            rk = t.read_keys(pdf)
            got_k = (
                {r.gid: (r.val, getattr(r, "tag", None)) for r in rk.collect()}
                if rk is not None
                else {}
            )
            want_k = {k: cur[k] for k in probe if k is not None and k in cur}
            assert got_k == want_k, (t.path, "read_keys", step, probe)
            for v in t.history():
                want = snapshots[v]
                df = t.read(v)
                gotv = (
                    {r.gid: (r.val, getattr(r, "tag", None)) for r in df.collect()}
                    if df is not None
                    else {}
                )
                assert gotv == want, (t.path, "version", v, "at step", step)
        if step == 5:
            plain.vacuum(grace_sec=0.0)
            buck.vacuum(grace_sec=0.0)
    # retention held: ≤ retain_versions+current manifests remain readable
    assert len(plain.history()) <= 10 and len(buck.history()) <= 10


def test_manifest_files_invisible_to_scan(spark, tmp_path):
    """Manifests, pointer, log, and markers live beside the data dirs —
    none of them may leak into a read (the _-prefix / sidecar rule)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=4)
    t.upsert(spark.createDataFrame([(1, 1.0)], "gid long, val double"))
    t.upsert(spark.createDataFrame([(2, 2.0)], "gid long, val double"))
    df = t.read()
    assert set(df.columns) == {"gid", "val"}  # no __bucket leak either
    assert df.count() == 2
    names = set(os.listdir(t.path))
    assert "_CURRENT" in names and "_LOG" in names
    assert any(n.startswith("m_") for n in names)


@pytest.mark.slow
def test_model_random_ops_with_optimize(spark, tmp_path):
    """optimize() interleaved with upserts and deletes on the plain
    layout: the rewrite is a no-op on CONTENT (model unchanged) but a
    real commit (new version), stats stay per-rel correct (checked via
    a pruned scan after every op), and time travel across mixed
    upsert/optimize history stays consistent. Versions are keyed by
    the table's reported version, not the step index, because
    optimize adds commits the model doesn't count."""
    import random

    rng = random.Random(4242)
    t = ParquetMergeTable(
        spark, str(tmp_path / "opt"), key="gid",
        retain_versions=4, stats_cols=["val"],
    )
    cur: dict = {}
    by_version = {}
    for step in range(12):
        kind = rng.choice(["upsert", "upsert", "delete", "optimize"])
        if kind == "upsert":
            rows = list({
                (g := rng.randrange(20)): (g, round(rng.uniform(0, 99), 2))
                for _ in range(rng.randrange(1, 6))
            }.values())
            t.upsert(spark.createDataFrame(rows, "gid long, val double"))
            cur.update({g: v for g, v in rows})
        elif kind == "delete":
            keys = [rng.randrange(24) for _ in range(rng.randrange(1, 4))]
            t.delete(spark.createDataFrame([(k,) for k in keys], "gid long"))
            for k in keys:
                cur.pop(k, None)
        else:
            t.optimize(["val"], n_files=rng.choice([2, 4]))
        by_version[t._current()[0]] = dict(cur)
        df = t.read()
        got = {r.gid: r.val for r in df.collect()} if df is not None else {}
        assert got == cur, (step, kind)
        # pruned scan equals model filter regardless of layout state
        lo = rng.uniform(0, 99)
        pruned = t.read_pruned([("val", ">=", lo)])
        gotp = (
            {r.gid: r.val for r in pruned.collect()} if pruned is not None else {}
        )
        assert gotp == {g: v for g, v in cur.items() if v >= lo}, (step, kind, lo)
        for v in t.history():
            if v in by_version:
                dfv = t.read(v)
                gv = {r.gid: r.val for r in dfv.collect()} if dfv is not None else {}
                assert gv == by_version[v], ("version", v, "step", step)


def test_read_keys_prunes_to_probed_buckets(spark, tmp_path):
    """Multi-key lookup reads ONLY the buckets the probe keys hash to
    (a multi-key point lookup), matches a filtered full scan exactly,
    never matches NULL keys, and falls back cleanly on plain layouts
    and empty tables."""
    from pyspark.sql import functions as F

    buck = ParquetMergeTable(spark, str(tmp_path / "b"), key="gid", n_buckets=8)
    assert buck.read_keys(spark.createDataFrame([(1,)], "gid long")) is None  # empty
    rows = [(i, float(i)) for i in range(64)]
    buck.upsert(spark.createDataFrame(rows, "gid long, val double"))

    probe = spark.createDataFrame([(3,), (17,), (3,), (None,)], "gid long")
    got = buck.read_keys(probe)
    assert {(r.gid, r.val) for r in got.collect()} == {(3, 3.0), (17, 17.0)}
    # pruning: the scan lists no more buckets than the probe keys hash to
    n_probed_buckets = (
        spark.createDataFrame([(3,), (17,)], "gid long")
        .select(F.pmod(F.xxhash64(F.col("gid")), F.lit(8)).cast("int").alias("b"))
        .distinct()
        .count()
    )
    files = {f for f in got.inputFiles()}
    dirs = {f.rsplit("/", 2)[-2] for f in files}  # __bucket=N leaves
    assert len(dirs) <= n_probed_buckets

    # absent keys (present bucket) and keys hashing to data-less buckets
    assert buck.read_keys(spark.createDataFrame([(999,)], "gid long")).count() == 0

    # plain layout: same answer via the fallback scan
    plain = ParquetMergeTable(spark, str(tmp_path / "p"), key="gid")
    plain.upsert(spark.createDataFrame(rows, "gid long, val double"))
    got_p = plain.read_keys(probe)
    assert {(r.gid, r.val) for r in got_p.collect()} == {(3, 3.0), (17, 17.0)}


@pytest.mark.slow
def test_model_random_cascade_delete_two_children(spark, tmp_path):
    """Model-based cascade check (`sql/ways_metadata.ddl:6` ON DELETE
    CASCADE): a seeded random sequence of parent upserts, child upserts
    (children only ever reference live parents, under DIFFERENT key
    column names), and cascade_deletes runs against a pure-Python
    model. After every op: exact content match for all three tables
    AND the FK invariant — no child key references an absent parent."""
    import random

    from ariadne_cartograph_spark.operators.merge import (
        ParquetMergeTable,
        cascade_delete,
    )

    rng = random.Random(4242)
    parent = ParquetMergeTable(spark, str(tmp_path / "ways"), key="id", n_buckets=4)
    meta = ParquetMergeTable(spark, str(tmp_path / "meta"), key="gid", n_buckets=4)
    stats = ParquetMergeTable(spark, str(tmp_path / "stats"), key="way_id")  # plain layout
    m_parent, m_meta, m_stats = {}, {}, {}

    for step in range(12):
        kind = rng.choice(["p_up", "p_up", "c_up", "cascade"])
        if kind == "p_up":
            rows = list({rng.randrange(20): rng.random() for _ in range(rng.randrange(1, 5))}.items())
            parent.upsert(spark.createDataFrame(rows, "id long, w double"))
            m_parent.update(dict(rows))
        elif kind == "c_up" and m_parent:
            keys = [rng.choice(sorted(m_parent)) for _ in range(rng.randrange(1, 4))]
            rows = list({k: float(k % 7) for k in keys}.items())
            meta.upsert(spark.createDataFrame(rows, "gid long, popularity double"))
            m_meta.update(dict(rows))
            stats.upsert(spark.createDataFrame(rows, "way_id long, greenery double"))
            m_stats.update(dict(rows))
        elif kind == "cascade":
            keys = sorted({rng.randrange(24) for _ in range(rng.randrange(1, 4))})
            cascade_delete(
                parent,
                spark.createDataFrame([(k,) for k in keys], "id long"),
                [meta, stats],
                txn_app="model",
                txn_version=step,
            )
            for k in keys:
                m_parent.pop(k, None)
                m_meta.pop(k, None)
                m_stats.pop(k, None)
        # exact content vs model
        got_p = {r.id: r.w for r in (parent.read().collect() if parent.read() is not None else [])}
        got_m = {r.gid: r.popularity for r in (meta.read().collect() if meta.read() is not None else [])}
        got_s = {r.way_id: r.greenery for r in (stats.read().collect() if stats.read() is not None else [])}
        assert got_p == m_parent, f"step {step} parent"
        assert got_m == m_meta, f"step {step} meta"
        assert got_s == m_stats, f"step {step} stats"
        # FK invariant: no child row references an absent parent
        assert set(got_m) <= set(got_p), f"step {step} meta orphans"
        assert set(got_s) <= set(got_p), f"step {step} stats orphans"


def _long_table(spark, tmp_path, n_buckets=8):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid", n_buckets=n_buckets)
    t.upsert(spark.createDataFrame([(i, float(i)) for i in range(40)], "gid long, val double"))
    return t


def test_census_hashes_the_table_key_type(spark, tmp_path):
    """xxhash64 hashes int and long differently: keys arriving as int
    must be cast to the table's long key before the bucket census, or
    updates and deletes land in (or read) the wrong buckets."""
    t = _long_table(spark, tmp_path)
    t.upsert(spark.createDataFrame([(i, -1.0) for i in range(5)], "gid int, val double"))
    t.delete(spark.createDataFrame([(i,) for i in range(10, 15)], "gid int"))
    rows = _rows(t.read())
    assert len(rows) == 35
    assert all(rows[i] == (-1.0,) for i in range(5))
    assert not set(range(10, 15)) & set(rows)
    assert t.read().schema["gid"].dataType.simpleString() == "bigint"


def test_null_delete_keys_rewrite_nothing(spark, tmp_path):
    """A NULL delete key matches no row, so it must rewrite no bucket
    (xxhash64(NULL) is the seed, which names a real bucket); the commit
    still happens, to advance the txn mark."""
    t = _long_table(spark, tmp_path)
    m1 = t._read_manifest(t._current()[1])
    assert t.delete(spark.createDataFrame([(None,)], "gid long"), txn_app="a", txn_version=0)
    m2 = t._read_manifest(t._current()[1])
    assert m2["version"] == m1["version"] + 1
    assert m2["buckets"] == m1["buckets"] and m2["txn"] == {"a": 0}
    assert len(_rows(t.read())) == 40


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result, [stage names of each job]) of the Spark jobs ``fn`` runs."""
    sc = spark.sparkContext
    group = f"jobshape-{os.getpid()}-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    names = [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
        for j in sorted(st.getJobIdsForGroup(group))
    ]
    return out, names


def test_job_shape_of_probe_and_commit(spark, tmp_path):
    """The manifest's schema replaces Spark's footer inference: a
    read_keys on a bucketed table runs only its bucket census, no
    inference job (whose call site is the ``parquet`` reader call). An
    upsert with deletes is one commit."""
    from pyspark.sql import functions as F

    t = _long_table(spark, tmp_path)
    t.upsert(spark.createDataFrame([(100, 1.0)], "gid long, val double"))  # 2 dirs
    keys = spark.createDataFrame([(3,), (17,), (21,)], "gid long")
    got, names = _jobs(spark, lambda: t.read_keys(keys))
    assert not [n for n in names if any(s.startswith("parquet at") for s in n)], names
    _, census = _jobs(
        spark,
        lambda: keys.select(F.pmod(F.xxhash64("gid"), F.lit(8))).distinct().collect(),
    )
    assert len(names) == len(census)
    assert {r.gid for r in got.collect()} == {3, 17, 21}

    v = t._current()[0]
    t.upsert(
        spark.createDataFrame([(1, 10.0), (2, 20.0), (50, 50.0)], "gid long, val double"),
        deletes=spark.createDataFrame([(2,), (7,)], "gid long"),
    )
    assert t._current()[0] == v + 1
    rows = _rows(t.read())
    assert rows[1] == (10.0,) and rows[50] == (50.0,)
    assert 2 not in rows and 7 not in rows  # a key in both frames is deleted


def test_bucketed_inputs_evaluated_once(spark, tmp_path):
    """The bucketed upsert reads its updates twice (census, then the
    merge): a lazy input must be computed once, not re-run per read."""
    from pyspark.sql import functions as F

    t = _long_table(spark, tmp_path)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(g):
        calls.add(1)
        return g

    updates = spark.createDataFrame(
        [(i, -float(i)) for i in range(5)], "gid long, val double"
    ).select(counted("gid").alias("gid"), "val")
    t.upsert(updates)
    assert calls.value == 5
    assert _rows(t.read())[4] == (-4.0,)


def test_upsert_with_deletes_drops_emptied_buckets_both_layouts(spark, tmp_path):
    """upsert(updates, deletes=) equals an upsert followed by a delete,
    in one commit, under both layouts; a bucket the deletes empty drops
    out of the manifest, untouched buckets are carried by reference."""
    import pyspark.sql.functions as F

    buck = _long_table(spark, tmp_path)
    plain = ParquetMergeTable(spark, str(tmp_path / "plain"), key="gid")
    plain.upsert(buck.read())
    m1 = buck._read_manifest(buck._current()[1])
    bexpr = F.pmod(F.xxhash64("gid"), F.lit(8)).cast("int")
    by_bucket: dict = {}
    for r in buck.read().select("gid", bexpr.alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.gid)
    victim, victims = min(by_bucket.items(), key=lambda kv: len(kv[1]))
    # a new key outside the victim bucket, so the deletes empty it
    new_key, new_bucket = next(
        (r.gid, r.b)
        for r in spark.range(1000, 1016)
        .select(F.col("id").alias("gid"), bexpr.alias("b"))
        .collect()
        if r.b != victim
    )
    upd = spark.createDataFrame([(victims[0], 0.5), (new_key, 1.0)], "gid long, val double")
    dels = spark.createDataFrame([(g,) for g in victims], "gid long")
    for t in (buck, plain):
        v = t._current()[0]
        t.upsert(upd, deletes=dels, txn_app="cs", txn_version=3)
        assert t._current()[0] == v + 1
        rows = _rows(t.read())
        assert len(rows) == 40 - len(victims) + 1 and rows[new_key] == (1.0,)
        assert not set(victims) & set(rows)
        assert not t.upsert(upd, deletes=dels, txn_app="cs", txn_version=3)  # replay
    m2 = buck._read_manifest(buck._current()[1])
    assert str(victim) not in m2["buckets"]  # emptied → dropped
    for b, rel in m2["buckets"].items():
        if int(b) != new_bucket:
            assert rel == m1["buckets"][b]
