"""OsmChange (.osc) incremental diff application — osm2pgsql's
``--append`` replication path (`/root/reference/README.md:19`),
re-expressed as broadcast anti-join + blast-radius recompute.

The changeset below is synthesized over REAL fixture ids
(`/root/reference/osm/example.osm`): it deletes unreferenced amenity
nodes, moves two way-referenced nodes (shifting geometry), retags a
residential way to tertiary, creates a new footway, and exercises the
last-op-wins collapse (create → modify on one node, modify → delete on
another)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.sources.osm import (
    assemble_way_geometries,
    read_osm_elements,
    split_elements,
)
from ariadne_cartograph_spark.sources.osm_diff import (
    affected_way_ids,
    apply_osc,
    incremental_way_geometries,
    net_changes,
    node_way_index,
    read_osc_elements,
)

from ariadne_cartograph_spark.plans.geo_queries import (
    EXAMPLE_OSC_XML,
    OSC_CREATE_THEN_MODIFY_NODE as CREATE_THEN_MODIFY_NODE,
    OSC_DELETED_AMENITY_NODES as DELETED_AMENITY_NODES,
    OSC_MODIFY_THEN_DELETE_NODE as MODIFY_THEN_DELETE_NODE,
    OSC_MOVED_NODES as MOVED_NODES,
    OSC_NEW_NODES as NEW_NODES,
    OSC_NEW_WAY as NEW_WAY,
    OSC_RETAGGED_WAY as RETAGGED_WAY,
)

FIXTURE = "/root/reference/osm/example.osm"


@pytest.fixture(scope="module")
def osc_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("osc") / "change.osc"
    p.write_text(EXAMPLE_OSC_XML)
    return str(p)


@pytest.fixture(scope="module")
def base(spark):
    return read_osm_elements(spark, FIXTURE).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def diff(spark, osc_path):
    return read_osc_elements(spark, osc_path).localCheckpoint(eager=True)


def test_parse_ops_and_schema(diff, base):
    assert set(base.columns) | {"op", "src_path", "src_pos"} == set(diff.columns)
    by_op = {r["op"]: r["n"] for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert by_op == {"create": 4, "modify": 5, "delete": 4}
    new_way = diff.filter(F.col("id") == NEW_WAY).collect()[0]
    assert new_way.node_refs == list(NEW_NODES)
    assert new_way.tags["highway"] == "footway"


def test_net_changes_last_op_wins(diff):
    net = {(r.kind, r.id): r for r in net_changes(diff).collect()}
    assert net[("node", CREATE_THEN_MODIFY_NODE)].op == "modify"  # upsert survives
    assert net[("node", CREATE_THEN_MODIFY_NODE)].tags["amenity"] == "cafe"
    assert net[("node", MODIFY_THEN_DELETE_NODE)].op == "delete"
    # one row per touched (kind, id)
    assert len(net) == 11


def test_apply_osc_semantics(base, diff):
    patched = apply_osc(base, diff).localCheckpoint(eager=True)
    ids = lambda df: {r.id for r in df.collect()}
    nodes = patched.filter(F.col("kind") == "node")
    assert not (set(DELETED_AMENITY_NODES) | {MODIFY_THEN_DELETE_NODE}) & ids(nodes)
    assert set(NEW_NODES) | {CREATE_THEN_MODIFY_NODE} <= ids(nodes)
    # modify replaced wholesale: moved node carries the new latitude
    moved = nodes.filter(F.col("id") == MOVED_NODES[0]).collect()[0]
    assert moved.lat == pytest.approx(34.1232406)
    retag = patched.filter((F.col("kind") == "way") & (F.col("id") == RETAGGED_WAY)).collect()[0]
    assert retag.tags["highway"] == "tertiary" and retag.tags["name"] == "Oakdale Street"
    # net counts: -4 nodes deleted, +3 created; +1 way created
    assert patched.count() == base.count() - 4 + 3 + 1


def test_affected_way_ids_blast_radius(base, diff):
    patched = apply_osc(base, diff)
    ways = patched.filter(F.col("kind") == "way")
    aff = {r.way_id for r in affected_way_ids(diff, ways=ways).collect()}
    assert RETAGGED_WAY in aff and NEW_WAY in aff
    # the moved nodes' referencing ways are in the radius
    idx = node_way_index(ways)
    expect = {
        r.way_id
        for r in idx.filter(F.col("node_id").isin(*MOVED_NODES)).collect()
    }
    assert expect and expect <= aff
    # and the radius is a tiny fraction of the 1091-way fixture
    assert len(aff) <= 8
    # index path gives the identical answer
    aff_idx = {r.way_id for r in affected_way_ids(diff, index=idx).collect()}
    assert aff_idx == aff


def test_incremental_equals_full_rebuild(base, diff):
    """The incremental contract: recomputing ONLY the blast radius
    yields row-identical geometry to a full re-assembly of the patched
    elements, and untouched ways' rows are untouched."""
    patched = split_elements(apply_osc(base, diff))
    inc = incremental_way_geometries(patched["nodes"], patched["ways"], diff)
    full = assemble_way_geometries(patched["nodes"], patched["ways"])
    aff = inc["affected"]
    canon = lambda df: sorted(
        (r.id, tuple((p.lng, p.lat) for p in r.geom))
        for r in df.select("id", "geom").collect()
    )
    full_aff = full.join(F.broadcast(aff), full["id"] == aff["way_id"]).drop("way_id")
    assert canon(inc["rebuilt"]) == canon(full_aff)
    # the rebuilt retagged way still has its 5 vertices; the new way has 2
    by_id = dict(canon(inc["rebuilt"]))
    assert len(by_id[RETAGGED_WAY]) == 5 and len(by_id[NEW_WAY]) == 2
    assert {r.way_id for r in inc["deleted"].collect()} == set()


def test_deleted_way_flows_through(base, spark, tmp_path):
    osc = f"""<osmChange version="0.6">
      <delete><way id="{RETAGGED_WAY}" version="3"/></delete>
    </osmChange>"""
    p = tmp_path / "del.osc"
    p.write_text(osc)
    diff = read_osc_elements(spark, str(p))
    patched = apply_osc(base, diff)
    assert patched.filter((F.col("kind") == "way") & (F.col("id") == RETAGGED_WAY)).count() == 0
    nodes_ways = split_elements(patched)
    inc = incremental_way_geometries(nodes_ways["nodes"], nodes_ways["ways"], diff)
    assert {r.way_id for r in inc["deleted"].collect()} == {RETAGGED_WAY}
    assert inc["rebuilt"].filter(F.col("id") == RETAGGED_WAY).count() == 0


def test_affected_relation_ids(base, diff, spark):
    """Relation blast radius: the fixture's turn restriction 3516928
    has the retagged way as its to-member; multipolygon 333928 is
    flagged iff its member way 30086704 is touched."""
    from ariadne_cartograph_spark.sources.osm_diff import affected_relation_ids

    relations = split_elements(base)["relations"]
    aff = {r.relation_id for r in affected_relation_ids(diff, relations).collect()}
    assert 3516928 in aff
    assert 333928 not in aff
    # a changeset touching the multipolygon's member way flags it
    osc = """<osmChange version="0.6">
      <modify><way id="30086704" version="2"><nd ref="1"/><nd ref="2"/>
        <tag k="building" v="yes"/></way></modify>
      <delete><relation id="6180566" version="2"/></delete>
    </osmChange>"""
    import tempfile, os
    p = os.path.join(tempfile.mkdtemp(), "mp.osc")
    open(p, "w").write(osc)
    d2 = read_osc_elements(spark, p)
    aff2 = {r.relation_id for r in affected_relation_ids(d2, relations).collect()}
    assert 333928 in aff2          # via member way
    assert 6180566 in aff2         # direct delete
    assert 3516928 not in aff2
    # the materialized-index path gives the identical answer, and
    # exactly one of relations=/index= must be passed
    from ariadne_cartograph_spark.sources.osm_diff import relation_member_index

    idx = relation_member_index(relations)
    assert {r.relation_id for r in affected_relation_ids(d2, index=idx).collect()} == aff2
    with pytest.raises(ValueError, match="exactly one"):
        affected_relation_ids(d2, relations=relations, index=idx)


@pytest.mark.slow
def test_streaming_osc_replication(base, spark, tmp_path):
    """Continuous replication: a file stream of .osc changesets drained
    one-per-micro-batch maintains element stores + a derived table;
    after the drain the derived table equals a full rebuild of the
    final patched state; a checkpoint restart with no new files
    commits nothing (txn replay)."""
    import os

    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    pipe = OsmReplicationPipeline(spark, str(tmp_path / "repl"), derive, n_buckets=4)
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"])
    assert pipe.derived.read().count() == 1091  # all fixture ways

    osc_dir = tmp_path / "feed"
    osc_dir.mkdir()
    f1 = osc_dir / "000001.osc"
    f1.write_text(EXAMPLE_OSC_XML)
    os.utime(f1, (1000000000, 1000000000))
    f2 = osc_dir / "000002.osc"
    f2.write_text(
        f"""<osmChange version="0.6">
          <delete><way id="{RETAGGED_WAY}" version="3"/></delete>
        </osmChange>"""
    )
    os.utime(f2, (1000000100, 1000000100))
    ckpt = str(tmp_path / "ckpt")
    pipe.run_stream(str(osc_dir), ckpt)

    # final state == full rebuild of base + both changesets
    d1 = read_osc_elements(spark, str(f1))
    d2 = read_osc_elements(spark, str(f2))
    final = split_elements(apply_osc(apply_osc(base, d1), d2))
    want = {
        (r.id, r.n_pts)
        for r in derive(assemble_way_geometries(final["nodes"], final["ways"])).collect()
    }
    got = {(r.id, r.n_pts) for r in pipe.derived.read().collect()}
    assert got == want
    assert not any(i == RETAGGED_WAY for i, _ in got)
    assert (NEW_WAY, 2) in got
    # element stores track too
    assert pipe.ways.read().filter(F.col("id") == RETAGGED_WAY).count() == 0
    assert pipe.nodes.read().filter(F.col("id").isin(*NEW_NODES)).count() == 2

    # restart from the checkpoint: no new files → no new versions
    v = (
        pipe.nodes._current()[0],
        pipe.ways._current()[0],
        pipe.derived._current()[0],
    )
    pipe.run_stream(str(osc_dir), ckpt)
    assert v == (
        pipe.nodes._current()[0],
        pipe.ways._current()[0],
        pipe.derived._current()[0],
    )


def test_osc_permissive_quarantine(spark, tmp_path):
    """A truncated changeset file quarantines (one corrupt-marker row,
    rows parsed before the break kept) under permissive mode, and
    fails the job under the default failfast — half-applied changesets
    must never reach apply_osc silently."""
    from ariadne_cartograph_spark.sources.osm import corrupt_files

    good = tmp_path / "ok.osc"
    good.write_text(
        """<osmChange version="0.6">
          <create><node id="1" version="1" lat="1.0" lon="2.0"/></create>
        </osmChange>"""
    )
    bad = tmp_path / "truncated.osc"
    bad.write_text(
        """<osmChange version="0.6">
          <create><node id="2" version="1" lat="1.0" lon="2.0"/></create>
          <modify><node id="3" version="2" lat="1.1" """  # cut mid-attribute
    )
    with pytest.raises(Exception):
        read_osc_elements(spark, str(tmp_path / "*.osc")).count()
    df = read_osc_elements(spark, str(tmp_path / "*.osc"), mode="permissive")
    bad_rows = corrupt_files(df).collect()
    assert len(bad_rows) == 1 and "truncated.osc" in bad_rows[0].path
    ok = df.filter(F.col("op").isNotNull())
    assert {(r.id, r.op) for r in ok.collect()} >= {(1, "create"), (2, "create")}


def test_multi_file_osc_ordering_is_by_file_name(base, spark, tmp_path):
    """Cross-file last-op-wins must follow file-name (osmosis sequence)
    order, never partition enumeration order. Adversarial layout: the
    LATER-named file is made much LARGER, so binaryFile's size-ordered
    listing enumerates it FIRST — a monotonically_increasing_id order
    would then resurrect the earlier file's op."""
    import os

    nid = 9100000001
    d = tmp_path / "seq"
    d.mkdir()
    f1 = d / "000001.osc"
    f1.write_text(
        f"""<osmChange version="0.6">
          <create><node id="{nid}" version="1" lat="34.14" lon="-118.12"/></create>
        </osmChange>"""
    )
    # later sequence file: deletes the node; padded with unrelated
    # creates so it is the larger file, and given an OLDER mtime so
    # nothing can lean on modification time either
    pad = "\n".join(
        f'<node id="{9100001000 + i}" version="1" lat="34.0" lon="-118.0"/>'
        for i in range(400)
    )
    f2 = d / "000002.osc"
    f2.write_text(
        f"""<osmChange version="0.6">
          <create>{pad}</create>
          <delete><node id="{nid}" version="2"/></delete>
        </osmChange>"""
    )
    os.utime(f1, (2000000100, 2000000100))
    os.utime(f2, (2000000000, 2000000000))

    diff = read_osc_elements(spark, str(d / "*.osc"))
    net = {(r.kind, r.id): r.op for r in net_changes(diff).collect()}
    assert net[("node", nid)] == "delete"
    patched = apply_osc(base, diff)
    assert patched.filter((F.col("kind") == "node") & (F.col("id") == nid)).count() == 0
    # and the padding creates all survive
    assert (
        patched.filter(F.col("id").between(9100001000, 9100001399)).count() == 400
    )

    # the mirror ordering: later file re-creates what the earlier one
    # deleted (delete → create collapses to create)
    f1.write_text(
        f"""<osmChange version="0.6">
          <delete><node id="{nid}" version="2"/></delete>
        </osmChange>"""
    )
    f2.write_text(
        f"""<osmChange version="0.6">
          <create>{pad}
            <node id="{nid}" version="3" lat="34.15" lon="-118.13"/>
          </create>
        </osmChange>"""
    )
    diff2 = read_osc_elements(spark, str(d / "*.osc"))
    net2 = {(r.kind, r.id): r.op for r in net_changes(diff2).collect()}
    assert net2[("node", nid)] == "create"
    got = apply_osc(base, diff2).filter(F.col("id") == nid).collect()
    assert len(got) == 1 and got[0].lat == pytest.approx(34.15)


@pytest.mark.slow
def test_streaming_burst_same_mtime_applies_in_name_order(base, spark, tmp_path):
    """A burst of changesets fetched in one poll commonly shares an
    mtime — the stream must still apply them in sequence (file-name)
    order: file 2 deletes what file 1 creates."""
    import os

    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    pipe = OsmReplicationPipeline(spark, str(tmp_path / "repl"), derive, n_buckets=4)
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"])

    osc_dir = tmp_path / "feed"
    osc_dir.mkdir()
    f1 = osc_dir / "000001.osc"
    f1.write_text(EXAMPLE_OSC_XML)  # creates NEW_WAY (+ its 2 nodes)
    f2 = osc_dir / "000002.osc"
    f2.write_text(
        f"""<osmChange version="0.6">
          <delete>
            <way id="{NEW_WAY}" version="2"/>
            <node id="{NEW_NODES[0]}" version="2"/>
            <node id="{NEW_NODES[1]}" version="2"/>
          </delete>
        </osmChange>"""
    )
    t = 1500000000
    os.utime(f1, (t, t))
    os.utime(f2, (t, t))  # identical mtimes: the adversarial burst
    pipe.run_stream(str(osc_dir), str(tmp_path / "ckpt"))

    # net effect: the created way never survives; the rest of the
    # changeset (moves/retag/deletes) all applied
    assert pipe.ways.read().filter(F.col("id") == NEW_WAY).count() == 0
    assert pipe.nodes.read().filter(F.col("id").isin(*NEW_NODES)).count() == 0
    assert pipe.derived.read().filter(F.col("id") == NEW_WAY).count() == 0
    final = split_elements(
        apply_osc(
            base,
            read_osc_elements(spark, str(osc_dir / "*.osc")),
        )
    )
    want = {
        (r.id, r.n_pts)
        for r in derive(assemble_way_geometries(final["nodes"], final["ways"])).collect()
    }
    assert {(r.id, r.n_pts) for r in pipe.derived.read().collect()} == want


@pytest.mark.slow
def test_maintained_node_way_index_equals_from_scratch(base, spark, tmp_path):
    """The pipeline's incrementally-maintained node→ways index must
    equal node_way_index(final ways store) rebuilt from scratch after
    a drain that creates, modifies, and deletes ways — including
    removal of emptied node entries."""
    import os

    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    pipe = OsmReplicationPipeline(spark, str(tmp_path / "repl"), derive, n_buckets=4)
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"])

    osc_dir = tmp_path / "feed"
    osc_dir.mkdir()
    f1 = osc_dir / "000001.osc"
    f1.write_text(EXAMPLE_OSC_XML)  # creates NEW_WAY, retags RETAGGED_WAY
    os.utime(f1, (1700000000, 1700000000))
    f2 = osc_dir / "000002.osc"
    f2.write_text(
        f"""<osmChange version="0.6">
          <delete><way id="{RETAGGED_WAY}" version="3"/></delete>
        </osmChange>"""
    )
    os.utime(f2, (1700000100, 1700000100))
    pipe.run_stream(str(osc_dir), str(tmp_path / "ckpt"))

    maintained = {
        (r.id, tuple(r.way_ids)) for r in pipe.node_ways.read().collect()
    }
    from_scratch = {
        (r.id, tuple(r.way_ids))
        for r in OsmReplicationPipeline._index_rows(
            node_way_index(pipe.ways.read())
        ).collect()
    }
    assert maintained == from_scratch
    # spot semantics: the new way's nodes map to it; the deleted way
    # appears in no entry
    idx = dict(maintained)
    for n in NEW_NODES:
        assert NEW_WAY in idx[n]
    assert all(RETAGGED_WAY not in ways for ways in idx.values())


@pytest.mark.parametrize("crash_at", ["node_ways_upsert", "ways_upsert", "derived_upsert"])
def test_crashed_batch_replay_keeps_index_consistent(base, spark, tmp_path, crash_at):
    """Crash-replay safety of the commit ORDER inside apply_changeset:
    the node→ways index commits BEFORE the ways store, so whichever
    table commit the crash lands on, replaying the batch leaves the
    maintained index equal to a from-scratch rebuild (the dangerous
    window — ways committed, index not — is unreachable). Simulated by
    making one table's upsert raise, then replaying the batch."""
    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    pipe = OsmReplicationPipeline(spark, str(tmp_path / "repl"), derive, n_buckets=4)
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"])

    # a changeset where a way LOSES vertices: the retagged way shrinks
    # from 5 refs to 2 — nodes 122714885/90/92 must leave its index rows
    osc = f"""<osmChange version="0.6">
      <modify>
        <way id="{RETAGGED_WAY}" version="3">
          <nd ref="122714882"/>
          <nd ref="122714883"/>
          <tag k="highway" v="tertiary"/>
        </way>
      </modify>
    </osmChange>"""
    p = tmp_path / "c.osc"
    p.write_text(osc)
    diff = read_osc_elements(spark, str(p)).localCheckpoint(eager=True)

    table = {
        "node_ways_upsert": pipe.node_ways,
        "ways_upsert": pipe.ways,
        "derived_upsert": pipe.derived,
    }[crash_at]
    real_upsert = table.upsert

    def crashing(*a, **kw):
        table.upsert = real_upsert  # crash exactly once
        raise RuntimeError("injected crash before this table's commit")

    table.upsert = crashing
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.apply_changeset(diff, batch_id=1)

    # the replay (foreachBatch re-runs the same batch_id)
    pipe.apply_changeset(diff, batch_id=1)

    maintained = {
        (r.id, tuple(r.way_ids)) for r in pipe.node_ways.read().collect()
    }
    from_scratch = {
        (r.id, tuple(r.way_ids))
        for r in OsmReplicationPipeline._index_rows(
            node_way_index(pipe.ways.read())
        ).collect()
    }
    assert maintained == from_scratch
    idx = dict(maintained)
    for gone in (122714885, 122714890, 122714892):
        assert RETAGGED_WAY not in idx.get(gone, ()), f"stale entry for node {gone}"
    # way store and derived table reflect the shrunk way
    assert pipe.ways.read().filter(F.col("id") == RETAGGED_WAY).collect()[0].node_refs == [122714882, 122714883]
    assert pipe.derived.read().filter(F.col("id") == RETAGGED_WAY).collect()[0].n_pts == 2


def test_apply_osc_model_random_multi_file(base, spark, tmp_path):
    """Model check of the whole diff path: a random sequence of
    create/modify/delete ops over a small id space, split across
    SEVERAL .osc files (shuffled sizes and mtimes), must land
    apply_osc at exactly the state of a sequential one-op-at-a-time
    dict replay. Runs a fixed-seed PRNG so failures reproduce."""
    import os
    import random

    rng = random.Random(20260815)
    ids = list(range(9200000001, 9200000013))  # 12 node ids
    model: dict[int, tuple[float, float]] = {}
    ops: list[tuple[str, int, float, float]] = []
    for _ in range(120):
        nid = rng.choice(ids)
        if nid in model:
            op = rng.choice(["modify", "delete", "modify"])
        else:
            op = "create"
        lat = round(rng.uniform(-80, 80), 6)
        lon = round(rng.uniform(-170, 170), 6)
        ops.append((op, nid, lat, lon))
        if op == "delete":
            model.pop(nid, None)
        else:
            model[nid] = (lat, lon)

    # split the op stream into 5 files; element order inside each file
    # and file naming carry the sequence
    d = tmp_path / "feed"
    d.mkdir()
    cuts = sorted(rng.sample(range(1, len(ops)), 4))
    chunks = [ops[a:b] for a, b in zip([0, *cuts], [*cuts, len(ops)])]
    for i, chunk in enumerate(chunks):
        body = []
        for op, nid, lat, lon in chunk:
            if op == "delete":
                body.append(f'<delete><node id="{nid}" version="9"/></delete>')
            else:
                body.append(
                    f'<{op}><node id="{nid}" version="9" lat="{lat}" lon="{lon}"/></{op}>'
                )
        f = d / f"{i:06d}.osc"
        f.write_text(
            '<osmChange version="0.6">' + "\n".join(body) + "</osmChange>"
        )
        # adversarial mtimes: reverse order, so nothing can lean on them
        os.utime(f, (3000000000 - i, 3000000000 - i))

    diff = read_osc_elements(spark, str(d / "*.osc"))
    patched = apply_osc(base, diff)
    got = {
        r.id: (r.lat, r.lon)
        for r in patched.filter(
            (F.col("kind") == "node") & F.col("id").isin(ids)
        ).collect()
    }
    assert got == {k: v for k, v in model.items()}


@pytest.mark.slow
def test_streaming_relation_maintenance(base, spark, tmp_path):
    """With derive_relations set, the pipeline maintains the relations
    store, the member→relations reverse index, and a relation-keyed
    derived table: a changeset touching a member way recomputes exactly
    the affected relations; creates/deletes land; after the drain the
    maintained index and derived table equal from-scratch rebuilds."""
    import os

    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    def derive_rels(rels):
        return rels.select(
            "id",
            F.size("members").alias("n_members"),
            F.col("tags").getItem("type").alias("rel_type"),
        )

    pipe = OsmReplicationPipeline(
        spark, str(tmp_path / "repl"), derive, n_buckets=4, derive_relations=derive_rels
    )
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"], relations=p0["relations"])
    n_rels0 = p0["relations"].count()
    assert pipe.derived_rels.read().count() == n_rels0

    osc_dir = tmp_path / "feed"
    osc_dir.mkdir()
    # changeset 1: retag the restriction's to-member way (blast radius
    # must include restriction 3516928) and delete multipolygon 333928
    f1 = osc_dir / "000001.osc"
    f1.write_text(
        f"""<osmChange version="0.6">
          <modify>
            <way id="{RETAGGED_WAY}" version="2">
              <nd ref="122714882"/><nd ref="122714883"/><nd ref="122714885"/>
              <nd ref="122714890"/><nd ref="122714892"/>
              <tag k="highway" v="tertiary"/>
            </way>
          </modify>
          <delete><relation id="333928" version="2"/></delete>
        </osmChange>"""
    )
    os.utime(f1, (1800000000, 1800000000))
    # changeset 2: create a new relation holding the retagged way
    f2 = osc_dir / "000002.osc"
    f2.write_text(
        f"""<osmChange version="0.6">
          <create>
            <relation id="910000001" version="1">
              <member type="way" ref="{RETAGGED_WAY}" role=""/>
              <tag k="type" v="route"/>
            </relation>
          </create>
        </osmChange>"""
    )
    os.utime(f2, (1800000100, 1800000100))
    pipe.run_stream(str(osc_dir), str(tmp_path / "ckpt"))

    rels = pipe.relations.read()
    assert rels.filter(F.col("id") == 333928).count() == 0
    assert rels.filter(F.col("id") == 910000001).count() == 1
    assert rels.count() == n_rels0  # one deleted, one created

    # derived table == full rebuild of the final relations store
    want = {
        (r.id, r.n_members, r.rel_type) for r in derive_rels(rels).collect()
    }
    got = {
        (r.id, r.n_members, r.rel_type) for r in pipe.derived_rels.read().collect()
    }
    assert got == want
    assert (910000001, 1, "route") in got
    assert not any(i == 333928 for i, _, _ in got)

    # maintained member index == from-scratch rebuild
    maintained = {
        (r.id, tuple(r.relation_ids)) for r in pipe.member_rels.read().collect()
    }
    scratch = {
        (r.id, tuple(r.relation_ids))
        for r in OsmReplicationPipeline._rel_index_rows(
            OsmReplicationPipeline._rel_pairs(rels)
        ).collect()
    }
    assert maintained == scratch
    idx = dict(maintained)
    assert 910000001 in idx[f"way:{RETAGGED_WAY}"]
    assert all(333928 not in v for v in idx.values())


def test_apply_osc_model_random_ways_and_nodes(base, spark, tmp_path):
    """Way-level model check: 200 random node/way create/modify/delete
    ops across 8 .osc files (reversed mtimes), verified two ways —
    apply_osc equals a sequential dict replay for both element kinds,
    and incremental_way_geometries' rebuilt rows equal the full
    re-assembly restricted to the blast radius. Fixed seed."""
    import os
    import random

    rng = random.Random(4242)
    node_ids = list(range(9300000001, 9300000021))
    way_ids = list(range(930000001, 930000009))
    nodes: dict[int, tuple[float, float]] = {}
    ways: dict[int, list[int]] = {}
    ops = []
    for _ in range(200):
        if rng.random() < 0.6:
            nid = rng.choice(node_ids)
            if nid in nodes and rng.random() < 0.3:
                ops.append(("delete", "node", nid, None))
                nodes.pop(nid)
            else:
                lat = round(rng.uniform(-60, 60), 6)
                lon = round(rng.uniform(-150, 150), 6)
                op = "modify" if nid in nodes else "create"
                ops.append((op, "node", nid, (lat, lon)))
                nodes[nid] = (lat, lon)
        else:
            wid = rng.choice(way_ids)
            if wid in ways and rng.random() < 0.25:
                ops.append(("delete", "way", wid, None))
                ways.pop(wid)
            else:
                pool = list(nodes) or node_ids[:2]
                refs = [rng.choice(pool) for _ in range(rng.randrange(2, 6))]
                op = "modify" if wid in ways else "create"
                ops.append((op, "way", wid, refs))
                ways[wid] = refs

    d = tmp_path / "feed"
    d.mkdir()
    cuts = sorted(rng.sample(range(1, len(ops)), 7))
    for i, chunk in enumerate(
        ops[a:b] for a, b in zip([0, *cuts], [*cuts, len(ops)])
    ):
        body = []
        for op, kind, eid, payload in chunk:
            if kind == "node":
                body.append(
                    f'<delete><node id="{eid}" version="9"/></delete>'
                    if op == "delete"
                    else f'<{op}><node id="{eid}" version="9" '
                    f'lat="{payload[0]}" lon="{payload[1]}"/></{op}>'
                )
            else:
                if op == "delete":
                    body.append(f'<delete><way id="{eid}" version="9"/></delete>')
                else:
                    nds = "".join(f'<nd ref="{r}"/>' for r in payload)
                    body.append(
                        f'<{op}><way id="{eid}" version="9">{nds}'
                        f'<tag k="highway" v="path"/></way></{op}>'
                    )
        f = d / f"{i:06d}.osc"
        f.write_text('<osmChange version="0.6">' + "\n".join(body) + "</osmChange>")
        os.utime(f, (2500000000 - i * 7,) * 2)  # adversarial: reversed mtimes

    diff = read_osc_elements(spark, str(d / "*.osc")).localCheckpoint(eager=True)
    patched = apply_osc(base, diff).localCheckpoint(eager=True)
    got_nodes = {
        r.id: (r.lat, r.lon)
        for r in patched.filter(
            (F.col("kind") == "node") & F.col("id").isin(node_ids)
        ).collect()
    }
    assert got_nodes == nodes
    got_ways = {
        r.id: list(r.node_refs)
        for r in patched.filter(
            (F.col("kind") == "way") & F.col("id").isin(way_ids)
        ).collect()
    }
    assert got_ways == ways

    split = split_elements(patched)
    inc = incremental_way_geometries(split["nodes"], split["ways"], diff)
    full = assemble_way_geometries(split["nodes"], split["ways"])
    aff = inc["affected"]
    canon = lambda df: sorted(
        (r.id, tuple((p.lng, p.lat) for p in r.geom) if r.geom else None)
        for r in df.select("id", "geom").collect()
    )
    full_aff = full.join(F.broadcast(aff), full["id"] == aff["way_id"]).drop("way_id")
    assert canon(inc["rebuilt"]) == canon(full_aff)


@pytest.mark.slow
@pytest.mark.parametrize("crash_at", ["member_rels", "relations", "derived_rels"])
def test_crashed_batch_replay_relation_side(base, spark, tmp_path, crash_at):
    """Crash-replay safety of the RELATION-side commit order (member
    index before relations store, mirroring the way side): whichever
    relation-table commit the crash lands on, replaying the batch
    leaves the maintained member index and derived table equal to
    from-scratch rebuilds."""
    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    def derive_rels(rels):
        return rels.select("id", F.size("members").alias("n_members"))

    pipe = OsmReplicationPipeline(
        spark, str(tmp_path / "repl"), derive, n_buckets=4, derive_relations=derive_rels
    )
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"], relations=p0["relations"])

    # shrink a relation's member list (stale-index hazard: the removed
    # member's index entry must drop) and delete another relation
    rel = p0["relations"].filter(F.col("id") == 3516928).collect()[0]
    keep = rel.members[0]
    osc = f"""<osmChange version="0.6">
      <modify>
        <relation id="3516928" version="2">
          <member type="{keep.member_type}" ref="{keep.ref}" role="{keep.role or ''}"/>
          <tag k="type" v="restriction"/>
        </relation>
      </modify>
      <delete><relation id="333928" version="2"/></delete>
    </osmChange>"""
    p = tmp_path / "c.osc"
    p.write_text(osc)
    diff = read_osc_elements(spark, str(p)).localCheckpoint(eager=True)

    table = getattr(pipe, crash_at)
    real_upsert = table.upsert

    def crashing(*a, **kw):
        table.upsert = real_upsert
        raise RuntimeError("injected crash")

    table.upsert = crashing
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.apply_changeset(diff, batch_id=1)
    pipe.apply_changeset(diff, batch_id=1)  # the replay

    rels = pipe.relations.read()
    assert rels.filter(F.col("id") == 333928).count() == 0
    assert len(rels.filter(F.col("id") == 3516928).collect()[0].members) == 1
    maintained = {
        (r.id, tuple(r.relation_ids)) for r in pipe.member_rels.read().collect()
    }
    scratch = {
        (r.id, tuple(r.relation_ids))
        for r in OsmReplicationPipeline._rel_index_rows(
            OsmReplicationPipeline._rel_pairs(rels)
        ).collect()
    }
    assert maintained == scratch
    want = {(r.id, r.n_members) for r in derive_rels(rels).collect()}
    got = {(r.id, r.n_members) for r in pipe.derived_rels.read().collect()}
    assert got == want


@pytest.mark.slow
def test_way_delete_cascades_into_metadata(base, spark, tmp_path):
    """J5 / `/root/reference/sql/ways_metadata.ddl:6` ON DELETE CASCADE,
    composed end-to-end through the .osc replication path: a
    gid-keyed ways_metadata ParquetMergeTable is registered as an FK
    child of the ways store; a changeset deleting a way must remove its
    metadata row in the same batch, a changeset deleting a
    metadata-less way must still commit cleanly, and replaying the
    batch is a per-table no-op."""
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
    from ariadne_cartograph_spark.streaming.osm_replication import (
        OsmReplicationPipeline,
    )

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    meta = ParquetMergeTable(spark, str(tmp_path / "ways_metadata"), key="gid", n_buckets=4)
    pipe = OsmReplicationPipeline(
        spark, str(tmp_path / "repl"), derive, n_buckets=4, way_children=[meta]
    )
    p0 = split_elements(base)
    pipe.bootstrap(p0["nodes"], p0["ways"])
    # the enrichment CLI's metadata table: one row per way
    meta.upsert(
        p0["ways"].select(
            F.col("id").alias("gid"),
            (F.pmod(F.col("id"), F.lit(97)) / 97.0).cast("float").alias("popularity"),
        )
    )
    n_ways0 = pipe.ways.read().count()
    assert meta.read().count() == n_ways0

    osc = f"""<osmChange version="0.6">
      <delete><way id="{RETAGGED_WAY}" version="2"/></delete>
    </osmChange>"""
    p = tmp_path / "del.osc"
    p.write_text(osc)
    diff = read_osc_elements(spark, str(p)).localCheckpoint(eager=True)
    pipe.apply_changeset(diff, batch_id=1)

    # both tables consistent: way gone AND its metadata row gone
    assert pipe.ways.read().filter(F.col("id") == RETAGGED_WAY).count() == 0
    assert meta.read().filter(F.col("gid") == RETAGGED_WAY).count() == 0
    assert meta.read().count() == n_ways0 - 1
    # no orphans: every metadata gid still references a live way
    orphans = meta.read().join(
        pipe.ways.read().select(F.col("id").alias("gid")), "gid", "left_anti"
    )
    assert orphans.count() == 0

    # replay: per-table txn marks skip everything, snapshot unchanged
    v_meta = meta._current()[0]
    v_ways = pipe.ways._current()[0]
    pipe.apply_changeset(diff, batch_id=1)
    assert meta._current()[0] == v_meta
    assert pipe.ways._current()[0] == v_ways
    assert meta.read().count() == n_ways0 - 1


def test_cascade_delete_helper_orders_children_first(spark, tmp_path):
    """Unit contract of operators.merge.cascade_delete: child rows keyed
    by a DIFFERENT key column name ('gid') are deleted alongside the
    parent ('id'), absent keys are a clean commit, and the txn replay
    guard spans both tables."""
    from ariadne_cartograph_spark.operators.merge import (
        ParquetMergeTable,
        cascade_delete,
    )

    parent = ParquetMergeTable(spark, str(tmp_path / "ways"), key="id", n_buckets=4)
    child = ParquetMergeTable(spark, str(tmp_path / "meta"), key="gid", n_buckets=4)
    parent.upsert(spark.createDataFrame([(i, f"w{i}") for i in range(10)], "id long, name string"))
    # child covers only half the parents (metadata is optional)
    child.upsert(spark.createDataFrame([(i, float(i)) for i in range(0, 10, 2)], "gid long, popularity double"))

    keys = spark.createDataFrame([(2,), (3,), (99,)], "id long")  # 3 has no metadata, 99 absent
    assert cascade_delete(parent, keys, [child], txn_app="t", txn_version=1)
    assert {r.id for r in parent.read().collect()} == {0, 1, 4, 5, 6, 7, 8, 9}
    assert {r.gid for r in child.read().collect()} == {0, 4, 6, 8}

    # replay under the same txn mark: both tables untouched
    vp, vc = parent._current()[0], child._current()[0]
    assert not cascade_delete(parent, keys, [child], txn_app="t", txn_version=1)
    assert (parent._current()[0], child._current()[0]) == (vp, vc)
