"""Continuous OSM replication (SURVEY.md §2.1 S7/T6): a Structured
Streaming pipeline that drains a directory of OsmChange ``.osc``
files — the osmosis/pyosmium replication feed osm2pgsql ``--append``
consumes in production — and maintains

1. the element stores (``nodes``/``ways`` as copy-on-write
   :class:`~..operators.merge.ParquetMergeTable`\\ s), and
2. any way-keyed derived table (geometry store, line features),
   recomputing ONLY each changeset's blast radius
   (`sources/osm_diff.py`),

all exactly-once: each table commits once per batch, its upserts and
deletes together, under the mark (txn_app, 2*batch_id+1), so a
crashed-and-replayed micro-batch is a no-op. OsmChange files must apply
in sequence order: each micro-batch applies its files as ONE combined
changeset collapsed last-op-wins by the explicit (file path, in-file
position) key — file names carry the osmosis sequence number and sort
lexicographically in sequence order, so same-mtime bursts are safe;
across polls the file source delivers oldest-first.

Scale shape per batch: the diff is MBs → every join broadcasts; the
element upserts touch O(diff) buckets of the bucketed stores; the
derived recompute is O(blast radius). The reverse node→way lookup
rides a FOURTH maintained table — ``node_ways`` (node_id → sorted
way-id array, bucketed at rest), the materialized
:func:`~..sources.osm_diff.node_way_index` — updated incrementally per
changeset from the changed ways' old+new ref lists, so the lookup is a
bucket-pruned probe (``ParquetMergeTable.read_keys``), never an
O(table) explode. Every per-batch read (old refs, index rows, affected
ways, their nodes) is a ``read_keys`` bucket-pruned probe: end to end
the batch costs O(diff + blast radius), independent of store size.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import ParquetMergeTable, cascade_delete
from ..sources.osm import typed_elements
from ..sources.osm_diff import (
    _OSC_COLUMNS,
    _OSC_SCHEMA,
    _iter_osc_rows,
    net_changes,
)

NODE_COLS = ["id", "lat", "lon", "tags"]
WAY_COLS = ["id", "node_refs", "tags"]


def osc_elements_from_text(
    docs: DataFrame, text_col: str = "value", path_col: str | None = None
) -> DataFrame:
    """Parse OsmChange documents carried as STRINGS (one row per file —
    ``spark.read/readStream.format("text").option("wholetext", True)``)
    into the typed diff frame. Same executor-side iterparse as
    :func:`~..sources.osm_diff.read_osc_elements`, just sourced from
    column values instead of re-opened paths — which is what a
    streaming file source hands a micro-batch. Pass ``path_col``
    (e.g. the selected ``_metadata.file_path``) so every row carries
    the (src_path, src_pos) document-order key `net_changes` collapses
    by. Without it, src_path is "" and src_pos folds a per-partition
    document counter into its high bits, so document order is
    preserved WITHIN each partition (the old monotonic-id guarantee)
    but remains undefined across partitions — multi-document frames
    spanning partitions need ``path_col`` for a total order."""
    import io

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        doc_seq = 0  # per-partition document counter
        for pdf in batches:
            for i in range(len(pdf)):
                content = pdf[text_col].iloc[i]
                if path_col:
                    src, base = str(pdf[path_col].iloc[i]), 0
                else:
                    # counter applies ONLY here: without a path the
                    # (doc_seq << 40) high bits order documents within
                    # the partition
                    src, base = "", doc_seq << 40
                    doc_seq += 1
                rows = []
                for pos, row in enumerate(
                    _iter_osc_rows(io.BytesIO(content.encode("utf-8")))
                ):
                    assert pos < (1 << 40), "osc document exceeds 2^40 rows"
                    row["src_path"] = src
                    row["src_pos"] = base + pos
                    rows.append(row)
                if rows:
                    yield pd.DataFrame(rows, columns=_OSC_COLUMNS)

    return typed_elements(docs.mapInPandas(parse, schema=_OSC_SCHEMA))


REL_COLS = ["id", "members", "tags"]


class OsmReplicationPipeline:
    """Element stores + maintained node→ways index + one derived way
    table under a changeset feed — every per-batch read bucket-pruned.
    With ``derive_relations`` set, additionally maintains the relations
    store, the (member → relations) reverse index, and a
    relation-keyed derived table (multipolygon rows, turn-restriction
    rows, route tables) under the same exactly-once marks and the same
    index-commits-before-store replay-safe ordering."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        derive: Callable[[DataFrame], DataFrame],
        n_buckets: int | None = 8,
        derive_relations: Callable[[DataFrame], DataFrame] | None = None,
        way_children: list[ParquetMergeTable] | None = None,
    ) -> None:
        self.spark = spark
        self.derive = derive
        self.derive_relations = derive_relations
        # FK children of the ways store (the reference's ways_metadata,
        # `/root/reference/sql/ways_metadata.ddl:6` ON DELETE CASCADE):
        # way-keyed tables maintained OUTSIDE this pipeline (e.g. the
        # enrichment CLI's upserts) whose rows must disappear when their
        # way does. apply_changeset cascades every way delete into them
        # via operators.merge.cascade_delete (children-first commit
        # order; see its docstring for the crash-consistency argument).
        self.way_children = list(way_children or [])
        self.nodes = ParquetMergeTable(spark, f"{root}/nodes", key="id", n_buckets=n_buckets)
        self.ways = ParquetMergeTable(spark, f"{root}/ways", key="id", n_buckets=n_buckets)
        # node_id → sorted array of referencing way ids: the reverse
        # index that makes blast-radius lookups O(diff) per batch
        self.node_ways = ParquetMergeTable(
            spark, f"{root}/node_ways", key="id", n_buckets=n_buckets
        )
        self.derived = ParquetMergeTable(spark, f"{root}/derived", key="id", n_buckets=n_buckets)
        if derive_relations is not None:
            self.relations = ParquetMergeTable(
                spark, f"{root}/relations", key="id", n_buckets=n_buckets
            )
            # "kind:ref" member key → sorted array of relation ids
            self.member_rels = ParquetMergeTable(
                spark, f"{root}/member_rels", key="id", n_buckets=n_buckets
            )
            self.derived_rels = ParquetMergeTable(
                spark, f"{root}/derived_rels", key="id", n_buckets=n_buckets
            )

    @staticmethod
    def _index_rows(pairs: DataFrame) -> DataFrame:
        """(node_id, way_id) pairs → (id, way_ids sorted) index rows."""
        return (
            pairs.groupBy("node_id")
            .agg(F.array_sort(F.collect_set("way_id")).alias("way_ids"))
            .select(F.col("node_id").alias("id"), "way_ids")
        )

    @staticmethod
    def _member_key(kind: F.Column, ref: F.Column) -> F.Column:
        return F.concat_ws(":", kind, ref.cast("string"))

    @classmethod
    def _rel_pairs(cls, relations: DataFrame) -> DataFrame:
        """relations(id, members) → ("kind:ref" member key, relation_id)."""
        from ..sources.osm_diff import relation_member_index

        idx = relation_member_index(relations)
        return idx.select(
            cls._member_key(F.col("m_kind"), F.col("m_ref")).alias("mk"),
            "relation_id",
        )

    @staticmethod
    def _rel_index_rows(pairs: DataFrame) -> DataFrame:
        return (
            pairs.groupBy("mk")
            .agg(F.array_sort(F.collect_set("relation_id")).alias("relation_ids"))
            .select(F.col("mk").alias("id"), "relation_ids")
        )

    def bootstrap(
        self, nodes: DataFrame, ways: DataFrame, relations: DataFrame | None = None
    ) -> None:
        """Seed the stores from a full import (the initial ``-c`` run)."""
        from ..sources.osm import assemble_way_geometries
        from ..sources.osm_diff import node_way_index

        self.nodes.upsert(nodes.select(*NODE_COLS))
        self.ways.upsert(ways.select(*WAY_COLS))
        self.node_ways.upsert(self._index_rows(node_way_index(ways)))
        self.derived.upsert(self.derive(assemble_way_geometries(nodes, ways)))
        if self.derive_relations is not None:
            assert relations is not None, "derive_relations set: pass relations"
            self.relations.upsert(relations.select(*REL_COLS))
            self.member_rels.upsert(self._rel_index_rows(self._rel_pairs(relations)))
            self.derived_rels.upsert(
                self.derive_relations(relations.select(*REL_COLS))
            )

    def apply_changeset(self, diff: DataFrame, batch_id: int) -> None:
        """One OsmChange → four exactly-once table maintenances, all
        O(diff + blast radius): stores and index are probed with
        bucket-pruned ``read_keys`` (the pre-update snapshots' data
        files are immutable, so reading them lazily across the upserts
        is safe), never scanned.

        Each table commits once, its upserts and deletes together
        (``upsert(..., deletes=...)``), in this order: ``nodes``,
        ``node_ways``, the FK children's deletes, ``ways``, ``derived``
        (then, with ``derive_relations``, ``member_rels``,
        ``relations``, ``derived_rels``). The index commits before the
        ways store and children before their parent; the comments below
        give the crash-replay argument for each. Every commit carries
        the mark ``txn_app="osc"``, ``txn_version=2*batch_id+1``, so a
        replayed batch skips every table that already committed it. The
        mark is odd so that it also compares correctly with a store that
        recorded a batch's upserts as ``2*batch_id`` and its deletes as
        ``2*batch_id+1``."""
        from ..sources.osm import assemble_way_geometries
        from ..sources.osm_diff import affected_way_ids

        net = net_changes(diff).localCheckpoint(eager=True)
        v = 2 * batch_id + 1

        def split(kind: str, cols: list[str]):
            k = net.filter(F.col("kind") == kind)
            return (
                k.filter(F.col("op") != "delete").select(*cols),
                k.filter(F.col("op") == "delete").select("id"),
            )

        n_up, n_del = split("node", NODE_COLS)
        w_up, w_del = split("way", WAY_COLS)

        # pre-update ref lists of every changed way (create/modify/
        # delete): the index delta's "remove" side. Materialized NOW —
        # the upserts below commit new versions and their auto-vacuum
        # may retire the pre-update bucket files once past the grace
        # window (slow feeds), so this diff-sized read must not stay
        # lazy across them.
        changed_ways = net.filter(F.col("kind") == "way").select("id")
        old_refs = self.ways.read_keys(changed_ways)
        if old_refs is not None:
            old_refs = old_refs.localCheckpoint(eager=True)

        self.nodes.upsert(n_up, deletes=n_del, txn_app="osc", txn_version=v)

        # ---- node→ways index maintenance (O(changed ways' refs)) ----
        # COMMIT ORDER MATTERS for crash-replay safety: the index
        # commits BEFORE the ways store. old_refs must be the
        # PRE-update ref lists; a crash between a ways commit and the
        # index commit would make the replay read post-update refs and
        # leave removed nodes' index entries stale forever. With
        # index-before-ways, every crash point replays correctly: if
        # the index committed, its marks skip the (identically
        # recomputed) replay; if it didn't, the ways store is still
        # pre-update and old_refs is read correctly.
        def pairs(refs: DataFrame | None) -> DataFrame:
            if refs is None:
                return self.spark.createDataFrame([], "node_id long, way_id long")
            return refs.select(
                F.col("id").alias("way_id"), F.explode("node_refs").alias("node_id")
            ).select("node_id", "way_id")

        new_pairs = pairs(w_up)
        touched_nodes = (
            pairs(old_refs).select("node_id").union(new_pairs.select("node_id")).distinct()
        )
        cur = self.node_ways.read_keys(touched_nodes.select(F.col("node_id").alias("id")))
        kept_pairs = (
            self.spark.createDataFrame([], "node_id long, way_id long")
            if cur is None
            else cur.select(
                F.col("id").alias("node_id"), F.explode("way_ids").alias("way_id")
            ).join(
                F.broadcast(changed_ways.select(F.col("id").alias("way_id"))),
                "way_id",
                "left_anti",
            )
        )
        new_rows = self._index_rows(kept_pairs.unionByName(new_pairs)).localCheckpoint(
            eager=True
        )
        emptied = touched_nodes.join(
            new_rows.select(F.col("id").alias("node_id")), "node_id", "left_anti"
        ).select(F.col("node_id").alias("id"))
        self.node_ways.upsert(new_rows, deletes=emptied, txn_app="osc", txn_version=v)

        # way delete cascades into the FK children (ways_metadata):
        # children-first under the same per-table txn marks, so a way
        # deleted by a changeset takes its metadata rows with it —
        # the DDL's ON DELETE CASCADE, replay-safe. The ways store's
        # upserts ride its delete commit.
        cascade_delete(
            self.ways,
            w_del,
            self.way_children,
            txn_app="osc",
            txn_version=v,
            parent_updates=w_up,
        )

        # ---- blast-radius recompute, probed not scanned ----
        diff_nodes = net.filter(F.col("kind") == "node").select("id")
        idx_rows = self.node_ways.read_keys(diff_nodes)
        idx = (
            self.spark.createDataFrame([], "node_id long, way_id long")
            if idx_rows is None
            else idx_rows.select(
                F.col("id").alias("node_id"), F.explode("way_ids").alias("way_id")
            )
        )
        aff = affected_way_ids(diff, index=idx)
        aff_ways = self.ways.read_keys(aff.select(F.col("way_id").alias("id")))
        if aff_ways is None:
            aff_ways = self.spark.createDataFrame([], "id long, node_refs array<long>, tags map<string,string>")
        need_nodes = aff_ways.select(F.explode("node_refs").alias("id")).distinct()
        aff_nodes = self.nodes.read_keys(need_nodes)
        if aff_nodes is None:
            aff_nodes = self.spark.createDataFrame([], "id long, lat double, lon double, tags map<string,string>")
        rebuilt = assemble_way_geometries(aff_nodes, aff_ways)
        self.derived.upsert(
            self.derive(rebuilt), deletes=w_del, txn_app="osc", txn_version=v
        )

        if self.derive_relations is not None:
            self._apply_relations(net, diff, v)

    def _apply_relations(self, net, diff, v: int) -> None:
        """Relation-side maintenance under the same changeset: store +
        member index + derived table, mirroring the way side exactly —
        pre-update member lists read before any relation commit, index
        commits before the store (same crash-replay argument), derived
        rows recomputed only for the blast radius (relations changed
        directly or holding a changed node/way as member)."""
        from ..sources.osm_diff import affected_relation_ids

        r = net.filter(F.col("kind") == "relation")
        r_up = r.filter(F.col("op") != "delete").select(*REL_COLS)
        r_del = r.filter(F.col("op") == "delete").select("id")
        changed_rels = r.select("id")
        old_members = self.relations.read_keys(changed_rels)
        if old_members is not None:
            old_members = old_members.localCheckpoint(eager=True)

        # ---- member → relations index maintenance ----
        empty_pairs = self.spark.createDataFrame([], "mk string, relation_id long")
        new_pairs = self._rel_pairs(r_up)
        old_pairs = empty_pairs if old_members is None else self._rel_pairs(old_members)
        touched_mk = old_pairs.select("mk").union(new_pairs.select("mk")).distinct()
        cur = self.member_rels.read_keys(touched_mk.select(F.col("mk").alias("id")))
        kept = (
            empty_pairs
            if cur is None
            else cur.select(
                F.col("id").alias("mk"), F.explode("relation_ids").alias("relation_id")
            ).join(
                F.broadcast(changed_rels.select(F.col("id").alias("relation_id"))),
                "relation_id",
                "left_anti",
            )
        )
        new_rows = self._rel_index_rows(kept.unionByName(new_pairs)).localCheckpoint(
            eager=True
        )
        emptied = touched_mk.join(
            new_rows.select(F.col("id").alias("mk")), "mk", "left_anti"
        ).select(F.col("mk").alias("id"))
        self.member_rels.upsert(new_rows, deletes=emptied, txn_app="osc", txn_version=v)
        self.relations.upsert(r_up, deletes=r_del, txn_app="osc", txn_version=v)

        # ---- blast radius via the maintained index ----
        touched_members = net.filter(F.col("kind") != "relation").select(
            self._member_key(F.col("kind"), F.col("id")).alias("id")
        )
        idx_rows = self.member_rels.read_keys(touched_members)
        idx = (
            self.spark.createDataFrame(
                [], "m_kind string, m_ref long, relation_id long"
            )
            if idx_rows is None
            else idx_rows.select(
                F.split(F.col("id"), ":").getItem(0).alias("m_kind"),
                F.split(F.col("id"), ":").getItem(1).cast("long").alias("m_ref"),
                F.explode("relation_ids").alias("relation_id"),
            )
        )
        aff = affected_relation_ids(diff, index=idx)
        aff_rels = self.relations.read_keys(
            aff.select(F.col("relation_id").alias("id"))
        )
        if aff_rels is None:
            aff_rels = self.spark.createDataFrame(
                [],
                "id long, members array<struct<member_type string, ref long, "
                "role string>>, tags map<string,string>",
            )
        self.derived_rels.upsert(
            self.derive_relations(aff_rels.select(*REL_COLS)),
            deletes=r_del,
            txn_app="osc",
            txn_version=v,
        )

    def run_stream(self, osc_dir: str, checkpoint_dir: str) -> None:
        """Drain ``osc_dir`` (availableNow); each micro-batch applies
        its files as ONE combined changeset in FILE-NAME order —
        osmosis sequence files sort lexicographically in sequence
        order, so a burst of changesets fetched in one poll (which
        commonly share an mtime, making the file source's
        modification-time ordering a tie) still collapses last-op-wins
        correctly via the (src_path, src_pos) key. Across polls the
        source's oldest-first delivery keeps batches in order.
        Restartable from the checkpoint with replayed batches skipped
        by the txn marks."""
        stream = (
            self.spark.readStream.format("text")
            .option("wholetext", "true")
            .load(osc_dir)
            .select("value", F.col("_metadata.file_path").alias("src"))
        )

        def _process(batch: DataFrame, batch_id: int) -> None:
            diff = osc_elements_from_text(batch, path_col="src").localCheckpoint(
                eager=True
            )
            if diff.count():
                self.apply_changeset(diff, batch_id)

        (
            stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
