"""OsmChange (``.osc``) incremental diff source (SURVEY.md §2.1 S7
deepened): osm2pgsql's production update path is ``--append`` fed by
osmosis/pyosmium replication diffs — the reference's import
(`/root/reference/README.md:19` ``-a|-c``) re-runs the tool over a new
extract, and at planet scale nobody re-imports; they apply the
minutely/hourly/daily ``.osc`` changesets.

The format is the public OsmChange XML (wiki.openstreetmap.org/wiki/
OsmChange): the same ``<node>/<way>/<relation>`` elements as ``.osm``,
wrapped in operation sections

    <osmChange version="0.6">
      <create> <node .../> ... </create>
      <modify> <way .../> ... </modify>
      <delete> <node id=".." version=".."/> ... </delete>
    </osmChange>

Semantics (the OsmChange contract): ``modify`` REPLACES the element
wholesale (the new element carries its full tag/ref list, not a
patch); ``create`` adds; ``delete`` removes by id. Multiple sections
may repeat and apply in document order — for a single changeset the
net effect per (kind, id) is the LAST operation, which is what
:func:`apply_osc` implements (osmium's ``--simplify`` convention).

Scale design (100 TB):
- the diff is TINY relative to the base (a minutely planet diff is
  ~1-5 MB vs a 70 GB PBF): every join against it broadcasts;
- :func:`apply_osc` is one broadcast anti-join + union — no base
  shuffle at all;
- :func:`affected_way_ids` limits geometry recomputation to ways that
  reference a changed node (plus changed/deleted ways themselves).
  The reverse node→way lookup is a semi-join against the exploded
  ref list; materialize :func:`node_way_index` once (bucketed at
  rest) and the per-diff lookup is a broadcast probe of that index
  instead of an O(planet) explode per changeset.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .osm import (
    PARSE_BATCH_ROWS,
    _element_row,
    _open_uri,
    _PARSED_SCHEMA,
    typed_elements,
)

OPS = ("create", "modify", "delete")

_OSC_SCHEMA = StructType(
    list(_PARSED_SCHEMA.fields)
    + [
        StructField("op", StringType()),
        # Replication ordering key: source file + position within it.
        # Osmosis sequence files sort lexicographically in sequence
        # order, so (src_path, src_pos) is a total document order
        # across a multi-file read — what `net_changes` collapses by.
        StructField("src_path", StringType()),
        StructField("src_pos", LongType()),
    ]
)
_OSC_COLUMNS = [f.name for f in _OSC_SCHEMA.fields]


def _iter_osc_rows(source) -> Iterator[dict]:
    """Streaming parse of one OsmChange document: incremental
    iterparse, one element subtree in memory at a time (same
    constant-memory contract as the ``.osm`` reader — each finished
    ``<node>/<way>/<relation>`` subtree is freed via the enclosing
    section's ``clear()`` immediately after its row is extracted, so
    a multi-hundred-MB ``<modify>`` section never accumulates)."""
    import xml.etree.ElementTree as ET

    context = ET.iterparse(source, events=("start", "end"))
    _, root = next(context)  # <osmChange> start
    if root.tag != "osmChange":
        raise ValueError(f"not an OsmChange document: root <{root.tag}>")
    op: str | None = None
    section = None
    depth = 0  # nesting depth below <osmChange>
    for event, el in context:
        if event == "start":
            depth += 1
            if depth == 1 and el.tag in OPS:
                op, section = el.tag, el
            continue
        # end events
        depth -= 1
        if depth == 0:
            op, section = None, None
            root.clear()  # drop the finished (already-emptied) section
            continue
        if depth == 1 and op is not None and el.tag in ("node", "way", "relation"):
            row = _element_row(el)
            row["op"] = op
            yield row
            section.clear()  # free this element's subtree NOW


def read_osc_elements(
    spark: SparkSession, path: str, mode: str = "failfast"
) -> DataFrame:
    """Parse OsmChange file(s) at ``path`` into the typed unified
    element frame plus an ``op`` column (create|modify|delete). Same
    streaming path-only scan and the same permissive contract as
    :func:`osm.read_osm_elements` — ``mode="permissive"`` quarantines
    a file that fails mid-parse as one ``CORRUPT_KIND`` marker row
    (read back via :func:`osm.corrupt_files`) instead of killing the
    job. For a replication CONSUMER the right mode is failfast —
    applying half a changeset corrupts the downstream state, and
    sequence files must apply in order — but a bulk backfill over
    years of archived diffs wants the quarantine channel."""
    if mode not in ("failfast", "permissive"):
        raise ValueError(f"mode must be failfast|permissive, got {mode!r}")
    from .osm import _corrupt_row

    files = spark.read.format("binaryFile").load(path).select("path")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for uri in pdf["path"]:
                buf: list[dict] = []
                pos = 0
                try:
                    with _open_uri(uri) as f:
                        for row in _iter_osc_rows(f):
                            row["src_path"] = str(uri)
                            row["src_pos"] = pos
                            pos += 1
                            buf.append(row)
                            if len(buf) >= PARSE_BATCH_ROWS:
                                yield pd.DataFrame(buf, columns=_OSC_COLUMNS)
                                buf = []
                except Exception as exc:
                    if mode != "permissive":
                        raise
                    marker = _corrupt_row(uri, exc)
                    marker["op"] = None
                    marker["src_path"] = str(uri)
                    marker["src_pos"] = pos
                    buf.append(marker)
                if buf:
                    yield pd.DataFrame(buf, columns=_OSC_COLUMNS)

    return typed_elements(files.mapInPandas(parse, schema=_OSC_SCHEMA))


def net_changes(diff: DataFrame) -> DataFrame:
    """Collapse a changeset to its net effect per (kind, id): the LAST
    operation in document order wins (OsmChange sections apply in
    order; a create followed by a modify is one upsert, anything
    followed by a delete is a delete).

    Document order is the explicit ``(src_path, src_pos)`` key the
    readers stamp on every row — total across a multi-file read
    because osmosis replication sequence files sort lexicographically
    in sequence order, so "last op wins" never depends on partition
    enumeration order. Frames built without the key (hand-constructed
    diffs) fall back to ``monotonically_increasing_id``, which is only
    document-ordered for a SINGLE source file."""
    from pyspark.sql.window import Window

    if "src_path" in diff.columns and "src_pos" in diff.columns:
        w = Window.partitionBy("kind", "id").orderBy(
            F.col("src_path").desc(), F.col("src_pos").desc()
        )
        seq, helper = diff, []
    else:
        seq = diff.withColumn("__seq", F.monotonically_increasing_id())
        w = Window.partitionBy("kind", "id").orderBy(F.col("__seq").desc())
        helper = ["__seq"]
    return (
        seq.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *helper)
    )


def apply_osc(base: DataFrame, diff: DataFrame) -> DataFrame:
    """Apply a typed OsmChange frame to a typed base element frame →
    the patched element frame (what a fresh ``.osm`` of the updated
    region would parse to).

    One broadcast LEFT ANTI join keyed (kind, id) removes every
    touched element from the base, then the changeset's surviving
    (non-delete) elements union back in. The base is never shuffled —
    at planet scale this is a map-side probe against a few-MB
    broadcast, the only sane shape for a minutely diff."""
    changes = net_changes(diff)
    keys = changes.select("kind", "id")
    kept = base.join(F.broadcast(keys), ["kind", "id"], "left_anti")
    upserts = changes.filter(F.col("op") != "delete").drop("op")
    return kept.unionByName(upserts.select(*base.columns))


def node_way_index(ways: DataFrame) -> DataFrame:
    """(node_id, way_id) reverse index — materialize once (bucketed by
    node_id at rest) so per-diff affected-way lookups are co-located
    probes instead of an O(planet) explode per changeset."""
    return ways.select(
        F.explode("node_refs").alias("node_id"), F.col("id").alias("way_id")
    )


def affected_way_ids(
    diff: DataFrame,
    ways: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Way ids whose derived rows (geometry/feature tables) must be
    recomputed for this changeset: ways directly created/modified/
    deleted, plus ways referencing any changed/deleted node. Pass the
    materialized :func:`node_way_index` when you have one; else the
    UPDATED ways frame is exploded for the lookup (one pass)."""
    if (ways is None) == (index is None):
        raise ValueError("pass exactly one of ways= or index=")
    changes = net_changes(diff)
    direct = changes.filter(F.col("kind") == "way").select(F.col("id").alias("way_id"))
    touched_nodes = changes.filter(F.col("kind") == "node").select(
        F.col("id").alias("node_id")
    )
    idx = index if index is not None else node_way_index(ways)
    via_nodes = idx.join(F.broadcast(touched_nodes), "node_id").select("way_id")
    return direct.unionByName(via_nodes).distinct()


def relation_member_index(relations: DataFrame) -> DataFrame:
    """(m_kind, m_ref, relation_id) reverse member index — the
    relation analog of :func:`node_way_index`: materialize once
    (bucketed on the member key at rest) so per-diff affected-relation
    lookups are co-located probes instead of an O(planet) member
    explode per changeset."""
    return relations.select(
        F.col("id").alias("relation_id"), F.explode("members").alias("m")
    ).select(
        F.col("m.member_type").alias("m_kind"),
        F.col("m.ref").alias("m_ref"),
        "relation_id",
    )


def affected_relation_ids(
    diff: DataFrame,
    relations: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Relation ids whose derived rows (multipolygons, turn
    restrictions, route tables) must be recomputed: relations changed
    directly, plus relations with a member among the changeset's
    touched nodes/ways — e.g. moving a member way's node reshapes its
    multipolygon, retagging a restriction's to-way invalidates the
    cached restriction row. Same broadcast-probe shape and index
    contract as :func:`affected_way_ids`: pass the materialized
    :func:`relation_member_index` when you have one, else the UPDATED
    relations frame is exploded for the lookup (one pass)."""
    if (relations is None) == (index is None):
        raise ValueError("pass exactly one of relations= or index=")
    changes = net_changes(diff)
    direct = changes.filter(F.col("kind") == "relation").select(
        F.col("id").alias("relation_id")
    )
    touched = changes.filter(F.col("kind") != "relation").select(
        F.col("kind").alias("m_kind"), F.col("id").alias("m_ref")
    )
    idx = index if index is not None else relation_member_index(relations)
    via = idx.join(F.broadcast(touched), ["m_kind", "m_ref"]).select("relation_id")
    return direct.unionByName(via).distinct()


def incremental_way_geometries(
    nodes_updated: DataFrame,
    ways_updated: DataFrame,
    diff: DataFrame,
    index: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """→ {affected (way ids), rebuilt (their fresh geometry rows),
    deleted (way ids gone from the updated store)}.

    The incremental contract: ``rebuilt`` equals the full
    :func:`osm.assemble_way_geometries` output restricted to
    ``affected`` — only the changeset's blast radius is recomputed.
    Node lookup for the rebuild is a semi-join of the node store on
    the affected ways' exploded refs (small), so the planet-sized
    node table is probed, not scanned-and-shuffled."""
    from .osm import assemble_way_geometries

    affected = affected_way_ids(diff, ways=ways_updated if index is None else None,
                                index=index)
    aff_ways = ways_updated.join(F.broadcast(affected),
                                 ways_updated["id"] == affected["way_id"]).drop("way_id")
    need_nodes = aff_ways.select(F.explode("node_refs").alias("nid")).distinct()
    aff_nodes = nodes_updated.join(
        F.broadcast(need_nodes), nodes_updated["id"] == need_nodes["nid"]
    ).drop("nid")
    rebuilt = assemble_way_geometries(aff_nodes, aff_ways)
    deleted = (
        net_changes(diff)
        .filter((F.col("kind") == "way") & (F.col("op") == "delete"))
        .select(F.col("id").alias("way_id"))
    )
    return {"affected": affected, "rebuilt": rebuilt, "deleted": deleted}
