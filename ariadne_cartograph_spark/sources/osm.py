"""OSM XML source (SURVEY.md §2.1 S6, §1.1): parse nodes / ways /
relations (+ tags) into typed DataFrames — the engine's analog of the
osm2pgsql import path (`/root/reference/README.md:17`), built on Spark
alone.

Execution model: `binaryFile` *listing* scan (path column only — the
file bytes are never loaded into a Spark row) → per-file incremental
``ET.iterparse`` inside ``mapInPandas`` (executor-side, Arrow-batched).
The parser streams elements off the open file handle and frees each
finished subtree (`root.clear()`), emitting rows in bounded batches —
executor memory is O(parse batch), independent of file size, so a
single 100 GB XML parses in constant memory (parallelism for one file
is still 1: OSM XML is not splittable — a planet-scale ingest feeds
pre-split extracts, the standard practice, and the stage then scales
linearly with file count; see tests/test_osm_ingest.py sharded-ingest
test). Tags travel as JSON strings through Arrow (maps are awkward in
the pandas bridge) and become `map<string,string>` columns at the end.

The unified element frame is produced once and filtered into the three
element kinds; callers materialize (cache/write) it when deriving
multiple tables — at real scale this is the bronze parquet layer.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .style import StyleRule, default_style_rules, load_style, parse_style  # noqa: F401

# Unified element schema (kind ∈ node|way|relation). Audit attrs per
# osm/example.osm:4-6; tags/member lists JSON-encoded at this layer.
_PARSED_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("id", LongType()),
        StructField("lat_e7", LongType()),  # lat * 1e7 as integer (exact)
        StructField("lon_e7", LongType()),
        StructField("version", LongType()),
        StructField("changeset", LongType()),
        StructField("ts", StringType()),
        StructField("uid", LongType()),
        StructField("user", StringType()),
        StructField("visible", StringType()),
        StructField("tags_json", StringType()),
        StructField("node_refs", ArrayType(LongType())),
        StructField("members_json", StringType()),
    ]
)


# Rows per emitted Arrow batch: bounds executor memory for the parse
# stage at O(batch), independent of input file size.
PARSE_BATCH_ROWS = 10_000

_PARSED_COLUMNS = [f.name for f in _PARSED_SCHEMA.fields]


def _element_row(el) -> dict:
    a = el.attrib
    tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
    row = {
        "kind": el.tag,
        "id": int(a["id"]),
        "lat_e7": int(round(float(a["lat"]) * 1e7)) if "lat" in a else None,
        "lon_e7": int(round(float(a["lon"]) * 1e7)) if "lon" in a else None,
        "version": int(a["version"]) if "version" in a else None,
        "changeset": int(a["changeset"]) if "changeset" in a else None,
        "ts": a.get("timestamp"),
        "uid": int(a["uid"]) if "uid" in a else None,
        "user": a.get("user"),
        "visible": a.get("visible"),
        "tags_json": json.dumps(tags, sort_keys=True) if tags else None,
        "node_refs": None,
        "members_json": None,
    }
    if el.tag == "way":
        row["node_refs"] = [int(nd.get("ref")) for nd in el if nd.tag == "nd"]
    elif el.tag == "relation":
        row["members_json"] = json.dumps(
            [
                {
                    "member_type": m.get("type"),
                    "ref": int(m.get("ref")),
                    "role": m.get("role", ""),
                }
                for m in el
                if m.tag == "member"
            ]
        )
    return row


def _iter_osm_rows(source) -> Iterator[dict]:
    """Streaming parse of one OSM XML document (file-like ``source``):
    incremental ``ET.iterparse``, processing each top-level element on
    its end event and immediately freeing the finished subtree via
    ``root.clear()``. Peak memory is one element subtree — never the
    DOM — matching osm2pgsql's streaming read
    (`/root/reference/README.md:17`; it never DOM-loads the planet).
    """
    import xml.etree.ElementTree as ET

    context = ET.iterparse(source, events=("start", "end"))
    _, root = next(context)  # the <osm> root's start event
    depth = 0  # nesting depth below root; 0 ⇒ a direct child just ended
    for event, el in context:
        if event == "start":
            depth += 1
            continue
        depth -= 1
        if depth != 0:
            continue
        if el.tag in ("node", "way", "relation"):
            yield _element_row(el)
        root.clear()  # drop the finished child (and root's ref to it)


def _open_uri(uri: str):
    """Open a Spark file URI for streaming read. Local/file URIs open
    directly (the planet-file case this source targets); object-store
    URIs require a mounted/localized path — guard, not a stub: the
    listing scan itself already supports any Hadoop filesystem, only
    the executor-side re-open is scheme-limited here."""
    from urllib.parse import unquote, urlparse

    p = urlparse(str(uri))
    if p.scheme in ("", "file"):
        return open(unquote(p.path), "rb")
    raise NotImplementedError(
        f"streaming OSM parse requires a file:// or local path, got {uri!r}; "
        "localize object-store files (mount / distributed copy) first"
    )


def typed_elements(parsed: DataFrame) -> DataFrame:
    """_PARSED_SCHEMA frame → the typed unified element frame — shared
    by the XML and PBF readers so every downstream consumer (split,
    assembly, topology, feature tables) is format-agnostic."""
    members_type = ArrayType(
        StructType(
            [
                StructField("member_type", StringType()),
                StructField("ref", LongType()),
                StructField("role", StringType()),
            ]
        )
    )
    # The OsmChange reader (sources/osm_diff.py) parses into the same
    # schema plus an `op` column and the (src_path, src_pos) document-
    # order key — carry them through when present so the typed frame
    # stays the single shared representation.
    extra = [c for c in ("op", "src_path", "src_pos") if c in parsed.columns]
    return parsed.select(
        "kind",
        "id",
        (F.col("lat_e7") / 1e7).alias("lat"),
        (F.col("lon_e7") / 1e7).alias("lon"),
        "version",
        "changeset",
        F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
        "uid",
        "user",
        (F.col("visible") == "true").alias("visible"),
        F.from_json("tags_json", "map<string,string>").alias("tags"),
        "node_refs",
        F.from_json("members_json", members_type).alias("members"),
        *extra,
    )


CORRUPT_KIND = "_corrupt_file"


def _corrupt_row(uri: str, exc: Exception) -> dict:
    row = {c: None for c in _PARSED_COLUMNS}
    row["kind"] = CORRUPT_KIND
    row["tags_json"] = json.dumps(
        {"path": str(uri), "error": f"{type(exc).__name__}: {exc}"[:500]},
        sort_keys=True,
    )
    return row


def corrupt_files(elements: DataFrame) -> DataFrame:
    """(path, error) frame of files a permissive read could not fully
    parse — the quarantine channel a 100 TB ingest reviews instead of
    losing the whole job."""
    return elements.filter(F.col("kind") == CORRUPT_KIND).select(
        F.col("tags").getItem("path").alias("path"),
        F.col("tags").getItem("error").alias("error"),
    )


def read_osm_elements(
    spark: SparkSession, path: str, mode: str = "failfast"
) -> DataFrame:
    """Parse OSM XML file(s) at ``path`` (glob ok) into the unified
    element DataFrame with typed columns. Streaming: the Spark scan
    carries only file *paths*; each task opens its file and iterparses
    it in PARSE_BATCH_ROWS-row batches (constant memory per file).

    ``mode``: ``"failfast"`` (default) propagates any parse error and
    fails the job — right for a curated fixture. ``"permissive"``
    mirrors Spark's JSON/CSV PERMISSIVE contract at file granularity —
    the unit of XML corruption, since a malformed byte poisons the rest
    of its document: a file that fails mid-parse contributes the rows
    parsed before the error plus one ``CORRUPT_KIND`` marker row
    carrying (path, error) (read back via :func:`corrupt_files`;
    ``split_elements`` naturally excludes markers). At planet scale one
    truncated shard must quarantine, not kill the thousand-task job.
    """
    if mode not in ("failfast", "permissive"):
        raise ValueError(f"mode must be failfast|permissive, got {mode!r}")
    files = spark.read.format("binaryFile").load(path).select("path")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for uri in pdf["path"]:
                buf: list[dict] = []
                try:
                    with _open_uri(uri) as f:
                        for row in _iter_osm_rows(f):
                            buf.append(row)
                            if len(buf) >= PARSE_BATCH_ROWS:
                                yield pd.DataFrame(buf, columns=_PARSED_COLUMNS)
                                buf = []
                except Exception as exc:
                    if mode != "permissive":
                        raise
                    buf.append(_corrupt_row(uri, exc))
                if buf:
                    yield pd.DataFrame(buf, columns=_PARSED_COLUMNS)

    return typed_elements(files.mapInPandas(parse, schema=_PARSED_SCHEMA))


def split_elements(elements: DataFrame) -> dict[str, DataFrame]:
    """Unified frame → the three OSM element tables (SURVEY.md §1.1)."""
    nodes = elements.filter(F.col("kind") == "node").select(
        "id", "lat", "lon", "version", "changeset", "ts", "uid", "user", "visible", "tags"
    )
    ways = elements.filter(F.col("kind") == "way").select(
        "id", "version", "changeset", "ts", "uid", "user", "visible", "node_refs", "tags"
    )
    relations = elements.filter(F.col("kind") == "relation").select(
        "id", "version", "changeset", "ts", "uid", "user", "visible", "members", "tags"
    )
    return {"nodes": nodes, "ways": ways, "relations": relations}


def assemble_way_geometries(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Way-geometry assembly join (SURVEY.md J3): ordered `<nd ref>`
    list → array<struct<lng,lat>> geometry.

    posexplode → equi-join to nodes → groupBy way + sort_array(struct(
    pos, point)) keeps vertex order without a window. Two shuffles
    (join on node id, re-group on way id) — the unavoidable minimum for
    this denormalization; at scale both sides can be bucketed by their
    keys to make the join co-located.
    """
    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("node_refs").alias("pos", "node_id")
    )
    pts = refs.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"), "node_id"
    )
    geom = (
        pts.groupBy("way_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            F.struct(
                                F.col("lon").alias("lng"), F.col("lat").alias("lat")
                            ).alias("pt"),
                        )
                    )
                ),
                lambda s: s["pt"],
            ).alias("geom")
        )
    )
    return ways.join(geom, ways.id == geom.way_id, "left").drop("way_id")


def route_members(relations: DataFrame) -> DataFrame:
    """Transit route extraction (SURVEY.md §1.1): ``type=route`` and
    ``type=route_master`` relations → one row per (relation, member)
    with the member ordinal preserved (member order is semantic in OSM
    routes — it is the stop/way sequence). The fixture
    (`/root/reference/osm/example.osm`) carries 5 route + 2
    route_master relations; route_master members are themselves
    relations (the per-direction route variants).

    Pure narrow ops (filter + posexplode) over the relations frame — no
    shuffle; at planet scale this is a projection of the bronze
    relations table.
    """
    routes = relations.filter(
        F.col("tags").getItem("type").isin("route", "route_master")
    )
    return routes.select(
        F.col("id").alias("relation_id"),
        F.col("tags").getItem("type").alias("relation_type"),
        # the transport mode lives under the tag matching the type
        F.coalesce(
            F.col("tags").getItem("route"), F.col("tags").getItem("route_master")
        ).alias("route_kind"),
        F.col("tags").getItem("ref").alias("route_ref"),
        F.col("tags").getItem("name").alias("route_name"),
        F.posexplode("members").alias("member_seq", "m"),
    ).select(
        "relation_id",
        "relation_type",
        "route_kind",
        "route_ref",
        "route_name",
        "member_seq",
        F.col("m.member_type").alias("member_type"),
        F.col("m.ref").alias("member_ref"),
        F.col("m.role").alias("member_role"),
    )


# ---------------------------------------------------------------------------
# Style-driven tag promotion (P12) — the osm2pgsql "style file" as data:
# (tag key → column) promotion, residual tags kept as the hstore-like
# map (README.md:24-25). Two forms:
#   - a plain list of tag keys (the original shorthand — every key
#     promoted as text, no flag semantics);
#   - a list of sources.style.StyleRule parsed from a real osm2pgsql
#     style file (README.md:17 `-S default.style`) — per-kind columns,
#     datatype casts, and delete / nocolumn / polygon flag semantics.
# ---------------------------------------------------------------------------

DEFAULT_STYLE: list[str] = [
    # subset of osm2pgsql default.style keys relevant to the fixture
    "access", "addr:housename", "addr:housenumber", "addr:street",
    "amenity", "barrier", "bicycle", "building", "crossing", "foot",
    "highway", "landuse", "layer", "leisure", "name", "natural",
    "oneway", "railway", "service", "source", "surface", "waterway",
]

Style = "list[str] | list[StyleRule] | None"


def _is_rules(style) -> bool:
    return bool(style) and isinstance(style[0], StyleRule)


def strip_deleted_tags(tags: F.Column | str, rules: list[StyleRule]) -> F.Column:
    """Remove delete-flagged keys — osm2pgsql drops them before any
    other processing, so they count neither for import eligibility nor
    for the residual map."""
    deleted = [r.tag for r in rules if r.is_deleted]
    t = F.col(tags) if isinstance(tags, str) else tags
    if not deleted:
        return t
    return F.map_filter(t, lambda k, _: ~k.isin(*[F.lit(d) for d in deleted]))


def promote_tags(df: DataFrame, style=None, kind: str | None = None) -> DataFrame:
    """Promote style keys to typed columns; keep the residual map as
    ``other_tags``.

    With ``StyleRule``s (``kind`` = "node" | "way" selects the
    applicable rules): delete-flagged tags vanish entirely,
    nocolumn-flagged tags stay map-only, promoted columns cast to the
    rule's datatype. With a plain key list (legacy), every key promotes
    as-is and the residual keeps everything else."""
    if _is_rules(style):
        rules = [r for r in style if kind is None or r.applies_to(kind)]
        cols = [df[c] for c in df.columns]
        col_rules = [r for r in rules if r.is_column]
        promoted = [
            F.col("tags").getItem(r.tag).cast(r.spark_type).alias(r.column)
            for r in col_rules
        ]
        hidden = [r.tag for r in col_rules]  # promoted keys leave the map
        live = strip_deleted_tags("tags", style)
        residual = F.map_filter(live, lambda k, _: ~k.isin(*[F.lit(s) for s in hidden]))
        return df.select(*cols, *promoted).withColumn("other_tags", residual).drop("tags")
    style = style or DEFAULT_STYLE
    cols = [df[c] for c in df.columns]
    promoted = [
        F.col("tags").getItem(k).alias(k.replace(":", "_")) for k in style
    ]
    residual = F.map_filter("tags", lambda k, _: ~k.isin(*[F.lit(s) for s in style]))
    return df.select(*cols, *promoted).withColumn("other_tags", residual).drop("tags")


_PT = StructType([StructField("lng", DoubleType()), StructField("lat", DoubleType())])
_RING_SCHEMA = StructType(
    [
        StructField("relation_id", LongType()),
        StructField("geom", ArrayType(_PT)),
        StructField("holes", ArrayType(ArrayType(_PT))),
    ]
)


def assemble_multipolygons(relations: DataFrame, ways_with_geom: DataFrame) -> DataFrame:
    """Multipolygon-relation assembly — the half of the polygon table
    the closed-way path misses (`/root/reference/README.md:37`:
    "closed ways / **multipolygon relations** — buildings, structures";
    buildings with courtyards, parks with holes).

    Member ways (roles outer/inner) are chained end-to-end into closed
    rings; inner rings attach as holes to the outer ring whose bbox
    contains them. One output row per OUTER ring:
    (relation_id, geom=outer ring, holes=[inner rings]).

    Plan shape: explode way members → equi-join member geometries →
    groupBy(relation) → applyInPandas ring-stitch. The Python stage
    holds ONE relation's member ways at a time (bounded state), and the
    groupBy partitions by relation id — the stage scales horizontally
    with relation count, never with planet size. Member ways missing
    from the extract (clipped at the bbox) are skipped; ring sets that
    cannot close are dropped, matching osm2pgsql's invalid-geometry
    behavior."""
    mp = relations.filter(F.col("tags").getItem("type") == "multipolygon")
    members = mp.select(
        F.col("id").alias("relation_id"),
        F.explode("members").alias("m"),
    ).filter(
        (F.col("m.member_type") == "way") & F.col("m.role").isin("outer", "inner")
    ).select(
        "relation_id", F.col("m.ref").alias("way_id"), F.col("m.role").alias("role")
    )
    geoms = ways_with_geom.select(F.col("id").alias("way_id"), "geom")
    joined = members.join(geoms, "way_id").filter(F.col("geom").isNotNull())

    def stitch_group(pdf: pd.DataFrame) -> pd.DataFrame:
        def chain(ways: list[list[tuple]]) -> list[list[tuple]]:
            rings, unused = [], [list(w) for w in ways if len(w) >= 2]
            while unused:
                ring = unused.pop(0)
                while ring[0] != ring[-1]:
                    for i, w in enumerate(unused):
                        if w[0] == ring[-1]:
                            ring += w[1:]
                        elif w[-1] == ring[-1]:
                            ring += w[-2::-1]
                        else:
                            continue
                        unused.pop(i)
                        break
                    else:
                        ring = None  # open ring set — drop
                        break
                if ring is not None and len(ring) >= 4:
                    rings.append(ring)
            return rings

        out = []
        for rel_id, grp in pdf.groupby("relation_id"):
            by_role = {"outer": [], "inner": []}
            for _, row in grp.iterrows():
                pts = [(p["lng"], p["lat"]) for p in row["geom"]]
                by_role[row["role"]].append(pts)
            outers = chain(by_role["outer"])
            inners = chain(by_role["inner"])
            if not outers:
                continue

            def bbox(ring):
                xs = [p[0] for p in ring]
                ys = [p[1] for p in ring]
                return min(xs), min(ys), max(xs), max(ys)

            def pip(x, y, ring):
                # even-odd ray crossing; ring is closed (first == last)
                inside = False
                for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                    if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (
                        y2 - y1
                    ):
                        inside = not inside
                return inside

            oboxes = [bbox(o) for o in outers]
            holes_per_outer: list[list] = [[] for _ in outers]
            for inner in inners:
                x, y = inner[0]
                cands = [
                    j
                    for j, (x0, y0, x1, y1) in enumerate(oboxes)
                    if x0 <= x <= x1 and y0 <= y <= y1
                ]
                target = cands[0] if cands else 0
                if len(cands) > 1:
                    # bboxes overlap/touch (L-shaped outers, adjacent
                    # courtyard blocks): geometric point-in-polygon
                    # decides; tried over the inner's vertices so a
                    # test point sitting exactly on an outer's edge
                    # (crossing-test fragility) falls through to the
                    # next vertex. bbox order remains the tie-break if
                    # no vertex lands strictly inside any candidate.
                    done = False
                    for px, py in inner[:-1]:
                        for j in cands:
                            if pip(px, py, outers[j]):
                                target, done = j, True
                                break
                        if done:
                            break
                holes_per_outer[target].append(inner)
            for j, outer in enumerate(outers):
                out.append(
                    {
                        "relation_id": rel_id,
                        "geom": [{"lng": x, "lat": y} for x, y in outer],
                        "holes": [
                            [{"lng": x, "lat": y} for x, y in h]
                            for h in holes_per_outer[j]
                        ],
                    }
                )
        return pd.DataFrame(out, columns=["relation_id", "geom", "holes"])

    return joined.groupBy("relation_id").applyInPandas(stitch_group, schema=_RING_SCHEMA)


def derive_feature_tables(
    nodes: DataFrame,
    ways_with_geom: DataFrame,
    style=None,
    relations: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The planet_osm_* table family (README.md:33-38):
    point (tagged nodes), line (all ways), polygon (closed tagged ways
    + multipolygon relations when ``relations`` is given), roads
    (low-zoom subset of line). Relation-derived polygon rows carry
    osm2pgsql's id convention: osm_id = -relation_id (negative ids mark
    relation provenance and cannot collide with way ids).

    ``style`` as a plain key list keeps the original shorthand
    semantics (polygon = closed + any tag). As ``StyleRule``s from a
    real osm2pgsql style file (README.md:17), full flag semantics
    apply: delete-flagged tags never count (a node whose only tags are
    deleted is not imported), and a closed way is a polygon iff it
    carries a polygon-flagged tag — with the ``area=yes``/``area=no``
    overrides — matching the osm2pgsql area rules."""
    from ..functions.geometry import is_closed_ring

    if _is_rules(style):
        live_node_tags = strip_deleted_tags("tags", style)
        tagged_nodes = nodes.filter(
            F.col("tags").isNotNull() & (F.size(F.map_keys(live_node_tags)) > 0)
        )
        point = promote_tags(tagged_nodes, style, kind="node")
        line = promote_tags(ways_with_geom, style, kind="way")
        poly_keys = [
            r.tag for r in style if r.is_polygon and r.applies_to("way")
        ]
        has_poly_tag = (
            F.size(
                F.map_filter(
                    "tags", lambda k, _: k.isin(*[F.lit(p) for p in poly_keys])
                )
            )
            > 0
        )
        area = F.col("tags").getItem("area")
        is_area = (area == "yes") | (
            has_poly_tag & (area.isNull() | (area != "no"))
        )
        live_way_tags = strip_deleted_tags("tags", style)
        closed = ways_with_geom.filter(
            is_closed_ring("node_refs")
            & F.col("tags").isNotNull()
            & (F.size(F.map_keys(live_way_tags)) > 0)
            & is_area
        )
        polygon = promote_tags(closed, style, kind="way").withColumn(
            "holes", F.array().cast("array<array<struct<lng:double,lat:double>>>")
        )
    else:
        tagged_nodes = nodes.filter(
            F.col("tags").isNotNull() & (F.size(F.map_keys("tags")) > 0)
        )
        point = promote_tags(tagged_nodes, style)
        line = promote_tags(ways_with_geom, style)
        closed = ways_with_geom.filter(
            is_closed_ring("node_refs") & F.col("tags").isNotNull()
        )
        polygon = promote_tags(closed, style).withColumn(
            "holes", F.array().cast("array<array<struct<lng:double,lat:double>>>")
        )
    from ..functions.geometry import polygon_area_m2

    if relations is not None:
        rel_rings = assemble_multipolygons(relations, ways_with_geom)
        rel_tagged = rel_rings.join(
            relations.select(F.col("id").alias("relation_id"), "tags"), "relation_id"
        ).select(
            (-F.col("relation_id")).alias("id"),
            "tags",
            "geom",
            "holes",
        )
        rel_poly = (
            promote_tags(rel_tagged, style, kind="way")
            if _is_rules(style)
            else promote_tags(rel_tagged, style)
        )
        polygon = polygon.unionByName(rel_poly, allowMissingColumns=True)
    # osm2pgsql's way_area: Mercator-plane polygon area, holes
    # subtracted (the column every rendering query filters/sorts by)
    polygon = polygon.withColumn(
        "way_area", polygon_area_m2(F.col("geom"), F.col("holes"))
    )
    # a custom style may not promote highway/railway at all — treat a
    # missing column as null (empty roads subset for that predicate)
    def _col_or_null(name: str) -> F.Column:
        return line[name] if name in line.columns else F.lit(None).cast("string")

    roads = line.filter(
        _col_or_null("highway").isin(
            "motorway", "trunk", "primary", "secondary", "tertiary", "residential"
        )
        | _col_or_null("railway").isNotNull()
    )
    return {"point": point, "line": line, "polygon": polygon, "roads": roads}
