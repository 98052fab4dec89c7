"""Golden ingest tests on the reference's own fixture
(/root/reference/osm/example.osm — read-only; measured counts from
SURVEY.md §5.2 / FIXTURES.md)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.functions.geometry import is_closed_ring
from ariadne_cartograph_spark.sources.osm import (
    assemble_way_geometries,
    derive_feature_tables,
    read_osm_elements,
    split_elements,
)

OSM_PATH = "/root/reference/osm/example.osm"


@pytest.fixture(scope="module")
def tables(spark):
    elements = read_osm_elements(spark, OSM_PATH).cache()
    t = split_elements(elements)
    t["nodes"] = t["nodes"].cache()
    t["ways"] = t["ways"].cache()
    return t


def test_golden_element_counts(tables):
    assert tables["nodes"].count() == 6223
    assert tables["ways"].count() == 1091
    assert tables["relations"].count() == 32


def test_golden_vertex_and_ring_counts(tables):
    assert tables["ways"].select(
        F.sum(F.size("node_refs"))
    ).collect()[0][0] == 7612
    closed = tables["ways"].filter(is_closed_ring("node_refs")).count()
    assert closed == 792


def test_golden_way_13302656(tables, spark):
    w = tables["ways"].filter(F.col("id") == 13302656).collect()[0]
    assert len(w.node_refs) == 6
    assert w.tags["highway"] == "residential"
    assert w.tags["name"] == "Oakdale Street"
    geo = assemble_way_geometries(tables["nodes"], tables["ways"]).filter(
        F.col("id") == 13302656
    ).collect()[0]
    assert len(geo.geom) == 6
    # vertex order must follow <nd> order: first ref's coords first
    first_node = tables["nodes"].filter(F.col("id") == w.node_refs[0]).collect()[0]
    assert abs(geo.geom[0]["lng"] - first_node.lon) < 1e-9
    assert abs(geo.geom[0]["lat"] - first_node.lat) < 1e-9


def _canon_elements(df):
    """Hashable projection of the unified element frame (map/struct
    columns → deterministic JSON: tags were parsed from sorted-key
    JSON, so map iteration order is stable)."""
    return df.select(
        "kind", "id", "lat", "lon", "version", "changeset", "ts", "uid",
        "user", "visible",
        F.to_json("tags").alias("tags_j"),
        F.to_json("node_refs").alias("refs_j"),
        F.to_json("members").alias("members_j"),
    )


def test_sharded_multi_file_ingest(tables, spark, tmp_path):
    """The 100 TB ingest posture (VERDICT r6 #2): a pre-split extract —
    3 files with cross-file way→node and relation→way references —
    must produce byte-identical element and feature tables to the
    single-file run, with one scan partition per (non-splittable)
    file."""
    import xml.etree.ElementTree as ET

    root = ET.parse(OSM_PATH).getroot()
    children = list(root)
    for i in range(3):
        shard = ET.Element("osm", root.attrib)
        shard.extend(children[i::3])  # interleave → cross-file refs
        ET.ElementTree(shard).write(tmp_path / f"shard{i}.osm")

    from ariadne_cartograph_spark.sources.osm import read_osm_elements

    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        sharded = read_osm_elements(spark, f"file://{tmp_path}/shard*.osm")
        # parallelism = file count: each non-splittable shard is its own task
        assert sharded.rdd.getNumPartitions() >= 3
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)
    single = _canon_elements(read_osm_elements(spark, OSM_PATH))
    sharded_c = _canon_elements(sharded).cache()
    assert single.exceptAll(sharded_c).count() == 0
    assert sharded_c.exceptAll(single).count() == 0

    # cross-file joins: way-geometry assembly and multipolygon holes
    # land on the same feature tables as the single-file run
    t = split_elements(read_osm_elements(spark, f"file://{tmp_path}/shard*.osm"))
    ft = derive_feature_tables(
        t["nodes"],
        assemble_way_geometries(t["nodes"], t["ways"]),
        relations=t["relations"],
    )
    assert ft["point"].count() == 333
    assert ft["line"].count() == 1091
    assert ft["polygon"].count() == 775
    sharded_c.unpersist()


def test_streaming_parse_bounded_memory(spark, tmp_path):
    """The parser must stream (VERDICT r6 #1): peak traced memory for a
    30k-element document is a small fraction of the DOM build, and the
    Spark path emits multiple bounded Arrow batches for one file."""
    import io
    import tracemalloc
    import xml.etree.ElementTree as ET

    from ariadne_cartograph_spark.sources.osm import (
        PARSE_BATCH_ROWS,
        _iter_osm_rows,
        read_osm_elements,
    )

    n = 3 * PARSE_BATCH_ROWS
    parts = ["<osm version='0.6'>"]
    parts += [
        f"<node id='{i}' lat='40.1' lon='-88.2' version='1'>"
        f"<tag k='name' v='n{i}'/></node>"
        for i in range(n)
    ]
    parts.append("</osm>")
    xml = "".join(parts).encode()

    tracemalloc.start()
    count = sum(1 for _ in _iter_osm_rows(io.BytesIO(xml)))
    _, stream_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n

    tracemalloc.start()
    dom = ET.fromstring(xml)
    assert sum(1 for _ in dom) == n
    _, dom_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    del dom
    assert stream_peak < dom_peak / 5, (stream_peak, dom_peak)

    # Spark path: one large file → multi-batch emit, exact row count
    p = tmp_path / "big.osm"
    p.write_bytes(xml)
    df = read_osm_elements(spark, f"file://{p}")
    assert df.count() == n
    assert df.filter(F.col("id") == n - 1).collect()[0].tags["name"] == f"n{n-1}"


def test_open_uri_guard():
    from ariadne_cartograph_spark.sources.osm import _open_uri

    with pytest.raises(NotImplementedError):
        _open_uri("s3://bucket/planet.osm")


def test_feature_tables(tables):
    t = derive_feature_tables(
        tables["nodes"], assemble_way_geometries(tables["nodes"], tables["ways"])
    )
    n_point = t["point"].count()
    n_line = t["line"].count()
    n_poly = t["polygon"].count()
    assert n_line == 1091  # all ways
    assert 0 < n_point < 6223  # only tagged nodes
    assert 0 < n_poly <= 792  # closed+tagged subset
    # style promotion: building column populated for the fixture's ~700
    # buildings
    n_buildings = t["polygon"].filter(F.col("building").isNotNull()).count()
    assert n_buildings >= 650
    # residual map holds non-style keys
    assert "other_tags" in t["line"].columns


def test_multipolygon_hole_attachment_pip_fallback(spark):
    """Two outer rings whose bboxes OVERLAP (an L-shaped block wrapping
    a square courtyard building): bbox containment alone attaches the
    hole to the first bbox match (the L-shape — wrong); the
    point-in-polygon fallback must attach it to the square that
    geometrically contains it."""
    from ariadne_cartograph_spark.sources.osm import assemble_multipolygons

    # outer way 1: L-shape covering (0,0)-(20,4) ∪ (0,0)-(4,10);
    # its bbox (0,0)-(20,10) contains the whole scene.
    l_shape = [(0.0, 0.0), (20.0, 0.0), (20.0, 4.0), (4.0, 4.0),
               (4.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    # outer way 2: square (5,5)-(15,9) — inside the L's bbox but
    # outside the L polygon.
    square = [(5.0, 5.0), (15.0, 5.0), (15.0, 9.0), (5.0, 9.0), (5.0, 5.0)]
    # inner way 3: courtyard (6,6)-(7,7), inside the square only.
    hole = [(6.0, 6.0), (7.0, 6.0), (7.0, 7.0), (6.0, 7.0), (6.0, 6.0)]

    def pts(ring):
        return [{"lng": x, "lat": y} for x, y in ring]

    relations = spark.createDataFrame(
        [
            (
                1,
                {"type": "multipolygon", "building": "yes"},
                [
                    {"member_type": "way", "ref": 1, "role": "outer"},
                    {"member_type": "way", "ref": 2, "role": "outer"},
                    {"member_type": "way", "ref": 3, "role": "inner"},
                ],
            )
        ],
        "id long, tags map<string,string>, "
        "members array<struct<member_type string, ref long, role string>>",
    )
    geoms = spark.createDataFrame(
        [(1, pts(l_shape)), (2, pts(square)), (3, pts(hole))],
        "id long, geom array<struct<lng double, lat double>>",
    )
    rows = assemble_multipolygons(relations, geoms).collect()
    assert len(rows) == 2  # one row per outer ring
    sq = next(r for r in rows if (r.geom[0]["lng"], r.geom[0]["lat"]) == (5.0, 5.0))
    lsh = next(r for r in rows if (r.geom[0]["lng"], r.geom[0]["lat"]) == (0.0, 0.0))
    assert len(sq.holes) == 1 and len(lsh.holes) == 0
    assert (sq.holes[0][0]["lng"], sq.holes[0][0]["lat"]) == (6.0, 6.0)


def test_multipolygon_assembly(tables, spark):
    """README.md:37 — the polygon table includes multipolygon
    relations: all 16 fixture relations stitch to one outer ring each,
    inner member ways (present in the extract) become holes."""
    from ariadne_cartograph_spark.sources.osm import assemble_multipolygons

    geo = assemble_way_geometries(tables["nodes"], tables["ways"])
    mp = assemble_multipolygons(tables["relations"], geo).cache()
    rows = {r.relation_id: r for r in mp.collect()}
    assert len(rows) == 16  # one outer ring per fixture relation
    # rings are closed
    for r in rows.values():
        assert r.geom[0] == r.geom[-1] and len(r.geom) >= 4
        for h in r.holes:
            assert h[0] == h[-1] and len(h) >= 4
    # known relation: Beckman Institute (333928) = outer 30086704 with
    # one courtyard hole (inner 44821191)
    beckman = rows[333928]
    assert len(beckman.holes) == 1
    # relation 2636530: two inner holes in the extract
    assert len(rows[2636530].holes) == 2
    # relation 2700722's only inner way is missing from the extract →
    # outer ring still emitted, zero holes
    assert len(rows[2700722].holes) == 0


def test_feature_tables_with_relations_census(tables):
    """Independent census: feature-table counts re-derived from the XML
    with plain ElementTree (no engine code) — the same numbers pinned
    in the osm_ingest_feature_tables golden oracle."""
    import xml.etree.ElementTree as ET

    root = ET.parse(OSM_PATH).getroot()
    tagged_nodes = sum(
        1 for el in root if el.tag == "node" and any(t.tag == "tag" for t in el)
    )
    xml_ways = [el for el in root if el.tag == "way"]
    closed_tagged = 0
    for w in xml_ways:
        refs = [nd.get("ref") for nd in w if nd.tag == "nd"]
        if any(t.tag == "tag" for t in w) and len(refs) >= 4 and refs[0] == refs[-1]:
            closed_tagged += 1
    n_mp = sum(
        1
        for el in root
        if el.tag == "relation"
        and {t.get("k"): t.get("v") for t in el if t.tag == "tag"}.get("type")
        == "multipolygon"
    )
    t = derive_feature_tables(
        tables["nodes"],
        assemble_way_geometries(tables["nodes"], tables["ways"]),
        relations=tables["relations"],
    )
    assert t["point"].count() == tagged_nodes == 333
    assert t["line"].count() == len(xml_ways) == 1091
    assert t["polygon"].count() == closed_tagged + n_mp == 775
    # relation-derived rows carry osm2pgsql's negative-id convention
    assert t["polygon"].filter(F.col("id") < 0).count() == n_mp == 16


def test_style_file_parser():
    """The osm2pgsql style-file format (README.md:17 `-S
    default.style`): OsmType / Tag / DataType / Flags lines, comments,
    flag validation."""
    from ariadne_cartograph_spark.sources.style import (
        default_style_rules,
        parse_style,
    )

    rules = parse_style(
        """
# comment line
node,way   building   text   polygon
way        tracktype  text   linear
node,way   note       text   delete   # trailing comment
node,way   z_order    int4   linear
node,way   odd        text   nocolumn,nocache
"""
    )
    assert len(rules) == 5
    b = rules[0]
    assert b.osm_types == {"node", "way"} and b.is_polygon and b.is_column
    assert rules[1].osm_types == {"way"} and not rules[1].applies_to("node")
    assert rules[2].is_deleted and not rules[2].is_column
    assert rules[3].spark_type == "int"
    assert not rules[4].is_column and not rules[4].is_deleted
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_style("node,way  building  text  bogusflag")
    with _pytest.raises(ValueError):
        parse_style("relation  building  text  polygon")

    dflt = default_style_rules()
    assert {r.tag for r in dflt if r.is_deleted} == {"source", "created_by", "note"}
    assert "building" in {r.tag for r in dflt if r.is_polygon}
    assert "highway" not in {r.tag for r in dflt if r.is_polygon}


def test_style_driven_feature_tables_census(tables):
    """Full osm2pgsql flag semantics under the stock default.style,
    golden-checked against an independent ElementTree census: deleted
    tags (source/created_by/note) don't make a node importable, and a
    closed way is a polygon iff it carries a polygon-flagged tag
    (area=yes/no overrides)."""
    import xml.etree.ElementTree as ET

    from ariadne_cartograph_spark.sources.style import default_style_rules

    rules = default_style_rules()
    deleted = {r.tag for r in rules if r.is_deleted}
    poly_keys = {r.tag for r in rules if r.is_polygon and r.applies_to("way")}

    root = ET.parse(OSM_PATH).getroot()
    want_point, want_poly = 0, 0
    for el in root:
        xtags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
        live = {k: v for k, v in xtags.items() if k not in deleted}
        if el.tag == "node" and live:
            want_point += 1
        elif el.tag == "way":
            refs = [nd.get("ref") for nd in el if nd.tag == "nd"]
            closed = len(refs) >= 4 and refs[0] == refs[-1]
            area = xtags.get("area")
            is_area = (area == "yes") or (
                bool(poly_keys & set(xtags)) and area != "no"
            )
            if closed and live and is_area:
                want_poly += 1

    t = derive_feature_tables(
        tables["nodes"],
        assemble_way_geometries(tables["nodes"], tables["ways"]),
        style=rules,
        relations=tables["relations"],
    )
    assert t["point"].count() == want_point == 107
    assert t["line"].count() == 1091
    assert t["polygon"].count() == want_poly + 16 == 772
    assert t["roads"].count() == 79
    # promoted columns follow the style's column set + datatypes
    assert "addr_housenumber" in t["point"].columns
    assert dict(t["line"].dtypes)["z_order"] == "int"
    # deleted keys are gone from the residual map too
    n_src = t["line"].filter(
        F.map_contains_key("other_tags", "source")
    ).count()
    assert n_src == 0
    # legacy path promoted 'source' as a column; the real style deletes it
    assert "source" not in t["line"].columns


def test_custom_style_changes_promotion(tables, spark):
    """A user-supplied style reshapes the table layout: different
    column set, delete flags hide tags entirely, nocolumn keeps a tag
    map-only."""
    from ariadne_cartograph_spark.sources.osm import promote_tags
    from ariadne_cartograph_spark.sources.style import parse_style

    custom = parse_style(
        """
node,way   highway    text   linear
node,way   crossing   text   linear
node,way   building   text   delete
node,way   name       text   nocolumn
"""
    )
    ways = tables["ways"]
    p = promote_tags(ways, custom, kind="way")
    assert "crossing" in p.columns and "highway" in p.columns
    assert "building" not in p.columns and "name" not in p.columns
    # deleted: building vanishes from the residual map as well
    assert p.filter(F.map_contains_key("other_tags", "building")).count() == 0
    # nocolumn: name still reachable in the map
    assert p.filter(F.map_contains_key("other_tags", "name")).count() > 0


def test_area_tag_overrides(spark):
    """area=yes promotes a linear-tagged closed way into the polygon
    table; area=no demotes a polygon-tagged one (the osm2pgsql area
    rules)."""
    from ariadne_cartograph_spark.sources.style import parse_style

    rules = parse_style(
        """
node,way   highway   text   linear
node,way   building  text   polygon
"""
    )
    ring = [1, 2, 3, 1]
    ways = spark.createDataFrame(
        [
            (1, ring, {"highway": "pedestrian", "area": "yes"}),
            (2, ring, {"highway": "pedestrian"}),
            (3, ring, {"building": "yes", "area": "no"}),
            (4, ring, {"building": "yes"}),
        ],
        "id long, node_refs array<long>, tags map<string,string>",
    )
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 1.0), (3, 1.0, 0.0)],
        "id long, lon double, lat double",
    ).select("id", "lat", "lon", F.lit(None).cast("map<string,string>").alias("tags"))
    geo = assemble_way_geometries(
        nodes.select("id", "lon", "lat", "tags"), ways
    )
    t = derive_feature_tables(nodes, geo, style=rules)
    got = {r["id"] for r in t["polygon"].select("id").collect()}
    assert got == {1, 4}


def test_turn_restrictions_golden(tables):
    """osm2pgrouting --attributes/--tags analog: the fixture's 8
    restriction relations, hand-checked triples from the XML."""
    from ariadne_cartograph_spark.operators.topology import extract_turn_restrictions

    r = {
        row.relation_id: row
        for row in extract_turn_restrictions(tables["relations"]).collect()
    }
    assert len(r) == 8
    assert r[3516928].restriction == "no_left_turn"
    assert (r[3516928].from_way, r[3516928].via_node, r[3516928].to_way) == (
        261918653, 122714882, 13302656,
    )
    assert r[2430203].restriction == "only_right_turn"
    assert (r[2430203].from_way, r[2430203].via_node, r[2430203].to_way) == (
        13298929, 3909613366, 140161509,
    )
    # u-turns: from == to
    for rid in (1109564, 1110020, 7552502, 8107362):
        assert r[rid].restriction == "no_u_turn"
        assert r[rid].from_way == r[rid].to_way


def test_route_members_golden(tables):
    from ariadne_cartograph_spark.sources.osm import route_members

    rm = route_members(tables["relations"]).cache()
    # fixture census: 5 route + 2 route_master relations, 3,577 member rows
    assert rm.count() == 3577
    by_type = {
        (r["relation_type"], r["member_type"]): r["n"]
        for r in rm.groupBy("relation_type", "member_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == {
        ("route", "way"): 3559,
        ("route", "node"): 14,
        ("route_master", "relation"): 4,
    }
    # member order is semantic: ordinals are dense 0..n-1 per relation
    seq_check = (
        rm.groupBy("relation_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("member_seq").alias("lo"),
            F.max("member_seq").alias("hi"),
        )
        .filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
        .count()
    )
    assert seq_check == 0
    # route_master members are the per-direction route relation variants
    masters = rm.filter(F.col("relation_type") == "route_master").collect()
    assert {m["member_ref"] for m in masters} == {6180566, 6181176, 6192320, 6192321}
    # roles survive: the bicycle route carries forward/backward members
    roles = {
        r["member_role"]
        for r in rm.filter(F.col("relation_id") == 3319294)
        .select("member_role")
        .distinct()
        .collect()
    }
    assert "forward" in roles and "backward" in roles
    rm.unpersist()


def test_permissive_mode_quarantines_corrupt_file(spark, tmp_path):
    """The 100 TB ingest contract (Spark JSON/CSV PERMISSIVE applied at
    the XML corruption unit, the file): a truncated shard contributes
    its parsed prefix plus ONE quarantine marker; intact shards parse
    fully; failfast still raises."""
    import shutil

    from ariadne_cartograph_spark.sources.osm import corrupt_files

    shutil.copy(OSM_PATH, tmp_path / "good.osm")
    data = open(OSM_PATH, "rb").read()
    with open(tmp_path / "bad.osm", "wb") as f:
        f.write(data[: len(data) // 2])  # truncated mid-document

    el = read_osm_elements(spark, f"file://{tmp_path}/*.osm", mode="permissive")
    bad = corrupt_files(el).collect()
    assert len(bad) == 1
    assert bad[0].path.endswith("bad.osm") and "ParseError" in bad[0].error
    # the intact file parsed fully (7346 elements), the truncated one
    # contributed a prefix — and split_elements never sees the marker
    t = split_elements(el)
    n_nodes = t["nodes"].count()
    assert 6223 < n_nodes < 2 * 6223
    good_only = split_elements(
        read_osm_elements(spark, f"file://{tmp_path}/good.osm")
    )
    assert good_only["nodes"].count() == 6223

    with pytest.raises(Exception):
        read_osm_elements(spark, f"file://{tmp_path}/*.osm").count()  # failfast
