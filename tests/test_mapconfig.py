"""osm2pgrouting mapconfig.xml parsing + config-driven routable import
(`/root/reference/README.md:44` `-c mapconfig.xml`): the declarative
path for routable-way selection and class→(id, priority, speed) costs.

Invariants pinned here:
- the STOCK profile reproduces the legacy highway-tagged import's edge
  census on the fixture exactly (osm_topology_edges golden unchanged);
- a custom profile (pedestrian-only) is a config file, not a code
  change, and selects exactly its classes;
- per-direction speeds / priority / tag_id flow into edge_costs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.topology import (
    build_topology,
    edge_costs,
    routable_ways,
)
from ariadne_cartograph_spark.sources.mapconfig import (
    DEFAULT_MAPCONFIG_XML,
    default_mapconfig,
    parse_mapconfig,
)

FIXTURE = "/root/reference/osm/example.osm"


# ---------------------------------------------------------------- parser

def test_parse_stock_config():
    cfg = default_mapconfig()
    assert cfg.keys() == ["highway", "cycleway", "tracktype", "junction"]
    by_pair = {(r.tag_key, r.tag_value): r for r in cfg.rules}
    mw = by_pair[("highway", "motorway")]
    assert (mw.tag_id, mw.priority, mw.maxspeed_kmh) == (101, 1.0, 130.0)
    assert by_pair[("junction", "roundabout")].tag_id == 401
    # ids unique across the whole document
    assert len({r.tag_id for r in cfg.rules}) == len(cfg.rules)


def test_parse_per_direction_speeds_and_defaults():
    cfg = parse_mapconfig(
        """<configuration><tag_name name="highway" id="1">
        <tag_value name="primary" id="106" maxspeed="90"
                   maxspeed_forward="100" maxspeed_backward="80"/>
        <tag_value name="road" id="199"/>
        </tag_name></configuration>"""
    )
    prim, road = cfg.rules
    assert (prim.forward_kmh, prim.backward_kmh) == (100.0, 80.0)
    # osm2pgrouting defaults: priority 1.0, maxspeed 50
    assert (road.priority, road.maxspeed_kmh) == (1.0, 50.0)
    assert (road.forward_kmh, road.backward_kmh) == (50.0, 50.0)


@pytest.mark.parametrize(
    "xml, msg",
    [
        ("<config></config>", "root"),
        ("<configuration></configuration>", "no tag_value"),
        (
            '<configuration><tag_name name="highway" id="1">'
            '<tag_value id="101"/></tag_name></configuration>',
            "missing name",
        ),
        (
            '<configuration><tag_name name="highway" id="1">'
            '<tag_value name="a" id="101"/><tag_value name="b" id="101"/>'
            "</tag_name></configuration>",
            "duplicate",
        ),
        (
            '<configuration><tag_name name="highway" id="1">'
            '<tag_value name="a" id="101" maxspeed="fast"/>'
            "</tag_name></configuration>",
            "bad numeric",
        ),
    ],
)
def test_parse_rejects_malformed(xml, msg):
    with pytest.raises(ValueError):
        parse_mapconfig(xml)


def test_configuration_table_rows():
    rows = default_mapconfig().configuration_rows()
    assert ("highway", "motorway") == rows[0][1:3]
    assert rows[0][0] == 101
    assert len(rows) == 35  # 25 highway + 4 cycleway + 5 tracktype + 1 junction


# ------------------------------------------------- config-driven import

@pytest.fixture(scope="module")
def fixture_tables(spark):
    from ariadne_cartograph_spark.sources.osm import (
        read_osm_elements,
        split_elements,
    )

    t = split_elements(read_osm_elements(spark, FIXTURE))
    return {
        "nodes": t["nodes"].localCheckpoint(eager=True),
        "ways": t["ways"].localCheckpoint(eager=True),
    }


def _census(edges):
    return edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("osm_way_id").alias("n_ways"),
        F.sum("source").cast("bigint").alias("sum_source_ids"),
    ).collect()[0]


def test_stock_config_reproduces_legacy_import(fixture_tables):
    """The acceptance gate from the round-7/8 verdict: under the
    DEFAULT (stock) config the osm_topology_edges golden is unchanged —
    stock mapconfig covers every highway class in the fixture, so the
    edge census is identical to the legacy highway-tagged filter
    (and to _OSM_TOPOLOGY_ORACLE's pinned 604/293/872070915274)."""
    legacy = _census(
        build_topology(
            fixture_tables["nodes"], routable_ways(fixture_tables["ways"])
        )["edges"]
    )
    stock = _census(
        build_topology(
            fixture_tables["nodes"],
            routable_ways(fixture_tables["ways"], config=default_mapconfig()),
        )["edges"]
    )
    assert tuple(legacy) == tuple(stock) == (604, 293, 872070915274)


def test_custom_pedestrian_profile(fixture_tables):
    """A rail-only/foot-only import is a different config file, not a
    code change: the pedestrian profile keeps exactly its 4 classes."""
    from ariadne_cartograph_spark.plans.geo_queries import (
        PEDESTRIAN_MAPCONFIG_XML,
    )

    cfg = parse_mapconfig(PEDESTRIAN_MAPCONFIG_XML)
    edges = build_topology(
        fixture_tables["nodes"],
        routable_ways(fixture_tables["ways"], config=cfg),
    )["edges"]
    classes = {r[0] for r in edges.select("highway").distinct().collect()}
    assert classes == {"footway", "path", "pedestrian", "steps"}
    n = edges.count()
    assert n == 313


def test_edge_costs_from_config(fixture_tables):
    """Config-driven costs: tag_id/class_priority ride every edge,
    forward/backward speeds differ when the config says so, oneway
    reverse cost is -1 (pgRouting convention)."""
    xml = """<configuration><tag_name name="highway" id="1">
      <tag_value name="tertiary" id="110" priority="1.75" maxspeed="90"
                 maxspeed_forward="60" maxspeed_backward="30"/>
      </tag_name></configuration>"""
    cfg = parse_mapconfig(xml)
    edges = build_topology(
        fixture_tables["nodes"],
        routable_ways(fixture_tables["ways"], config=cfg),
    )["edges"]
    ec = edge_costs(edges, config=cfg)
    rows = ec.select(
        "tag_id", "class_priority", "length_m", "cost_s", "reverse_cost_s", "oneway"
    ).collect()
    assert rows, "fixture has tertiary ways"
    for r in rows:
        assert r.tag_id == 110 and r.class_priority == 1.75
        # forward 60 km/h
        assert r.cost_s == pytest.approx(r.length_m / (60 / 3.6), rel=1e-9)
        if (r.oneway or "").lower() in ("yes", "true", "1"):
            assert r.reverse_cost_s == -1.0
        else:  # backward 30 km/h: exactly 2x the forward cost
            assert r.reverse_cost_s == pytest.approx(2 * r.cost_s, rel=1e-9)


def test_first_match_precedence():
    """A way matching two configured pairs takes the FIRST rule in
    document order (osm2pgrouting class precedence): highway=track
    before tracktype=grade1."""
    cfg = default_mapconfig()
    from ariadne_cartograph_spark.session import get_spark

    spark = get_spark("mapconfig-precedence")
    df = spark.createDataFrame(
        [({"highway": "track", "tracktype": "grade1"},)], "tags map<string,string>"
    )
    row = df.select(
        cfg.tag_id("tags").alias("tid"),
        cfg.speed_forward_kmh("tags").alias("kmh"),
    ).collect()[0]
    assert (row.tid, row.kmh) == (115, 10.0)  # highway=track, not grade1's 60


def test_roundtrip_through_file(tmp_path):
    p = tmp_path / "mapconfig.xml"
    p.write_text(DEFAULT_MAPCONFIG_XML)
    assert parse_mapconfig(p.read_text(encoding="utf-8")) == default_mapconfig()


def test_way_maxspeed_parsing(spark):
    """OSM maxspeed=* → km/h: plain km/h numbers, mph conversion,
    junk → NULL (class fallback)."""
    from ariadne_cartograph_spark.sources.mapconfig import way_maxspeed_kmh

    df = spark.createDataFrame(
        [("50",), ("30 mph",), ("30mph",), ("none",), ("signals",),
         ("walk",), ("5.5",), ("  60  ",), (None,)],
        "raw string",
    )
    got = [r.kmh for r in df.select(way_maxspeed_kmh(F.col("raw")).alias("kmh")).collect()]
    exp = [50.0, 48.28032, 48.28032, None, None, None, 5.5, 60.0, None]
    assert got == [pytest.approx(e) if e is not None else None for e in exp]


def test_edge_costs_way_maxspeed_override(fixture_tables):
    """The fixture's 54 mph-tagged ways: with use_way_maxspeed=True the
    cost uses the way's own speed; untagged ways keep the class speed;
    default stays the pure class table (opt-in, so the
    osm_topology_mapconfig golden is unaffected)."""
    cfg = default_mapconfig()
    edges = build_topology(
        fixture_tables["nodes"],
        routable_ways(fixture_tables["ways"], config=cfg),
    )["edges"]
    base = edge_costs(edges, config=cfg)
    over = edge_costs(edges, config=cfg, use_way_maxspeed=True)
    j = (
        base.select("gid", "length_m", F.col("cost_s").alias("base_cost"),
                    F.col("tags").getItem("maxspeed").alias("ms"))
        .join(over.select("gid", F.col("cost_s").alias("over_cost")), "gid")
        .collect()
    )
    tagged = [r for r in j if r.ms is not None]
    untagged = [r for r in j if r.ms is None]
    assert tagged and untagged
    for r in untagged:  # no way tag → identical cost
        assert r.over_cost == r.base_cost
    for r in tagged:  # "30 mph" etc. → cost at the converted speed
        mph = float(r.ms.split()[0])
        kmh = mph * 1.609344
        assert r.over_cost == pytest.approx(r.length_m / (kmh / 3.6), rel=1e-9)
