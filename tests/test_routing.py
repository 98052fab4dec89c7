"""Distributed shortest-path (operators/routing) vs pure-Python
oracles on the OSM fixture topology — BFS hop counts exactly, weighted
Bellman-Ford vs Dijkstra within float tolerance."""

from __future__ import annotations

import heapq
import math
from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.routing import edge_adjacency, shortest_paths
from ariadne_cartograph_spark.operators.topology import build_topology, routable_ways
from ariadne_cartograph_spark.sources.osm import read_osm_elements, split_elements

OSM_PATH = "/root/reference/osm/example.osm"


@pytest.fixture(scope="module")
def topo_edges(spark):
    t = split_elements(read_osm_elements(spark, OSM_PATH))
    return (
        build_topology(t["nodes"], routable_ways(t["ways"]))["edges"]
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def edge_list(topo_edges):
    return [
        (r.source, r.target, [(p.lng, p.lat) for p in r.geom])
        for r in topo_edges.select("source", "target", "geom").collect()
    ]


def _haversine_m(a, b):
    # exact float-op mirror of functions.geo.haversine_m (delta-scaled
    # radians), so path sums agree to float noise, not formula drift
    (lng1, lat1), (lng2, lat2) = a, b
    rad = math.pi / 180.0
    dlat = (lat2 - lat1) * rad
    dlng = (lng2 - lng1) * rad
    h = (
        math.sin(dlat / 2) ** 2
        + math.cos(lat1 * rad) * math.cos(lat2 * rad) * math.sin(dlng / 2) ** 2
    )
    return 2.0 * 6371008.8 * math.asin(math.sqrt(h))  # EARTH_RADIUS_M


def test_bfs_hops_match_python(spark, topo_edges, edge_list):
    src = min(min(a, b) for a, b, _ in edge_list)
    g = defaultdict(list)
    for a, b, _ in edge_list:
        g[a].append(b)
        g[b].append(a)
    dist = {src: 0}
    dq = deque([src])
    while dq:
        u = dq.popleft()
        for v in g[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    bounded = {k: v for k, v in dist.items() if v <= 12}

    got = {
        r.node_id: r.hops
        for r in shortest_paths(edge_adjacency(topo_edges), [src], max_iter=12).collect()
    }
    assert got == bounded
    # the golden literals pinned in the osm_route_bfs_reach oracle
    assert len(bounded) == 195
    assert max(bounded.values()) == 12
    assert sum(bounded.values()) == 1734
    assert sum(k * v for k, v in bounded.items()) == 2918399019593


@pytest.mark.slow
def test_weighted_matches_python_dijkstra(spark, topo_edges, edge_list):
    from ariadne_cartograph_spark.functions.geo import haversine_m

    src = min(min(a, b) for a, b, _ in edge_list)
    g = defaultdict(list)
    for a, b, geom in edge_list:
        w = sum(_haversine_m(geom[i], geom[i + 1]) for i in range(len(geom) - 1))
        g[a].append((b, w))
        g[b].append((a, w))
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in g[u]:
            nd = d + w
            if nd < dist.get(v, math.inf) - 1e-9:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    # edge length = polyline haversine length, column-math twin of the
    # python weights above
    length = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.size("geom") - 1),
            lambda i: haversine_m(
                F.element_at("geom", i)["lng"],
                F.element_at("geom", i)["lat"],
                F.element_at("geom", i + 1)["lng"],
                F.element_at("geom", i + 1)["lat"],
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adj = edge_adjacency(topo_edges, weight=length)
    got = {
        r.node_id: r.dist
        for r in shortest_paths(adj, [src], max_iter=60).collect()
    }
    assert set(got) == set(dist)
    for k, v in dist.items():
        assert got[k] == pytest.approx(v, abs=1e-4), k


@pytest.mark.slow
def test_weighted_routing_with_class_costs(spark, topo_edges):
    """Routing over the REAL per-class cost model (edge_costs: travel
    seconds from the highway class carried onto every edge, oneway →
    reverse_cost -1) vs a pure-Python Dijkstra on the same cost table —
    the osm2pgrouting cost/reverse_cost consumption path."""
    from ariadne_cartograph_spark.operators.topology import edge_costs

    ec = edge_costs(topo_edges).localCheckpoint(eager=True)
    # class speeds actually differentiate edges (8 classes in fixture)
    n_speeds = (
        ec.select((F.col("length_m") / F.col("cost_s")).alias("mps"))
        .distinct()
        .count()
    )
    assert n_speeds > 1
    rows = ec.select("source", "target", "cost_s", "reverse_cost_s").collect()
    g = defaultdict(list)
    for r in rows:
        g[r.source].append((r.target, r.cost_s))
        if r.reverse_cost_s >= 0:
            g[r.target].append((r.source, r.reverse_cost_s))
    src = min(min(r.source, r.target) for r in rows)
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in g[u]:
            nd = d + w
            if nd < dist.get(v, math.inf) - 1e-9:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    # directed arcs: forward at cost_s, backward only where
    # reverse_cost_s >= 0 (pgRouting's -1 marks a oneway edge)
    adj = ec.select(
        F.col("source").alias("u"), F.col("target").alias("v"), F.col("cost_s").alias("w")
    ).unionByName(
        ec.filter(F.col("reverse_cost_s") >= 0).select(
            F.col("target").alias("u"),
            F.col("source").alias("v"),
            F.col("reverse_cost_s").alias("w"),
        )
    )
    got = {r.node_id: r.dist for r in shortest_paths(adj, [src], max_iter=60).collect()}
    assert set(got) == set(dist)
    for k, v in dist.items():
        assert got[k] == pytest.approx(v, abs=1e-6), k


@pytest.mark.slow
def test_cost_matrix_matches_per_source_runs(spark, topo_edges):
    """shortest_path_matrix (pgr_dijkstraCostMatrix analog) must equal
    K independent shortest_paths runs — per-source state, not the
    pooled min-dist shortest_paths computes for multi-source seeds."""
    from ariadne_cartograph_spark.operators.routing import (
        shortest_path_matrix,
    )

    adj = edge_adjacency(topo_edges).localCheckpoint(eager=True)
    srcs = sorted(
        r.u for r in adj.select(F.min("u").alias("u")).collect()
    )
    vs = sorted({r.u for r in adj.select("u").distinct().limit(200).collect()})
    srcs = [vs[0], vs[50], vs[150]]
    got = {
        (r.src, r.node_id): (r.dist, r.hops)
        for r in shortest_path_matrix(adj, srcs, max_iter=8).collect()
    }
    for s in srcs:
        want = {
            (s, r.node_id): (r.dist, r.hops)
            for r in shortest_paths(adj, [s], max_iter=8).collect()
        }
        mine = {k: v for k, v in got.items() if k[0] == s}
        assert mine == want, s


def test_cost_matrix_census_literals(spark, edge_list):
    """Independent re-derivation of the osm_route_cost_matrix golden
    oracle: plain-Python BFS per source over the fixture topology."""
    g = defaultdict(list)
    for a, b, _ in edge_list:
        g[a].append(b)
        g[b].append(a)
    srcs = sorted(set(g))[:3]
    want = {
        20827733: (129, 974, 1658784252081),
        29322335: (212, 1397, 2278525630109),
        29322337: (185, 1226, 1898728416385),
    }
    assert srcs == sorted(want)
    for s in srcs:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in g[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        b = {k: v for k, v in dist.items() if v <= 10}
        assert (
            len(b), sum(b.values()), sum(k * v for k, v in b.items())
        ) == want[s], s


def test_pagerank_directed_sinks_get_rank(spark):
    """On a directed chain 1→2→3, vertex 3 has only incoming edges —
    it must still appear with accumulated rank (the r4 advice: a
    source-only vertex set silently dropped sinks and their mass)."""
    from ariadne_cartograph_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    rows = {r["node_id"]: r["pr"] for r in pagerank(edges, d=0.85, n_iter=5).collect()}
    assert set(rows) == {1, 2, 3}
    # rank flows downstream: the sink outranks the source
    assert rows[3] > rows[2] > rows[1]


def test_pagerank_mass_and_determinism(spark):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.operators.graph import pagerank

    # small undirected path graph 1-2-3-4 (both directions supplied)
    pairs = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u long, v long"
    )
    pr = pagerank(edges, d=0.85, n_iter=10)
    rows = {r["node_id"]: r["pr"] for r in pr.collect()}
    # probability mass is conserved (no dangling nodes in an undirected graph)
    assert abs(sum(rows.values()) - 1.0) < 1e-5
    # symmetry of the path graph: ends equal, middles equal, middle > end
    assert abs(rows[1] - rows[4]) < 1e-6
    assert abs(rows[2] - rows[3]) < 1e-6
    assert rows[2] > rows[1]
    rows2 = {r["node_id"]: r["pr"] for r in
             pagerank(edges, d=0.85, n_iter=10).collect()}
    assert rows == rows2
