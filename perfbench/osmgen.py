"""Seeded, stdlib-only OSM region and OsmChange generator with ground truth.

The region is shaped like the reference extract described in FIXTURES.md
sections 1-3: ordered way refs (2 to 142 per way), about 72% closed rings,
multipolygon / restriction / route / route_master relations, tagged POIs and
the routable highway classes. Everything the benchmark checks the engine
against is computed here in plain Python, never with the engine under test:

- element counts and the feature-table row counts;
- the routable edge set, re-derived with the topology split rule
  (a node splits a way when it occurs more than once across routable ways
  or is a way endpoint);
- a BFS reach (count, hop sum, max hop) for each route source;
- the store contents after each changeset.
"""

from __future__ import annotations

import random
from collections import Counter, deque
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr

LAT0, LAT1 = 34.13482, 34.14298
LON0, LON1 = -118.12998, -118.11582

# FIXTURES.md section 2, measured open-way highway distribution
HIGHWAY_WEIGHTS = {
    "footway": 104, "service": 54, "tertiary": 43, "steps": 36,
    "residential": 24, "pedestrian": 19, "secondary": 12, "path": 1,
}
ROAD_CLASSES = {"motorway", "trunk", "primary", "secondary", "tertiary", "residential"}
NODE_TAGS = ["traffic_signals", "stop", "bus_stop", "turning_circle"]
AMENITIES = ["cafe", "school", "parking", "bench", "restaurant", "library"]
STREETS = ["Oakdale", "Marengo", "Arroyo", "Fair Oaks", "Mission", "Garfield", "Huntington"]
USERS = [f"mapper{i}" for i in range(20)]


@dataclass
class Node:
    id: int
    lat: str  # 7-decimal strings: the engine keeps lat*1e7 exactly
    lon: str
    tags: dict = field(default_factory=dict)


@dataclass
class Way:
    id: int
    refs: list
    tags: dict = field(default_factory=dict)


@dataclass
class Relation:
    id: int
    members: list  # (type, ref, role)
    tags: dict = field(default_factory=dict)


class Region:
    """A synthetic street grid with buildings, landuse, POIs and relations.

    ``grid`` intersections per side set the size: 14 gives about 1,900
    nodes, 395 ways, 15 relations and 392 routable edges.
    """

    def __init__(self, seed: int, grid: int = 14):
        self.rng = random.Random(seed)
        self.nodes: dict[int, Node] = {}
        self.ways: dict[int, Way] = {}
        self.relations: dict[int, Relation] = {}
        self._next = {"node": 1_000_000, "way": 50_000_000, "relation": 3_000_000}
        self._build(grid)

    # ---- id and coordinate helpers ----
    def _id(self, kind: str) -> int:
        self._next[kind] += self.rng.randint(1, 40)  # sparse, increasing
        return self._next[kind]

    def _coord(self, fy: float, fx: float) -> tuple[str, str]:
        fy = min(max(fy, 0.0), 1.0)
        fx = min(max(fx, 0.0), 1.0)
        return f"{LAT0 + fy * (LAT1 - LAT0):.7f}", f"{LON0 + fx * (LON1 - LON0):.7f}"

    def _node(self, fy: float, fx: float, tags: dict | None = None) -> int:
        nid = self._id("node")
        lat, lon = self._coord(fy, fx)
        self.nodes[nid] = Node(nid, lat, lon, dict(tags or {}))
        return nid

    def _street_tags(self, hw: str) -> dict:
        r = self.rng
        t = {"highway": hw}
        if r.random() < 0.6:
            t["name"] = f"{r.choice(STREETS)} {r.choice(['Street', 'Avenue', 'Drive'])}"
        if hw in ROAD_CLASSES and r.random() < 0.5:
            t["maxspeed"] = f"{r.choice([25, 30, 35])} mph"
        if hw in ("footway", "path", "steps", "pedestrian"):
            t["foot"] = "yes"
        if r.random() < 0.2:
            t["bicycle"] = r.choice(["yes", "no"])
        if r.random() < 0.15:
            t["oneway"] = "yes"
        if r.random() < 0.3:
            t["tiger:county"] = "Los Angeles, CA"
        return t

    # ---- region layout ----
    def _build(self, g: int) -> None:
        r = self.rng
        step = 1.0 / (g + 1)
        hw_names = list(HIGHWAY_WEIGHTS)
        hw_weights = list(HIGHWAY_WEIGHTS.values())
        inter = {}
        for i in range(g):
            for j in range(g):
                tags = {}
                if r.random() < 0.25:
                    tags["highway"] = r.choice(NODE_TAGS)
                if r.random() < 0.1:
                    tags["crossing"] = r.choice(["zebra", "uncontrolled"])
                inter[i, j] = self._node(
                    (i + 1) * step + r.uniform(-0.1, 0.1) * step,
                    (j + 1) * step + r.uniform(-0.1, 0.1) * step,
                    tags,
                )
        streets: list[int] = []

        def street(cells: list[tuple[int, int]]) -> None:
            refs = [inter[cells[0]]]
            for a, b in zip(cells, cells[1:]):
                na, nb = self.nodes[inter[a]], self.nodes[inter[b]]
                for k in range(r.randint(0, 2)):  # shape nodes between crossings
                    f = (k + 1) / 3
                    lat = float(na.lat) + f * (float(nb.lat) - float(na.lat))
                    lon = float(na.lon) + f * (float(nb.lon) - float(na.lon))
                    fy = (lat - LAT0) / (LAT1 - LAT0) + r.uniform(-0.002, 0.002)
                    fx = (lon - LON0) / (LON1 - LON0) + r.uniform(-0.002, 0.002)
                    tags = {"source": "survey"} if r.random() < 0.1 else {}
                    refs.append(self._node(fy, fx, tags))
                refs.append(inter[b])
            wid = self._id("way")
            self.ways[wid] = Way(wid, refs, self._street_tags(r.choices(hw_names, hw_weights)[0]))
            streets.append(wid)

        for i in range(g):  # each grid line is two or three ways
            for line in ([(i, j) for j in range(g)], [(j, i) for j in range(g)]):
                cuts = sorted(r.sample(range(2, g - 2), 2))
                for a, b in zip([0] + cuts, cuts + [g - 1]):
                    street(line[a:b + 1])
        # dead-end service spurs: the 2-ref ways
        for _ in range(g * 2):
            i, j = r.randrange(g), r.randrange(g)
            n = self.nodes[inter[i, j]]
            fy = (float(n.lat) - LAT0) / (LAT1 - LAT0) + r.uniform(0.01, 0.03)
            fx = (float(n.lon) - LON0) / (LON1 - LON0) + r.uniform(0.01, 0.03)
            wid = self._id("way")
            tip = self._node(fy, fx, {"highway": "turning_circle"} if r.random() < 0.3 else {})
            self.ways[wid] = Way(wid, [inter[i, j], tip], self._street_tags("service"))
            streets.append(wid)
        # buildings: closed 4-corner rings inside grid cells
        buildings: list[int] = []
        for _ in range(int(len(streets) * 2.4)):
            i, j = r.randrange(g - 1), r.randrange(g - 1)
            cy = (i + 1.5) * step + r.uniform(-0.25, 0.25) * step
            cx = (j + 1.5) * step + r.uniform(-0.25, 0.25) * step
            h = r.uniform(0.05, 0.12) * step
            corners = [self._node(cy + dy * h, cx + dx * h) for dy, dx in ((-1, -1), (-1, 1), (1, 1), (1, -1))]
            tags = {"building": "yes"}
            if r.random() < 0.17:
                tags["addr:street"] = f"{r.choice(STREETS)} Street"
                tags["addr:housenumber"] = str(r.randint(1, 2000))
            if r.random() < 0.05:
                tags["amenity"] = r.choice(AMENITIES)
            wid = self._id("way")
            self.ways[wid] = Way(wid, corners + [corners[0]], tags)
            buildings.append(wid)
        # one landuse ring of 141 distinct vertices: the 142-ref way
        ring = [
            self._node(0.5 + 0.45 * _sin(k / 141), 0.5 + 0.45 * _cos(k / 141))
            for k in range(141)
        ]
        wid = self._id("way")
        self.ways[wid] = Way(wid, ring + [ring[0]], {"landuse": "residential"})
        # multipolygons: an untagged outer ring and an inner courtyard
        for _ in range(max(4, g // 2)):
            cy, cx = r.uniform(0.1, 0.9), r.uniform(0.1, 0.9)
            rings = []
            for h in (0.02, 0.008):
                pts = [self._node(cy + dy * h, cx + dx * h) for dy, dx in ((-1, -1), (-1, 1), (1, 1), (1, -1))]
                wid = self._id("way")
                self.ways[wid] = Way(wid, pts + [pts[0]], {})
                rings.append(wid)
            rid = self._id("relation")
            kind = r.choice([{"building": "yes"}, {"landuse": "grass"}, {"leisure": "park"}])
            self.relations[rid] = Relation(
                rid, [("way", rings[0], "outer"), ("way", rings[1], "inner")],
                {"type": "multipolygon", **kind},
            )
        # turn restrictions at grid crossings: from way, via node, to way
        by_node: dict[int, list[int]] = {}
        for sid in streets:
            for ref in self.ways[sid].refs:
                by_node.setdefault(ref, []).append(sid)
        crossings = sorted(n for n, ws in by_node.items() if len(set(ws)) >= 2)
        for via in r.sample(crossings, min(len(crossings), max(3, g // 3))):
            fw, tw = sorted(set(by_node[via]))[:2]
            rid = self._id("relation")
            self.relations[rid] = Relation(
                rid, [("way", fw, "from"), ("node", via, "via"), ("way", tw, "to")],
                {"type": "restriction", "restriction": r.choice(["no_left_turn", "no_u_turn", "only_right_turn"])},
            )
        # bus routes with stops and their route_masters
        routes = []
        for _ in range(2):
            members = [("way", w, "") for w in r.sample(streets, 6)]
            members += [("node", self.ways[w].refs[0], "stop") for _, w, _ in members[:3]]
            rid = self._id("relation")
            self.relations[rid] = Relation(rid, members, {"type": "route", "route": "bus"})
            routes.append(rid)
        for _ in range(2):
            rid = self._id("relation")
            self.relations[rid] = Relation(
                rid, [("relation", x, "") for x in routes], {"type": "route_master", "route_master": "bus"}
            )
        # free-standing POIs
        for _ in range(g * 4):
            self._node(r.random(), r.random(), {"amenity": r.choice(AMENITIES), "name": f"poi{r.randint(1, 999)}"})
        self.streets = streets
        self.buildings = buildings

    # ---- serialisation ----
    def osm_xml(self) -> str:
        out = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6" generator="perfbench">',
               f'<bounds minlat="{LAT0}" minlon="{LON0}" maxlat="{LAT1}" maxlon="{LON1}"/>']
        for n in sorted(self.nodes.values(), key=lambda n: n.id):
            out.append(_node_xml(n))
        for w in sorted(self.ways.values(), key=lambda w: w.id):
            out.append(_way_xml(w))
        for rel in sorted(self.relations.values(), key=lambda x: x.id):
            out.append(_rel_xml(rel))
        out.append("</osm>")
        return "\n".join(out) + "\n"

    # ---- ground truth ----
    def routable(self) -> list[Way]:
        return [w for w in self.ways.values() if "highway" in w.tags]

    def edges(self) -> list[tuple[int, int, int, int]]:
        """(way id, segment, source, target) per topology edge."""
        ways = self.routable()
        occ = Counter(ref for w in ways for ref in w.refs)
        out = []
        for w in ways:
            n = len(w.refs)
            seg, start = 0, w.refs[0]
            for pos in range(1, n):
                ref = w.refs[pos]
                if occ[ref] > 1 or pos == n - 1:
                    out.append((w.id, seg, start, ref))
                    seg, start = seg + 1, ref
        return out

    def truth(self) -> dict:
        closed = [w for w in self.ways.values() if len(w.refs) >= 4 and w.refs[0] == w.refs[-1]]
        return {
            "nodes": len(self.nodes),
            "ways": len(self.ways),
            "relations": len(self.relations),
            "point": sum(1 for n in self.nodes.values() if n.tags),
            "line": len(self.ways),
            "way_polygons": sum(1 for w in closed if w.tags),
            "roads": sum(1 for w in self.ways.values() if w.tags.get("highway") in ROAD_CLASSES),
            "edges": len(self.edges()),
            "closed_share": round(len(closed) / len(self.ways), 3),
        }

    def route_sources(self, seed: int, k: int) -> list[int]:
        verts = sorted({v for e in self.edges() for v in e[2:]})
        return random.Random(seed).sample(verts, k)

    def bfs_reach(self, source: int, max_hops: int) -> tuple[int, int, int]:
        """(reached, hop sum, max hop) within ``max_hops`` undirected hops."""
        adj: dict[int, set] = {}
        for _, _, s, t in self.edges():
            adj.setdefault(s, set()).add(t)
            adj.setdefault(t, set()).add(s)
        dist = {source: 0}
        q = deque([source])
        while q:
            u = q.popleft()
            if dist[u] == max_hops:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return len(dist), sum(dist.values()), max(dist.values())

    def derived_row(self, wid: int) -> tuple | None:
        """Expected derived-table row (id, n_pts, highway, first lat) of a way."""
        w = self.ways.get(wid)
        if w is None:
            return None
        pts = [self.nodes[r] for r in w.refs if r in self.nodes]
        if not pts:
            return None
        return (wid, len(pts), w.tags.get("highway"), round(float(pts[0].lat), 7))

    # ---- changesets ----
    def changeset(self, rng: random.Random, batch: int, ways_per_set: int) -> tuple[str, set]:
        """Apply one create/modify/delete changeset to this region and
        return (OsmChange XML, ids of the ways it touched)."""
        referenced = {ref for rel in self.relations.values() for t, ref, _ in rel.members if t == "way"}
        creates, modifies, deletes = [], [], []
        touched: set[int] = set()
        # modify: move nodes of some streets (their ways recompute)
        live_streets = [w for w in self.streets if w in self.ways]
        for wid in rng.sample(live_streets, min(ways_per_set, len(live_streets))):
            w = self.ways[wid]
            nid = w.refs[len(w.refs) // 2]
            n = self.nodes[nid]
            n.lat = f"{min(max(float(n.lat) + rng.uniform(-2e-5, 2e-5), LAT0), LAT1):.7f}"
            n.lon = f"{min(max(float(n.lon) + rng.uniform(-2e-5, 2e-5), LON0), LON1):.7f}"
            modifies.append(_node_xml(n))
            touched |= {x.id for x in self.ways.values() if nid in x.refs}
        # modify: retag streets
        for wid in rng.sample(live_streets, min(max(1, ways_per_set // 2), len(live_streets))):
            w = self.ways[wid]
            w.tags["name"] = f"{rng.choice(STREETS)} Place {batch}"
            modifies.append(_way_xml(w))
            touched.add(wid)
        # create: a new footway from an existing crossing through two new nodes
        anchor = self.ways[rng.choice(live_streets)].refs[0]
        a = self.nodes[anchor]
        new_nodes = []
        for k in (1, 2):
            nid = self._id("node")
            lat, lon = f"{min(float(a.lat) + k * 1e-5, LAT1):.7f}", f"{min(float(a.lon) + k * 1e-5, LON1):.7f}"
            self.nodes[nid] = Node(nid, lat, lon, {})
            new_nodes.append(nid)
            creates.append(_node_xml(self.nodes[nid]))
        wid = self._id("way")
        self.ways[wid] = Way(wid, [anchor] + new_nodes, {"highway": "footway", "foot": "yes"})
        self.streets.append(wid)
        creates.append(_way_xml(self.ways[wid]))
        touched.add(wid)
        # delete: one building no relation references, with its own corners
        live_b = [b for b in self.buildings if b in self.ways and b not in referenced]
        if live_b:
            bid = rng.choice(live_b)
            corners = self.ways.pop(bid).refs[:-1]
            deletes.append(f'<way id="{bid}" version="2"/>')
            touched.add(bid)
            for c in corners:
                del self.nodes[c]
                deletes.append(f'<node id="{c}" version="2"/>')
        # relations: retag a multipolygon, create a restriction, delete the
        # restriction the previous changeset created
        mps = sorted(x for x, rel in self.relations.items() if rel.tags.get("type") == "multipolygon")
        mp = self.relations[rng.choice(mps)]
        mp.tags["name"] = f"area {batch}"
        modifies.append(_rel_xml(mp))
        gone = [x for x, rel in self.relations.items() if rel.tags.get("perfbench") == str(batch - 1)]
        for x in gone:
            del self.relations[x]
            deletes.append(f'<relation id="{x}" version="1"/>')
        rid = self._id("relation")
        self.relations[rid] = Relation(
            rid, [("way", self.ways[rng.choice(live_streets)].id, "from"), ("way", wid, "to")],
            {"type": "restriction", "restriction": "no_u_turn", "perfbench": str(batch)},
        )
        creates.append(_rel_xml(self.relations[rid]))
        xml = ['<osmChange version="0.6" generator="perfbench">',
               "<create>", *creates, "</create>",
               "<modify>", *modifies, "</modify>",
               "<delete>", *deletes, "</delete>",
               "</osmChange>"]
        return "\n".join(xml) + "\n", touched


def _sin(f: float) -> float:
    import math
    return math.sin(2 * math.pi * f)


def _cos(f: float) -> float:
    import math
    return math.cos(2 * math.pi * f)


def _meta(eid: int) -> str:
    year = 2009 + eid % 9
    return (f'version="{1 + eid % 13}" changeset="{eid % 99991}" '
            f'timestamp="{year}-0{1 + eid % 9}-1{eid % 10}T12:0{eid % 10}:00Z" '
            f'uid="{eid % 20}" user="{USERS[eid % 20]}"')


def _tags_xml(tags: dict) -> str:
    return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in sorted(tags.items()))


def _node_xml(n: Node) -> str:
    head = f'<node id="{n.id}" visible="true" {_meta(n.id)} lat="{n.lat}" lon="{n.lon}"'
    return f"{head}>{_tags_xml(n.tags)}</node>" if n.tags else head + "/>"


def _way_xml(w: Way) -> str:
    refs = "".join(f'<nd ref="{x}"/>' for x in w.refs)
    return f'<way id="{w.id}" visible="true" {_meta(w.id)}>{refs}{_tags_xml(w.tags)}</way>'


def _rel_xml(rel: Relation) -> str:
    mem = "".join(f'<member type="{t}" ref="{x}" role="{ro}"/>' for t, x, ro in rel.members)
    return f'<relation id="{rel.id}" visible="true" {_meta(rel.id)}>{mem}{_tags_xml(rel.tags)}</relation>'
