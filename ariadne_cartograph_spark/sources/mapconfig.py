"""osm2pgrouting ``mapconfig.xml`` parser (SURVEY.md §1.2 / §2.1 S8):
the declarative import profile the reference passes to osm2pgrouting —
``-c /usr/share/osm2pgrouting/mapconfig.xml``
(`/root/reference/README.md:44`). It decides WHICH ways are routable
and what class id / priority / speed each way class carries, exactly
like ``sources/style.py`` decides the osm2pgsql import schema.

The format is osm2pgrouting's public ``mapconfig.xml`` (ships with
osm2pgrouting; pgRouting/osm2pgrouting on GitHub):

    <configuration>
      <tag_name name="highway" id="1">
        <tag_value name="motorway" id="101" priority="1.0" maxspeed="130"/>
        ...
      </tag_name>
      <tag_name name="junction" id="4"> ... </tag_name>
    </configuration>

- a way is imported iff some ``tags[tag_name.name] == tag_value.name``
  pair matches (osm2pgrouting's Configuration::has_class check);
- the FIRST matching pair in document order supplies ``tag_id``
  (osm2pgrouting's class id), ``class_priority`` and the class default
  speed ``maxspeed_kmh`` (per-direction ``maxspeed_forward`` /
  ``maxspeed_backward`` attributes override it when present);
- cost is travel time at the class speed; priority is the cost
  multiplier pgRouting users apply per profile.

Deviations, documented: osm2pgrouting also honors a per-WAY
``maxspeed=*`` OSM tag override at import time; here that stays a
config-level concern (the promoted ``tags`` map rides every edge, so a
cost model can still apply it downstream). The ``<public_transport>``
/ ``<electrified>`` sections of newer osm2pgrouting releases parse as
ordinary tag_name blocks — no special casing.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ClassRule:
    """One ``tag_value`` under a ``tag_name``: a routable way class."""

    tag_key: str  # parent tag_name name, e.g. "highway"
    tag_value: str  # e.g. "motorway"
    tag_id: int  # osm2pgrouting class id, e.g. 101
    priority: float  # cost multiplier (lower = preferred)
    maxspeed_kmh: float  # class default speed
    maxspeed_forward_kmh: float | None = None
    maxspeed_backward_kmh: float | None = None

    @property
    def forward_kmh(self) -> float:
        return self.maxspeed_forward_kmh or self.maxspeed_kmh

    @property
    def backward_kmh(self) -> float:
        return self.maxspeed_backward_kmh or self.maxspeed_kmh


@dataclass(frozen=True)
class MapConfig:
    """A parsed mapconfig: ordered class rules (document order = match
    precedence, mirroring osm2pgrouting's first-match class
    assignment)."""

    rules: tuple[ClassRule, ...]

    def keys(self) -> list[str]:
        """tag_name keys in document order (deduplicated)."""
        out: list[str] = []
        for r in self.rules:
            if r.tag_key not in out:
                out.append(r.tag_key)
        return out

    def matches(self, tags_col: str = "tags") -> Column:
        """Routability predicate over a way's ``map<string,string>``
        tags column — ``has_class``: any (key, value) pair matches.
        Pure column expression (a chain of map lookups vs literal
        sets), so Catalyst folds it and it rides the scan filter."""
        cond = F.lit(False)
        by_key: dict[str, list[str]] = {}
        for r in self.rules:
            by_key.setdefault(r.tag_key, []).append(r.tag_value)
        for key, values in by_key.items():
            cond = cond | F.col(tags_col).getItem(key).isin(values)
        return cond

    def _first_match(self, attr, tags_col: str = "tags") -> Column:
        """First-matching-rule attribute as a CASE chain in document
        order (osm2pgrouting class precedence)."""
        expr = F.lit(None)
        for r in reversed(self.rules):
            expr = F.when(
                F.col(tags_col).getItem(r.tag_key) == r.tag_value, F.lit(attr(r))
            ).otherwise(expr)
        return expr

    def tag_id(self, tags_col: str = "tags") -> Column:
        return self._first_match(lambda r: r.tag_id, tags_col).cast("int")

    def priority(self, tags_col: str = "tags") -> Column:
        return self._first_match(lambda r: r.priority, tags_col).cast("double")

    def speed_forward_kmh(self, tags_col: str = "tags") -> Column:
        return self._first_match(lambda r: r.forward_kmh, tags_col).cast("double")

    def speed_backward_kmh(self, tags_col: str = "tags") -> Column:
        return self._first_match(lambda r: r.backward_kmh, tags_col).cast("double")

    def configuration_rows(self) -> list[tuple]:
        """The osm2pgrouting ``configuration`` table this config would
        create (tag_id, tag_key, tag_value, priority, maxspeed,
        maxspeed_forward, maxspeed_backward) — README.md:44's import
        writes it next to ``ways``."""
        return [
            (
                r.tag_id,
                r.tag_key,
                r.tag_value,
                r.priority,
                r.maxspeed_kmh,
                r.forward_kmh,
                r.backward_kmh,
            )
            for r in self.rules
        ]


def way_maxspeed_kmh(raw: Column) -> Column:
    """Parse an OSM ``maxspeed=*`` tag value to km/h, osm2pgrouting's
    per-way speed override: plain numbers are km/h, ``X mph`` converts
    at 1.609344, and non-numeric values (``none``, ``signals``,
    ``walk``) yield NULL so the caller falls back to the class speed.
    Pure column expression (regexp + arithmetic), no UDF."""
    s = F.trim(F.lower(raw))
    num_str = F.regexp_extract(s, r"^(\d+(\.\d+)?)", 1)
    num = F.when(num_str == "", F.lit(None)).otherwise(num_str.cast("double"))
    is_mph = s.rlike(r"mph\s*$")
    return F.when(num.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(is_mph, num * 1.609344).otherwise(num)
    )


def parse_mapconfig(text: str) -> MapConfig:
    """Parse mapconfig XML text. Raises ValueError on a structurally
    invalid document (missing name/id attributes, non-numeric speeds,
    duplicate tag_value ids — the same errors osm2pgrouting rejects)."""
    root = ET.fromstring(text)
    if root.tag != "configuration":
        raise ValueError(f"mapconfig root must be <configuration>, got <{root.tag}>")
    rules: list[ClassRule] = []
    seen_ids: set[int] = set()
    for tn in root.iter("tag_name"):
        key = tn.get("name")
        if not key:
            raise ValueError("<tag_name> missing name attribute")
        for tv in tn.iter("tag_value"):
            val, vid = tv.get("name"), tv.get("id")
            if not val or vid is None:
                raise ValueError(f"<tag_value> under {key!r} missing name/id")
            try:
                tag_id = int(vid)
                priority = float(tv.get("priority", "1.0"))
                maxspeed = float(tv.get("maxspeed", "50"))
                fwd = tv.get("maxspeed_forward")
                bwd = tv.get("maxspeed_backward")
                fwd_f = float(fwd) if fwd is not None else None
                bwd_f = float(bwd) if bwd is not None else None
            except ValueError as e:
                raise ValueError(f"tag_value {key}={val}: bad numeric attribute: {e}")
            if tag_id in seen_ids:
                raise ValueError(f"duplicate tag_value id {tag_id} ({key}={val})")
            seen_ids.add(tag_id)
            rules.append(ClassRule(key, val, tag_id, priority, maxspeed, fwd_f, bwd_f))
    if not rules:
        raise ValueError("mapconfig has no tag_value rules")
    return MapConfig(tuple(rules))


# The stock mapconfig.xml shipped with osm2pgrouting (public; the file
# the reference's import command names at README.md:44) — highway
# classes with per-class priority/maxspeed, plus the cycleway /
# tracktype / junction sections.
DEFAULT_MAPCONFIG_XML = """\
<?xml version="1.0" encoding="UTF-8"?>
<configuration>
  <tag_name name="highway" id="1">
    <tag_value name="motorway"          id="101" priority="1.0"  maxspeed="130" />
    <tag_value name="motorway_link"     id="102" priority="1.0"  maxspeed="130" />
    <tag_value name="motorway_junction" id="103" priority="1.0"  maxspeed="130" />
    <tag_value name="trunk"             id="104" priority="1.05" maxspeed="110" />
    <tag_value name="trunk_link"        id="105" priority="1.05" maxspeed="110" />
    <tag_value name="primary"           id="106" priority="1.15" maxspeed="90" />
    <tag_value name="primary_link"      id="107" priority="1.15" maxspeed="90" />
    <tag_value name="secondary"         id="108" priority="1.5"  maxspeed="90" />
    <tag_value name="secondary_link"    id="109" priority="1.5"  maxspeed="90" />
    <tag_value name="tertiary"          id="110" priority="1.75" maxspeed="90" />
    <tag_value name="tertiary_link"     id="111" priority="1.75" maxspeed="90" />
    <tag_value name="residential"       id="112" priority="2.5"  maxspeed="50" />
    <tag_value name="living_street"     id="113" priority="3.0"  maxspeed="20" />
    <tag_value name="service"           id="114" priority="2.5"  maxspeed="50" />
    <tag_value name="track"             id="115" priority="3.0"  maxspeed="10" />
    <tag_value name="pedestrian"        id="116" priority="3.0"  maxspeed="5" />
    <tag_value name="services"          id="117" priority="4.0"  maxspeed="5" />
    <tag_value name="bus_guideway"      id="118" priority="3.0"  maxspeed="50" />
    <tag_value name="path"              id="119" priority="4.0"  maxspeed="5" />
    <tag_value name="cycleway"          id="120" priority="2.5"  maxspeed="20" />
    <tag_value name="footway"           id="121" priority="4.0"  maxspeed="5" />
    <tag_value name="bridleway"         id="122" priority="4.0"  maxspeed="5" />
    <tag_value name="byway"             id="123" priority="4.0"  maxspeed="5" />
    <tag_value name="steps"             id="124" priority="4.0"  maxspeed="5" />
    <tag_value name="unclassified"      id="125" priority="3.0"  maxspeed="50" />
  </tag_name>
  <tag_name name="cycleway" id="2">
    <tag_value name="lane"          id="201" priority="1.0" maxspeed="20" />
    <tag_value name="track"         id="202" priority="1.0" maxspeed="20" />
    <tag_value name="opposite_lane" id="203" priority="1.0" maxspeed="20" />
    <tag_value name="opposite"      id="204" priority="1.0" maxspeed="20" />
  </tag_name>
  <tag_name name="tracktype" id="3">
    <tag_value name="grade1" id="301" priority="1.0" maxspeed="60" />
    <tag_value name="grade2" id="302" priority="1.0" maxspeed="40" />
    <tag_value name="grade3" id="303" priority="1.0" maxspeed="30" />
    <tag_value name="grade4" id="304" priority="1.0" maxspeed="20" />
    <tag_value name="grade5" id="305" priority="1.0" maxspeed="10" />
  </tag_name>
  <tag_name name="junction" id="4">
    <tag_value name="roundabout" id="401" priority="1.0" maxspeed="50" />
  </tag_name>
</configuration>
"""


def default_mapconfig() -> MapConfig:
    return parse_mapconfig(DEFAULT_MAPCONFIG_XML)
