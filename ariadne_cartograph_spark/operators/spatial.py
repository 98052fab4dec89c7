"""Spatial distance/range join + POI nearest-edge assignment
(SURVEY.md §2.2 J4) — the engine's analog of pgRouting's
`osm2pgr_pois_update(radius, within)` (`/root/reference/README.md:50-54`).

Strategy (SURVEY.md §4.2 — no custom Catalyst strategy needed):
grid-bucket both sides with cell size = radius, explode the 3×3
neighbor ring on the POI side, equi-join on cell, exact point-to-
segment distance filter, then top-1 per POI via a ranking window.
Compiles to a standard shuffled hash join + window — at 100 TB the
cell id is the shuffle key and density skew is handled by AQE.

Distance math: local equirectangular projection (meters) around each
POI — exact enough at the ≤ a-few-hundred-meters scales this operator
is specified for (within=50m default), and fully expressible as native
column math over the segment list (no UDF).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.geo import grid_cell, neighbor_cells
from . import probe_memo

_DEG_M = 111194.9  # meters per degree latitude (2πR/360, R=6371008.8)


def _point_segment_dist_m(plng, plat, alng, alat, blng, blat):
    """Planar point-to-segment distance in meters (equirectangular
    local frame centered at the point's latitude)."""
    kx = F.cos(plat * math.pi / 180.0) * _DEG_M
    ky = F.lit(_DEG_M)
    ax = (alng - plng) * kx
    ay = (alat - plat) * ky
    bx = (blng - plng) * kx
    by = (blat - plat) * ky
    dx = bx - ax
    dy = by - ay
    seg_len2 = dx * dx + dy * dy
    t = F.when(seg_len2 > 0, -(ax * dx + ay * dy) / seg_len2).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
    cx = ax + t * dx
    cy = ay + t * dy
    return F.sqrt(cx * cx + cy * cy)


def point_to_linestring_dist_m(plng: F.Column, plat: F.Column, geom: F.Column) -> F.Column:
    """Min distance (m) from a point to a linestring
    (array<struct<lng,lat>>), via per-segment distances."""
    segs = F.zip_with(
        F.slice(geom, 1, F.size(geom) - 1),
        F.slice(geom, 2, F.size(geom) - 1),
        lambda a, b: _point_segment_dist_m(
            plng, plat, a["lng"], a["lat"], b["lng"], b["lat"]
        ),
    )
    return F.when(F.size(geom) >= 2, F.array_min(segs)).otherwise(
        _point_segment_dist_m(
            plng, plat, geom[0]["lng"], geom[0]["lat"], geom[0]["lng"], geom[0]["lat"]
        )
    )


def assign_pois_to_edges(
    pois: DataFrame,
    edges: DataFrame,
    radius_m: float = 200.0,
    within_m: float = 50.0,
    poi_id: str = "pid",
    lng: str = "lng",
    lat: str = "lat",
    max_abs_lat: float | None = None,
) -> DataFrame:
    """For each POI: nearest edge within ``within_m`` (ties → lowest
    gid); POIs with no edge inside the radius disk are flagged
    too_far (README.md:54 semantics). Returns one row per POI:
    (pid, gid|null, dist_m|null, too_far).

    ``max_abs_lat`` bounds the data's latitude range for cell sizing
    (None → one aggregation over the POI side, the small side by
    construction). A cell spans cell_deg·_DEG_M·cos(lat) meters
    east-west — NARROWER than its north-south extent — so sizing by
    the latitude degree alone under-covers longitude once
    within_m > radius_m·cos(lat) (≈75.5° at the 50/200 defaults);
    dividing by cos(max|lat|) keeps the 3×3 neighbor ring a superset
    of the within_m disk at every latitude in the data.
    """
    if max_abs_lat is None:
        row = pois.agg(F.max(F.abs(F.col(lat)))).first()
        max_abs_lat = float(row[0] or 0.0)
    max_abs_lat = min(abs(max_abs_lat), 89.0)  # pole guard: cos > 0
    cell_deg = radius_m / (_DEG_M * math.cos(max_abs_lat * math.pi / 180.0))
    e_cx, e_cy = grid_cell(
        F.element_at(F.col("geom"), 1)["lng"], F.element_at(F.col("geom"), 1)["lat"], cell_deg
    )
    # Edge side: bucket every edge into each cell its bbox touches so
    # long edges are discoverable from any neighboring POI cell.
    from ..functions.geometry import bbox

    eb = edges.withColumn("__bb", bbox("geom"))
    eb = eb.select(
        "gid",
        "geom",
        F.explode(
            F.expr(
                f"""
                flatten(transform(
                  sequence(cast(floor(__bb.min_lng / {cell_deg}) as long),
                           cast(floor(__bb.max_lng / {cell_deg}) as long)),
                  x -> transform(
                    sequence(cast(floor(__bb.min_lat / {cell_deg}) as long),
                             cast(floor(__bb.max_lat / {cell_deg}) as long)),
                    y -> struct(x as cx, y as cy))))
                """
            )
        ).alias("cell"),
    ).select("gid", "geom", F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))

    p_cx, p_cy = grid_cell(F.col(lng), F.col(lat), cell_deg)
    pb = pois.select(
        F.col(poi_id), F.col(lng), F.col(lat), F.explode(neighbor_cells(p_cx, p_cy)).alias("cell")
    ).select(poi_id, lng, lat, F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))

    cand = pb.join(eb, ["cx", "cy"]).withColumn(
        "dist_m", point_to_linestring_dist_m(F.col(lng), F.col(lat), F.col("geom"))
    )
    near = cand.filter(F.col("dist_m") <= within_m)
    w = W.partitionBy(poi_id).orderBy(F.asc("dist_m"), F.asc("gid"))
    best = (
        near.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(poi_id, "gid", "dist_m")
    )
    return (
        pois.select(poi_id, lng, lat)
        .join(best, poi_id, "left")
        .withColumn("too_far", F.col("gid").isNull())
    )


# Above this many polygons the broadcast plan stops being safe (ring
# arrays average hundreds of bytes per polygon — 25k polygons is
# already tens of MB of broadcast) and the containment join routes
# through grid-cell bucketing. Routing only changes the PHYSICAL plan:
# both routes apply the identical bbox prefilter + ray-crossing test.
PIP_BROADCAST_MAX_POLYGONS = 25_000

# Grid-route fan-out clamp: a polygon whose bbox touches more than
# this many cells does NOT replicate through the grid (its per-row
# flatten(sequence × sequence) array would balloon — a continent-scale
# outlier among parcel-sized polygons can exceed Spark's array-length
# cap and FAIL the job, not just pay fan-out). Such outliers route
# through a broadcast side-channel instead; 4096 = a 64×64 cell patch,
# ~100 KB of cell structs per row at worst.
PIP_MAX_CELLS_PER_POLYGON = 4_096

def _polygon_rows(polygons: DataFrame, hint: int | None) -> int:
    """Polygon-side cardinality for routing: caller hint, else parquet
    footer statistics (zero jobs — the cosine_topk footer-stats gate),
    else ONE memoized count job."""
    from .similarity import _footer_rows

    if hint is not None:
        return hint
    exact, upper = _footer_rows(polygons)
    if exact is not None:
        return exact
    if upper is not None and upper <= PIP_BROADCAST_MAX_POLYGONS:
        return upper  # even the pessimistic bound fits the broadcast
    key = probe_memo.key("polygon_rows", polygons)
    n = probe_memo.get(key)
    if n is None:
        n = polygons.count()
        probe_memo.put(key, n)
    return n


def _pip_filtered(cand: DataFrame, lng: str, lat: str) -> DataFrame:
    """The shared verify: bbox prefilter BEFORE the exact ray-crossing
    test, so the per-pair cost for the overwhelmingly-common miss is
    four comparisons, not an edge scan; both stages are pure column
    math inside whole-stage codegen."""
    from ..functions.geometry import point_in_polygon

    plng, plat = F.col(lng), F.col(lat)
    return cand.filter(
        (plng >= F.col("__bb.min_lng"))
        & (plng <= F.col("__bb.max_lng"))
        & (plat >= F.col("__bb.min_lat"))
        & (plat <= F.col("__bb.max_lat"))
    ).filter(point_in_polygon(plng, plat, F.col("__geom"), F.col("__holes")))


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "pid",
    lng: str = "lng",
    lat: str = "lat",
    poly_id: str = "poly_id",
    strategy: str = "auto",
    polygons_count_hint: int | None = None,
    cell_deg: float | None = None,
) -> DataFrame:
    """Spatial containment join (PostGIS ``ST_Contains`` analog over
    the planet_osm_polygon shape): one row per (point, containing
    polygon). ``polygons`` carries (poly_id, geom = outer ring,
    holes = array of hole rings, nullable).

    ``strategy``: ``"broadcast"`` broadcasts the polygon side
    (zone/region tables are dimension-sized); ``"grid"`` buckets both
    sides into grid cells — the billion-polygon regime (census blocks,
    land parcels) where no broadcast fits; ``"auto"`` (default) routes
    at PIP_BROADCAST_MAX_POLYGONS from a caller hint or parquet-footer
    statistics (zero jobs), else one memoized count job. Both routes
    produce identical rows (route equality test-pinned); the choice is
    physical only.

    Grid plan (the assign_pois_to_edges cell machinery, PIP instead of
    distance): every polygon replicates into each cell its bbox
    touches; every point lands in its single cell (no neighbor ring —
    containment implies the point's cell is inside the polygon's bbox
    cell range, so each qualifying pair meets in exactly one cell and
    needs no dedup); the equi-join on cell id is the shuffle key at
    100 TB, with AQE handling density skew. ``cell_deg`` defaults to
    the polygon side's p95 bbox extent (one model-sized aggregate —
    p95 rather than the mean so a continent-scale outlier among
    parcel-sized polygons cannot inflate every other polygon's cell
    count), so a typical polygon replicates into ~1–4 cells.

    Outlier clamp (r14): polygons whose bbox would touch more than
    PIP_MAX_CELLS_PER_POLYGON cells never enter the grid — their
    flatten(sequence×sequence) row could exceed Spark's array-length
    cap and kill the job. They route through a broadcast side-channel
    (same bbox+ray verify, rows unioned back), detected by a max-cells
    probe folded into the cell_deg aggregate. If the outlier side
    itself exceeds PIP_BROADCAST_MAX_POLYGONS the join raises with an
    explicit instruction (pass a coarser ``cell_deg``) rather than
    OOM-ing the broadcast — the documented degradation contract.
    """
    from ..functions.geometry import bbox

    if strategy == "auto":
        n = _polygon_rows(polygons, polygons_count_hint)
        strategy = "broadcast" if n <= PIP_BROADCAST_MAX_POLYGONS else "grid"

    pb = polygons.select(
        F.col(poly_id),
        F.col("geom").alias("__geom"),
        F.col("holes").alias("__holes"),
        bbox("geom").alias("__bb"),
    )
    if strategy == "broadcast":
        return (
            _pip_filtered(points.crossJoin(F.broadcast(pb)), lng, lat)
            .drop("__geom", "__holes", "__bb")
        )

    w_ext = F.col("__bb.max_lng") - F.col("__bb.min_lng")
    h_ext = F.col("__bb.max_lat") - F.col("__bb.min_lat")
    # ONE model-sized aggregate: p95 extents (cell sizing, only when
    # the caller didn't fix cell_deg) + max extents (outlier probe,
    # always — an explicit cell_deg is just as exposed to the
    # array-cap failure as a derived one).
    aggs = [F.max(w_ext).alias("mw"), F.max(h_ext).alias("mh")]
    if cell_deg is None:
        aggs += [
            F.percentile_approx(w_ext, 0.95).alias("pw"),
            F.percentile_approx(h_ext, 0.95).alias("ph"),
        ]
    row = pb.agg(*aggs).first()
    if cell_deg is None:
        cell_deg = max(float(row["pw"] or 0.0), float(row["ph"] or 0.0), 1e-9)

    def _n_cells(lo: str, hi: str) -> F.Column:
        return (
            F.floor(F.col(hi) / F.lit(cell_deg))
            - F.floor(F.col(lo) / F.lit(cell_deg))
            + F.lit(1)
        )

    cells_expr = _n_cells("__bb.min_lng", "__bb.max_lng") * _n_cells(
        "__bb.min_lat", "__bb.max_lat"
    )
    # Cheap presence check off the max extents (no extra job): only
    # when some polygon COULD exceed the cap do we pay the split.
    max_cells_bound = (
        int(float(row["mw"] or 0.0) / cell_deg) + 2
    ) * (int(float(row["mh"] or 0.0) / cell_deg) + 2)
    bcast_extra = None
    if max_cells_bound > PIP_MAX_CELLS_PER_POLYGON:
        big = pb.filter(cells_expr > PIP_MAX_CELLS_PER_POLYGON)
        n_big = big.count()
        if n_big > PIP_BROADCAST_MAX_POLYGONS:
            raise ValueError(
                f"points_in_polygons grid route: {n_big} polygons each "
                f"touch > {PIP_MAX_CELLS_PER_POLYGON} cells at cell_deg="
                f"{cell_deg!r} — too many for the broadcast side-channel "
                f"({PIP_BROADCAST_MAX_POLYGONS} max). Pass a coarser "
                "cell_deg so typical polygons span ~1-4 cells."
            )
        if n_big:
            pb = pb.filter(cells_expr <= PIP_MAX_CELLS_PER_POLYGON)
            bcast_extra = (
                _pip_filtered(points.crossJoin(F.broadcast(big)), lng, lat)
                .drop("__geom", "__holes", "__bb")
            )
    pe = pb.select(
        poly_id,
        "__geom",
        "__holes",
        "__bb",
        F.explode(
            F.expr(
                f"""
                flatten(transform(
                  sequence(cast(floor(__bb.min_lng / {cell_deg!r}) as long),
                           cast(floor(__bb.max_lng / {cell_deg!r}) as long)),
                  x -> transform(
                    sequence(cast(floor(__bb.min_lat / {cell_deg!r}) as long),
                             cast(floor(__bb.max_lat / {cell_deg!r}) as long)),
                    y -> struct(x as cx, y as cy))))
                """
            )
        ).alias("__cell"),
    ).select(
        poly_id, "__geom", "__holes", "__bb",
        F.col("__cell.cx").alias("__cx"), F.col("__cell.cy").alias("__cy"),
    )
    p_cx, p_cy = grid_cell(F.col(lng), F.col(lat), cell_deg)
    pt = points.withColumn("__cx", p_cx).withColumn("__cy", p_cy)
    out = (
        _pip_filtered(pt.join(pe, ["__cx", "__cy"]), lng, lat)
        .drop("__geom", "__holes", "__bb", "__cx", "__cy")
    )
    if bcast_extra is not None:
        # outlier/grid polygon sets are disjoint, so the union cannot
        # duplicate a (point, polygon) pair
        out = out.unionByName(bcast_extra)
    return out
