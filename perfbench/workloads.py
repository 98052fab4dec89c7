"""The benchmark's workloads: their inputs, operations and checks.

An operation is timed from its first call into the package until its
result has been consumed: materialised once and reduced to a value digest
that Catalyst cannot prune. Its check runs after the clock stops, against
ground truth made without the engine (the OSM generator) or against the
catalog entry's DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from perfbench.osmgen import Region
from perfbench.tablegen import write_skewed_tables, write_tables

# ---------------------------------------------------------------- digest


def _has_map(t) -> bool:
    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def _canon(c, t):
    """Hashable form of a column: maps become key-sorted entry arrays
    (``xxhash64`` rejects map types)."""
    if not _has_map(t):
        return c
    if isinstance(t, MapType):
        return F.array_sort(F.map_entries(c))
    if isinstance(t, ArrayType):
        return F.transform(c, lambda x: _canon(x, t.elementType))
    return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in t.fields])


def digest(df: DataFrame, **extra) -> dict:
    """Row count plus the sum of per-row ``xxhash64`` over every column —
    order-insensitive, value- and multiplicity-sensitive — and any extra
    aggregates, in one job."""
    cols = [_canon(df[f"`{f.name}`"], f.dataType) for f in df.schema.fields]
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
        *[e.alias(k) for k, e in extra.items()],
    ).first()
    out = row.asDict()
    out["hash"] = str(out["hash"])
    return out


# ---------------------------------------------------------------- context


@dataclass
class Ctx:
    """What an operation needs: the session, a scratch root, the tracer."""

    spark: SparkSession
    root: str
    tracer: object = None
    records: list = field(default_factory=list)
    routes: list = field(default_factory=list)  # gate decisions of the running operation

    def span(self, layer: str, name: str | None = None):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def boundary(self, df: DataFrame) -> DataFrame:
        """Materialise a lazy layer output when tracing, so its jobs run in
        its own span."""
        return df.localCheckpoint(eager=True) if self.tracer else df


@dataclass
class Op:
    name: str
    kind: str
    run: object  # () -> result
    check: object  # result -> error message or None


def run_op(ctx: Ctx, op: Op) -> dict:
    """Time one operation, check it untimed, record the outcome. A raise or
    a wrong result is recorded with its error; the caller carries on."""
    import traceback

    if ctx.tracer:
        ctx.tracer.op = op.name
    rec = {"op": op.name, "kind": op.kind, "ok": False, "error": None}
    ctx.routes.clear()
    t0 = time.perf_counter()
    try:
        with ctx.span("op", op.name):
            result = op.run()
        rec["s"] = time.perf_counter() - t0
        rec["routes"] = list(ctx.routes)
        rec["digest"] = result.get("digest") if isinstance(result, dict) else None
        if ctx.tracer:
            ctx.tracer.paused = True
        t1 = time.perf_counter()
        rec["error"] = op.check(result)
        rec["check_s"] = time.perf_counter() - t1
        rec["ok"] = rec["error"] is None
    except Exception as exc:  # one failing operation never ends the run
        rec.setdefault("s", time.perf_counter() - t0)
        rec.setdefault("check_s", 0.0)
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
        traceback.print_exc()
    if ctx.tracer:
        ctx.tracer.op, ctx.tracer.paused = None, False
    ctx.records.append(rec)
    return rec


@contextlib.contextmanager
def record_routes(routes: list):
    """Append to ``routes`` which side of each measured gate of
    ``operators.dedup`` and ``operators.similarity`` the package takes, by
    wrapping the functions that decide: the exact-duplicate statistics that
    gate the text collapse (shared by the near-duplicate joins and the
    repeated-span removal), the n-gram join's count/prefix rule, the top-k crossjoin/blocked router
    and the vector-duplicate statistics that gate ``semantic_dedup``'s
    collapse."""
    from ariadne_cartograph_spark.operators import dedup
    from ariadne_cartograph_spark.operators import similarity as sim

    orig = {
        (dedup, "_dup_gate_stats"): dedup._dup_gate_stats,
        (dedup, "ngram_join_strategy"): dedup.ngram_join_strategy,
        (sim, "_route_topk"): sim._route_topk,
        (sim, "_vec_dup_stats"): sim._vec_dup_stats,
    }

    def dup_gate_stats(*a, **kw):
        stats = orig[dedup, "_dup_gate_stats"](*a, **kw)
        for n, n_fp in stats:
            dups = n_fp < n * (1.0 - dedup._COLLAPSE_MIN_DUP_RATIO)
            routes.append("collapse" if dups else "no_collapse")
        return stats

    def ngram_strategy(*a, **kw):
        route = orig[dedup, "ngram_join_strategy"](*a, **kw)
        routes.append(f"ngram_{route}")
        return route

    def route_topk(*a, **kw):
        route = orig[sim, "_route_topk"](*a, **kw)
        routes.append(f"topk_{route}")
        return route

    def vec_dup_stats(*a, **kw):
        n, n_reps = orig[sim, "_vec_dup_stats"](*a, **kw)
        dups = n_reps < n * (1.0 - sim._VEC_COLLAPSE_MIN_DUP_RATIO)
        routes.append("vec_collapse" if dups else "vec_no_collapse")
        return n, n_reps

    repl = {"_dup_gate_stats": dup_gate_stats, "ngram_join_strategy": ngram_strategy,
            "_route_topk": route_topk, "_vec_dup_stats": vec_dup_stats}
    for (owner, name) in orig:
        setattr(owner, name, repl[name])
    try:
        yield
    finally:
        for (owner, name), fn in orig.items():
            setattr(owner, name, fn)


def expect(label: str, got, want) -> str | None:
    return None if got == want else f"{label}: got {got!r}, want {want!r}"


def injected_failure(spark: SparkSession) -> Op:
    """An operation that raises inside Spark (ANSI divide by zero)."""
    return Op(
        "injected_divide_by_zero", "injected",
        lambda: digest(spark.range(3).select((F.lit(1) / (F.col("id") - F.col("id"))).alias("x"))),
        lambda _: None,
    )


# ---------------------------------------------------------------- GIS


def derive_ways(geoms: DataFrame) -> DataFrame:
    return geoms.select(
        "id",
        F.size("geom").alias("n_pts"),
        F.col("tags").getItem("highway").alias("highway"),
        F.col("geom")[0]["lat"].alias("lat0"),
    )


class Gis:
    """One seeded region: an import, route requests, then changesets each
    followed by key reads of the ways it touched.

    Set-up parses the region and bootstraps the replication stores (node and
    way stores, node→ways index, derived way table) with a bucketed
    ``ways_metadata`` child seeded for every way; its parse, merge-table
    writes and joins also warm the session up. Relation maintenance is
    off: the changesets' relation edits are parsed and collapsed but not
    applied.
    """

    def __init__(self, root: str, seed: int, grid: int = 14, routes: int = 2,
                 max_iter: int = 6, changesets: int = 1, ways_per_set: int = 8):
        self.root = root
        self.max_iter = max_iter
        os.makedirs(root, exist_ok=True)
        region = Region(seed, grid)
        self.osm_path = os.path.join(root, "region.osm")
        with open(self.osm_path, "w") as f:
            f.write(region.osm_xml())
        self.truth = region.truth()
        self.vertices = len({v for e in region.edges() for v in e[2:]})
        srcs = region.route_sources(seed, routes)
        self.routes = [(s, region.bfs_reach(s, max_iter)) for s in srcs]
        self.meta = {w: round((w % 997) / 997, 6) for w in region.ways}
        rng = random.Random(seed * 7919 + 1)
        self.changesets = []
        for b in range(1, changesets + 1):
            xml, touched = region.changeset(rng, b, ways_per_set)
            path = os.path.join(root, f"{b:06d}.osc")
            with open(path, "w") as f:
                f.write(xml)
            self.changesets.append({
                "batch": b, "path": path, "bytes": len(xml), "touched": sorted(touched),
                "derived": {r for r in map(region.derived_row, touched) if r},
                "meta": {(w, self.meta[w]) for w in touched if w in self.meta and w in region.ways},
                "refs": {(w, tuple(region.ways[w].refs)) for w in touched if w in region.ways},
            })

    def sizes(self) -> dict:
        return {**self.truth, "routes": len(self.routes), "max_iter": self.max_iter,
                "changesets": len(self.changesets),
                "osc_bytes": sum(c["bytes"] for c in self.changesets)}

    def setup(self, ctx: Ctx) -> None:
        from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
        from ariadne_cartograph_spark.sources.osm import read_osm_elements, split_elements
        from ariadne_cartograph_spark.streaming.osm_replication import OsmReplicationPipeline

        spark = ctx.spark
        store = os.path.join(self.root, "store")
        with ctx.span("sources.osm", "read_osm_elements"):
            elements = read_osm_elements(spark, self.osm_path).localCheckpoint(eager=True)
        t = split_elements(elements)
        meta = ParquetMergeTable(spark, os.path.join(store, "ways_metadata"), key="gid", n_buckets=8)
        meta.upsert(spark.createDataFrame(sorted(self.meta.items()), "gid long, popularity double"))
        pipe = OsmReplicationPipeline(spark, store, derive_ways, n_buckets=8, way_children=[meta])
        with ctx.span("streaming.osm_replication", "bootstrap"):
            pipe.bootstrap(t["nodes"], t["ways"])
        self.pipe, self.meta_table = pipe, meta

    def ops(self, ctx: Ctx) -> list[Op]:
        state: dict = {}
        ops = [Op("import", "import", lambda: self._import(ctx, state), self._check_import)]
        for i, (src, want) in enumerate(self.routes):
            ops.append(Op(f"route{i}", "route", lambda s=src: self._route(ctx, state, s),
                          lambda r, w=want: expect("reach (n, hop sum, max hop)", r["reach"], w)))
        for cs in self.changesets:
            b = cs["batch"]
            ops.append(Op(f"changeset{b}", "changeset", lambda c=cs: self._apply(ctx, c),
                          lambda r, c=cs: self._check_changeset(c)))
            ops.append(Op(f"key_read_derived{b}", "key_read",
                          lambda c=cs: self._read(ctx, self.pipe.derived, c["touched"], "id"),
                          lambda r, c=cs: expect("derived rows", r["rows"], c["derived"])))
            ops.append(Op(f"key_read_metadata{b}", "key_read",
                          lambda c=cs: self._read(ctx, self.meta_table, c["touched"], "gid"),
                          lambda r, c=cs: expect("ways_metadata rows", r["rows"], c["meta"])))
        return ops

    # -- the import: parse → tables → topology → enrichment into ways_metadata
    def _import(self, ctx: Ctx, state: dict) -> dict:
        from ariadne_cartograph_spark import update_ways_metadata as uwm
        from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
        from ariadne_cartograph_spark.operators.topology import build_topology, routable_ways
        from ariadne_cartograph_spark.sources.osm import (
            assemble_way_geometries, derive_feature_tables, read_osm_elements, split_elements,
        )

        spark, out = ctx.spark, {}
        with ctx.span("sources.osm", "read_osm_elements"):
            # the bronze layer: every later table reads the parse once
            elements = read_osm_elements(spark, self.osm_path).localCheckpoint(eager=True)
            t = split_elements(elements)
        out["elements"] = digest(elements)
        with ctx.span("sources.osm", "feature_tables"):
            ways = ctx.boundary(assemble_way_geometries(t["nodes"], t["ways"]))
            tables = derive_feature_tables(t["nodes"], ways, relations=t["relations"])
            for name, df in tables.items():
                extra = {"way_rows": F.sum((F.col("id") > 0).cast("long"))} if name == "polygon" else {}
                out[name] = digest(df, **extra)
        with ctx.span("operators.topology", "build_topology"):
            topo = build_topology(t["nodes"], routable_ways(t["ways"]))
            edges = topo["edges"].localCheckpoint(eager=True)
            out["edges"] = digest(edges)
            out["vertices"] = digest(topo["vertices"])
        meta_path = os.path.join(self.root, f"import_meta{len(ctx.records)}")
        with ctx.span("operators.enrich", "update_ways_metadata.run"):
            uwm.run(spark, edges.select("gid", "geom"), meta_path, ["strava", "gmaps"])
        with ctx.span("operators.merge", "read"):
            unit = lambda c: F.sum(F.col(c).between(0, 1).cast("long"))  # noqa: E731
            out["ways_metadata"] = digest(
                ParquetMergeTable(spark, meta_path, key="gid").read(),
                popularity_ok=unit("popularity"), greenery_ok=unit("greenery"),
            )
        state["edges"] = edges
        if ctx.tracer:
            ctx.tracer.add("sources.osm.elements", out["elements"]["rows"])
            ctx.tracer.add("operators.topology.edges", out["edges"]["rows"])
        return {"digest": {k: v["hash"] for k, v in out.items()}, "out": out}

    def _check_import(self, r: dict) -> str | None:
        o, t = r["out"], self.truth
        checks = [
            ("elements", o["elements"]["rows"], t["nodes"] + t["ways"] + t["relations"]),
            ("point rows", o["point"]["rows"], t["point"]),
            ("line rows", o["line"]["rows"], t["line"]),
            ("way polygon rows", o["polygon"]["way_rows"], t["way_polygons"]),
            ("roads rows", o["roads"]["rows"], t["roads"]),
            ("edges", o["edges"]["rows"], t["edges"]),
            ("vertices", o["vertices"]["rows"], self.vertices),
            ("ways_metadata rows", o["ways_metadata"]["rows"], t["edges"]),
            ("popularity in [0,1]", o["ways_metadata"]["popularity_ok"], t["edges"]),
            ("greenery in [0,1]", o["ways_metadata"]["greenery_ok"], t["edges"]),
        ]
        return next((e for e in (expect(*c) for c in checks) if e), None)

    def _route(self, ctx: Ctx, state: dict, src: int) -> dict:
        from ariadne_cartograph_spark.operators.routing import edge_adjacency, shortest_paths

        if "edges" not in state:
            raise RuntimeError("route request before a successful import")
        with ctx.span("operators.routing", "shortest_paths"):
            reached = shortest_paths(edge_adjacency(state["edges"]), [src], max_iter=self.max_iter)
            d = digest(reached, hop_sum=F.sum("hops").cast("long"), max_hop=F.max("hops"))
        if ctx.tracer:
            ctx.tracer.add("operators.routing.reached", d["rows"])
            ctx.tracer.add("operators.routing.rounds", min(self.max_iter, d["max_hop"] + 1))
        return {"digest": d["hash"], "reach": (d["rows"], d["hop_sum"], d["max_hop"])}

    def _apply(self, ctx: Ctx, cs: dict) -> dict:
        from ariadne_cartograph_spark.sources.osm_diff import read_osc_elements

        with ctx.span("sources.osm_diff", "read_osc_elements"):
            diff = ctx.boundary(read_osc_elements(ctx.spark, cs["path"]))
        with ctx.span("streaming.osm_replication", "apply_changeset"):
            self.pipe.apply_changeset(diff, cs["batch"])
        if ctx.tracer:
            ctx.tracer.add("bench.diff_bytes", cs["bytes"])
        return {"digest": None}

    def _check_changeset(self, cs: dict) -> str | None:
        keys = self.pipe.spark.createDataFrame([(w,) for w in cs["touched"]], "id long")
        got = self.pipe.ways.read_keys(keys).select("id", "node_refs").collect()
        return expect("ways store refs", {(r[0], tuple(r[1])) for r in got}, cs["refs"])

    def _read(self, ctx: Ctx, table, ids: list, key: str) -> dict:
        keys = ctx.spark.createDataFrame([(i,) for i in ids], f"{key} long")
        with ctx.span("operators.merge", "read_keys"):
            got = table.read_keys(keys).localCheckpoint(eager=True)
            d = digest(got)
        rows = {tuple(round(v, 7) if isinstance(v, float) else v for v in r) for r in got.collect()}
        return {"digest": d["hash"], "rows": rows}


# ---------------------------------------------------------------- catalog


def warm_up(spark, path: str) -> None:
    """Generic session warm-up that calls nothing of the package: a parquet
    round trip, a shuffle aggregate, a join, a window and a pandas UDF, so
    that whichever catalog entry runs first does not also pay for compiling
    Spark's common paths and starting the Python workers."""
    from pyspark.sql import Window

    df = spark.range(20000).select("id", (F.col("id") % 97).alias("k"), (F.col("id") * 1.5).alias("v"))
    df.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    ranked = df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
    joined = ranked.join(agg, "k").select("id", "k", "v", "r", "s", "n")
    joined.mapInPandas(lambda it: (p[p["r"] < 3] for p in it), joined.schema).count()


# The catalog mix. The warehouse and events entries are the control for
# corpus changes; the corpus entries run the dedup and similarity routes.
# Further entries (q3, q6, q10, q14, q21, window_running_total, the events
# window queries, simhash, repeated-span removal, bm25, gopher filters, PCA,
# IVF-PQ) were left out so that a run, one cold pass with its checks, stays
# near one minute on a contended 4-core host. minhash_lsh_near_dup is left
# out because on this corpus its LSH candidates miss some pairs just above
# the 0.6 Jaccard threshold that its exact oracle reports (seed 7: 15 pairs
# of 16).
WAREHOUSE = [
    "q1_pricing_summary", "q5_region_revenue", "q18_large_orders", "agg_approx_percentile",
    "asof_purchase_after_signup", "events_stream_session_parity",
]
CORPUS = [
    "text_fingerprint_exact_dedup", "ngram_jaccard_near_dup", "embedding_semantic_dedup",
    "similarity_topk_cosine",
]
# Entries run a second time, on the skewed tables, so that the other side
# of their gates runs too (see tablegen).
SKEWED = ["ngram_jaccard_near_dup", "similarity_topk_cosine"]


class Catalog:
    """Catalog entries over seeded tables, in a seeded order; each result
    is checked against the entry's DuckDB oracle with the parity harness's
    order-insensitive compare. An operation named ``<entry>:skewed`` runs
    the entry on the skewed table set."""

    def __init__(self, root: str, seed: int, names: list[str], skewed: list[str],
                 scale: float = 1.0):
        from ariadne_cartograph_spark.plans.catalog import get_oracles, get_queries

        self.queries, self.oracles = get_queries(), get_oracles()
        self.dirs = {"": os.path.join(root, "tables"), "skewed": os.path.join(root, "tables-skewed")}
        self.rows = write_tables(self.dirs[""], seed, scale)
        self.rows["skewed"] = write_skewed_tables(self.dirs["skewed"], self.dirs[""], seed, scale)
        self.names = list(names) + [f"{n}:skewed" for n in skewed]
        random.Random(seed).shuffle(self.names)

    def sizes(self) -> dict:
        return {**self.rows, "entries": len(self.names)}

    def setup(self, ctx: Ctx) -> None:
        from ariadne_cartograph_spark.sources.tables import load_table

        warm_up(ctx.spark, os.path.join(os.path.dirname(self.dirs[""]), "warm-up"))
        load_table(ctx.spark, self.dirs[""], "nation").agg(F.count(F.lit(1))).first()

    def ops(self, ctx: Ctx) -> list[Op]:
        return [Op(n, "entry", lambda n=n: self._entry(ctx, n), lambda r, n=n: self._check(ctx, n, r))
                for n in self.names]

    def _entry(self, ctx: Ctx, op: str) -> dict:
        name, _, tables = op.partition(":")
        fn = self.queries[name]
        with ctx.span(fn.__module__.replace("ariadne_cartograph_spark.", ""), op):
            res = fn(ctx.spark, self.dirs[tables]).localCheckpoint(eager=True)
            d = digest(res)
        return {"digest": d["hash"], "df": res, "rows": d["rows"]}

    def _check(self, ctx: Ctx, op: str, r: dict) -> str | None:
        from ariadne_cartograph_spark.operators.dedup import release_caches
        from ariadne_cartograph_spark.plans.oracle_harness import compare
        from ariadne_cartograph_spark.session import release_session_state

        name, _, tables = op.partition(":")
        try:
            rep = compare(name, r["df"], self.oracles[name], self.dirs[tables])
        finally:
            release_caches()
            release_session_state(ctx.spark)
        if rep.ok and rep.spark_rows == r["rows"]:
            return None
        return rep.describe()[:600]
