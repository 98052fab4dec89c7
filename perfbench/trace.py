"""Per-layer tracing for the benchmark's traced run.

Spans are recorded in memory around the benchmark's calls into each module
of ``ariadne_cartograph_spark`` and go into the run's side file at the end.
Every Spark job submitted inside a span carries the span id as its job group; jobs
started on other threads (streaming micro-batches set their own group) are
given to the innermost span open at their submission time. After the
session stops, Spark's own event log is parsed and each task's metrics are
charged to its job's span. A layer's generic metrics are its own share:
time and jobs inside a child layer's span count for the child.

Calls the package makes internally (the enrichment inside
``update_ways_metadata.run``, the merge-table commits inside a changeset
apply) are reached by wrapping the module attributes for the length of the
traced run. Lazy layers only run jobs at their consumer, so the wrappers
materialise each layer's output at its boundary. The jobs the benchmark
runs only to count a layer's output run in ``bench`` spans, which belong to
no layer: their time and jobs are taken out of the enclosing layer's.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# The layers and their metrics, in BENCHMARK.json order.
GENERIC = ["wall_s", "jobs", "tasks", "task_s", "cpu_s", "idle_s", "shuffle_bytes", "python_s"]
SPAN_LAYERS = [
    "sources.osm", "operators.topology", "sources.tiles", "operators.enrich",
    "operators.routing", "operators.merge", "sources.osm_diff",
    "streaming.osm_replication", "plans.relational", "plans.events_queries",
    "plans.text_queries", "plans.quality_queries",
]
EXTRA = {
    "session": ["start_s", "peak_rss_mb", "tmp_leak_bytes"],
    "sources.osm": ["elements", "parse_tasks"],
    "operators.topology": ["edges"],
    "sources.tiles": ["tiles"],
    "operators.enrich": ["pixels_per_vertex"],
    "operators.routing": ["rounds", "reached"],
    "operators.merge": ["bytes_written", "bytes_written_per_diff_byte", "files_written"],
    "sources.osm_diff": ["changes"],
    "streaming.osm_replication": ["affected_per_changed_way"],
    "sources.tables": ["bytes_read", "rows_read"],
    "streaming.events": ["batches", "commit_s", "state_rows"],
    "workload": ["gc_s", "spill_bytes", "trace_overhead_s", "import_s", "route_p50_s",
                 "changeset_p50_s", "key_read_p50_s"],
}
UNITS = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "idle_s": "s", "python_s": "s",
         "start_s": "s", "commit_s": "s", "gc_s": "s", "trace_overhead_s": "s", "import_s": "s",
         "route_p50_s": "s", "changeset_p50_s": "s", "key_read_p50_s": "s",
         "shuffle_bytes": "bytes", "tmp_leak_bytes": "bytes", "bytes_written": "bytes",
         "bytes_read": "bytes", "spill_bytes": "bytes", "peak_rss_mb": "MB",
         "pixels_per_vertex": "ratio", "bytes_written_per_diff_byte": "ratio",
         "affected_per_changed_way": "ratio"}


def metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in SPAN_LAYERS for m in GENERIC]
    return names + [f"{layer}.{m}" for layer, ms in EXTRA.items() for m in ms]


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "count")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Span recorder plus the counts the layers report at their boundaries."""

    spark: object = None
    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    op: str | None = None
    paused: bool = False  # while an operation's result is checked
    _stack: list = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        if not self.paused:
            self.counts[key] = self.counts.get(key, 0.0) + value

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        if self.paused:
            yield None
            return
        sp = Span(len(self.spans) + 1, layer, name or layer, self.op,
                  self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-span-{sp.id}", sp.name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-span-{self._stack[-1].id}", self._stack[-1].name)
            else:
                sc.setJobGroup("perfbench-none", "")


class RssSampler:
    """Peak resident memory of this process and its descendants."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(interval)


def tree_rss_kb(root: int) -> int:
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        parent[int(d)] = int(fields.get("PPid", "0").strip() or 0)
        rss[int(d)] = int(fields.get("VmRSS", "0 kB").split()[0])
    keep, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in keep:
                keep.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in keep)


# ---------------------------------------------------------------- event log


@dataclass
class Task:
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    bytes_read: int
    rows_read: int
    python_s: float


def _python_seconds(accumulables: list) -> float:
    """Spark's "time to run Python workers" SQL metric, a ms timing."""
    return sum(float(a.get("Update") or 0) for a in accumulables or []
               if a.get("Name") == "time to run Python workers") / 1e3


def parse_event_logs(log_dir: str) -> tuple[dict, list]:
    """→ ({job key: (group, submit time, [Task])}, [streaming progress])."""
    jobs: dict = {}
    progress: list = []
    # Spark 4 rolls each application's log into eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        stage_job: dict = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    key = (path, ev["Job ID"])
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[key] = (group, ev["Submission Time"] / 1e3, [])
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get(ev["Stage ID"])
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    if key is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics", {})
                    inp = m.get("Input Metrics", {})
                    jobs[key][2].append(Task(
                        start=info["Launch Time"] / 1e3,
                        end=info["Finish Time"] / 1e3,
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        bytes_read=inp.get("Bytes Read", 0),
                        rows_read=inp.get("Records Read", 0),
                        python_s=_python_seconds(info.get("Accumulables")),
                    ))
                elif kind.endswith("QueryProgressEvent"):
                    progress.append(ev.get("progress", {}))
    return jobs, progress


def _union_length(intervals: list) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals: list, s: float, e: float) -> list:
    return [(max(a, s), min(b, e)) for a, b in intervals if b > s and a < e]


def layer_metrics(tracer: Tracer, log_dir: str, listener_progress: list) -> dict:
    """Aggregate spans, event-log tasks and streaming progress per layer."""
    spans = {sp.id: sp for sp in tracer.spans}
    children: dict = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    jobs, log_progress = parse_event_logs(log_dir)
    owned: dict = {sid: [] for sid in spans}
    for group, submitted, tasks in jobs.values():
        sid = None
        if group and group.startswith("perfbench-span-"):
            sid = int(group.rsplit("-", 1)[1])
        else:  # innermost span open at submission
            open_ = [sp for sp in tracer.spans if sp.start <= submitted <= sp.end]
            if open_:
                sid = max(open_, key=lambda sp: sp.start).id
        if sid in owned:
            owned[sid].append(tasks)
    out = {f"{layer}.{m}": 0.0 for layer in SPAN_LAYERS for m in GENERIC}
    tables = {"bytes_read": 0.0, "rows_read": 0.0}
    for sid, sp in spans.items():
        if sp.layer not in SPAN_LAYERS:
            continue
        kids = [(c.start, c.end) for c in children.get(sid, [])]
        self_wall = (sp.end - sp.start) - _union_length(_clip(kids, sp.start, sp.end))
        tasks = [t for job in owned[sid] for t in job]
        busy = _union_length(_clip([(t.start, t.end) for t in tasks], sp.start, sp.end) + kids)
        p = sp.layer + "."
        out[p + "wall_s"] += self_wall
        out[p + "jobs"] += len(owned[sid])
        out[p + "tasks"] += len(tasks)
        out[p + "task_s"] += sum(t.run_s for t in tasks)
        out[p + "cpu_s"] += sum(t.cpu_s for t in tasks)
        out[p + "idle_s"] += max(0.0, (sp.end - sp.start) - busy)
        out[p + "shuffle_bytes"] += sum(t.shuffle_bytes for t in tasks)
        out[p + "python_s"] += sum(t.python_s for t in tasks)
        if sp.layer.startswith("plans."):
            tables["bytes_read"] += sum(t.bytes_read for t in tasks)
            tables["rows_read"] += sum(t.rows_read for t in tasks)
        if sp.name == "read_osm_elements":
            tracer.add("sources.osm.parse_tasks", len(tasks))
    out["sources.tables.bytes_read"] = tables["bytes_read"]
    out["sources.tables.rows_read"] = tables["rows_read"]
    all_tasks = [t for _, _, ts in jobs.values() for t in ts]
    out["workload.gc_s"] = sum(t.gc_s for t in all_tasks)
    out["workload.spill_bytes"] = sum(t.spill_bytes for t in all_tasks)
    progress = listener_progress or log_progress
    out["streaming.events.batches"] = len(progress)
    out["streaming.events.commit_s"] = sum(
        op.get("commitTimeMs", 0) for pr in progress for op in pr.get("stateOperators", [])
    ) / 1e3
    out["streaming.events.state_rows"] = sum(
        op.get("numRowsTotal", 0) for pr in progress for op in pr.get("stateOperators", [])
    )
    out.update(tracer.counts)
    c = tracer.counts.get
    out["operators.enrich.pixels_per_vertex"] = c("bench.pixels", 0) / max(c("bench.vertices", 0), 1)
    out["operators.merge.bytes_written_per_diff_byte"] = (
        c("bench.changeset_bytes_written", 0) / max(c("bench.diff_bytes", 0), 1))
    out["streaming.osm_replication.affected_per_changed_way"] = (
        c("bench.affected_ways", 0) / max(c("bench.changed_ways", 0), 1))
    return out


def make_listener(sink: list):
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


# ------------------------------------------------------------------ wrappers


def dir_files(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out


@contextlib.contextmanager
def wrap_package(tracer: Tracer):
    """Wrap the package's internal layer calls for the traced run."""
    from ariadne_cartograph_spark import update_ways_metadata as uwm
    from ariadne_cartograph_spark.operators import enrich
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
    from ariadne_cartograph_spark.streaming import osm_replication

    saved = [
        (uwm, "enrich_ways", uwm.enrich_ways),
        (enrich, "synthetic_tiles", enrich.synthetic_tiles),
        (osm_replication, "net_changes", osm_replication.net_changes),
        (ParquetMergeTable, "upsert", ParquetMergeTable.upsert),
        (ParquetMergeTable, "delete", ParquetMergeTable.delete),
        (ParquetMergeTable, "read_keys", ParquetMergeTable.read_keys),
    ]
    orig = {name: fn for _, name, fn in saved}

    def enrich_ways(spark, ways, provider, coords=None):
        with tracer.span("operators.enrich", f"enrich_ways:{provider.name}"):
            out = orig["enrich_ways"](spark, ways, provider, coords=coords).localCheckpoint(eager=True)
        pts = (coords if coords is not None else enrich.explode_way_coords(ways))
        tx, ty, px, py = enrich.lnglat_to_tile_pixel("lng", "lat", provider.zoom, provider.tile_size)
        with tracer.span("bench", "count pixels"):
            tracer.add("bench.vertices", pts.count())
            tracer.add("bench.pixels", pts.select(tx, ty, px.cast("int"), py.cast("int")).distinct().count())
        return out

    def synthetic_tiles(spark, needed, mode, tile_size=256):
        with tracer.span("sources.tiles", "synthetic_tiles"):
            out = orig["synthetic_tiles"](spark, needed, mode, tile_size).localCheckpoint(eager=True)
        with tracer.span("bench", "count tiles"):
            tracer.add("sources.tiles.tiles", out.count())
        return out

    def net_changes(diff):
        with tracer.span("sources.osm_diff", "net_changes"):
            out = orig["net_changes"](diff).localCheckpoint(eager=True)
        with tracer.span("bench", "count changes"):
            tracer.add("sources.osm_diff.changes", out.count())
            tracer.add("bench.changed_ways", out.filter("kind = 'way'").count())
        return out

    def merge_write(kind):
        def call(self, rows, *a, **kw):
            before = dir_files(self.path)
            if kind == "upsert" and self.path.endswith("/derived"):
                with tracer.span("bench", "count affected ways"):
                    tracer.add("bench.affected_ways", rows.count())
            with tracer.span("operators.merge", f"{kind}:{os.path.basename(self.path)}"):
                done = orig[kind](self, rows, *a, **kw)
            after = dir_files(self.path)
            new = [p for p in after if p not in before]
            tracer.add("operators.merge.files_written", len(new))
            written = sum(after[p] for p in new)
            tracer.add("operators.merge.bytes_written", written)
            if (tracer.op or "").startswith("changeset"):
                tracer.add("bench.changeset_bytes_written", written)
            return done
        return call

    def read_keys(self, keys, version=None):
        with tracer.span("operators.merge", f"read_keys:{os.path.basename(self.path)}"):
            out = orig["read_keys"](self, keys, version)
            return None if out is None else out.localCheckpoint(eager=True)

    repl = {"enrich_ways": enrich_ways, "synthetic_tiles": synthetic_tiles,
            "net_changes": net_changes, "upsert": merge_write("upsert"),
            "delete": merge_write("delete"), "read_keys": read_keys}
    for owner, name, _ in saved:
        setattr(owner, name, repl[name])
    try:
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)
