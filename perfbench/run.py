"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload gis --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. Each run generates its inputs from
``--seed``, starts its Spark session on ``local[nproc]`` once (the JVM
launch included) and builds the workload's program state, warm-up included
(``setup_s`` is the sum), then runs one cold pass of the workload's
operations in a closed loop, one at a time (``run_s`` is its wall time).
A run is always that one pass: ``--seconds`` is recorded, not used, since
a second pass in the warm JVM would time different work. With
``--trace 1`` the run records spans
and Spark's event log and prints the per-layer metrics instead. Everything the run writes
lives under ``.perfbench/`` in the working directory; the scratch part is
removed at the end and a per-run side file is kept in
``.perfbench/results/``. ``--smoke`` runs every workload once at tiny
sizes with one injected failing operation and checks that the failure is
counted and every metric prints.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

DEADLINE_S = 170  # a run that is still going by then exits non-zero
BASELINE_TIMEOUT_S = 70  # the untraced run a traced run may need first
END_TO_END = {"setup_s": "s", "run_s": "s"}

# workload → (factory arguments at full size, at smoke size)
WORKLOADS = {
    "gis": ({"grid": 14, "routes": 1, "max_iter": 8, "changesets": 1},
            {"grid": 6, "routes": 1, "max_iter": 3, "changesets": 1}),
    "catalog": ({"scale": 1.0}, {"scale": 0.05}),
}


def make_workload(name: str, root: str, seed: int, smoke: bool):
    from perfbench import workloads as w

    kw = WORKLOADS[name][1 if smoke else 0]
    if name == "gis":
        return w.Gis(root, seed, **kw)
    return w.Catalog(root, seed, w.WAREHOUSE + w.CORPUS, w.SKEWED, **kw)


# ---------------------------------------------------------------- host


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    return {"load1": os.getloadavg()[0], "cpu": cpu_times(), "t": time.time()}


def host_report(start: dict, end: dict, spark) -> dict:
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    steal = d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
    n = nproc()
    return {
        "nproc": n,
        "default_parallelism": spark.sparkContext.defaultParallelism if spark else None,
        "load1_start": start["load1"], "load1_end": end["load1"],
        "steal_share": round(steal, 4),
        # the host counts as quiet when other work used under half the
        # cores at the start and the hypervisor stole under 2% of CPU time
        "host_ok": start["load1"] < 0.5 * n and steal < 0.02,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location of this run into ``run_dir`` and make
    the repository importable by the Python workers, before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jvm-tmp", "local", "conf", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["data"], "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData "
                                         f"-Dderby.system.home={dirs['data']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + dirs["eventlog"],
                     "spark.eventLog.compress": "false"})
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stdout.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\nappender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        # the launcher JVM that spark-submit runs first takes only these options
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
        "SPARK_CONF_DIR": dirs["conf"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None  # re-read TMPDIR


def median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def code_digest() -> str:
    """Digest of the package's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in ("ariadne_cartograph_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- one run


def run(workload: str, seed: int, trace: bool, smoke: bool = False, inject: bool = False,
        run_dir: str | None = None) -> dict:
    from ariadne_cartograph_spark.session import get_spark
    from perfbench import trace as tr
    from perfbench.workloads import Ctx, injected_failure, record_routes, run_op

    data = os.path.join(run_dir, "data")
    host0 = host_snapshot()
    wl = make_workload(workload, data, seed, smoke)
    ctx = Ctx(spark=None, root=data)
    t0 = time.perf_counter()
    ctx.spark = spark = get_spark(cpus=nproc())
    spark.range(1000).agg({"id": "sum"}).first()
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup(ctx)  # the program state the operations need, built once
    state_s = time.perf_counter() - t0
    print(f"[perfbench] session start {start_s:.2f} s, state {state_s:.2f} s", file=sys.stderr)
    tracer = progress = listener = None
    if trace:
        tracer, progress = tr.Tracer(spark=spark), []
        ctx.tracer = tracer
        listener = tr.make_listener(progress)
        spark.streams.addListener(listener)
    ops = wl.ops(ctx) + ([injected_failure(spark)] if inject else [])
    run_s = 0.0
    with (tr.RssSampler() if trace else nullcontext()) as rss, record_routes(ctx.routes), \
            (tr.wrap_package(tracer) if trace else nullcontext()):
        for op in ops:
            rec = run_op(ctx, op)
            run_s += rec["s"]
            status = "ok" if rec["ok"] else f"FAILED {rec['error']}"
            routes = f" [{' '.join(rec['routes'])}]" if rec.get("routes") else ""
            print(f"[perfbench] {op.name}: {rec['s']:.3f} s (check {rec['check_s']:.2f} s) {status}{routes}",
                  file=sys.stderr)
    if listener is not None:
        spark.streams.removeListener(listener)
    host = host_report(host0, host_snapshot(), spark)
    spark.stop()
    leak = dir_bytes(os.path.join(run_dir, "tmp"))
    kinds: dict = {}
    for r in ctx.records:
        kinds.setdefault(r["kind"], []).append(r["s"])
    out = {
        "workload": workload, "seed": seed, "trace": trace, "code": code_digest(), "host": host,
        "sizes": wl.sizes(), "start_s": start_s, "state_s": state_s,
        "setup_s": start_s + state_s, "run_s": run_s,
        "op_p50_s": {k: median(v) for k, v in kinds.items()},
        "op_n": {k: len(v) for k, v in kinds.items()},
        "routes": {r["op"]: r["routes"] for r in ctx.records if r.get("routes")},
        "records": ctx.records,
        "attempted": len(ctx.records), "failed": sum(not r["ok"] for r in ctx.records),
        "tmp_leak_bytes": leak,
    }
    if trace:
        layers = tr.layer_metrics(tracer, os.path.join(run_dir, "eventlog"), progress)
        layers.update({
            "session.start_s": start_s, "session.peak_rss_mb": rss.peak_kb / 1024,
            "session.tmp_leak_bytes": leak,
            "workload.import_s": out["op_p50_s"].get("import", 0.0),
            "workload.route_p50_s": out["op_p50_s"].get("route", 0.0),
            "workload.changeset_p50_s": out["op_p50_s"].get("changeset", 0.0),
            "workload.key_read_p50_s": out["op_p50_s"].get("key_read", 0.0),
        })
        out["layers"] = layers
        out["spans"] = [sp.__dict__ for sp in tracer.spans]
    return out


def untraced_baseline(workload: str, seed: int, seconds: float, results: str) -> list:
    """The earlier untraced runs in this checkout that a traced run is
    compared with: those of the same workload and sources, and of the same
    seed when there are any. When there is none, one untraced run of the
    seed is made first. Returns their (seed, run_s) pairs."""
    code = code_digest()

    def found() -> list:
        runs = []
        for f in os.listdir(results):
            if f.startswith(f"{workload}-s") and "-t0-" in f:
                with open(os.path.join(results, f)) as fh:
                    side = json.load(fh)
                if side.get("code") == code:
                    runs.append((side["seed"], side["run_s"]))
        return [r for r in runs if r[0] == seed] or runs

    if not found():
        # its own process group, so that a run cut at the timeout takes its
        # JVM and Python workers with it
        proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--workload", workload,
                                 "--seed", str(seed), "--seconds", str(int(seconds)), "--trace", "0"],
                                stdout=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=BASELINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: the untraced baseline run did not finish in time", file=sys.stderr)
    return found()


def result_line(out: dict, trace: bool) -> dict:
    from perfbench import trace as tr

    if trace:
        metrics = {n: {"value": float(out["layers"].get(n, 0.0)), "unit": tr.unit_of(n)}
                   for n in tr.metric_names()}
    else:
        metrics = {n: {"value": float(out[n]), "unit": u} for n, u in END_TO_END.items()}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"], "failed": out["failed"],
            "metrics": metrics}


def declared_metrics(trace: bool) -> set:
    """The metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def stop_jvm() -> None:
    """Stop the session's JVM and wait until it (and its Python workers)
    has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ariadne-cartograph-spark benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload once, tiny, one injected failure")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ariadne_cartograph_spark")):
        print("perfbench: run from the repository root (ariadne_cartograph_spark/ not found)", file=sys.stderr)
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    base = os.path.join(ROOT, ".perfbench")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    baseline = None
    t_start = time.perf_counter()
    if args.trace and not args.smoke:
        baseline = untraced_baseline(args.workload, args.seed, args.seconds, results)
    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - t_start), lambda: (print("perfbench: deadline passed", file=sys.stderr),
                                                 os._exit(3)))
    timer.daemon = True
    timer.start()
    todo = sorted(WORKLOADS) if args.smoke else [args.workload]
    tag = f"{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(base, "runs", tag)
    isolate(run_dir, bool(args.trace))
    ok = True
    try:
        for w in todo:
            out = run(w, args.seed, bool(args.trace), smoke=args.smoke, inject=args.smoke,
                      run_dir=run_dir)
            out["seconds"] = args.seconds
            if args.trace and not args.smoke:
                out["baseline_runs"] = baseline
                if baseline:
                    out["layers"]["workload.trace_overhead_s"] = out["run_s"] - median([r for _, r in baseline])
            kind = "smoke" if args.smoke else f"t{args.trace}"
            with open(os.path.join(results, f"{w}-s{args.seed}-{kind}-{tag}.json"), "w") as f:
                json.dump(out, f, default=str)
            line = result_line(out, bool(args.trace))
            if args.smoke:
                injected = [r for r in out["records"] if r["kind"] == "injected"]
                real_failed = [r["op"] for r in out["records"] if not r["ok"] and r["kind"] != "injected"]
                w_ok = (len(injected) == 1 and not injected[0]["ok"] and line["failed"] == 1 + len(real_failed)
                        and set(line["metrics"]) == declared_metrics(bool(args.trace)) and not real_failed)
                print(json.dumps({"workload": w, "smoke_ok": w_ok, "real_failures": real_failed, **line}))
                ok &= w_ok
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.smoke:
        print(json.dumps({"smoke_ok": ok}))
        return 0 if ok else 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
