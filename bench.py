"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Regression fence: per-query times are compared against BASELINE_QUERIES
below — the single source of truth for fence values (BASELINE.md points
here). Fences are per-query clean-run minimums, re-pinned when the data
or the plan legitimately changes. Any query >2x its fence is reported
in a "regressions" key and on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Fences at sf0.1 / local[32]: per-query clean-run minimums.
BASELINE_QUERIES: dict[str, float] = {
    "asof_purchase_after_signup": 0.6,  # high end of a JVM-state-sensitive spread
    "events_stream_session_parity": 3.406,
    "events_tumbling_hourly": 0.427,
    "minhash_lsh_near_dup": 1.8,  # r6 re-pin: gated collapse skip
    "multimodal_image_stats": 0.6,  # r5: Arrow-path (mapInPandas) fence
    "osm_ingest_feature_tables": 2.47,  # r5 re-pin; r14 A/B confirmed
    "ngram_jaccard_near_dup": 1.55,  # r5 re-pin
    "ngram_jaccard_skewed_corpus": 3.2,  # r6: gate pass on top of the prefix plan
    "q10_returned_items": 0.987,
    "q14_promo_revenue": 0.417,
    "q1_pricing_summary": 0.417,
    "q3_shipping_priority": 0.768,
    "q5_region_revenue": 1.188,
    "q6_forecast_revenue": 0.249,
    "sessionize_bounds": 0.679,
    "similarity_topk_cosine": 0.62,  # r5 re-pin
    "text_bm25_topk": 0.88,  # r5 re-pin
    "text_fingerprint_exact_dedup": 0.374,
    "text_token_topk_sketch": 0.739,  # r5: MG-sketch Arrow-path fence
    "ways_enrichment_pipeline": 2.6,
    "text_repeated_span_removal": 1.6,  # r12: pinned near the steady-state min
    "fuzzy_join_part_names": 0.86,  # r12: first clean-run minimum
    "embedding_pca_project": 1.2,  # r12: first clean-run minimum
}
REGRESSION_FACTOR = 2.0
# The scale the BASELINE_QUERIES fences were measured at. Runs at any
# other sf skip the fence comparison and say so in the JSON.
FENCE_SF = 0.1

# sf1 (10x replica) ENGINE-side fences for tools/scale_rehearsal.py,
# which flags any entry whose engine clock exceeds 2x its fence.
# Per-entry provenance is in SCALE_REHEARSAL_sf1.json.
SF1_ENGINE_FENCES: dict[str, float] = {
    "agg_approx_distinct": 5.2,  # loaded-run value; idle 5.0
    "text_repeated_span_removal": 6.0,  # r13: gated exact-dup doc collapse
    "window_time_range_frame": 7.5,  # r14: digest clock
    "corpus_multimodal_curation": 8.8,  # r12: persisted fingerprint + vector collapse
    "docs_incremental_dedup_parity": 8.5,  # r14: one partitioned store per micro-batch
    "geo_line_simplify": 9.1,  # r14: digest clock
    "ngram_jaccard_near_dup": 4.5,  # r11: measured auto-router
    "simhash_near_dup": 4.5,  # r12: popcount Hamming verify + persisted signatures
    "similarity_ann_ivfpq": 5.5,  # loaded-run value; idle 4.9
    "text_rolling_fingerprint": 9.6,  # loaded-run value; idle 7.0
    "text_winnow_fingerprint_md5": 4.7,  # loaded-run value; idle 2.5
    "trajectory_jaccard_pairs": 6.0,  # r11: bitmask all-pairs route
    "ways_enrichment_pipeline": 11.0,  # r13: digest clock
    "window_running_total": 8.0,  # r14: digest clock
    "window_rank_variants": 9.0,  # r14: first digest-clocked pin
    "scalar_array_funcs": 9.0,  # r14: first digest-clocked pin
    "window_range_frame": 7.0,  # r14: first digest-clocked pin
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ariadne_cartograph_spark.session import get_spark, release_session_state
    from ariadne_cartograph_spark.plans.catalog import get_headline

    spark = get_spark("bench")
    headline = get_headline()

    # Failure-injection hook for the harness's own test: proves one
    # broken query cannot take down the whole bench
    # (tests/test_bench_harness.py sets this).
    inject = os.environ.get("SPARK_GRAFT_BENCH_INJECT_ERROR")
    if inject:
        def _boom(_spark, _sf_dir):
            raise RuntimeError("injected bench failure")

        headline[inject] = _boom

    # Warm-up phase (untimed), standard JIT-bench practice:
    # 1. one trivial job (executor spin-up);
    # 2. a schema (footer) read per table — what a metastore would cache;
    # 3. each headline query once at sf0.001 — compiles the same
    #    whole-stage-codegen classes and Python-worker pools the timed
    #    sf run reuses, so timings measure the engine, not the JIT.
    spark.range(1).count()
    from ariadne_cartograph_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        try:
            _ = load_table(spark, sf_dir, t).schema
        except Exception:
            pass
    warm_sf = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_sf) and os.path.abspath(warm_sf) != os.path.abspath(sf_dir):
        for name, fn in sorted(headline.items()):
            try:
                fn(spark, warm_sf).count()
            except Exception:
                pass

    from ariadne_cartograph_spark.operators.dedup import release_caches

    # Load-aware repeats: each query runs `repeats` times and records
    # the MIN — the machine-load-independent number — plus
    # os.getloadavg() before/after the whole loop so an artifact from a
    # busy host is visibly from a busy host.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    load_start = [round(x, 2) for x in os.getloadavg()]

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(headline.items()):
        runs: list[float] = []
        for _ in range(repeats):
            t0 = time.time()
            # A single broken query must not take the whole bench down —
            # a harness that can't produce numbers under partial failure
            # is itself a correctness bug.
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
                release_caches()
                release_session_state(spark)
                runs = []
                break
            runs.append(round(time.time() - t0, 3))
            # Near-dup builders persist their shingle frames; release
            # them between runs so each run measures the query cold
            # rather than accumulating cached partitions.
            release_caches()
            release_session_state(spark)
        if not runs:
            continue
        timings[name] = min(runs)
        all_runs[name] = runs
        print(f"# {name}: min {timings[name]}s of {runs} ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # BASELINE_QUERIES is pinned at sf0.1: comparing another scale's
    # timings against it labels a data-size difference a "regression".
    # Fences only fire at their own scale; other scales get an explicit
    # skip marker.
    fences_apply = sf_val == FENCE_SF
    regressions = (
        {
            name: {"sec": t, "baseline_sec": BASELINE_QUERIES[name]}
            for name, t in timings.items()
            if name in BASELINE_QUERIES
            and t > REGRESSION_FACTOR * BASELINE_QUERIES[name]
        }
        if fences_apply
        else {}
    )
    for name, r in regressions.items():
        print(
            f"# REGRESSION {name}: {r['sec']}s vs baseline {r['baseline_sec']}s",
            file=sys.stderr,
        )
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Load context: repeats per query (min reported), 1/5/15-min
        # load averages at loop start/end.
        "repeats": repeats,
        # Session width, so an artifact proves which $SPARK_GRAFT_CPUS
        # it actually ran at.
        "parallelism": spark.sparkContext.defaultParallelism,
        "load_avg_start": load_start,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }
    if fences_apply:
        out["fence_sf"] = FENCE_SF
        if regressions:
            out["regressions"] = regressions
    else:
        out["fences_skipped"] = (
            f"BASELINE_QUERIES fences are pinned at sf{FENCE_SF}; this run is sf{sf_val}"
        )
    if errors:
        out["errors"] = errors
    # Per-run times go to stderr, NOT the stdout JSON line: the one
    # stdout line must stay compact enough for a consumer's capture
    # window to parse it.
    print(f"# runs {json.dumps(all_runs)}", file=sys.stderr)
    print(json.dumps(out))
    # Non-zero rc only when nothing could be measured at all.
    return 0 if timings else 1


if __name__ == "__main__":
    sys.exit(main())
