"""Streaming surface tests (SURVEY.md §5.2 item 4): replay `events` as
a file stream and check streaming outputs equal their batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.sources.tables import load_table
from ariadne_cartograph_spark.streaming import events as SE

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    return SE.stage_events_as_stream_source(spark, SF, str(d / "events"), n_files=4)


def _batch_events(spark):
    return load_table(spark, SF, "events")


def test_tumbling_stream_matches_batch(spark, source_dir):
    stream = SE.read_events_stream(spark, source_dir)
    SE.run_to_memory(SE.tumbling_counts(stream), "t_tumble", output_mode="complete")
    got = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in spark.table("t_tumble").collect()
    }
    want = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in (
            _batch_events(spark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
        ).collect()
    }
    assert got == want


def test_session_stream_matches_gap_semantics(spark, source_dir):
    stream = SE.read_events_stream(spark, source_dir)
    SE.run_to_memory(SE.session_agg(stream), "t_sess", output_mode="complete")
    got = spark.table("t_sess")
    # session_window(gap=1h) must produce the same (user, n_events)
    # multiset as the batch gap-sessionizer
    from ariadne_cartograph_spark.operators.sessionize import session_bounds

    want = session_bounds(_batch_events(spark), "user_id", "ts", 3600, "event_id")
    g = sorted((r.user_id, r.n_events) for r in got.collect())
    w = sorted((r.user_id, r.n_events) for r in want.collect())
    assert g == w


def test_streaming_dedup(spark, source_dir, tmp_path):
    # duplicate the stream by unioning the same source twice at read
    # level: write a doubled copy
    ev = _batch_events(spark)
    doubled = ev.unionAll(ev)
    ddir = str(tmp_path / "doubled")
    doubled.repartitionByRange(4, "ts").write.parquet(ddir)
    stream = SE.read_events_stream(spark, ddir)
    SE.run_to_memory(SE.dedup_events(stream, watermark="40 days"), "t_dedup")
    assert spark.table("t_dedup").count() == ev.count()


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, source_dir):
    # No maxFilesPerTrigger and a watermark wider than the replayed
    # span: micro-batch FILE order is not chronological (listing
    # order), so a tight watermark would nondeterministically evict
    # click state before a matching purchase's file arrives — real
    # late-data semantics, but the test pins exact batch equality.
    stream = SE.read_events_stream(spark, source_dir)
    SE.run_to_memory(
        SE.click_purchase_interval_join(
            stream, horizon="30 minutes", watermark="40 days"
        ),
        "t_ssjoin",
        output_mode="append",
    )
    got = sorted(
        (r.click_id, r.purchase_id) for r in spark.table("t_ssjoin").collect()
    )
    # batch twin: same function on the batch frame (watermark no-ops)
    want = sorted(
        (r.click_id, r.purchase_id)
        for r in SE.click_purchase_interval_join(
            _batch_events(spark), horizon="30 minutes"
        ).collect()
    )
    assert got == want and len(got) > 0


def test_stream_static_dimension_join(spark, source_dir):
    stream = SE.read_events_stream(spark, source_dir)
    cust = load_table(spark, SF, "customer")
    enriched = SE.enrich_with_dimension(
        stream, cust, "user_id", "c_custkey", ["c_mktsegment"]
    )
    SE.run_to_memory(enriched, "t_dimjoin", output_mode="append")
    got = spark.table("t_dimjoin")
    ev = _batch_events(spark)
    assert got.count() == ev.count()  # left join keeps every event
    # spot-check the enrichment against a batch join
    want = (
        ev.join(cust, ev.user_id == cust.c_custkey, "left")
        .groupBy("c_mktsegment")
        .count()
    )
    w = {(r.c_mktsegment, r["count"]) for r in want.collect()}
    g = {
        (r.c_mktsegment, r["count"])
        for r in got.groupBy("c_mktsegment").count().collect()
    }
    assert g == w
