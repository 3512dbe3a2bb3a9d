"""Streaming ingest (AvailableNow, exactly-once delta processing) and
ledger-based kill/resume idempotency (north_rule)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture()
def pages_parquet(spark, sf_dir, tmp_path):
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    path = str(tmp_path / "pages")
    pages = pages_df(spark, sf_dir).limit(100).cache()
    first = pages.limit(60)
    rest = pages.subtract(first)
    first.write.parquet(path + "/batch1")
    return path, rest, pages


def test_available_now_ingest_processes_only_delta(spark, tmp_path, pages_parquet):
    from relation_extraction_using_llms_spark.streaming.ingest import run_available_now

    path, rest, pages = pages_parquet
    out = str(tmp_path / "clean_out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(spark, path + "/*", out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 60
    # new files arrive; re-run drains only the delta
    rest.write.parquet(path + "/batch2")
    run_available_now(spark, path + "/*", out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 100
    assert got.select("url").distinct().count() == 100


def test_events_hourly_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming windowed agg equals the batch groupBy on a bounded
    input (AvailableNow drain)."""
    from relation_extraction_using_llms_spark.streaming.ingest import (
        events_hourly_stream,
    )

    ev_dir = str(tmp_path / "events_dir")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(ev_dir)
    batch = (
        spark.read.parquet(ev_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    stream = spark.readStream.schema(
        spark.read.parquet(ev_dir).schema
    ).parquet(ev_dir)
    # complete mode + memory sink: bounded streams never close their last
    # window in append mode, so compare the full aggregate state instead.
    q = (
        events_hourly_stream(stream)
        .writeStream.format("memory")
        .queryName("ev_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in spark.sql("select * from ev_hourly").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    assert got == want


def test_ledger_resume_idempotent(spark, sf_dir, tmp_path):
    """Kill-and-resume: first run computes half the partitions, 'crashes';
    the re-run computes only the remainder; a third run is a no-op."""
    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        checkpointed_stage,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 4).alias("bucket")
    )
    ledger = StageLedger(spark, str(tmp_path / "ledger"))
    out_path = str(tmp_path / "stage_out")
    calls = []

    def compute(work, _keys):
        calls.append(work.select("bucket").distinct().count())
        return work.select("bucket", "doc_id", F.length("text").alias("n"))

    # simulate a crash: first run only sees buckets 0-1
    half = docs.where(F.col("bucket") < 2)
    checkpointed_stage(ledger, "lenstage", half, "bucket", out_path, compute)
    assert calls == [2]
    n_half = spark.read.parquet(out_path).count()

    # resume with the full work set: only buckets 2-3 recompute
    full1 = checkpointed_stage(ledger, "lenstage", docs, "bucket", out_path, compute)
    assert calls == [2, 2]
    assert full1.count() == docs.count() > n_half

    # re-run: no-op, same result
    full2 = checkpointed_stage(ledger, "lenstage", docs, "bucket", out_path, compute)
    assert calls == [2, 2]
    assert full2.count() == docs.count()

    metrics = ledger.stage_metrics().collect()
    assert any(r["stage"] == "lenstage" and r["n_partitions"] == 4 for r in metrics)


def test_response_cache_resume(spark, sf_dir, tmp_path):
    """S5/S6: second fetch_and_cache call issues zero new model calls."""
    from relation_extraction_using_llms_spark.functions.extraction import clean_text_df
    from relation_extraction_using_llms_spark.functions.prompts import (
        build_prompts,
        configs_df,
    )
    from relation_extraction_using_llms_spark.sources.llm_cache import fetch_and_cache
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    pages = pages_df(spark, sf_dir).limit(40)
    clean = clean_text_df(pages).select("url", "text")
    prompts = build_prompts(
        clean, configs_df(spark, ["IO"], ["improved"], ["stub-large"])
    )
    cache_path = str(tmp_path / "llm_cache")
    calls = []
    inner = make_stub_model(sf_dir)

    def counting_model(df):
        calls.append(df.count())
        return inner(df)

    r1 = fetch_and_cache(prompts, cache_path, counting_model)
    assert r1.count() == 40
    assert calls == [40]
    r2 = fetch_and_cache(prompts, cache_path, counting_model)
    assert r2.count() == 40
    assert calls == [40]  # no new model calls

    # partial-cache resume: widen the work set; only the delta is fetched
    prompts_wide = build_prompts(
        clean_text_df(pages_df(spark, sf_dir).limit(60)).select("url", "text"),
        configs_df(spark, ["IO"], ["improved"], ["stub-large"]),
    )
    r3 = fetch_and_cache(prompts_wide, cache_path, counting_model)
    assert r3.count() == 60
    assert calls == [40, 20]


def test_incremental_catalog_state_accumulates_across_drains(spark, tmp_path):
    """applyInPandasWithState catalog maintenance: cumulative counts and
    the bounded top-form state survive across AvailableNow drains via the
    checkpoint; the second drain updates only the groups that changed."""
    from relation_extraction_using_llms_spark.streaming.ingest import (
        incremental_catalog_updates,
    )

    src = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    schema = "entity_id string, text string"

    def drain(name):
        out = str(tmp_path / f"out_{name}")
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            incremental_catalog_updates(stream, max_forms=2)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["entity_id"]: r for r in spark.read.parquet(out).collect()
        }

    batch1 = [("E1", "alpha"), ("E1", "alpha"), ("E1", "beta"), ("E2", "gamma")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    got1 = drain("cat_drain1")
    assert got1["E1"]["mention_count"] == 3
    assert got1["E1"]["canonical_guess"] == "alpha"
    assert got1["E2"]["mention_count"] == 1

    # batch 2: E1 gains a third distinct form (state capped at 2 forms) and
    # 'beta' overtakes 'alpha'; E2 untouched -> not re-emitted (update mode)
    batch2 = [("E1", "beta"), ("E1", "beta"), ("E1", "delta")]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    got2 = drain("cat_drain2")
    assert set(got2) == {"E1"}
    assert got2["E1"]["mention_count"] == 6  # 3 + 3, state carried over
    assert got2["E1"]["canonical_guess"] == "beta"
    assert got2["E1"]["n_forms_tracked"] == 2  # bounded


def test_session_boundary_exact_gap_agreement(spark):
    """Pins the exact-boundary semantics with a crafted fixture: at a gap
    of EXACTLY 30 minutes session_window still MERGES (its interval is
    closed at lastEvent + gap) and the lag formulation (strictly greater)
    also keeps one session — the two formulations agree even at the
    measure-zero boundary, so they can safely share one oracle no matter
    what timestamp precision the data has.  Just past the gap both
    split."""
    from datetime import datetime, timedelta

    from relation_extraction_using_llms_spark.streaming.ingest import (
        events_sessions_native,
    )

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u", t0, 1, "view", 0.0),
        ("u", t0 + timedelta(seconds=1800), 2, "view", 0.0),  # exact gap
        ("u", t0 + timedelta(seconds=1800 + 10), 3, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long,"
        " event_type string, value double"
    )
    native = events_sessions_native(ev).collect()[0]
    assert native["n_sessions"] == 1  # merged AT the exact gap

    past = spark.createDataFrame(
        [rows[0], (rows[1][0], rows[1][1] + timedelta(seconds=1), 2, "view", 0.0)],
        ev.schema,
    )
    assert events_sessions_native(past).collect()[0]["n_sessions"] == 2

    import __spark_entry__ as entry_mod
    import pyspark.sql.functions as F  # noqa: F401

    # lag formulation over the same rows (inline, same expression as
    # q_events_sessions): strictly-greater keeps the exact-gap event inside
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    gapped = ev.select(
        "user_id",
        F.when((epoch - F.lag(epoch).over(w)) > 1800, 1).otherwise(0).alias("ns"),
    )
    n_sessions = gapped.groupBy("user_id").agg(
        (F.sum("ns") + 1).alias("n")
    ).collect()[0]["n"]
    assert n_sessions == 1


def test_stream_dedup_exact_drops_recrawls_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup-on-ingest: a byte-identical
    re-crawl in a later micro-batch is dropped (fingerprint still in
    state), distinct texts all survive, and the survivor set carries the
    md5 fingerprint column."""
    from relation_extraction_using_llms_spark.streaming.ingest import (
        stream_dedup_exact,
    )

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt_dedup")
    out = str(tmp_path / "out_dedup")
    schema = "url string, warc_ts timestamp, text string"

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_exact(stream, watermark="1 hour")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["url"] for r in spark.read.parquet(out).collect())

    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    batch1 = [
        ("u1", t0, "alpha page"),
        ("u2", t0 + timedelta(minutes=1), "beta page"),
        ("u2b", t0 + timedelta(minutes=2), "beta page"),  # same-batch dup
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert drain() == ["u1", "u2"]

    # re-crawl of 'alpha page' 10 min later: inside the horizon, dropped;
    # a genuinely new page survives
    batch2 = [
        ("u1-recrawl", t0 + timedelta(minutes=10), "alpha page"),
        ("u3", t0 + timedelta(minutes=11), "gamma page"),
    ]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert drain() == ["u1", "u2", "u3"]
