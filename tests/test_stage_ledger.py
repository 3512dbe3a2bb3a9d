"""The driver-side stage ledger: how many Spark jobs a checkpointed stage
costs, compatibility with ledgers written by Spark's own parquet writer,
and evaluation stages that follow the evaluation config."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.spark_jobs import jobs_in as _jobs


def test_stage_job_budget_cold_and_noop(spark, tmp_path):
    """A cold stage runs the fingerprint action, the write and one schema
    read of its table; a no-op re-run runs the fingerprint action alone
    and appends nothing to the ledger."""
    import os

    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        _key_fingerprints,
        checkpointed_stage,
    )

    work = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "part string, v int")
    ledger_path, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    ledger = StageLedger(spark, ledger_path)
    calls = []

    def compute(w, keys):
        calls.append(sorted(keys))
        return w

    def run():
        checkpointed_stage(ledger, "s", work, "part", out, compute)

    fingerprint = _jobs(spark, lambda: _key_fingerprints(work, "part"))
    assert 1 <= fingerprint <= 2  # one aggregate: map stage + result stage
    assert _jobs(spark, run) <= fingerprint + 2  # + the write + one schema read
    assert calls == [["a", "b"]]
    files = sorted(os.listdir(ledger_path))

    assert _jobs(spark, run) == fingerprint
    assert calls == [["a", "b"]]
    assert sorted(os.listdir(ledger_path)) == files
    table = checkpointed_stage(ledger, "s", work, "part", out, compute)
    assert sorted((r["part"], r["v"]) for r in table.collect()) == [
        ("a", 1), ("a", 2), ("b", 3)
    ]


def test_reads_ledger_written_by_spark(spark, tmp_path):
    """A ledger appended by Spark's writer (``current_timestamp()``, Spark's
    timestamp encoding) is read on the driver: the latest row per key wins,
    done keys skip, changed keys recompute, vanished keys are dropped; the
    mixed ledger still reads back through Spark."""
    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        _key_fingerprints,
        checkpointed_stage,
    )

    ledger_path, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    work = spark.createDataFrame([("a", 1), ("b", 2)], "part string, v int")
    fps = _key_fingerprints(work, "part")

    def spark_append(rows):
        spark.createDataFrame(
            rows, "partition_key string, input_hash string, row_count long"
        ).select(
            F.lit("s").alias("stage"),
            "partition_key",
            "input_hash",
            "row_count",
            F.lit("done").alias("status"),
            F.lit("old-run").alias("run_id"),
            F.current_timestamp().alias("ts"),
        ).write.mode("append").parquet(ledger_path)

    # an older row for key a with a stale hash, then a later row with the
    # current one: the later wins.  Key b is done under a stale hash; key
    # c is done but no longer in the input.
    spark_append([("a", "1:1", 1)])
    spark_append([("a", fps["a"][1], 1), ("b", "1:2", 1), ("c", "1:3", 1)])
    # the old output: a's row marked so a recompute would show
    spark.createDataFrame(
        [("a", 1001), ("b", 1002), ("c", 1003)], "part string, v int"
    ).write.partitionBy("part").parquet(out)

    calls = []

    def compute(w, keys):
        calls.append(sorted(keys))
        return w

    ledger = StageLedger(spark, ledger_path)
    table = checkpointed_stage(ledger, "s", work, "part", out, compute)
    assert calls == [["b"]]
    assert sorted((r["part"], r["v"]) for r in table.collect()) == [
        ("a", 1001), ("b", 2)
    ]
    latest = StageLedger(spark, ledger_path).latest("s")
    assert latest == {
        "a": ("done", fps["a"][1]),
        "b": ("done", fps["b"][1]),
        "c": ("removed", ""),
    }
    rows = {
        (r["partition_key"], r["status"], r["row_count"])
        for r in spark.read.parquet(ledger_path).where(F.col("run_id") == ledger.run_id)
        .collect()
    }
    assert rows == {("b", "done", 1), ("c", "removed", 0)}
    assert _jobs(spark, ledger.stage_metrics) == 0
    frame = ledger.stage_metrics()
    assert dict(frame.dtypes) == {
        "stage": "string", "status": "string", "n_partitions": "bigint",
        "rows": "bigint", "n_runs": "bigint",
    }
    metrics = {
        (r["stage"], r["status"]): (r["n_partitions"], r["rows"], r["n_runs"])
        for r in frame.collect()
    }
    assert metrics == {("s", "done"): (5, 5, 2), ("s", "removed"): (1, 0, 1)}


def test_stages_over_one_frame_share_its_fingerprints(spark, tmp_path):
    """A second stage over the same work frame on the same ledger starts no
    fingerprint job; an equal but distinct frame is fingerprinted."""
    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        _key_fingerprints,
        checkpointed_stage,
    )

    work = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "part string, v int")
    ledger = StageLedger(spark, str(tmp_path / "ledger"))

    def stage(name, frame):
        return lambda: checkpointed_stage(
            ledger, name, frame, "part", str(tmp_path / name), lambda w, _: w
        )

    fingerprint = _jobs(spark, lambda: _key_fingerprints(work, "part"))
    first = _jobs(spark, stage("first", work))
    assert _jobs(spark, stage("second", work)) == first - fingerprint
    assert _jobs(spark, stage("third", work.select("*"))) == first
    for name in ("first", "second", "third"):
        assert set(ledger.latest(name)) == {"a", "b"}
        rows = spark.read.parquet(str(tmp_path / name)).collect()
        assert sorted((r["part"], r["v"]) for r in rows) == [("a", 1), ("a", 2), ("b", 3)]


def test_resume_with_more_strategies_recomputes_eval(spark, sf_dir, tmp_path):
    """The evaluation stages' fingerprints include the evaluation config:
    resuming a workdir with a wider strategy list yields the new strategy's
    rows in counts and eval_aggregate instead of reusing the old ones."""
    from relation_extraction_using_llms_spark.plans.checkpointed import (
        run_checkpointed,
    )
    from relation_extraction_using_llms_spark.plans.pipeline import PipelineConfig
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    model = make_stub_model(sf_dir)
    pages = pages_df(spark, sf_dir).limit(20).cache()
    wd = str(tmp_path / "wd")

    def cfg(strategies):
        return PipelineConfig(
            techniques=["IO"], models=["stub-large"], strategies=strategies,
            with_types_variants=(True,),
        )

    first = run_checkpointed(spark, pages, wd, cfg(["exact"]), model, n_buckets=4)
    assert {r["strategy"] for r in first["counts"].select("strategy").distinct().collect()} == {"exact"}

    again = run_checkpointed(spark, pages, wd, cfg(["exact", "text"]), model, n_buckets=4)
    for stage in ("counts", "eval_aggregate"):
        got = {r["strategy"] for r in again[stage].select("strategy").distinct().collect()}
        assert got == {"exact", "text"}, stage
