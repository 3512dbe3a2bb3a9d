"""Status-store metric reader: value parsing, and a tiny mapInPandas +
groupBy plan read back without starting any Spark job.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import stop_spark  # noqa: E402
from perfbench.sparkmetrics import StatusStoreReader, parse_value  # noqa: E402


@pytest.mark.parametrize(
    "text, want",
    [
        ("total (min, med, max (stageId: taskId))\n520.7 KiB (122.8 KiB, 130.0 KiB, 135.0 KiB (stage 3.0: task 12))", 520.7 * 1024),
        ("total (min, med, max (stageId: taskId))\n5.6 s (1.4 s, 1.4 s, 1.4 s (stage 0.0: task 3))", 5.6),
        ("44 ms", 0.044),
        ("1.5 m", 90.0),
        ("82.1 MiB", 82.1 * 2**20),
        ("0.0 B", 0.0),
        ("20,000", 20000.0),
        ("7", 7.0),
    ],
)
def test_parse_value(text, want):
    assert parse_value(text) == pytest.approx(want)


def test_parse_value_rejects_garbage():
    with pytest.raises(ValueError):
        parse_value("n/a")


@pytest.fixture(scope="module")
def spark():
    from relation_extraction_using_llms_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    stop_spark(s)


def _run_plan(spark, group: str, reader=None):
    from pyspark.sql import functions as F

    # nested, so it is pickled by value: workers cannot import test modules
    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf["x"] * 2)

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    since = reader.execution_count() if reader else 0
    (
        spark.range(0, 2000, numPartitions=4)
        .withColumnRenamed("id", "x")
        .mapInPandas(double, "x long, y long")
        .where(F.col("x") % 2 == 0)
        .groupBy((F.col("x") % 7).alias("k"))
        .agg(F.sum("y").alias("s"))
        .collect()
    )
    totals = None
    if reader:
        ids = [eid for eid, desc, _ in reader.executions(since) if desc == group]
        totals = [
            (reader.execution_metrics(eid), reader.predicate_rows(eid, "% 2)")) for eid in ids
        ]
    return len(sc.statusTracker().getJobIdsForGroup(group)), totals


def test_reader_reads_plan_metrics_and_starts_no_jobs(spark):
    reader = StatusStoreReader(spark)
    jobs_off, _ = _run_plan(spark, "reader-off")
    jobs_on, totals = _run_plan(spark, "reader-on", reader)
    assert jobs_on == jobs_off > 0
    assert len(totals) == 1
    m, predicate = totals[0]
    assert predicate == [(2000.0, 1000.0)]
    assert m["py_sent_bytes"] > 0 and m["py_returned_bytes"] > 0
    assert m["py_run_s"] >= 0 and "py_start_s" in m
    assert m["shuffle_write_bytes"] > 0
    assert m["rows_out"] == 7  # the final aggregate's groups
    assert m.get("spill_bytes", 0.0) == 0.0
