"""Spark-job budgets of the iterative operators: connected components runs
one checkpoint action per round, and the corpus-prep chain's audit counts
ride on its stage checkpoints."""

from __future__ import annotations

import sys
import uuid

import pytest

from tests.spark_jobs import jobs_in, settled_jobs


def _grouped_checkpoints(spark, monkeypatch, frame):
    """Run every ``localCheckpoint`` of ``frame``'s class in a job group of
    its own; returns the list of those groups, in call order."""
    sc = spark.sparkContext
    cls = type(frame)
    original = cls.localCheckpoint
    groups = []

    def grouped(self, *args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        groups.append(f"ckpt-{uuid.uuid4().hex[:8]}")
        sc.setJobGroup(groups[-1], groups[-1])
        try:
            return original(self, *args, **kwargs)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(cls, "localCheckpoint", grouped)
    return groups


def test_connected_components_one_action_per_round(spark, monkeypatch):
    """Every job connected components starts belongs to a checkpoint: the
    edge set's, then one per round, whose observed change count decides
    convergence without a separate count job."""
    from relation_extraction_using_llms_spark.operators.canonicalize import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(f"a{i:02d}", f"a{i + 1:02d}") for i in range(15)] + [("x", "y")],
        "src string, dst string",
    )
    groups = _grouped_checkpoints(spark, monkeypatch, edges)
    result = []
    outside = jobs_in(
        spark, lambda: result.extend(connected_components(edges).collect())
    )
    comp = {r["node"]: r["component"] for r in result}
    assert set(comp.values()) == {"a00", "x"} and len(comp) == 18

    rounds = [settled_jobs(spark, g) for g in groups[1:]]
    # the only job outside a checkpoint is the final collect
    assert outside == 1
    # the 16-node chain closes in four rounds; a round runs one job per
    # shuffle or broadcast stage AQE plans for it, plus the checkpoint's
    assert len(rounds) == 4
    assert all(1 <= n <= 9 for n in rounds), rounds


def test_connected_components_raises_when_not_converged(spark):
    from relation_extraction_using_llms_spark.operators.canonicalize import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(f"a{i:02d}", f"a{i + 1:02d}") for i in range(15)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, max_iterations=1)


def test_corpus_prep_audit_counts_add_no_jobs(spark, sf_dir, tmp_path):
    """Between one stage checkpoint and the next pure-plan stage no Spark
    job runs: the audit counts are read off the checkpoint's action."""
    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from scripts.corpus_prep import run_chain

    sc = spark.sparkContext
    between = []

    def checkpoint(df):
        group = f"ckpt-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        out = df.localCheckpoint(eager=True)
        between.append(f"between-{uuid.uuid4().hex[:8]}")
        sc.setJobGroup(between[-1], between[-1])
        return out

    try:
        counts = run_chain(
            spark,
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            out=str(tmp_path / "out"),
            checkpoint=checkpoint,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(between) == 5
    assert counts["input"] >= counts["after_quality"] >= counts["after_exact_dedup"]
    assert counts["after_sample"] == counts["after_decontamination"]
    jobs = [settled_jobs(spark, g) for g in between]
    # after the quality gate, the PII scrub and the near-dedup checkpoints
    # the next step is plan building only; after exact dedup the MinHash
    # pairs and connected components run, after decontamination the
    # packing writes
    assert (jobs[0], jobs[1], jobs[3]) == (0, 0, 0), jobs
