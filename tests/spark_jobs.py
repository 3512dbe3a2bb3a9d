"""Counting the Spark jobs a piece of driver code starts."""

from __future__ import annotations

import uuid


def jobs_in(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return settled_jobs(spark, group)


def settled_jobs(spark, group: str) -> int:
    """Jobs of ``group`` once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
