"""Shared pytest fixtures: one local SparkSession per test session.

Mirrors the reference's test strategy (SURVEY.md §5): operator tests
over a real engine with tiny hand-built datasets, asserting exact
row sets (`/root/reference/tests/test_monitor.py:44-47` style).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


@pytest.fixture(scope="session")
def spark():
    from metadata_wrangler_spark.session import get_spark
    s = get_spark("tests", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s


def rows(df, *order_cols):
    """Collect to a sorted list of tuples for exact-row assertions."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out)


def build_jobs(spark, build) -> int:
    """Number of Spark jobs ``build()`` starts, counted through a job
    group once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"build-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
