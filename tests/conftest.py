"""Shared fixtures: one local SparkSession for the whole test run.

Small parallelism (local[4], 4 shuffle partitions) keeps per-test latency
low; the engine code itself never hard-codes partition counts, so the same
plans scale out unchanged.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from etl_pdf_pipepline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="module", autouse=True)
def _settle_unreachable_rdds():
    """Before each module, let Spark unpersist what earlier modules left
    unreachable. A dropped localCheckpoint()ed DataFrame stays in
    getPersistentRDDs() until a JVM GC hands it to Spark's ContextCleaner,
    so without this a GC landing mid-test shrinks the count a test such as
    test_engine.py::test_churn_matches_recompute_and_pins_nothing pins."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        import gc
        import time

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        jsc = spark.sparkContext._jsc
        seen = jsc.getPersistentRDDs().size()
        for _ in range(20):  # until the cleaner is idle, at most ~4 s
            time.sleep(0.2)
            now = jsc.getPersistentRDDs().size()
            if now == seen:
                break
            seen = now
    yield
