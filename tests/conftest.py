import pathlib
import sys

import pytest

TESTS = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(TESTS.parent))
sys.path.insert(0, str(TESTS))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder
        .master("local[4]")
        .appName("morph-xr2rml-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


import os as _os

import pytest as _pytest

# tests that read the reference checkout (mappings, golden outputs) skip
# cleanly when it isn't present, so the repo is standalone-runnable
requires_reference = _pytest.mark.skipif(
    not _os.path.exists("/root/reference"),
    reason="reference checkout not available")


def tier_pool(spark, mapping, tier, tables=None, catalog=None,
              fused=True, dedup=True):
    """The whole mapping's triple pool, with every TM pinned to ``tier``
    (``"native"``, ``"json"`` or ``"doc"``) so a routing change cannot
    quietly swap the tier under test.  ``fused`` → the materialization
    plan (``materialize_auto``); else the answering plan with no
    constraints: one union branch per predicate, every TM emitting.
    ``dedup`` → set semantics, unless the plan is provably
    duplicate-free."""
    from morph_xr2rml_spark.api import _routed_plan, materialize_auto
    from morph_xr2rml_spark.engine import dedup_triples
    pool, tiers, distinct = _routed_plan(
        spark, mapping, catalog, tables, constraints=None if fused else {})
    assert set(tiers.values()) == {tier}, tiers
    if fused:
        return materialize_auto(spark, mapping, catalog, tables, dedup=dedup)
    return dedup_triples(pool) if dedup and not distinct() else pool
