"""Pluggable mid-plan materializer (plans/materialize): localCheckpoint by
default, durable staged parquet when the session configures a staging dir —
the docstring claim "substitute a staged parquet on a cluster" is code."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scrapy_spark.plans.materialize import _CONF_KEY, materialize, staging_dir


@pytest.fixture
def clear_conf(spark):
    yield
    spark.conf.unset(_CONF_KEY)
    os.environ.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)


def _df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    )


def test_default_is_local_checkpoint(spark, clear_conf):
    assert staging_dir(spark) is None
    df = _df(spark).filter(F.col("k") > 1)
    cut = materialize(df, name="t")
    assert sorted(r["k"] for r in cut.collect()) == [2, 3, 4]
    # lineage is truncated: the plan is a scan of checkpointed blocks
    plan = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan


def _staged_files(spark, root):
    app = os.path.join(root, spark.sparkContext.applicationId)
    return os.listdir(app) if os.path.isdir(app) else []


def test_conf_dir_stages_parquet(spark, tmp_path, clear_conf):
    spark.conf.set(_CONF_KEY, str(tmp_path))
    df = _df(spark).filter(F.col("k") > 1)
    cut = materialize(df, name="staged")
    assert sorted(r["k"] for r in cut.collect()) == [2, 3, 4]
    staged = [p for p in _staged_files(spark, tmp_path) if p.startswith("staged-")]
    assert len(staged) == 1  # the cut IS a durable parquet table
    # and the cut frame reads from it (restart-safe, not executor blocks)
    plan = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" in plan.lower()
    # lifecycle: once results are materialized, the app's cuts reclaim as
    # a unit (staging would otherwise grow unboundedly across a sweep)
    from scrapy_spark.plans.materialize import clear_staging

    assert clear_staging(spark) >= 1
    assert _staged_files(spark, tmp_path) == []


def test_env_var_fallback(spark, tmp_path, clear_conf):
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = str(tmp_path)
    cut = materialize(_df(spark), name="envcut")
    assert cut.count() == 4
    assert any(p.startswith("envcut-") for p in _staged_files(spark, tmp_path))


def test_operator_results_identical_across_mechanisms(spark, tmp_path, clear_conf):
    """pagerank_exact through BOTH mechanisms: same ranks bit-for-bit."""
    from scrapy_spark.operators.linkgraph import pagerank_exact

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["a", "a", "b", "c", "d", "d"],
                "dst": ["b", "c", "c", "a", "a", "b"],
            }
        )
    )
    local = sorted(map(tuple, pagerank_exact(edges, iterations=3).collect()))
    spark.conf.set(_CONF_KEY, str(tmp_path))
    staged = sorted(map(tuple, pagerank_exact(edges, iterations=3).collect()))
    assert local == staged
    assert any(
        p.startswith("pr") or p.startswith("edges")
        for p in _staged_files(spark, tmp_path)
    )
