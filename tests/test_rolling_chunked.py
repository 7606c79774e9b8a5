"""Focused tests for the r13 chunked rolling order-statistics engine
(``Dataset.rolling_quantiles`` — guide §2.6 chunk+overlap): exactness of
the overlap carry against the pre-r13 JVM window formula, including the
multi-chunk cascade (chunks smaller than the window), fused-vs-single
equality, and the plan's parallelism decoupling."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_dataset_spark import Dataset


def _legacy_quantile(col, q, w):
    """The pre-r13 JVM expression (collect_list + array_sort +
    quantile_cont interpolation), guarded for the all-null frame its
    original form crashed on (element_at index 0)."""
    arr = F.array_sort(F.collect_list(col).over(w))
    n = F.size(arr)
    pos = (n - 1).cast("double") * F.lit(float(q))
    lo = F.floor(pos).cast("int")
    frac = pos - F.floor(pos)
    a = F.element_at(arr, lo + 1).cast("double")
    b = F.element_at(arr, F.least(lo + 2, n)).cast("double")
    return F.when(n > 0, a * (F.lit(1.0) - frac) + b * frac)


def _frame(n=600, seed=11):
    rng = np.random.RandomState(seed)
    return pd.DataFrame(
        {
            "g": np.sort(rng.choice(["a", "b", "c"], n)),
            "x": np.arange(n, dtype=float),
            "v": np.where(rng.rand(n) < 0.1, np.nan, rng.randn(n).round(3)),
        }
    )


def _assert_matches_legacy(spark, sdf, window_size, q):
    ds = Dataset(sdf, index="x", id_vars=["g"])
    new = (
        ds.rolling_quantiles("v", {"out": q}, window_size)
        .df.select("g", "x", "out")
        .toPandas()
        .sort_values(["g", "x"])
        .reset_index(drop=True)
    )
    w = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(-(window_size - 1), 0)
    )
    old = (
        sdf.withColumn("out", _legacy_quantile("v", q, w))
        .select("g", "x", "out")
        .toPandas()
        .sort_values(["g", "x"])
        .reset_index(drop=True)
    )
    eq = (new["out"].isna() & old["out"].isna()) | (new["out"] == old["out"])
    assert eq.all(), new[~eq].head()


@pytest.mark.parametrize("window_size,q", [(7, 0.5), (3, 0.9), (1, 0.25)])
def test_chunked_matches_legacy_window(spark, window_size, q):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        sdf = spark.createDataFrame(_frame())
        _assert_matches_legacy(spark, sdf, window_size, q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_chunk_cascade_smaller_than_window(spark):
    """Chunks of ~2 rows with window 7: a frame's predecessors span
    SEVERAL chunks, exercising the per-chunk tail composition."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        sdf = spark.createDataFrame(_frame(n=400, seed=3))
        _assert_matches_legacy(spark, sdf, 7, 0.5)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_fused_equals_single_calls(spark):
    sdf = spark.createDataFrame(_frame(n=300, seed=5))
    ds = Dataset(sdf, index="x", id_vars=["g"])
    fused = (
        ds.rolling_quantiles("v", {"m": 0.5, "p": 0.25}, 7)
        .df.select("g", "x", "m", "p")
        .toPandas()
        .sort_values(["g", "x"])
        .reset_index(drop=True)
    )
    med = (
        ds.rolling_median("v", 7)
        .df.select("g", "x", "v_rolling_median")
        .toPandas()
        .sort_values(["g", "x"])
        .reset_index(drop=True)
    )
    qtl = (
        ds.rolling_quantile("v", 0.25, 7)
        .df.select("g", "x", "v_rolling_q")
        .toPandas()
        .sort_values(["g", "x"])
        .reset_index(drop=True)
    )
    assert (fused["m"].fillna(-1) == med["v_rolling_median"].fillna(-1)).all()
    assert (fused["p"].fillna(-1) == qtl["v_rolling_q"].fillna(-1)).all()


def test_no_id_vars_global_trace(spark):
    sdf = spark.createDataFrame(_frame(n=100, seed=9)).select("x", "v")
    ds = Dataset(sdf, index="x")
    out = (
        ds.rolling_quantiles("v", {"out": 0.5}, 7)
        .df.select("x", "out")
        .toPandas()
        .sort_values("x")
        .reset_index(drop=True)
    )
    w = Window.orderBy("x").rowsBetween(-6, 0)
    old = (
        sdf.withColumn("out", _legacy_quantile("v", 0.5, w))
        .select("x", "out")
        .toPandas()
        .sort_values("x")
        .reset_index(drop=True)
    )
    eq = (out["out"].isna() & old["out"].isna()) | (out["out"] == old["out"])
    assert eq.all()


def test_plan_decoupled_from_trace_cardinality(spark):
    """The executed shape is a MapInPandas over the pinned
    range-partitioned RDD — no Window/Sort keyed on id_vars, so the
    stage's partition count no longer equals the trace count."""
    sdf = spark.createDataFrame(_frame(n=200, seed=1))
    ds = Dataset(sdf, index="x", id_vars=["g"])
    out = ds.rolling_quantiles("v", {"out": 0.5}, 7).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Window" not in plan
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == n_parts  # not len({a, b, c})


def test_invalid_args(spark):
    sdf = spark.createDataFrame(_frame(n=10))
    ds = Dataset(sdf, index="x", id_vars=["g"])
    with pytest.raises(ValueError, match="window_size"):
        ds.rolling_quantiles("v", {"out": 0.5}, 0)
    with pytest.raises(ValueError, match="not in"):
        ds.rolling_quantiles("v", {"out": 1.5}, 3)


def test_output_name_collision_raises(spark):
    sdf = spark.createDataFrame(_frame(n=10))
    ds = Dataset(sdf, index="x", id_vars=["g"])
    with pytest.raises(ValueError, match="already exist"):
        ds.rolling_quantiles("v", {"v": 0.5}, 3)
    with pytest.raises(ValueError, match="already exist"):
        ds.rolling_quantiles("v", {"out": 0.5, "g": 0.25}, 3)
