"""profile_columns tests (operators/profiling.py [EXT]): metric
correctness on constructed data, native-type ordering, and the
one-scan plan gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from name_match_ml_spark.operators.profiling import profile_columns
from name_match_ml_spark.sources.parquet import table


def test_profile_metrics_exact(spark):
    rows = [
        (2, "a"),
        (10, "b"),
        (None, "b"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, ["num", "s"])
    out = {
        r.col_name: r
        for r in profile_columns(df, ["num", "s"], distinct="exact").collect()
    }
    n = out["num"]
    assert (n.n_rows, n.n_null, n.n_distinct) == (4, 1, 3)
    # native-type ordering: numeric min is 2, not lexical "10"
    assert (n.min_value, n.max_value) == ("2", "10")
    s = out["s"]
    assert (s.n_rows, s.n_null, s.n_distinct) == (4, 1, 2)
    assert (s.min_value, s.max_value) == ("a", "b")


def test_profile_approx_mode_counts(spark):
    df = spark.createDataFrame([(i % 5,) for i in range(100)], ["v"])
    (r,) = profile_columns(df, ["v"], distinct="approx").collect()
    # HLL on 5 values is exact in practice; n_null/min/max unaffected
    assert (r.n_rows, r.n_null, r.n_distinct) == (100, 0, 5)


def test_profile_single_scan_plan(spark):
    """All columns profile in ONE pass over the table — a per-column
    loop would scan 100 TB once per column."""
    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    df = profile_columns(
        li, ["l_orderkey", "l_returnflag", "l_linestatus"], distinct="approx"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    # approx mode must not plan an Expand (that's the exact-distinct cost)
    assert "Expand" not in plan, plan


def test_profile_rejects_bad_args(spark):
    df = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError):
        profile_columns(df, [], distinct="exact")
    with pytest.raises(ValueError):
        profile_columns(df, ["v"], distinct="sketchy")


# --------------------------------------------------------------- winsorize


def test_winsorize_clips_to_discrete_percentiles(spark):
    from name_match_ml_spark.operators.profiling import winsorize

    # group g: values 1..100 -> p5 bound = value at rank 5 = 5,
    # p95 bound = value at rank 95 = 95
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 101)], ["id", "grp", "v"]
    )
    out = {r.id: r.v_w for r in winsorize(df, "v", group_cols=["grp"]).collect()}
    assert out[1] == 5.0 and out[4] == 5.0  # clipped up
    assert out[5] == 5.0 and out[50] == 50.0  # pass-through inside bounds
    assert out[96] == 95.0 and out[100] == 95.0  # clipped down


def test_winsorize_small_group_degenerates_to_minmax(spark):
    from name_match_ml_spark.operators.profiling import winsorize

    df = spark.createDataFrame([(1, "g", 10.0), (2, "g", 20.0)], ["id", "grp", "v"])
    out = {r.id: r.v_w for r in winsorize(df, "v", group_cols=["grp"]).collect()}
    # n=2: lo rank = max(1, ceil(0.1)) = 1 -> 10; hi rank = ceil(1.9) = 2 -> 20
    assert out == {1: 10.0, 2: 20.0}


def test_winsorize_rejects_bad_percentiles(spark):
    from name_match_ml_spark.operators.profiling import winsorize

    df = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    with pytest.raises(ValueError):
        winsorize(df, "v", lower_pct=60, upper_pct=40)


def test_profile_floor_applies_to_broadcast_join_input(spark, tmp_path):
    """A scan joined to a broadcast side has no shuffle, so the
    under-parallel scan still gets the parallelism floor; an aggregated
    input (a shuffle inserted only when the plan is prepared) is not
    probed and keeps its own partitioning."""
    path = str(tmp_path / "facts")
    spark.createDataFrame([(i, i % 7) for i in range(300)], ["v", "k"]).coalesce(1).write.parquet(path)
    dims = spark.createDataFrame([(k, f"d{k}") for k in range(7)], ["k", "name"])
    joined = spark.read.parquet(path).join(F.broadcast(dims), "k")
    assert "BroadcastExchange" in joined._jdf.queryExecution().executedPlan().toString()
    assert joined.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism

    out = profile_columns(joined, ["v", "name"], distinct="exact")
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()
    got = {r.col_name: (r.n_rows, r.n_null, r.n_distinct) for r in out.collect()}
    assert got == {"v": (300, 0, 300), "name": (300, 0, 7)}

    grouped = spark.read.parquet(path).groupBy("k").count()
    out = profile_columns(grouped, ["k"], distinct="exact")
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().executedPlan().toString()
    assert [(r.n_rows, r.n_distinct) for r in out.collect()] == [(7, 7)]
