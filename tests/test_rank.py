"""Distributed exact global rank (operators/rank.py) — same answer as
the partition-less window, without the SinglePartition plan."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from fugue_warehouses_spark.operators.rank import (
    add_global_rank,
    ntile_from_rank,
)


def test_global_rank_matches_window_row_number(spark):
    df = (
        spark.range(5000)
        .selectExpr("id", "CAST(hash(id) % 997 AS DOUBLE) AS v")
        .repartition(16)
    )
    ranked, n = add_global_rank(df, ["v", "id"], rank_col="r")
    assert n == 5000
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    expect = df.withColumn("r", F.row_number().over(w).cast("long"))
    got = {(r["id"]): r["r"] for r in ranked.collect()}
    want = {(r["id"]): r["r"] for r in expect.collect()}
    assert got == want
    # ranks are a permutation of 1..n
    assert sorted(got.values()) == list(range(1, 5001))


@pytest.mark.parametrize("num_partitions", [1, 3, 8])
def test_global_rank_descending_matches_window_row_number(spark, num_partitions):
    df = (
        spark.range(600)
        .selectExpr("id", "CAST(hash(id) % 37 AS DOUBLE) AS v")
        .repartition(5)
    )
    ranked, n = add_global_rank(
        df, [F.desc("v"), "id"], rank_col="r", num_partitions=num_partitions
    )
    assert n == 600
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    expect = df.withColumn("r", F.row_number().over(w).cast("long"))
    got = {r["id"]: r["r"] for r in ranked.collect()}
    want = {r["id"]: r["r"] for r in expect.collect()}
    assert got == want


@pytest.mark.parametrize("n,k", [(0, 10), (7, 10), (10, 10), (15000, 10), (101, 4)])
def test_ntile_from_rank_matches_sql_ntile(spark, n, k):
    if n == 0:
        return  # empty relation: nothing to bucket (covered implicitly)
    df = spark.range(1, n + 1).withColumnRenamed("id", "r")
    w = Window.orderBy("r")
    expect = df.withColumn("b", F.ntile(k).over(w))
    got = df.withColumn("b", ntile_from_rank(F.col("r"), n, k))
    rows_e = {r["r"]: r["b"] for r in expect.collect()}
    rows_g = {r["r"]: r["b"] for r in got.collect()}
    assert rows_g == rows_e


def test_global_rank_no_single_partition_exchange(spark):
    df = spark.range(2000).selectExpr("id", "id % 13 AS v")
    ranked, _ = add_global_rank(df, ["v", "id"], rank_col="r")
    plan = ranked._sc._jvm.PythonSQLUtils.explainString(
        ranked._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_global_rank_empty_input(spark):
    df = spark.range(0).selectExpr("id", "id AS v")
    ranked, n = add_global_rank(df, ["v", "id"], rank_col="r")
    assert n == 0
    assert ranked.count() == 0


def test_global_cumsum_matches_single_partition_window(spark):
    from pyspark.sql.window import Window

    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        ((F.col("id") * 37) % 100 + 1).alias("v"),
    )
    # heavily tied sort key (grp: 7 distinct values) + unique tiebreak
    out = add_global_cumsum(
        df, [F.desc("grp"), F.asc("k")], "v", cumsum_col="cum"
    )
    got = {r["k"]: r["cum"] for r in out.collect()}
    w = (
        Window.orderBy(F.desc("grp"), F.asc("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want
    # layout-independent: same cumsums from a different partitioning
    again = {
        r["k"]: r["cum"]
        for r in add_global_cumsum(
            df.repartition(13), [F.desc("grp"), F.asc("k")], "v",
            cumsum_col="cum",
        ).collect()
    }
    assert again == want


def test_global_cumsum_no_single_partition_window(spark):
    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    plan = (
        add_global_cumsum(df, [F.asc("k")], "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the window must be partitioned (by the range-partition id), not
    # a partition-less global sort window
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "__pid" in line, line


def test_rank_and_cumsum_partition_count_invariance(spark):
    """Round 11: _range_npart derives the range-partition count from
    the input's size estimate. Ranks and integer cumsums are provably
    partition-count independent (total order + exact sums) — pin it
    across explicit counts AND the adaptive default."""
    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    df = spark.range(3000).selectExpr(
        "id", "CAST(hash(id) % 31 AS DOUBLE) AS v",
        "(id * 37) % 100 + 1 AS w",
    )
    base, n = add_global_rank(df, ["v", "id"], rank_col="r", num_partitions=1)
    want = {r["id"]: r["r"] for r in base.collect()}
    for np_ in (5, 32, None):  # None = adaptive (_range_npart)
        got, n2 = add_global_rank(
            df, ["v", "id"], rank_col="r", num_partitions=np_
        )
        assert n2 == n
        assert {r["id"]: r["r"] for r in got.collect()} == want
    cbase = {
        r["id"]: r["cum"]
        for r in add_global_cumsum(
            df, [F.asc("v"), F.asc("id")], "w", cumsum_col="cum",
            num_partitions=1,
        ).collect()
    }
    for np_ in (5, 32, None):
        cgot = {
            r["id"]: r["cum"]
            for r in add_global_cumsum(
                df, [F.asc("v"), F.asc("id")], "w", cumsum_col="cum",
                num_partitions=np_,
            ).collect()
        }
        assert cgot == cbase


def test_global_cumsum_empty_input(spark):
    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    df = spark.range(0).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    out = add_global_cumsum(df, [F.asc("k")], "v", cumsum_col="cum")
    assert out.count() == 0
    assert "cum" in out.columns


def test_global_cumsum_double_values(spark):
    from pyspark.sql.window import Window

    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 0.25 + 0.5).alias("v")
    )
    out = add_global_cumsum(df, [F.asc("k")], "v", cumsum_col="cum")
    got = {r["k"]: r["cum"] for r in out.collect()}
    w = Window.orderBy(F.asc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9 * max(1.0, abs(want[k]))
