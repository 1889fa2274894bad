"""gapfill_locf: grid completeness, zero-fill, carry-forward, and
plan shape (operators/timeseries.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fugue_warehouses_spark.operators.timeseries import bucket_index, gapfill_locf

_TS = dt.datetime


def _frame(spark):
    rows = [
        # key 1: buckets 0, 3 observed -> grid 0..3, gaps at 1, 2
        (1, _TS(2024, 1, 1, 0, 1), 10.0),
        (1, _TS(2024, 1, 1, 0, 4), None),
        (1, _TS(2024, 1, 1, 0, 16), 7.0),
        (1, _TS(2024, 1, 1, 0, 17), 3.0),
        # key 2: single bucket -> one-row grid
        (2, _TS(2024, 1, 1, 2, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp_ntz, v double")
    return df


def test_grid_zero_fill_and_locf(spark):
    out = gapfill_locf(
        _frame(spark), "k", "ts", "v", bucket_us=300_000_000
    ).orderBy("k", "bucket")
    rows = [tuple(r) for r in out.collect()]
    base = 1704067200000000 // 300_000_000  # 2024-01-01T00:00 epoch-µs / 5min
    assert rows == [
        # bucket 0 holds two events (sum skips the NULL), then two gap
        # rows carrying 10.0 forward, then the observed bucket 3
        (1, base + 0, 2, 10.0),
        (1, base + 1, 0, 10.0),
        (1, base + 2, 0, 10.0),
        (1, base + 3, 2, 10.0),
        (2, base + 24, 1, 5.0),
    ]


def test_all_null_bucket_carries_nothing(spark):
    df = spark.createDataFrame(
        [(1, _TS(2024, 1, 1, 0, 0), None), (1, _TS(2024, 1, 1, 0, 11), 4.0)],
        "k int, ts timestamp_ntz, v double",
    )
    out = gapfill_locf(df, "k", "ts", "v", bucket_us=300_000_000).orderBy("bucket")
    got = [(r["n_events"], r["locf_sum"]) for r in out.collect()]
    # leading all-NULL bucket -> locf stays NULL until first real value
    assert got == [(1, None), (0, None), (1, 4.0)]


def test_bucket_index_is_tz_free(spark):
    df = spark.createDataFrame(
        [(_TS(2024, 1, 1, 0, 5),)], "ts timestamp_ntz"
    ).select(bucket_index("ts", 300_000_000).alias("b"))
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        got = df.collect()[0]["b"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    assert got == 1704067200000000 // 300_000_000 + 1


def test_rollup_cascade_matches_direct_aggregation(spark):
    from fugue_warehouses_spark.operators.timeseries import rollup_cascade

    df = _frame(spark)
    out = rollup_cascade(df, "ts", "v", (300_000_000, 900_000_000), ("5m", "15m"))
    rows = {(r["grain"], r["bucket_start_us"]): (r["n_events"], r["sum_value"])
            for r in out.collect()}
    # direct 15m aggregation over the raw frame must equal the cascade
    direct = (
        df.groupBy(bucket_index("ts", 900_000_000).alias("b"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    )
    for r in direct:
        assert rows[("15m", r["b"] * 900_000_000)] == (r["n"], r["s"])


def test_rollup_cascade_validates_multiples(spark):
    import pytest
    from fugue_warehouses_spark.operators.timeseries import rollup_cascade

    with pytest.raises(ValueError, match="multiple"):
        rollup_cascade(_frame(spark), "ts", "v", (300, 700), ("a", "b"))


def test_rollup_cascade_shuffles_raw_data_once(spark):
    """Coarser grains must re-aggregate the fine grain's partials, not
    re-shuffle the raw data: the fine aggregate's exchange is REUSED by
    both coarser branches in the executed plan."""
    from fugue_warehouses_spark.operators.timeseries import rollup_cascade

    df = spark.range(100).select(
        F.expr("timestampadd(MICROSECOND, id * 1000000, "
               "TIMESTAMP_NTZ '2024-01-01')").alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    out = rollup_cascade(df, "ts", "v")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2


def test_grid_joins_do_not_shuffle_raw_rows(spark):
    """The explode feeding the grid must sit above the aggregated
    extents, not the raw scan: gapfill's scale contract."""
    out = gapfill_locf(_frame(spark), "k", "ts", "v", bucket_us=300_000_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    gen_pos = plan.find("Generate explode")
    agg_below = plan.find("Aggregate", gen_pos)
    assert gen_pos >= 0 and agg_below > gen_pos


def test_gapfill_empty_frame(spark):
    df = spark.createDataFrame([], "k int, ts timestamp_ntz, v double")
    assert gapfill_locf(df, "k", "ts", "v", 300_000_000).count() == 0


def test_refresh_rollup_incremental_equals_full_recompute(spark, tmp_path):
    from fugue_warehouses_spark.operators.timeseries import refresh_rollup

    store = str(tmp_path / "rollup_store")
    batch1 = _frame(spark)
    batch2 = spark.createDataFrame(
        [
            (9, _TS(2024, 1, 1, 0, 2), 100.0),   # overlaps batch1's bucket 0
            (9, _TS(2024, 1, 1, 5, 0), 1.0),     # brand-new bucket
        ],
        "k int, ts timestamp_ntz, v double",
    )
    refresh_rollup(spark, store, batch1.select("ts", "v"), "ts", "v", 300_000_000)
    out = refresh_rollup(
        spark, store, batch2.select("ts", "v"), "ts", "v", 300_000_000
    )
    full = (
        batch1.select("ts", "v").unionByName(batch2.select("ts", "v"))
        .groupBy(bucket_index("ts", 300_000_000).alias("bucket"))
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_value"))
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want
    # refresh again with an empty slice: store unchanged
    empty = spark.createDataFrame([], "ts timestamp_ntz, v double")
    again = refresh_rollup(spark, store, empty, "ts", "v", 300_000_000)
    assert sorted(tuple(r) for r in again.collect()) == want


def test_bucket_index_floor_semantics_pre_1970(spark):
    """Negative epochs must bucket by FLOOR (matching DuckDB // and the
    streaming numpy path), not truncate-toward-zero."""
    df = spark.createDataFrame(
        [(_TS(1969, 12, 31, 23, 59),), (_TS(1970, 1, 1, 0, 1),)],
        "ts timestamp_ntz",
    )
    got = [
        r[0]
        for r in df.select(bucket_index("ts", 300_000_000)).orderBy("ts").collect()
    ]
    # -60s → floor(-60e6 / 300e6) = -1 (truncation would give 0)
    assert got == [-1, 0]


def test_refresh_rollup_ignores_incomplete_version(spark, tmp_path):
    """A crashed write (version dir without _SUCCESS) must be invisible
    to both readers and the next refresh."""
    from fugue_warehouses_spark.operators.timeseries import refresh_rollup

    store = str(tmp_path / "store")
    batch = _frame(spark).select("ts", "v")
    refresh_rollup(spark, store, batch, "ts", "v", 300_000_000)
    # simulate a crash: a newer version dir with data but no _SUCCESS
    import pathlib
    import shutil

    v1 = pathlib.Path(store) / "v_00001"
    bogus = pathlib.Path(store) / "v_00002"
    shutil.copytree(v1, bogus)
    (bogus / "_SUCCESS").unlink()
    empty = spark.createDataFrame([], "ts timestamp_ntz, v double")
    out = refresh_rollup(spark, store, empty, "ts", "v", 300_000_000)
    want = (
        batch.groupBy(bucket_index("ts", 300_000_000).alias("bucket"))
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_value"))
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_ewma_last_recurrence_and_validation(spark):
    import pytest as _pytest

    from fugue_warehouses_spark.operators.timeseries import ewma_last

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-01 00:01:00", 20.0),
        (1, "2024-01-01 00:02:00", 30.0),
        (2, "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["f"]).to_timestamp("ts"))
    out = {r["user_id"]: r for r in ewma_last(df, "user_id", "ts", "value", 0.5).collect()}
    # seed 10 -> 0.5*20+0.5*10=15 -> 0.5*30+0.5*15=22.5
    assert out[1]["ewma_value"] == 22.5 and out[1]["n_events"] == 3
    assert out[2]["ewma_value"] == 5.0 and out[2]["n_events"] == 1
    with _pytest.raises(ValueError, match="alpha"):
        ewma_last(df, "user_id", "ts", "value", alpha=0.0)
