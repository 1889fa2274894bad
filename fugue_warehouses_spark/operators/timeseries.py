"""Time-series regularization: bucketing, gap-filling, and
last-observation-carried-forward (LOCF) interpolation.

Hypertable-style engines expose this as ``time_bucket_gapfill`` +
``locf()``; here it is a composition of built-in DataFrame ops, so the
whole plan stays inside Catalyst/whole-stage codegen:

1. bucket — integer epoch-µs division (tz-free on TIMESTAMP_NTZ, no
   session-zone dependence), one hash aggregate with map-side combine;
2. grid — per-key ``sequence(min_bucket, max_bucket)`` + ``explode``,
   generated from the *aggregated* per-key extents (tiny input, the
   explode fan-out happens executor-side, never on the driver);
3. fill — a left join grid←buckets on (key, bucket). Both sides are
   hash-partitioned on the same keys; AQE coalesces the small side;
4. LOCF — ``last(col, ignorenulls=True)`` over an unbounded-preceding
   row window per key, a single sort-based window pass.

Scale: the grid size is (span / bucket) rows per key — independent of
the event count, so at 100 TB the shuffled volume is the *aggregated*
buckets, not raw events. Dense keys × fine buckets is the one hazard;
callers bound it by key predicate or bucket width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fugue_warehouses_spark.plans import versioned as V

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _floordiv(expr: str, divisor: int) -> str:
    """Integer FLOOR division as a SQL fragment.

    Spark's ``div`` truncates toward zero while the DuckDB oracle twins
    use ``//`` (floor) and streaming/stateful.py buckets with numpy
    floor division — pre-1970 (negative-epoch) timestamps would land in
    different buckets across engines. ``(x - pmod(x, d)) div d`` is
    exact floor division in pure integer arithmetic (pmod is always
    non-negative, so the numerator is the largest multiple of d ≤ x).
    """
    return f"(({expr}) - pmod({expr}, {divisor})) div {divisor}"


def bucket_index(time_col: str, bucket_us: int):
    """Integer bucket index: floor(epoch_µs / bucket_µs).

    Pure epoch arithmetic on TIMESTAMP_NTZ — no session-timezone
    dependence (the correctness harness runs a vanilla session), with
    true floor semantics so negative epochs bucket identically to the
    DuckDB ``//`` twins and the streaming numpy path.
    """
    us = f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {time_col})"
    return F.expr(_floordiv(us, bucket_us))


def gapfill_locf(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    bucket_us: int,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Regular per-key time grid with zero-filled counts and
    LOCF-interpolated sums.

    Output: (key, bucket, n_events, locf_sum) — one row per key per
    bucket between that key's first and last observation, inclusive.
    ``n_events`` is 0 on gap rows; ``locf_sum`` carries the most recent
    observed bucket-sum forward (never NULL: the first bucket per key
    is by construction observed).
    """
    b = (
        df.select(
            F.col(key_col), bucket_index(time_col, bucket_us).alias(bucket_name),
            F.col(value_col),
        )
        .groupBy(key_col, bucket_name)
        .agg(F.count("*").alias("__n"), F.sum(value_col).alias("__sv"))
    )
    ext = b.groupBy(key_col).agg(
        F.min(bucket_name).alias("__lo"), F.max(bucket_name).alias("__hi")
    )
    grid = ext.select(
        key_col, F.explode(F.sequence("__lo", "__hi")).alias(bucket_name)
    )
    j = grid.join(b, [key_col, bucket_name], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(bucket_name)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        F.col(key_col),
        F.col(bucket_name),
        F.coalesce("__n", F.lit(0)).alias("n_events"),
        F.last("__sv", ignorenulls=True).over(w).alias("locf_sum"),
    )


def refresh_rollup(
    spark,
    store_path: str,
    new_events: DataFrame,
    time_col: str,
    value_col: str,
    bucket_us: int,
) -> DataFrame:
    """Incremental materialized-rollup maintenance: aggregate ONLY the
    new slice to (bucket, n_events, sum_value) partials, additively
    combine with the stored rollup, and atomically replace the store.

    This is incremental view maintenance for the continuous-aggregate
    family: because count/sum partials compose, the refreshed store
    equals a full recompute over (old ∪ new) — test-pinned — while the
    refresh cost is O(new slice + store size), never the historical
    raw data. The store stays tiny (one row per bucket), so the
    combine step re-aggregates rollup rows, not events.

    Durability: the store is a versioned store (``plans/versioned.py``,
    ``store/v_NNNNN/``). A refresh reads the latest COMPLETE version,
    publishes the merged rollup as a new version, and only then drops
    older versions (``vacuum(keep_last=1)``). Readers always resolve to
    a complete snapshot, a crashed refresh leaves only an unpublished
    stage, and two concurrent refreshes publish distinct versions
    instead of writing into one directory. Returns the store's latest
    rollup after the refresh.
    """
    merged = (
        new_events.select(
            bucket_index(time_col, bucket_us).alias("bucket"),
            F.col(value_col),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias("sum_value"))
    )
    try:
        old = V.read_version(spark, store_path)
    except FileNotFoundError:
        pass  # first refresh: the slice is the whole rollup
    else:
        merged = (
            old.unionByName(merged)
            .groupBy("bucket")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
    V.write_version(merged, store_path, spark)
    V.vacuum(spark, store_path, keep_last=1)
    return V.read_version(spark, store_path)


def rollup_cascade(
    df: DataFrame,
    time_col: str,
    value_col: str,
    buckets_us: tuple[int, ...] = (900_000_000, 3_600_000_000, 86_400_000_000),
    grain_names: tuple[str, ...] = ("15m", "1h", "1d"),
) -> DataFrame:
    """Multi-granularity continuous-aggregate cascade (hypertable
    rollup): the finest grain aggregates the raw stream ONCE; every
    coarser grain re-aggregates the previous grain's partials, never
    the raw data.

    At 100 TB this is the difference between one full-data shuffle plus
    tiny rollups versus N full-data shuffles — the exact materialized-
    rollup contract of hypertable/continuous-aggregate engines, here as
    a lazy plan Catalyst can stage-pipeline. Each coarser bucket width
    must be a multiple of the previous one (validated) so partial sums
    compose exactly.

    Output: (grain, bucket_start_us, n_events, sum_value) across all
    grains unioned, bucket_start_us being the bucket's epoch-µs start.
    """
    if len(buckets_us) != len(grain_names) or not buckets_us:
        raise ValueError("buckets_us and grain_names must align and be non-empty")
    for prev, nxt in zip(buckets_us, buckets_us[1:]):
        if nxt % prev != 0:
            raise ValueError(f"bucket {nxt} is not a multiple of {prev}")
    fine = (
        df.select(
            bucket_index(time_col, buckets_us[0]).alias("__b"), F.col(value_col)
        )
        .groupBy("__b")
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias("sum_value"))
    )
    levels = [fine]
    for us_prev, us_next in zip(buckets_us, buckets_us[1:]):
        prev = levels[-1]
        levels.append(
            prev.groupBy(
                F.expr(_floordiv(f"__b * {us_prev}", us_next)).alias("__b")
            ).agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
    out = None
    for name, us, lvl in zip(grain_names, buckets_us, levels):
        part = lvl.select(
            F.lit(name).alias("grain"),
            (F.col("__b") * F.lit(us)).alias("bucket_start_us"),
            "n_events",
            "sum_value",
        )
        out = part if out is None else out.unionByName(part)
    return out


def ewma_last(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.25,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exponentially weighted moving average per key — the final
    smoothed value after folding the key's series in time order:
    ``ewma_t = alpha*x_t + (1-alpha)*ewma_{t-1}``, seeded with the
    first observation.

    Neither Spark nor DuckDB has this built in (the recurrence isn't a
    frame-based window aggregate), but a per-group ordered fold
    expresses it exactly in both (`F.aggregate` here, `list_reduce`
    there) — and because BOTH engines run the identical sequence of
    IEEE ops in the identical order, the result is bit-deterministic
    cross-engine, no rounding hedge required (the registry twin rounds
    anyway, out of registry-wide convention).

    Scale shape: one shuffle on the key; each group materializes its
    value sequence as an array (fine for bounded per-key series — the
    asof/session regime). For unbounded streams use the stateful
    streaming path (streaming/stateful.py), which carries the same
    recurrence as running state.

    ``order_cols`` breaks timestamp ties deterministically.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    seq = F.array_sort(
        F.collect_list(F.struct(ts_col, *order_cols, value_col))
    )
    vals = F.transform(seq, lambda s: s[value_col])
    a = F.lit(float(alpha))
    one_minus = F.lit(float(1.0 - alpha))
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: a * x + one_minus * acc,
    )
    return df.groupBy(F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        fold.alias("__ewma"),
    ).select(
        key_col, "n_events", F.round("__ewma", 6).alias("ewma_value")
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Time-weighted average per key (hypertable ``time_weight('locf')``
    semantics): each observation's value is weighted by the duration it
    was "current" — the gap to the next observation — so irregularly
    sampled series average correctly (a value held for an hour counts
    3600x one held for a second, where a plain avg() counts them
    equally).

    The last observation per key has no successor and contributes no
    weight (standard LOCF-integral convention over the observed span).
    Keys with a single observation have an empty integral -> NULL twa.

    Output: ``<key>, n_events, twa`` (twa rounded to 6).
    One shuffle: the lead() window and the groupBy share the same
    key partitioning (the exchange is reused).
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    us = f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {ts_col})"
    epoch = F.expr(us).cast("double")
    dur_s = (F.lead(epoch).over(w) - epoch) / F.lit(1_000_000.0)
    stepped = df.withColumn("__dur_s", dur_s)
    return stepped.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col(value_col) * F.col("__dur_s")) / F.sum("__dur_s"), 6
        ).alias("twa"),
    )
