"""Headline query registry: Spark implementation + DuckDB oracle twins.

Every operator family from SURVEY.md §2 (joins, set ops, null handling,
sampling, take, aggregation, window/rollup, casts, UDF transform) and
every north-star extension (dedup, similarity, text analysis) appears
here as a named query over the driver's star schema, with an ANSI-SQL
twin the DuckDB oracle can run. The driver compares row-count + schema
+ order-insensitive value hash at sf0.01 (BASELINE.md).

Cross-engine determinism rules used throughout:
- every computed column aliased identically on both sides;
- money sums rounded to 2, averages to 4, ratios/similarities to 6;
- double->int conversions via floor() (DuckDB CAST rounds, Spark
  truncates);
- timestamps compared as formatted strings (ns/us parquet quirks);
- top-k always has a total order (score desc, id asc), ranking on the
  *rounded* score so float summation order can't flip ranks;
- integer sums cast to BIGINT in DuckDB (its SUM(BIGINT) is HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fugue_warehouses_spark.engine import SparkWarehouseEngine
from fugue_warehouses_spark.extensions import dedup as DD
from fugue_warehouses_spark.extensions import multimodal as MM
from fugue_warehouses_spark.extensions import similarity as SS
from fugue_warehouses_spark.extensions import chunking as CH
from fugue_warehouses_spark.extensions import sketches as SK
from fugue_warehouses_spark.extensions import clustering as CL
from fugue_warehouses_spark.extensions import quality as QL
from fugue_warehouses_spark.functions import text as TX
from fugue_warehouses_spark.operators import layout as LY
from fugue_warehouses_spark.operators import timeseries as TSO
from fugue_warehouses_spark.operators.take import take
from fugue_warehouses_spark.plans.localframe import local_frame as _lf
from fugue_warehouses_spark.sources import load_star_table, register_star_views
from fugue_warehouses_spark.transform import transform

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_star_table(spark, sf_dir, name)


# =====================================================================
# TPC-H-style relational queries (joins, aggregation, pushdown)
# =====================================================================


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join shape: customer (small, filtered) broadcasts into
    orders, then into lineitem; top-10 via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(
            F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@_q(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(dims, (c.c_nationkey == n.n_nationkey) & (s.s_nationkey == n.n_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_q(
    "q6_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q10_returned_items",
    """
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           n.n_name AS n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# =====================================================================
# Operator-contract queries (window/take, rollup, set ops, semi/anti,
# null handling, casts, UDF transform)
# =====================================================================


@_q(
    "top_customer_per_nation",
    """
    WITH spend AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             round(sum(o.o_totalprice), 2) AS total_spent
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    SELECT n_name, c_custkey, c_name, total_spent
    FROM spend
    QUALIFY row_number() OVER (
      PARTITION BY n_name ORDER BY total_spent DESC, c_custkey ASC) = 1
    """,
)
def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the take-with-presort operator (B10)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    )
    return take(
        spend,
        1,
        presort="total_spent desc, c_custkey asc",
        partition_by=["n_name"],
    ).select("n_name", "c_custkey", "c_name", "total_spent")


@_q(
    "rollup_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@_q(
    "cube_lineitem_flags",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@_q(
    "semi_customers_with_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return eng.join(c, o, "semi", on=["c_custkey"]).native.select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_q(
    "anti_customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return eng.join(c, o, "anti", on=["c_custkey"]).native.select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_q(
    "union_high_value_keys",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 8000
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def union_high_value_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    a = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000).select(
        "c_custkey"
    )
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return eng.union(a, b, distinct=True).native


@_q(
    "intersect_segment_buyers",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def intersect_segment_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return eng.intersect(a, b).native


@_q(
    "except_non_machinery",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def except_non_machinery(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    a = _t(spark, sf_dir, "customer").select("c_custkey")
    b = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select("c_custkey")
    )
    return eng.subtract(a, b).native


@_q(
    "fillna_low_values",
    """
    SELECT event_id,
           coalesce(CASE WHEN value < 10 THEN NULL ELSE value END, -1.0) AS value_clean
    FROM events
    """,
)
def fillna_low_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropna/fillna contract (B8/B9) driven through the engine API."""
    eng = SparkWarehouseEngine(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias(
            "value_clean"
        ),
    )
    return eng.fillna(ev, {"value_clean": -1.0}).native


@_q(
    "dropna_events",
    """
    SELECT * FROM (
      SELECT event_id, CASE WHEN value < 10 THEN NULL ELSE value END AS v
      FROM events
    ) WHERE v IS NOT NULL
    """,
)
def dropna_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias("v"),
    )
    return eng.dropna(ev, subset=["v"]).native


@_q(
    "alter_columns_casts",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity) AS BIGINT) AS qty_int,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
           CAST(l_extendedprice AS VARCHAR) AS price_str,
           CAST(CAST(l_extendedprice AS DECIMAL(12, 2)) AS VARCHAR) AS price_dec,
           hex(encode(l_returnflag)) AS flag_hex,
           CAST(l_shipdate + INTERVAL 2 DAY AS VARCHAR) AS ship_plus_2d
    FROM lineitem
    WHERE l_orderkey <= 100
    """,
)
def alter_columns_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cast-matrix operator (A16) as a graded query, covering the
    SURVEY §1.3 breadth: numeric/date/string casts plus exact DECIMAL
    (cast typed, then rendered to STRING so the driver's row-hash
    canonicalization is engine-proof; the typed cast matrix is covered
    by tests/test_frame.py),
    binary (string -> bytes -> hex round-trip, since raw blobs don't
    compare across drivers), and DayTimeInterval arithmetic (date +
    INTERVAL rendered back to a canonical string)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("long").alias("qty_int"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        F.col("l_extendedprice").cast("string").alias("price_str"),
        F.col("l_extendedprice")
        .cast("decimal(12,2)")
        .cast("string")
        .alias("price_dec"),
        F.hex(F.encode("l_returnflag", "UTF-8")).alias("flag_hex"),
        F.expr("CAST(l_shipdate + INTERVAL '2' DAY AS STRING)").alias(
            "ship_plus_2d"
        ),
    )


@_q(
    "take_top2_per_order",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_orderkey <= 500
    QUALIFY row_number() OVER (
      PARTITION BY l_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC) <= 2
    """,
)
def take_top2_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return take(
        li,
        2,
        presort="l_extendedprice desc, l_linenumber asc",
        partition_by=["l_orderkey"],
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@_q(
    "orders_zscore",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN stddev_pop(o_totalprice) OVER w = 0 THEN 0.0
                ELSE round((o_totalprice - avg(o_totalprice) OVER w)
                           / stddev_pop(o_totalprice) OVER w, 4)
           END AS z
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey)
    """,
)
def orders_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF-transform contract (B12) as a graded query: per-customer
    z-score via applyInPandas, verified against SQL window functions."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["o_totalprice"]
        std = x.std(ddof=0)
        z = (x - x.mean()) / std if std > 0 else x * 0.0
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_custkey": pdf["o_custkey"],
                "z": z.round(4),
            }
        )

    return transform(
        o,
        zscore,
        schema="o_orderkey:long,o_custkey:long,z:double",
        partition_by=["o_custkey"],
    ).native


@_q(
    "lineitem_grouping_sets",
    """
    SELECT coalesce(l_returnflag, '<all>') AS rf,
           coalesce(l_linestatus, '<all>') AS ls,
           CAST(grouping(l_returnflag) + 2 * grouping(l_linestatus) AS BIGINT)
             AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (§2.C) via SQL-on-frames — one Expand node, single
    shuffle for all three grouping combinations."""
    eng = SparkWarehouseEngine(spark)
    eng.register_temp(_t(spark, sf_dir, "lineitem"), "li_gs")
    return eng.sql(
        """
        SELECT coalesce(l_returnflag, '<all>') AS rf,
               coalesce(l_linestatus, '<all>') AS ls,
               CAST(grouping(l_returnflag) + 2 * grouping(l_linestatus) AS BIGINT)
                 AS gid,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    ).native


@_q(
    "lineitem_weighted_discount",
    """
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 6)
             AS wavg_disc,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_weighted_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom pandas UDAF (transform.pandas_agg): quantity-weighted
    mean discount as a GROUPED_AGG pandas UDF participating in a real
    HashAggregate beside a built-in count — the B12-adjacent UDAF
    surface. (The statistic is deliberately SQL-expressible so the
    UDAF itself is oracle-checked; genuinely custom reductions ride
    the same path.)"""
    import pandas as pd

    from fugue_warehouses_spark.transform import pandas_agg

    def wmean(d: pd.Series, q: pd.Series) -> float:
        return float((d * q).sum() / q.sum())

    li = _t(spark, sf_dir, "lineitem")
    out = pandas_agg(
        li,
        ["l_returnflag"],
        {"__w": (wmean, "double", ["l_discount", "l_quantity"])},
        builtin={"n": F.count(F.lit(1))},
    ).native
    return out.select(
        "l_returnflag", F.round("__w", 6).alias("wavg_disc"), "n"
    )


@_q(
    "orders_interval_arithmetic",
    """
    SELECT strftime(date_trunc('month', o_orderdate + INTERVAL 90 DAY),
                    '%Y-%m-%d') AS due_month,
           count(*) AS n
    FROM orders GROUP BY due_month
    """,
)
def orders_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic (§2.C; the reference emits TIMESTAMP_ADD in
    generated SQL, fugue_bigquery/client.py:191-193)."""
    o = _t(spark, sf_dir, "orders")
    due = F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    return o.groupBy(
        F.date_format(F.date_trunc("month", due), "yyyy-MM-dd").alias("due_month")
    ).agg(F.count(F.lit(1)).alias("n"))


@_q(
    "orders_priority_pivot",
    """
    SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice END), 2) AS urgent,
           round(sum(CASE WHEN o_orderpriority = '2-HIGH'
                          THEN o_totalprice END), 2) AS high,
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                          THEN o_totalprice END), 2) AS medium,
           round(sum(CASE WHEN o_orderpriority NOT IN
                          ('1-URGENT','2-HIGH','3-MEDIUM')
                          THEN o_totalprice END), 2) AS other
    FROM orders GROUP BY o_year
    """,
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (§2.C): priorities to columns per year via groupBy.pivot —
    map-side partial aggregation applies per pivot bucket."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("other")
    )
    return (
        o.withColumn("__p", bucket)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .pivot("__p", ["urgent", "high", "medium", "other"])
        .sum("o_totalprice")
        .select(
            "o_year",
            *[F.round(c, 2).alias(c) for c in ("urgent", "high", "medium", "other")],
        )
    )


@_q(
    "orders_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma4
    FROM orders WHERE o_custkey < 200
    """,
)
def orders_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (§2.C): 4-row trailing moving average."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("ma4"),
    )


# =====================================================================
# Events: time-series / sessionization / windowed stats
# =====================================================================


@_q(
    "events_hourly_stats",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@_q(
    "events_sessionization",
    """
    WITH d AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), f AS (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP))
                          - epoch_us(CAST(prev_ts AS TIMESTAMP)) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM d
    )
    SELECT user_id,
           CAST(sum(new_sess) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM f GROUP BY user_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) — the batch twin of the
    streaming session_window operator in streaming/windows.py."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff on the NTZ columns directly: the previous
    # cast-to-LTZ + unix_micros detour shifted both operands by the
    # session tz — equal shifts cancel, EXCEPT across a DST boundary
    # under a non-UTC session, where a gap could silently gain/lose an
    # hour. Pure NTZ arithmetic has no such edge.
    flagged = ev.withColumn("__prev", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("__prev").isNull()
            | (F.expr("timestampdiff(MICROSECOND, __prev, ts)") > 1800000000),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_q(
    "events_first_per_user_type",
    """
    SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) = 1
    """,
)
def events_first_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return take(
        ev, 1, presort="ts asc, event_id asc", partition_by=["user_id", "event_type"]
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


# =====================================================================
# Documents: text analysis + dedup
# =====================================================================

_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"


@_q(
    "doc_token_stats",
    f"""
    WITH t AS (
      SELECT lang, len({_TOKS}) AS ntok, length(text) AS nchar
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS total_tokens,
           round(avg(ntok), 4) AS avg_tokens,
           round(avg(nchar), 4) AS avg_chars
    FROM t GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            TX.token_count("text").alias("ntok"),
            TX.char_count("text").alias("nchar"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.round(F.avg("ntok"), 4).alias("avg_tokens"),
            F.round(F.avg("nchar"), 4).alias("avg_chars"),
        )
    )


@_q(
    "doc_corpus_datacard",
    f"""
    WITH base AS (
      SELECT source, lang, doc_id,
             len({_TOKS}) AS ntok,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    dupfps AS (SELECT fp FROM base GROUP BY fp HAVING count(*) > 1),
    agg AS (
      SELECT source,
             count(*)::BIGINT AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS total_tokens,
             count(DISTINCT lang)::BIGINT AS n_langs,
             count(DISTINCT fp)::BIGINT AS distinct_fps,
             round(quantile_cont(ntok, 0.5), 4) AS p50_tokens,
             round(quantile_cont(ntok, 0.9), 4) AS p90_tokens,
             round(quantile_cont(ntok, 0.99), 4) AS p99_tokens
      FROM base GROUP BY source),
    dups AS (
      SELECT source, count(*)::BIGINT AS n_exact_dup_docs
      FROM base WHERE fp IN (SELECT fp FROM dupfps) GROUP BY source),
    top AS (
      SELECT source, lang AS top_lang, lang_tokens AS top_lang_tokens
      FROM (
        SELECT source, lang,
               CAST(sum(ntok) AS BIGINT) AS lang_tokens,
               row_number() OVER (PARTITION BY source
                 ORDER BY count(*) DESC, lang ASC) AS rn
        FROM base GROUP BY source, lang) WHERE rn = 1)
    SELECT a.source, a.n_docs, a.total_tokens, a.n_langs, t.top_lang,
           t.top_lang_tokens,
           round(t.top_lang_tokens / greatest(a.total_tokens, 1), 4)
             AS top_lang_token_share,
           coalesce(d.n_exact_dup_docs, 0)::BIGINT AS n_exact_dup_docs,
           a.distinct_fps, a.p50_tokens, a.p90_tokens, a.p99_tokens
    FROM agg a JOIN top t USING (source) LEFT JOIN dups d USING (source)
    """,
)
def doc_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DATACARD — the one-table summary a training-
    data release ships (docs, token mass, language spread + dominant
    language, exact-duplicate exposure): n_docs, total_tokens,
    n_langs, top_lang (ties broken lang-ascending so the card is
    deterministic), top_lang_tokens + top_lang_token_share (the
    dominant language's token MASS — a card that only counts docs
    hides a source whose minority-language docs are 10x longer),
    n_exact_dup_docs (docs whose normalized fingerprint is shared
    CORPUS-WIDE — cross-source duplication counts against both
    sources), distinct_fps, and the token-length percentile sketch
    p50/p90/p99_tokens (the length-distribution line every
    public corpus datasheet carries; exact interpolated percentiles,
    matching DuckDB's quantile_cont).

    100 TB shape: one scan feeds three aggregates — per-source sums +
    exact percentiles (the percentile agg buffers per-source token
    counts; at release scale swap to approx_percentile in the same
    slot), one 16-byte fingerprint-keyed shuffle for the corpus-wide
    dup set + per-source distinct, and a #sources x #langs count+sum
    for the top-language pick (a window over that tiny frame, never
    over documents). No text moves after the scan: tokens are counted
    and fingerprints hashed in place."""
    from fugue_warehouses_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        TX.token_count("text").alias("ntok"),
        fingerprint("text").alias("fp"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("fp").alias("distinct_fps"),
        F.round(F.percentile("ntok", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("ntok", F.lit(0.9)), 4).alias("p90_tokens"),
        F.round(F.percentile("ntok", F.lit(0.99)), 4).alias("p99_tokens"),
    )
    dupfps = base.groupBy("fp").count().filter(F.col("count") > 1).select("fp")
    dups = (
        base.join(dupfps, "fp", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_exact_dup_docs"))
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("count"),
        F.sum("ntok").cast("long").alias("lang_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("count"), F.asc("lang")
    )
    top = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("lang_tokens").alias("top_lang_tokens"),
        )
    )
    return (
        agg.join(top, "source")
        .join(dups, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_langs",
            "top_lang",
            "top_lang_tokens",
            F.round(
                F.col("top_lang_tokens")
                / F.greatest(F.col("total_tokens"), F.lit(1)),
                4,
            ).alias("top_lang_token_share"),
            F.coalesce("n_exact_dup_docs", F.lit(0))
            .cast("long")
            .alias("n_exact_dup_docs"),
            "distinct_fps",
            "p50_tokens",
            "p90_tokens",
            "p99_tokens",
        )
    )


@_q(
    "doc_datacard_diff",
    f"""
    WITH base AS (
      SELECT doc_id, source, len({_TOKS}) AS ntok,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UINTEGER % 10
               AS m
      FROM documents),
    old_agg AS (
      SELECT source, count(*)::BIGINT AS n_old,
             CAST(sum(ntok) AS BIGINT) AS old_tokens
      FROM base WHERE m >= 2 GROUP BY source),
    old_fps AS (SELECT DISTINCT fp FROM base WHERE m >= 2),
    new_batch AS (
      SELECT source, ntok, fp FROM base WHERE m = 0      -- novel pages
      UNION ALL
      SELECT source, ntok, fp FROM base WHERE m = 2      -- re-fetched
      UNION ALL
      SELECT source, ntok, fp FROM base WHERE m = 1      -- double-fetched
      UNION ALL
      SELECT source, ntok, fp FROM base WHERE m = 1),
    new_flag AS (
      SELECT b.source, b.ntok, b.fp,
             (o.fp IS NOT NULL) AS seen
      FROM new_batch b LEFT JOIN old_fps o ON b.fp = o.fp),
    new_agg AS (
      SELECT source, count(*)::BIGINT AS n_new,
             CAST(sum(ntok) AS BIGINT) AS new_tokens,
             sum(CASE WHEN seen THEN 1 ELSE 0 END)::BIGINT AS n_dup_vs_old,
             CAST(sum(CASE WHEN seen THEN ntok ELSE 0 END) AS BIGINT)
               AS dup_tokens_vs_old,
             (count(*) - count(DISTINCT fp))::BIGINT AS n_dup_within_new,
             count(DISTINCT CASE WHEN NOT seen THEN fp END)::BIGINT
               AS n_novel_fp
      FROM new_flag GROUP BY source)
    SELECT coalesce(o.source, n.source) AS source,
           coalesce(o.n_old, 0)::BIGINT AS n_old,
           coalesce(n.n_new, 0)::BIGINT AS n_new,
           coalesce(o.old_tokens, 0)::BIGINT AS old_tokens,
           coalesce(n.new_tokens, 0)::BIGINT AS new_tokens,
           coalesce(n.n_dup_vs_old, 0)::BIGINT AS n_dup_vs_old,
           coalesce(n.dup_tokens_vs_old, 0)::BIGINT AS dup_tokens_vs_old,
           coalesce(n.n_dup_within_new, 0)::BIGINT AS n_dup_within_new,
           coalesce(n.n_novel_fp, 0)::BIGINT AS n_novel_fp,
           round(coalesce(n.n_novel_fp, 0)
                 / greatest(coalesce(n.n_new, 0), 1), 6) AS novel_ratio
    FROM old_agg o FULL OUTER JOIN new_agg n USING (source)
    ORDER BY source
    """,
)
def doc_datacard_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl DATACARD DIFF: the operational
    sibling of doc_corpus_datacard — before ingesting a new crawl
    snapshot, report per source what it actually adds: doc/token
    mass vs the previous corpus, exact-dup exposure against the OLD
    corpus (docs + wasted token mass), within-batch duplication, and
    the novel-fingerprint count/ratio that decides whether the crawl
    is worth the ingest.

    The fixture corpus has no snapshots, so the facet fabricates a
    crawl with KNOWN composition from a doc_id-hash split (m =
    md5-derived 0..9): old corpus = m>=2; new crawl = novel pages
    (m=0) + re-fetched unchanged pages (m=2 -> guaranteed
    dup-vs-old exposure) + double-fetched URLs (m=1 twice ->
    guaranteed within-batch dups) — every dup leg of the report
    carries signal at every SF. In production old/new are two real
    snapshot tables and the UNION disappears.

    100 TB shape: one scan computes (source, ntok, fp, m) in place;
    the only data-sized exchange is the 16-byte fp hash-shuffle for
    the old-fps distinct + the left join that flags seen/unseen —
    the same single-shuffle skeleton as the incremental exact-dedup
    family, with per-source aggregates riding it. Output is
    #sources rows."""
    from fugue_warehouses_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    m = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    ).alias("m")
    base = docs.select(
        "source",
        TX.token_count("text").alias("ntok"),
        fingerprint("text").alias("fp"),
        m,
    )
    old = base.filter(F.col("m") >= 2)
    old_agg = old.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_old"),
        F.sum("ntok").cast("long").alias("old_tokens"),
    )
    old_fps = old.select("fp").distinct().withColumn("seen", F.lit(True))
    m1 = base.filter(F.col("m") == 1)
    new_batch = (
        base.filter(F.col("m") == 0)
        .unionAll(base.filter(F.col("m") == 2))
        .unionAll(m1)
        .unionAll(m1)
        .select("source", "ntok", "fp")
    )
    new_flag = (
        new_batch
        .join(old_fps, "fp", "left")
        .select("source", "ntok", "fp", F.coalesce("seen", F.lit(False)).alias("seen"))
    )
    new_agg = new_flag.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("ntok").cast("long").alias("new_tokens"),
        F.sum(F.when(F.col("seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_vs_old"),
        F.sum(F.when(F.col("seen"), F.col("ntok")).otherwise(0))
        .cast("long")
        .alias("dup_tokens_vs_old"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("long")
        .alias("n_dup_within_new"),
        F.countDistinct(
            F.when(~F.col("seen"), F.col("fp"))
        ).alias("n_novel_fp"),
    )
    return (
        old_agg.join(new_agg, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("old_tokens", F.lit(0)).cast("long").alias("old_tokens"),
            F.coalesce("new_tokens", F.lit(0)).cast("long").alias("new_tokens"),
            F.coalesce("n_dup_vs_old", F.lit(0)).cast("long").alias("n_dup_vs_old"),
            F.coalesce("dup_tokens_vs_old", F.lit(0))
            .cast("long")
            .alias("dup_tokens_vs_old"),
            F.coalesce("n_dup_within_new", F.lit(0))
            .cast("long")
            .alias("n_dup_within_new"),
            F.coalesce("n_novel_fp", F.lit(0)).cast("long").alias("n_novel_fp"),
            F.round(
                F.coalesce("n_novel_fp", F.lit(0))
                / F.greatest(F.coalesce("n_new", F.lit(0)), F.lit(1)),
                6,
            ).alias("novel_ratio"),
        )
        .orderBy("source")
    )


from fugue_warehouses_spark.extensions.bpe import bpe_train_sql as _bpe_train_sql  # noqa: E402


@_q("doc_bpe_train", _bpe_train_sql(8))
def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: learn the first
    8 merges from the corpus (extensions/bpe.py — wordcount once,
    then per step one vocab-sized pair-count shuffle + scalar argmax
    + the double-space literal-replace merge). Deterministic: pair
    argmax ties break lexicographically. The oracle replays training
    as 8 MATERIALIZED chained CTEs with the identical replace
    algebra; both are pinned against a plain-Python textbook BPE in
    tests/test_bpe.py. At 100 TB the corpus is touched once and k is
    the cost driver — production trains ~30k merges on a sampled
    wordcount (the `sample_words` lever)."""
    from fugue_warehouses_spark.extensions.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    out, _merges = bpe_train(docs, "text", n_merges=8)
    return out.orderBy("step")


from fugue_warehouses_spark.extensions.bpe import bpe_encode_sql as _bpe_encode_sql  # noqa: E402


@_q("doc_bpe_encode", _bpe_encode_sql(8))
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-ENCODE: the learned 8-merge table applied
    corpus-wide (bpe.bpe_encode — a shuffle-free codegen'd replace
    chain riding the scan), reporting per-source REAL BPE token mass
    and tokens-per-word — the ground truth the doc_bpe_token_budget
    heuristic estimates. Training runs INLINE every call (there is
    no per-process merge-table memo: one keyed on the input data is
    result-caching, not an optimization), which is affordable honestly now that bpe_train
    takes the bounded driver-local merge loop at small vocabs; the
    oracle retrains inline with the identical replace algebra."""
    from fugue_warehouses_spark.extensions.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    _, merges = bpe_train(docs, "text", n_merges=8)
    enc = bpe_encode(docs, "text", merges)
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TX.tokens("text"))).cast("long").alias("total_ws_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum(F.size(TX.tokens("text"))), 6
            ).alias("bpe_per_word"),
        )
        .orderBy("source")
    )


@_q(
    "doc_bpe_token_budget",
    f"""
    SELECT source,
           CAST(sum(list_sum(list_transform({_TOKS},
                 t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT)
             AS est_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def doc_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token budgeting: BPE-ish subword estimate per source
    (ceil(len/4) per whitespace word, ~4 chars/token heuristic)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.bpe_token_estimate("text")).cast("long").alias("est_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# per-doc quality composite over columns (text, toks, ntok) — THE
# single SQL source of truth for TX.quality_score's oracle twin.
# Three facets consume it (quality-by-source, token-budget selection,
# the training pipeline); one copy, because a missed edit in a hand
# copy would silently diverge that facet's oracle from the Spark twin.
_Q_EXPR = r"""((CASE WHEN ntok >= 20 THEN 1.0 ELSE ntok / 20.0 END)
              + (CASE WHEN coalesce(list_sum(list_transform(toks,
                     t -> length(t))), 0) / greatest(ntok, 1)
                     BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN len(list_filter(toks, t ->
                     t IN ('the','a','an','and','of','to','in','is')))::DOUBLE
                     / greatest(ntok, 1) >= 0.05 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
             ) / 4.0"""


_QUALITY_SQL = f"""
    WITH t AS (
      SELECT source, text,
             {_TOKS} AS toks,
             len({_TOKS}) AS ntok
      FROM documents
    )
    SELECT source,
           round(avg({_Q_EXPR}), 6) AS avg_quality
    FROM t GROUP BY source
    """


_TOKEN_BUDGET_SQL = f"""
    WITH t AS (
      SELECT doc_id, source, text,
             {_TOKS} AS toks,
             len({_TOKS}) AS ntok
      FROM documents
    ), s AS (
      SELECT doc_id, source, ntok,
             {_Q_EXPR} AS q
      FROM t
    ), c AS (
      SELECT source, ntok,
             sum(ntok) OVER (ORDER BY q DESC, doc_id ASC) AS cum
      FROM s
    ), tot AS (SELECT sum(ntok) AS tt FROM s)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS sel_tokens
    FROM c, tot
    WHERE 2 * cum <= tt
    GROUP BY source
    """


@_q("doc_quality_token_budget", _TOKEN_BUDGET_SQL)
def doc_quality_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: take documents by DESCENDING quality
    score until half the corpus's tokens are spent — the "fill the
    training budget with the best data first" step of a pretraining
    pipeline. The running token total comes from
    operators/rank.add_global_cumsum (range shuffle + per-partition
    offsets + pid-partitioned window), NEVER a partition-less
    ``SUM() OVER (ORDER BY ...)`` — at 100 TB that global window is a
    one-task sort. The budget comparison is integer-exact on both
    engines (``2*cum <= total`` in int64 — no 0.5 double); the
    quality sort key is the oracle-mirrored composite score with
    doc_id as total-order tiebreak, so the selected SET is
    engine-exact (checked per source via doc and token sums)."""
    from fugue_warehouses_spark.operators.rank import add_global_cumsum
    from fugue_warehouses_spark.plans.scanout import fan_out_scan

    docs = _t(spark, sf_dir, "documents")
    # lazy localCheckpoint ("fewer passes"): the
    # narrow (id, source, q, ntok) projection is consumed THREE times
    # — the range-partitioner's sampling pass, the cumsum shuffle, and
    # the total-tokens aggregate — and q/ntok are the expensive
    # regex-heavy text expressions; materialize the 4-column frame
    # once (rows are ~40 B regardless of document length). Fan out the
    # scan first: the single-row-group fixture
    # ran the whole regex projection as ONE task — profiled 30.5 s of
    # summed task time serialized on one core.
    per = fan_out_scan(docs, "doc_id").select(
        "doc_id",
        "source",
        TX.quality_score("text").alias("q"),
        TX.token_count("text").alias("ntok"),
    ).localCheckpoint(eager=False)
    cum = add_global_cumsum(
        per, [F.desc("q"), F.asc("doc_id")], "ntok", cumsum_col="cum"
    )
    tot = per.agg(F.sum("ntok").alias("tt"))
    sel = cum.crossJoin(F.broadcast(tot)).filter(
        2 * F.col("cum") <= F.col("tt")
    )
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("sel_tokens"),
    )


_CURRICULUM_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks, len({_TOKS}) AS ntok
      FROM documents
    ), s AS (
      SELECT doc_id, {_Q_EXPR} AS q FROM t
    ), p AS (
      SELECT doc_id, q,
             row_number() OVER (ORDER BY q DESC, doc_id ASC) AS qpos,
             count(*) OVER () AS n
      FROM s
    ), b AS (
      SELECT doc_id, q,
             CAST(1 + ((qpos - 1) * 4) // n AS BIGINT) AS bucket
      FROM p
    )
    SELECT row_number() OVER (
             ORDER BY bucket, md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS schedule_pos,
           bucket, doc_id, round(q, 6) AS quality
    FROM b
    """


@_q("doc_curriculum_schedule", _CURRICULUM_SQL)
def doc_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training schedule: the corpus ordered into 4
    quality-descending difficulty buckets (bucket 1 = cleanest data,
    trained first), deterministically shuffled WITHIN each bucket by a
    doc-id hash — the "order the epoch by curriculum stage, shuffle
    inside the stage" schedule curriculum-learning pipelines emit.
    Returns (schedule_pos, bucket, doc_id, quality); a trainer streams
    the corpus in schedule_pos order.

    Scale shape: BOTH global orders (the quality rank that defines
    buckets, and the final schedule position) are
    operators/rank.add_global_rank range-shuffle ranks — never a
    partition-less window (NTILE/ROW_NUMBER over a global ORDER BY is
    a one-task sort at 100 TB), and never a cumsum-of-ones
    either: the rank decodes from the monotonic id, so each pass is
    ONE exchange, not exchange + pid-window exchange. Buckets are rank quartiles computed
    as 1 + (qpos-1)*4 div N — exact integer arithmetic both engines,
    so the DuckDB twin replays the schedule byte-for-byte (the
    within-bucket shuffle key is md5 of the decimal doc id, identical
    in both). The per-doc quality doubles are engine-identical (the
    token-budget facet's sort already pins this)."""
    from fugue_warehouses_spark.operators.rank import add_global_rank
    from fugue_warehouses_spark.plans.scanout import fan_out_scan

    docs = _t(spark, sf_dir, "documents")
    # lazy localCheckpoint: the q projection is consumed by the range
    # sampler and the rank shuffle — without it the regex-heavy
    # quality_score re-evaluates each time. Fanned out: a
    # single-row-group scan serialized the quality regex on one core.
    per = fan_out_scan(docs, "doc_id").select(
        "doc_id", TX.quality_score("text").alias("q"),
    ).localCheckpoint(eager=False)
    # both global positions are RANKS (cumsums of ones):
    # add_global_rank decodes the rank from the monotonic id with no
    # pid-window (one exchange per pass instead of two),
    # and its offsets collect yields n, so the separate count() job
    # the quartile arithmetic used to pay is gone too
    ranked, n = add_global_rank(
        per, [F.desc("q"), F.asc("doc_id")], rank_col="qpos"
    )
    bucketed = ranked.select(
        "doc_id",
        "q",
        # integer `div`, not floor(double /): a float quotient can
        # round up across an integer boundary at bucket edges, and the
        # DuckDB twin's `//` is exact integer division
        (
            F.lit(1) + F.expr(f"(qpos - 1) * 4 div {n}")
        ).cast("long").alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    scheduled, _ = add_global_rank(
        bucketed,
        [F.asc("bucket"), F.asc("__h"), F.asc("doc_id")],
        rank_col="schedule_pos",
    )
    return scheduled.select(
        F.col("schedule_pos").cast("long"),
        "bucket",
        "doc_id",
        F.round("q", 6).alias("quality"),
    )


@_q("doc_quality_by_source", _QUALITY_SQL)
def doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", TX.quality_score("text").alias("q"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"))
    )


def _langid_sql() -> str:
    counts = []
    for lang, markers in TX.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        counts.append(
            f"len(list_filter({_TOKS}, t -> lower(t) IN ({lst}))) AS c_{lang}"
        )
    cases = " ".join(
        f"WHEN c_{lang} = best THEN '{lang}'" for lang in TX.LANG_MARKERS
    )
    return f"""
    WITH c AS (
      SELECT lang AS lang_label, {', '.join(counts)}
      FROM documents
    ), b AS (
      SELECT lang_label, greatest(c_en, c_de, c_fr, c_es, c_zh) AS best,
             c_en, c_de, c_fr, c_es, c_zh
      FROM c
    )
    SELECT lang_label,
           CASE WHEN best = 0 THEN 'und' {cases} END AS lang_pred,
           count(*) AS n
    FROM b GROUP BY 1, 2
    """


@_q("doc_lang_confusion", _langid_sql())
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_label"), TX.lang_id("text").alias("lang_pred")
        )
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "doc_exact_dedup",
    """
    SELECT doc_id, source
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id ASC) = 1
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.fingerprint_dedup(docs, "text", "doc_id").select("doc_id", "source")


_NGRAM_SQL = """
    WITH g AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 4, 1)),
               i -> substring(text, i, 5))) AS grams
      FROM documents WHERE source = 'src0'
    )
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.grams, b.grams))::DOUBLE
                   / (len(a.grams) + len(b.grams)
                      - len(list_intersect(a.grams, b.grams))), 6) AS jaccard_sim
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE jaccard_sim >= 0.2
    """


@_q("doc_ngram_jaccard_pairs", _NGRAM_SQL)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard within one source block — the bounded
    exact-verification baseline; full-corpus near-dup runs through the
    MinHash-LSH pipeline instead (doc_minhash_near_dups)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    pairs = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="source", n=5, threshold=0.2
    )
    return pairs.select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))


def _jaccard_pairs_cte(on: str) -> str:
    """DuckDB CTEs ending in ``p(id_a, id_b, jac)``: the document pairs
    ``a``/``b`` that satisfy ``on`` with exact 5-gram Jaccard >= 0.6.

    An inverted index, one row per (doc, distinct gram) self-joined on
    the gram, counts each pair's intersection, so only pairs sharing a
    gram are formed (the rest have Jaccard 0). A closure oracle over
    the 500 fixture documents takes ~0.6 s this way against 60-130 s
    for the all-pairs ``list_intersect`` form, with identical rows
    (DuckDB 1.0, 2 threads). ``p`` is MATERIALIZED because the closure
    oracles read it more than once."""
    return f"""grams AS MATERIALIZED (
      SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(length(text) - 4, 1)),
          i -> substring(text, i, 5))) AS g
        FROM documents)),
    p AS MATERIALIZED (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(count(*)::DOUBLE
                     / (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jac
        FROM grams a JOIN grams b ON a.gram = b.gram AND {on}
        GROUP BY a.doc_id, b.doc_id)
      WHERE jac >= 0.6)"""


# Exact all-pairs 5-gram Jaccard — the *verified output* of the
# MinHash-LSH pipeline is SQL-expressible even though the banding is
# not: LSH only prunes candidates, and verification recomputes exact
# Jaccard, so (as long as banding recall is 1.0 at the fixture's
# similarity profile — all true pairs sit at J>=0.9 where the S-curve
# capture probability is ~1, asserted in tests/test_dedup.py) the
# output equals the exact all-pairs result. documents.text is pure
# ASCII in the fixtures, so DuckDB char 5-grams == the numpy path's
# byte 5-grams.
_MINHASH_EXACT_SQL = f"""
    WITH {_jaccard_pairs_cte("a.doc_id < b.doc_id")}
    SELECT id_a, id_b, jac AS jaccard_sim FROM p
    """


@_q("doc_minhash_near_dups", _MINHASH_EXACT_SQL)
def doc_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6).select(
        "id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


def _simhash_sql() -> str:
    """DuckDB twin of the full SimHash pipeline — including the
    splitmix64-style mixing, which needs wrapping u64 arithmetic:
    multiplication mod 2^64 is done in 32-bit limbs over HUGEINT
    (each partial product < 2^96 fits int128), xorshift via UBIGINT
    xor + integer division. Bits pack into one UBIGINT so pair
    Hamming distance is bit_count(xor(a, b))."""
    m = "18446744073709551616::HUGEINT"  # 2^64
    c1, c2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
    poly = (
        "CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),"
        " list_transform(generate_series(1, length(t)),"
        " i -> CAST(ascii(t[i]) AS HUGEINT))),"
        f" (acc, c) -> (acc * 257 + c) % {m}) AS HUGEINT)"
    )

    def mul64(h: str, c: int) -> str:
        return (
            f"((({h}) % 4294967296) * {c}"
            f" + ((((({h}) // 4294967296) * {c}) % 4294967296)"
            f" * 4294967296)) % {m}"
        )

    def xorshift(h: str, s: int) -> str:
        return (
            f"(CAST(xor(CAST(({h}) AS UBIGINT),"
            f" CAST(({h}) // {2**s} AS UBIGINT)) AS HUGEINT))"
        )

    mix = xorshift(mul64(xorshift(mul64(xorshift(poly, 30), c1), 27), c2), 31)
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN [CAST(0 AS UBIGINT)]
                  ELSE list_transform(toks, t -> CAST(({mix}) AS UBIGINT))
             END AS hashes
      FROM t),
    s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 63), b ->
               CASE WHEN list_sum(list_transform(hashes, x ->
                      CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                    THEN (CAST(1 AS UBIGINT) << b)
                    ELSE CAST(0 AS UBIGINT) END)) AS UBIGINT) AS packed
      FROM h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.packed, b.packed)) AS INTEGER) AS hamming_dist
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.packed, b.packed)) <= 3
    """


@_q("doc_simhash_near_dups", _simhash_sql())
def doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT result despite the banding: with 4 bands over 64 bits, any
    pair with Hamming distance <= 3 must agree on >= 1 whole band
    (pigeonhole), so candidate generation has recall 1 by construction
    and the output is exactly {pairs : hamming(simhash) <= 3} —
    reproduced bit-for-bit by the DuckDB oracle (_simhash_sql).
    Completeness vs brute-force Hamming is also pytest-asserted
    (test_dedup.py)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.near_dup_pairs_simhash(docs, "doc_id", "text", max_hamming=3, bands=4)


# The exact near-dup pair graph and its recursive transitive closure
# reach(a, b), shared by the three near-dedup oracles below. Fine for
# an oracle because fixture components are tiny near-cliques; the
# Spark side uses shuffle-only label propagation for scale.
_NEAR_DUP_CLOSURE = f"""
    WITH RECURSIVE {_jaccard_pairs_cte("a.doc_id < b.doc_id")},
    sym AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION SELECT id_b, id_a FROM p),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)"""


# Component = min reachable id; keep one representative (the min id)
# per component plus all unpaired docs.
_NEAR_DEDUP_RESOLVED_SQL = _NEAR_DUP_CLOSURE + """,
    comp AS (SELECT a AS id, min(b) AS m FROM reach GROUP BY a)
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE m < id)
    """


@_q("doc_near_dedup_resolved", _NEAR_DEDUP_RESOLVED_SQL)
def doc_near_dedup_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pair graph -> connected
    components (shuffle-only label propagation) -> keep the min-id
    representative per component plus all unpaired docs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    return DD.dedup_near(docs, pairs, "doc_id").select("doc_id", "source")


# Same transitive-closure shape, but the survivor is chosen by POLICY:
# the longest document (ties -> min id) — and the output carries each
# survivor's component size. comp = min reachable id including self,
# so grouping by it enumerates full component membership.
_NEAR_DEDUP_CANONICAL_SQL = _NEAR_DUP_CLOSURE + """,
    comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
    ranked AS (
      SELECT c.id, c.comp,
             count(*) OVER (PARTITION BY c.comp) AS sz,
             row_number() OVER (
               PARTITION BY c.comp
               ORDER BY d.n_chars DESC, c.id ASC) AS rn
      FROM comp c JOIN documents d ON c.id = d.doc_id)
    SELECT d.doc_id, d.source,
           coalesce(r.sz, 1)::BIGINT AS cluster_size
    FROM documents d
    LEFT JOIN comp m ON d.doc_id = m.id
    LEFT JOIN (SELECT id, sz FROM ranked WHERE rn = 1) r
      ON d.doc_id = r.id
    WHERE m.id IS NULL OR r.id IS NOT NULL
    """


# Same recursive-closure shape again, aggregated to the duplication
# PROFILE: how many near-dup clusters of each size, how many docs they
# bind, and the token mass a dedup pass would drop (all non-survivor
# docs' tokens, min-id survivor convention). comp includes self, so
# grouping by it enumerates full membership; singletons are docs
# absent from the pair graph.
_DUP_CLUSTER_SIZES_SQL = _NEAR_DUP_CLOSURE + """,
    comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a),
    tok AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> t <> ''))::BIGINT AS ntok
      FROM documents),
    clusters AS (
      SELECT c.comp,
             count(*) AS sz,
             sum(CASE WHEN c.id <> c.comp THEN t.ntok ELSE 0 END) AS drop_tok
      FROM comp c JOIN tok t ON c.id = t.doc_id
      GROUP BY c.comp),
    singles AS (
      SELECT count(*)::BIGINT AS n FROM documents d
      WHERE d.doc_id NOT IN (SELECT id FROM comp))
    SELECT sz::BIGINT AS cluster_size,
           count(*)::BIGINT AS n_clusters,
           (sz * count(*))::BIGINT AS n_docs,
           sum(drop_tok)::BIGINT AS dropped_tokens
    FROM clusters GROUP BY sz
    UNION ALL
    SELECT 1, n, n, 0 FROM singles WHERE n > 0
    """


@_q("doc_dup_cluster_sizes", _DUP_CLUSTER_SIZES_SQL)
def doc_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile for a release datacard: the near-dup
    cluster-size histogram (n clusters / docs per size, singletons as
    size 1) and the token mass a min-id dedup pass would drop per
    size. The cluster labels are the same MinHash-LSH pair graph +
    label-propagation components the resolution facets use — this
    facet answers 'HOW duplicated is the corpus' where they answer
    'which docs survive'. Aggregation is component-keyed then
    size-keyed — both tiny frames; the oracle replays the recursive
    closure and the same integer aggregates."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    comps = DD.connected_components(pairs.select("id_a", "id_b"))
    toks = docs.select(
        "doc_id", TX.token_count("text").alias("__ntok")
    )
    members = comps.join(
        toks, comps["id"] == toks["doc_id"], "inner"
    ).select("id", "component", "__ntok")
    clusters = members.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum(
            F.when(F.col("id") != F.col("component"), F.col("__ntok"))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("drop_tok"),
    )
    hist = clusters.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("drop_tok").alias("dropped_tokens"),
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        F.col("dropped_tokens").cast("long"),
    )
    singles = (
        docs.join(comps, docs["doc_id"] == comps["id"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").cast("long").alias("n_clusters"),
            F.col("n").cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("dropped_tokens"),
        )
    )
    return hist.select(
        "cluster_size", "n_clusters", "n_docs", "dropped_tokens"
    ).unionByName(singles)


@_q("doc_near_dedup_canonical", _NEAR_DEDUP_CANONICAL_SQL)
def doc_near_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup with a canonical-selection POLICY
    (extensions/dedup.dedup_near_canonical): same MinHash-LSH pair
    graph and label-propagation components as doc_near_dedup_resolved,
    but the survivor per cluster is the LONGEST document (ties -> min
    id) — the keep-the-most-complete-copy rule production dedup wants
    — and each survivor carries its cluster size (1 for unpaired).
    The oracle replays the policy over the recursive transitive
    closure, so the component membership, the argmax pick, and the
    size all hash-check cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.6)
    return DD.dedup_near_canonical(
        docs,
        pairs,
        "doc_id",
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        cluster_size_col="cluster_size",
    ).select("doc_id", "source", "cluster_size")


_DUP_SPANS_SQL = r"""
    WITH tl AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents),
    occ AS (
      SELECT tl.doc_id, tl.source, r.i::INT AS i,
             array_to_string(tl.t[r.i:r.i + 7], ' ') AS span
      FROM tl, UNNEST(range(1, len(tl.t) - 8 + 2)) AS r(i)),
    dup AS (
      SELECT span FROM occ GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT doc_id, source, count(DISTINCT u.p) AS c
      FROM occ JOIN dup USING (span),
           UNNEST(range(occ.i, occ.i + 8)) AS u(p)
      GROUP BY doc_id, source),
    base AS (SELECT doc_id, source, len(t)::BIGINT AS n FROM tl)
    SELECT base.source,
           count(*) AS n_docs,
           coalesce(sum((cov.c > 0)::BIGINT), 0)::BIGINT AS n_docs_with_dup,
           coalesce(sum(cov.c), 0)::BIGINT AS dup_tokens,
           sum(base.n)::BIGINT AS total_tokens,
           CAST(round(coalesce(sum(cov.c), 0) * 1000000.0
                      / greatest(sum(base.n), 1)) AS BIGINT)
             AS dup_token_ppm
    FROM base LEFT JOIN cov USING (doc_id, source)
    GROUP BY base.source
    """


@_q("doc_duplicate_spans", _DUP_SPANS_SQL)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup accounting (Lee et al. 2022's pass, at
    fixed window length): per source, how many documents share an
    8-token span with ANOTHER document, and what fraction of their
    tokens those shared passages cover. Catches boilerplate/licenses/
    quotations that whole-document near-dup (MinHash/SimHash) misses.
    Plan: codegen'd window explode -> one span groupBy -> broadcast
    the (small) duplicated-span set back -> position-distinct ->
    integer aggregates (bit-deterministic cross-engine)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.duplicate_span_coverage(
        docs, "doc_id", "text", group_col="source", window=8
    )


# =====================================================================
# Embeddings: similarity search
# =====================================================================


@_q(
    "embedding_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cosine_sim
    FROM e q JOIN e c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) <= 10
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SS.brute_force_topk(emb, queries, k=10, round_digits=6)


@_q(
    "embedding_hard_negatives",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           c.label AS match_label,
           round(list_cosine_similarity(q.v, c.v), 6) AS cosine_sim
    FROM e q JOIN e c ON q.vec_id <> c.vec_id AND q.label <> c.label
    WHERE q.vec_id < 10
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) <= 5
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (similarity.hard_negative_topk): per anchor, the 5 most-similar
    vectors with a DIFFERENT label — the label mask runs before
    ranking, inside the same streamed Arrow-batch matmul as
    embedding_topk (corpus never shuffles)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    return SS.hard_negative_topk(emb, anchors, k=5, label_col="label")


@_q(
    "embedding_quantized_topk",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             greatest(list_max(list_transform(embedding::DOUBLE[],
                                              x -> abs(x))), 1e-30) / 127.0 AS s
      FROM embeddings
    ), q AS (
      SELECT vec_id, s,
             list_transform(v, x -> floor(x / s + 0.5)) AS qv
      FROM e
    )
    SELECT query_id, match_id, q_dot FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS match_id,
             round(list_dot_product(a.qv, b.qv) * a.s * b.s, 6) AS q_dot,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_dot_product(a.qv, b.qv) * a.s * b.s, 6) DESC,
                        b.vec_id ASC) AS rk
      FROM q a JOIN q b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 10
    ) WHERE rk <= 10
    """,
)
def embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized top-k (extensions/quantization.py): 4x smaller
    vectors, exact integer dot rescaled by per-vector scales. The
    floor(x/s + 0.5) rounding and integer-domain scoring make the
    result bit-identical in DuckDB — a quantization pipeline you can
    regression-test exactly, not just within tolerance."""
    from fugue_warehouses_spark.extensions.quantization import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


@_q(
    "embedding_similar_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.35
    """,
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SS.similarity_pairs(emb, threshold=0.35, round_digits=6)


@_q(
    "embedding_decontaminate",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    b AS (SELECT vec_id, v FROM e WHERE vec_id < 25),
    c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 25),
    sims AS (
      SELECT c.vec_id, c.label, b.vec_id AS bid,
             round(list_cosine_similarity(c.v, b.v), 6) AS s
      FROM c CROSS JOIN b),
    mx AS (
      SELECT vec_id, label, max(s) AS max_sim
      FROM sims GROUP BY vec_id, label)
    SELECT m.vec_id, m.label,
           min(s2.bid)::BIGINT AS nearest_benchmark, m.max_sim
    FROM mx m JOIN sims s2
      ON s2.vec_id = m.vec_id AND s2.s = m.max_sim
    WHERE m.max_sim >= 0.35
    GROUP BY m.vec_id, m.label, m.max_sim
    ORDER BY m.vec_id
    """,
)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: flag corpus embeddings
    within cosine >= 0.35 of any benchmark vector (benchmark =
    vec_id < 25 here; a real eval suite's embeddings in production) —
    the embedding-space leg of the decontamination family, catching
    paraphrased benchmark leakage that the n-gram legs
    (doc_contamination / doc_decontaminate_spans) cannot see.
    similarity.decontaminate_semantic: benchmark matrix in the task
    closure, corpus streams through one GEMM+row-max Arrow kernel —
    no shuffle, no corpus collect; nearest benchmark id ties break
    toward the smallest id, so the flag table is deterministic."""
    emb = _t(spark, sf_dir, "embeddings")
    flags = SS.decontaminate_semantic(
        emb.filter(F.col("vec_id") >= 25),
        emb.filter(F.col("vec_id") < 25),
        extra_cols=("label",),
        threshold=0.35,
    )
    return flags.orderBy("vec_id")


# Same transitive-closure oracle shape as doc_near_dedup_resolved,
# over the exact cosine>=0.35 pair graph.
_EMB_NEAR_DEDUP_SQL = """
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION SELECT id_b, id_a FROM p),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS id, min(b) AS m FROM reach GROUP BY a)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE m < id)
    """


@_q("embedding_near_dedup", _EMB_NEAR_DEDUP_SQL)
def embedding_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup: cosine>=0.35 pair graph -> connected
    components -> keep min-id representative per component + singletons
    (the semantic-dedup counterpart of the MinHash text pipeline)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = SS.similarity_pairs(emb, threshold=0.35, round_digits=6)
    return DD.dedup_near(emb, pairs, "vec_id").select("vec_id", "label")


# Rolling-corpus SEMANTIC dedup, the embedding counterpart of
# doc_incremental_dedup: history = the first half of the corpus
# (already accepted), batch = the second half; batch vectors near any
# history vector drop, the remainder near-dedups within the batch
# (exact pair graph -> CC -> keep min). One oracle serves both the
# brute-force and index-probed facets — the index path probes every
# cell (bucketing without pruning), so it must answer IDENTICALLY,
# and that identity is the index-consistency check.
_EMB_INCR_DEDUP_SQL = """
    WITH RECURSIVE e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    thr AS (SELECT max(vec_id) // 2 AS t FROM e),
    hist AS (SELECT * FROM e WHERE vec_id < (SELECT t FROM thr)),
    surv AS (
      SELECT b.* FROM e b
      WHERE b.vec_id >= (SELECT t FROM thr)
        AND NOT EXISTS (
          SELECT 1 FROM hist h
          WHERE round(list_cosine_similarity(b.v, h.v), 6) >= 0.35)),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM surv a JOIN surv b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION SELECT id_b, id_a FROM p),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
    comp AS (SELECT a AS id, min(b) AS m FROM reach GROUP BY a)
    SELECT vec_id, label FROM surv
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE m < id)
    """


def _parquet_col_max(sf_dir: str, table: str, col: str):
    """max(col) from parquet FOOTER statistics — no Spark job (the
    same scan-stats class as frame.py's footer count fast path; int
    min/max stats are exact). Returns None when any row group lacks
    stats, signalling the caller to fall back to an agg."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    if not files:
        return None
    mx = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            stats = None
            for i in range(row_group.num_columns):
                c = row_group.column(i)
                if c.path_in_schema == col:
                    stats = c.statistics
                    break
            if stats is None or not stats.has_min_max:
                return None
            mx = stats.max if mx is None else max(mx, stats.max)
    return mx


def _emb_split(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    thr = _parquet_col_max(sf_dir, "embeddings", "vec_id")
    if thr is None:  # footer stats absent: one agg job
        thr = emb.agg(F.max("vec_id")).collect()[0][0]
    thr = thr // 2
    return emb.filter(F.col("vec_id") < thr), emb.filter(
        F.col("vec_id") >= thr
    )


@_q("embedding_incremental_dedup", _EMB_INCR_DEDUP_SQL)
def embedding_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling semantic dedup: the batch is collected as one
    normalized matrix and the history corpus streams through a k=1
    BLAS top-k (no shuffle before the hit set); within-batch
    resolution is the exact CC keep-min."""
    hist, batch = _emb_split(spark, sf_dir)
    return SS.incremental_embedding_dedup(
        batch, hist, threshold=0.35
    ).select("vec_id", "label")


@_q("embedding_incremental_dedup_indexed", _EMB_INCR_DEDUP_SQL)
def embedding_incremental_dedup_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index-served shape of the same dedup: the history's IVF
    index (built inline here for oracle self-containment — a rolling
    pipeline reads it from the versioned store) is probed at
    n_probe=ALL cells, so the result is exact by construction and
    must hash-match the brute-force facet's oracle. The scale knob is
    n_probe < n_centroids: probe-proportional cost, documented
    recall trade (a miss over-keeps, never over-drops)."""
    hist, batch = _emb_split(spark, sf_dir)
    assigned, centroids = SS.build_ivf_hash_index(hist, n_centroids=16)
    return SS.incremental_embedding_dedup(
        batch,
        assigned=assigned.localCheckpoint(eager=False),
        centroids=centroids,
        threshold=0.35,
    ).select("vec_id", "label")


@_q(
    "embedding_norms_by_label",
    """
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
             AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fugue_warehouses_spark.functions.vectors import norm

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm("embedding").alias("nrm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("nrm"), 4).alias("avg_norm"))
    )


_OUTLIERS_SQL = """
    WITH d AS (
      SELECT label, g.i::INT AS pos, embedding[g.i]::DOUBLE AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
    cent AS (
      SELECT label, pos, round(avg(x), 6) AS c FROM d GROUP BY label, pos),
    cvec AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
    scored AS (
      SELECT e.label,
             round(list_cosine_similarity(e.embedding::DOUBLE[], cvec.cv), 6)
               AS cos_c
      FROM embeddings e JOIN cvec USING (label))
    SELECT label, count(*) AS n_vecs,
           sum((cos_c < 0.0)::BIGINT)::BIGINT AS n_outliers,
           round(avg(cos_c), 6) AS avg_cos_centroid
    FROM scored GROUP BY label
    """


@_q("embedding_outliers", _OUTLIERS_SQL)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier gate (clustering.label_centroid_outliers):
    score each vector by cosine to its own label's centroid, count the
    ones pointing away (cos < 0) — the mislabel/noise screen run
    before contrastive training. Centroids form via ONE (label, dim)
    shuffle with map-side combine and never touch the driver; rounding
    the components before scoring makes the chain exact cross-engine.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return CL.label_centroid_outliers(
        emb, "embedding", "label", threshold=0.0
    )


def _srp_lsh_sql(
    k: int = 10, dim: int = 64, n_planes: int = 4, n_tables: int = 16,
    seed: int = 42,
) -> str:
    """DuckDB twin of the FULL SRP-LSH pipeline (similarity.lsh_topk).

    The hyperplane family is sha256-derived (similarity.srp_planes), so
    the oracle regenerates the exact same planes in SQL: component
    (t,p,d) = first 32 bits of sha256('seed:t:p:d') recentred to
    [-1,1) — integer-to-double and the power-of-two scaling are exact.
    Sign bits use the same left-to-right fold order as the Spark
    expression (aggregate / list_reduce are both sequential left
    folds over IEEE doubles -> bit-identical sums), buckets are the
    same big-endian bit fold, and collisions re-rank with exact cosine
    rounded to 6. The result is approximate in recall terms but fully
    deterministic, hence hash-comparable.
    """
    return f"""
    WITH planes AS (
      SELECT tt.range AS t, pp.range AS p, dd.range AS d,
             (CAST(('0x' || substring(sha256('{seed}:'
                 || CAST(tt.range AS VARCHAR) || ':'
                 || CAST(pp.range AS VARCHAR) || ':'
                 || CAST(dd.range AS VARCHAR)), 1, 8)) AS UBIGINT)::DOUBLE
              - 2147483648.0) / 2147483648.0 AS comp
      FROM range({n_tables}) tt, range({n_planes}) pp, range({dim}) dd),
    prow AS (
      SELECT t, p, list(comp ORDER BY d) AS comps
      FROM planes GROUP BY t, p),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bits AS (
      SELECT e.vec_id, prow.t, prow.p,
             CASE WHEN list_reduce(
                    list_prepend(0.0::DOUBLE,
                      list_transform(generate_series(1, {dim}),
                                     i -> e.v[i] * prow.comps[i])),
                    (acc, x) -> acc + x) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM e, prow),
    buckets AS (
      SELECT vec_id, t,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                                      list(CAST(bit AS BIGINT) ORDER BY p)),
                         (a, b) -> a * 2 + b) AS bucket
      FROM bits GROUP BY vec_id, t),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id
      FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
    SELECT query_id, match_id, cosine_sim FROM (
      SELECT cand.query_id, cand.match_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM cand
      JOIN e a ON a.vec_id = cand.query_id
      JOIN e b ON b.vec_id = cand.match_id)
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) <= {k}
    """


@_q("embedding_lsh_topk", _srp_lsh_sql())
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k with an EXACT oracle: the sha256 plane
    family makes bucket assignment engine-reproducible, so the DuckDB
    twin replays candidate generation and re-rank verbatim (same trick
    that upgraded MinHash/SimHash from rows-only to hash-checked)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SS.lsh_topk(emb, queries, k=10, dim=64, n_planes=4, n_tables=16)


def _ivf_hash_sql(k: int = 10, n_centroids: int = 32, n_probe: int = 8) -> str:
    """DuckDB twin of similarity.ivf_topk_hash: centroids are the
    n_centroids vectors with the smallest (md5(id), id) key, corpus
    rows assign to their best centroid by cosine rounded to 6 (ties ->
    lowest centroid index), queries probe their n_probe best centroids,
    and probed candidates re-rank exactly. Every step is deterministic,
    so the approximate result is hash-comparable."""
    return f"""
    WITH cent AS (
      SELECT cid, cv, rn - 1 AS cidx FROM (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings) WHERE rn <= {n_centroids}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    asg AS (
      SELECT vec_id, cidx FROM (
        SELECT e.vec_id, cent.cidx,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                          cent.cidx ASC) AS arn
        FROM e, cent) WHERE arn = 1),
    probes AS (
      SELECT vec_id, cidx FROM (
        SELECT e.vec_id, cent.cidx,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                          cent.cidx ASC) AS prn
        FROM e, cent WHERE e.vec_id < 10) WHERE prn <= {n_probe}),
    cand AS (
      SELECT DISTINCT probes.vec_id AS query_id, asg.vec_id AS match_id
      FROM probes JOIN asg ON asg.cidx = probes.cidx
      WHERE probes.vec_id <> asg.vec_id)
    SELECT query_id, match_id, cosine_sim FROM (
      SELECT cand.query_id, cand.match_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM cand
      JOIN e a ON a.vec_id = cand.query_id
      JOIN e b ON b.vec_id = cand.match_id)
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) <= {k}
    """


@_q("embedding_ivf_topk", _ivf_hash_sql())
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with hash-sampled centroids (similarity.ivf_topk_hash) —
    deterministic end-to-end, so unlike the k-means variant it carries
    an exact oracle. The k-means ivf_topk stays pytest-verified (recall
    + determinism) as the training-based alternative."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SS.ivf_topk_hash(emb, queries, k=10, n_centroids=32, n_probe=8)


_SERVING_HANDLES: dict = {}


def _serving_handle(
    spark: SparkSession,
    family: str,
    sf_dir: str,
    build,
    store: str | None = None,
    open_existing=None,
):
    """Build-once/persist/warm-EXACT-shape contract shared by every
    process-cached serving handle (the persisted-IVF, Bloom-dedup and
    MinHash-index facets; the next persisted state gets it by
    inheritance):

    - ONE build per (family, sf_dir) per process; the durable source
      of truth is a versioned store — by default under a per-process
      temp root (removed at exit), or at a caller-supplied ``store``
      path that SURVIVES the process; state served from
      cluster memory;
    - ``build(store) -> (entry_dict, warmup_fn)`` does the
      family-specific work, using :func:`_stored_table` for each
      write-version/read-back/persist/eager-materialize table;
    - cross-process re-open (the actual 100 TB serving
      story: a new serving process re-opens the store a build process
      wrote instead of re-scanning the corpus): a ``_HANDLE_COMPLETE``
      marker commits AFTER the build's last table write, and when a
      caller-supplied ``store`` already carries it,
      ``open_existing(store) -> (entry_dict, warmup_fn)`` re-reads the
      stored tables into memory — zero corpus scans, zero new store
      versions. A half-built store (crash before the marker) rebuilds:
      the extra versions are shadowed, read_version serves the latest.
      The marker (and family sidecars like thr.json) are DRIVER-LOCAL
      files, so a caller-supplied ``store`` must be a local
      filesystem path — URI schemes are refused loudly, and a
      ``_BUILD_LOCK`` exclusive-create file serializes builders of
      the same store;
    - the warmup callable returns the EXACT facet plan shape and runs
      THREE times after the entry is cached. This encodes the
      C2 lesson: a toy probe (k=1, limit(50)) compiles the codegen
      class but leaves the hot loops interpreted/C1 — a fresh JVM
      measured 1.03/1.03/0.79 s for the first three persisted-IVF
      facet reps vs 0.65-0.70 steady state, so a best-of-3 timing
      window sat entirely inside the C2 warming region ("above band"
      readings). Warm the exact shape, three times,
      outside any timed region.
    """
    import atexit
    import os
    import shutil
    import tempfile

    key = (family, sf_dir) if store is None else (family, sf_dir, store)
    entry = _SERVING_HANDLES.get(key)
    if entry is not None:
        return entry
    if store is None:
        store_dir = tempfile.mkdtemp(prefix=f"wf_{family}_")
        atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    else:
        store_dir = store
        # the marker / thr.json sidecars are driver-local os.path IO
        # while the tables go through Spark/Hadoop writers — a
        # non-local store URI (hdfs://, s3a://) would never SEE the
        # marker (silent full rebuild in every process, defeating the
        # re-open contract) or would fail opaquely inside open().
        # Refuse loudly instead; porting the
        # sidecars to the Hadoop FileSystem API is the upgrade path if
        # a shared-filesystem store is ever needed.
        from urllib.parse import urlparse

        scheme = urlparse(store_dir).scheme
        if scheme and scheme != "file" and len(scheme) > 1:  # len>1: C:\
            raise ValueError(
                f"serving-handle store must be a local filesystem "
                f"path; got scheme {scheme!r} ({store_dir}). The "
                "handle's completion marker is driver-local."
            )
        os.makedirs(store_dir, exist_ok=True)
    marker = os.path.join(store_dir, "_HANDLE_COMPLETE")
    lock = os.path.join(store_dir, "_BUILD_LOCK")
    if open_existing is not None and os.path.exists(marker):
        entry, warmup = open_existing(store_dir)
    else:
        # exclusive-create lock: two processes building the SAME store
        # concurrently would interleave table versions — each table
        # internally consistent but cross-table pairing unverified.
        # First builder wins; the loser gets told what's happening
        # instead of silently double-building.
        try:
            lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"{lock} exists — another process is building this "
                "serving store (or crashed mid-build; delete the lock "
                "and any unmarked store content to rebuild)"
            ) from None
        try:
            os.write(lock_fd, f"{family}:{os.getpid()}".encode())
            os.close(lock_fd)
            entry, warmup = build(store_dir)
            with open(marker, "w") as f:
                f.write(family)
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass
    entry.setdefault("store", store_dir)
    _SERVING_HANDLES[key] = entry
    for _ in range(3):
        warmup().count()
    return entry


def _stored_table(
    spark: SparkSession,
    store: str,
    name: str,
    df: DataFrame,
    rows_per_partition: int | None = None,
) -> DataFrame:
    """One serving-handle table: written to the versioned store (the
    durable truth / time-travel surface — plans/versioned), then
    served via :func:`_served_table`."""
    import os

    from fugue_warehouses_spark.plans import versioned as V

    V.write_version(df, os.path.join(store, name), spark)
    return _served_table(spark, store, name, rows_per_partition)


def _served_table(
    spark: SparkSession,
    store: str,
    name: str,
    rows_per_partition: int | None = None,
) -> DataFrame:
    """Read a stored serving-handle table back into cluster memory:
    latest version, optionally re-partitioned to the data size,
    persisted and eagerly materialized (on a real cluster this lives
    in executor storage memory and is rebuilt from the store on
    loss). This is the whole cost of a cross-process re-open — no
    corpus scan, no index rebuild."""
    import math
    import os

    from fugue_warehouses_spark.plans import versioned as V

    out = V.read_version(spark, os.path.join(store, name))
    if rows_per_partition is not None:
        # size the cached partitioning to the data: at test SF that is
        # ONE partition, whose SinglePartition output satisfies e.g. a
        # probe's rank-window distribution so Spark elides the top-k
        # shuffle entirely; a 100 TB table gets proportionally many
        # partitions and keeps the shuffle it genuinely needs
        out = out.coalesce(
            max(1, math.ceil(out.count() / rows_per_partition))
        )
    out = out.persist()
    out.count()  # eager: hot in storage memory
    return out


def _ivf_index_for(spark: SparkSession, sf_dir: str, store: str | None = None):
    """IVF serving handle (``assigned`` / ``centroids`` /
    ``centroid_rows``) under the :func:`_serving_handle` contract.
    ``centroids`` (32 rows) is re-created driver-local from one
    collect, and ``centroid_rows`` caches those collected rows so
    per-probe centroid ranking costs zero Spark jobs. With a
    caller-supplied ``store`` that already holds a completed build,
    the handle RE-OPENS: ``assigned`` is read back from the store
    (one store scan, no embedding re-read, no re-assignment) — the
    cross-process serving path."""
    import os

    from fugue_warehouses_spark.plans import versioned as V

    def _entry_from_store(store_dir, assigned):
        emb = _t(spark, sf_dir, "embeddings")
        cent_rows = sorted(
            V.read_version(
                spark, os.path.join(store_dir, "centroids")
            ).collect(),
            key=lambda r: r["cidx"],
        )
        centroids = _lf(
            spark,
            [
                (int(r["cidx"]), [float(x) for x in r["centroid"]])
                for r in cent_rows
            ],
            "cidx int, centroid array<double>",
        )  # k rows — one slice, not defaultParallelism
        entry = {
            "assigned": assigned,
            "centroids": centroids,
            "centroid_rows": cent_rows,
        }
        # exact facet shape: k=10, n_probe=8, 10 queries
        warmup = lambda: SS.ivf_topk_from_index(  # noqa: E731
            assigned,
            centroids,
            emb.filter(F.col("vec_id") < 10),
            k=10,
            n_probe=8,
            centroid_rows=cent_rows,
        )
        return entry, warmup

    def build(store_dir):
        emb = _t(spark, sf_dir, "embeddings")
        assigned_b, centroids_b = SS.build_ivf_hash_index(emb, n_centroids=32)
        assigned = _stored_table(
            spark, store_dir, "assigned", assigned_b,
            rows_per_partition=500_000,
        )
        V.write_version(centroids_b, os.path.join(store_dir, "centroids"), spark)
        return _entry_from_store(store_dir, assigned)

    def open_existing(store_dir):
        assigned = _served_table(
            spark, store_dir, "assigned", rows_per_partition=500_000
        )
        return _entry_from_store(store_dir, assigned)

    return _serving_handle(
        spark, "ivf_index", sf_dir, build,
        store=store, open_existing=open_existing,
    )


@_q("embedding_ivf_persisted_topk", _ivf_hash_sql())
def embedding_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index ANN workflow: the IVF assignment + centroid
    tables (similarity.build_ivf_hash_index) are written to the
    versioned store ONCE per process; every query batch probes the
    stored index (ivf_topk_from_index) — no corpus re-scan, no
    re-assignment; the embedding analog of the MinHash signature
    index. The probe serves from the memory-cached index handle
    (_ivf_index_for), so steady-state cost is the query-matrix collect
    plus ONE broadcast-join scan of the cached assignment table. Same
    oracle as embedding_ivf_topk because the probe result must be
    identical whether the index is inline or persisted — that identity
    IS the index-consistency check."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = _ivf_index_for(spark, sf_dir)
    return SS.ivf_topk_from_index(
        idx["assigned"],
        idx["centroids"],
        queries,
        k=10,
        n_probe=8,
        centroid_rows=idx["centroid_rows"],
    )


# The stub decode kernel is sha256-derived (multimodal.py:_fake_features:
# feature j of the first digest = uint32 at hex offset 8j of
# sha256(payload || uint32_be(0)), scaled by 2^-32), so DuckDB can
# reproduce it exactly: re-scale the doubles back to their uint32 words
# (exact — power-of-two division round-trips losslessly) and compare
# integers, no float rounding in the compare at all.
# (DuckDB's sha256 takes VARCHAR only; documents.text is ASCII in the
# fixtures, so text bytes == utf-8 payload bytes and the 4-byte BE
# counter 0 appends as four chr(0)s.)
_MULTIMODAL_SQL = """
    WITH h AS (
      SELECT doc_id AS id,
             octet_length(encode(text))::BIGINT AS n_bytes,
             sha256(text || chr(0) || chr(0) || chr(0) || chr(0)) AS hx
      FROM documents)
    SELECT id, n_bytes, 8 AS n_features,
           ('0x' || substr(hx, 1, 8))::UBIGINT::BIGINT AS f_first_u32,
           ('0x' || substr(hx, 57, 8))::UBIGINT::BIGINT AS f_last_u32
    FROM h
    """


@_q("multimodal_features", _MULTIMODAL_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing on a binary column fabricated from text
    payloads (the fixture set has no media table).

    The harness hashes collected rows, so the projection must be all
    hashable scalars — the ``features array<double>`` is reduced to its
    size plus the first/last feature words recovered as exact uint32
    integers."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("id"), F.encode("text", "utf-8").alias("payload")
    )
    feats = MM.extract_features(media, "payload", "id", n_features=8)
    u32 = F.lit(4294967296.0)
    return feats.select(
        "id",
        "n_bytes",
        F.size("features").alias("n_features"),
        (F.col("features")[0] * u32).cast("long").alias("f_first_u32"),
        (F.col("features")[7] * u32).cast("long").alias("f_last_u32"),
    ).orderBy("id")


# The audio facet's payloads are synthesized PCM whose sample stream is
# a closed-form integer function of (doc_id, i) — so after the REAL
# WAV encode->decode round trip (lossless for int16 PCM) the decoded
# features are pure integer arithmetic DuckDB replays exactly: no
# float enters either engine. n_bytes is the canonical 44-byte
# header + 2 bytes/sample, also closed-form.
_AUDIO_SQL = """
    WITH base AS (
      SELECT doc_id AS id, 256 + doc_id % 256 AS n FROM documents
    ), s AS (
      SELECT b.id, b.n, g.i,
             ((b.id * 2654435761 + g.i * 40503) % 65536) - 32768 AS v
      FROM base b, LATERAL (SELECT unnest(range(0, b.n)) AS i) g
    ), c AS (
      SELECT id, n, i, v, i // 160 AS frame,
             CASE WHEN i > 0
                   AND ((lag(v) OVER (PARTITION BY id ORDER BY i) < 0)
                        <> (v < 0))
                  THEN 1 ELSE 0 END AS xing
      FROM s
    ), f AS (
      SELECT id, frame, sum(v * v)::BIGINT AS fsumsq,
             sum(xing)::BIGINT AS fxing, max(abs(v))::INT AS fpeak
      FROM c GROUP BY id, frame
    )
    SELECT f.id, 16000 AS sample_rate, max(b.n)::BIGINT AS n_samples,
           count(*)::BIGINT AS n_frames, sum(fsumsq)::BIGINT AS sumsq,
           sum(fxing)::BIGINT AS zero_crossings, max(fpeak)::INT AS peak,
           max(fsumsq)::BIGINT AS max_frame_sumsq,
           (44 + 2 * max(b.n))::BIGINT AS n_bytes
    FROM f JOIN base b USING (id)
    GROUP BY f.id ORDER BY f.id
    """


@_q("multimodal_audio_features", _AUDIO_SQL)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio leg of the multimodal surface: synthesize
    deterministic PCM per document, encode it as a genuine WAV
    container (extensions.wav), then run the full real pipeline —
    RIFF chunk-walk decode, 160-sample framing, vectorized integer
    acoustic features (multimodal.audio_features, decode_stub=False).

    The WAV encode->decode round trip is byte-lossless for int16 PCM,
    so the oracle replays the same closed-form sample stream in pure
    SQL and every output column hash-matches exactly. Scale shape:
    two chained mapInPandas stages (synth+encode, decode+featurize),
    both embarrassingly parallel — payloads never shuffle; the
    result is 9 scalars/doc. The id frame is round-robin repartitioned
    to the session's parallelism before the synth stage: the fixture
    corpus is one parquet file (one input split), and a payload kernel
    chained onto a single split would serialize — at 100 TB the
    repartition moves only 8-byte ids, never audio bytes."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from fugue_warehouses_spark.extensions.wav import encode_wav

        for pdf in batches:
            ids = pdf["id"].astype("int64")
            # vectorized sample synthesis across the whole batch:
            # one flat arange/mod pass instead of per-doc numpy
            # calls; encode_wav slices per doc
            idv = ids.to_numpy()
            n = 256 + idv % 256
            offs = np.concatenate(([0], np.cumsum(n)))
            i_flat = np.arange(offs[-1], dtype=np.int64) - np.repeat(
                offs[:-1], n
            )
            # (id % m) * c ≡ id * c (mod m): reduce ids first so the
            # int64 product cannot overflow for any doc_id
            v = (
                (np.repeat(idv % 65536, n) * 2654435761
                 + i_flat * 40503) % 65536
            ) - 32768
            v16 = v.astype(np.int16)
            payloads = [
                encode_wav(v16[offs[j]:offs[j + 1]], 16000)
                for j in range(len(idv))
            ]
            yield pd.DataFrame({"id": ids, "payload": payloads})

    media = docs.mapInPandas(synth, "id long, payload binary")
    return MM.audio_features(
        media, "payload", "id", frame_len=160, decode_stub=False
    ).orderBy("id")


# Segmentation sibling: amplitude-modulated PCM (every 4th 160-sample
# frame is ~18 dB quieter) so thresholded frame energy yields real
# active/silent islands; the oracle is a classic gaps-and-islands
# (row_number difference) over the replayed frame table. All integer.
_AUDIO_SEG_SQL = """
    WITH base AS (
      SELECT doc_id AS id, 512 + doc_id % 512 AS n FROM documents
    ), s AS (
      SELECT b.id, g.i,
             (((b.id * 2654435761 + g.i * 40503) % 8192) - 4096)
             * (CASE WHEN (g.i // 160) % 4 = 0 THEN 1 ELSE 8 END) AS v
      FROM base b, LATERAL (SELECT unnest(range(0, b.n)) AS i) g
    ), f AS (
      SELECT id, i // 160 AS frame, sum(v * v)::BIGINT AS fsumsq,
             max(abs(v))::INT AS fpeak
      FROM s GROUP BY id, i // 160
    ), a AS (
      SELECT *, frame - row_number() OVER (PARTITION BY id ORDER BY frame)
                 AS grp
      FROM f WHERE fsumsq > 10000000000
    ), seg AS (
      SELECT id, min(frame) AS start_frame, max(frame) AS end_frame,
             count(*)::BIGINT AS n_frames, sum(fsumsq)::BIGINT AS seg_sumsq,
             max(fpeak)::INT AS seg_peak
      FROM a GROUP BY id, grp
    )
    SELECT id,
           (row_number() OVER (PARTITION BY id ORDER BY start_frame)
            - 1)::INT AS seg_idx,
           start_frame, end_frame, n_frames, seg_sumsq, seg_peak
    FROM seg ORDER BY id, seg_idx
    """


@_q("multimodal_audio_segments", _AUDIO_SEG_SQL)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style utterance extraction over REALLY-decoded audio:
    synthesize amplitude-modulated PCM (quiet frame every
    4th), WAV-encode, then run multimodal.audio_segments with
    decode_stub=False — RIFF decode, 160-sample framing, energy
    threshold, maximal-run island extraction inside the Arrow batch.
    Oracle replays the frame table in SQL and does the textbook
    gaps-and-islands; int16 PCM round-trips losslessly so the match
    is hash-exact. Segment rows (7 scalars) are the only thing that
    leaves the kernel — at 100 TB the audio bytes ride the scan."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from fugue_warehouses_spark.extensions.wav import encode_wav

        for pdf in batches:
            ids = pdf["id"].astype("int64")
            # vectorized synthesis across the batch:
            # same closed-form stream, one flat pass
            idv = ids.to_numpy()
            n = 512 + idv % 512
            offs = np.concatenate(([0], np.cumsum(n)))
            i_flat = np.arange(offs[-1], dtype=np.int64) - np.repeat(
                offs[:-1], n
            )
            # (id % m) * c ≡ id * c (mod m): overflow-proof as in
            # multimodal_audio_features
            b = (
                (np.repeat(idv % 8192, n) * 2654435761
                 + i_flat * 40503) % 8192
            ) - 4096
            gain = np.where((i_flat // 160) % 4 == 0, 1, 8)
            v16 = (b * gain).astype(np.int16)
            payloads = [
                encode_wav(v16[offs[j]:offs[j + 1]], 16000)
                for j in range(len(idv))
            ]
            yield pd.DataFrame({"id": ids, "payload": payloads})

    media = docs.mapInPandas(synth, "id long, payload binary")
    return MM.audio_segments(
        media, "payload", "id", frame_len=160,
        sumsq_threshold=10_000_000_000, decode_stub=False,
    ).orderBy("id", "seg_idx")


@_q(
    "q9_profit_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.5 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%green%'
    GROUP BY n.n_name, o_year
    """,
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (5-way join over the full star incl. part and
    supplier): filtered part dim broadcasts; lineitem never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
                ),
                2,
            ).alias("profit")
        )
    )


@_q(
    "events_json_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY k_bucket
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column functions (§2.C): parse the props JSON payload
    JVM-side (get_json_object), aggregate on an extracted field."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# =====================================================================
# Range join (point-in-interval; binned equi-join plan vs DuckDB's
# inequality join as oracle)
# =====================================================================


@_q(
    "events_in_error_hours",
    """
    WITH w AS (
      SELECT DISTINCT date_trunc('hour', ts) AS ws,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS we
      FROM events WHERE event_type = 'error'
    )
    SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN w ON w.ws <= e.ts AND e.ts < w.we
    GROUP BY w.ws
    """,
)
def events_in_error_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All events falling inside any hour that saw an error — binned
    range join (operators/ranges.py) instead of the O(n*m) inequality
    join the SQL formulation implies."""
    from fugue_warehouses_spark.operators.ranges import range_join_binned

    ev = _t(spark, sf_dir, "events")
    windows = (
        ev.filter(F.col("event_type") == "error")
        .select(F.date_trunc("hour", "ts").alias("ws"))
        .distinct()
        .withColumn("we", F.col("ws") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = range_join_binned(
        ev.select("ts", "value"), windows, "ts", "ws", "we", bin_width_sec=3600
    )
    return joined.groupBy(
        F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# =====================================================================
# As-of join (custom operator Spark lacks natively; DuckDB's native
# ASOF JOIN is the oracle)
# =====================================================================


@_q(
    "events_asof_last_signup",
    """
    SELECT l.user_id AS user_id,
           l.event_id AS event_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(r.value, 2) AS signup_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: each purchase joined to the user's most recent
    at-or-before signup (operators/asof.py union-carry-forward plan)."""
    from fugue_warehouses_spark.operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts"), "value"
    )
    out = asof_join_backward(
        purchases, signups, by=["user_id"], left_time="ts",
        right_time="signup_ts", right_payload=["value"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.round("value", 2).alias("signup_value"),
    )


# =====================================================================
# Sampling (A12/A13): exact-n is limit-based (reference asserts
# count()==90, tests/fugue_bigquery/test_execution_engine.py:52-58);
# fraction sampling is seeded-random — oracle checks the invariants
# that ARE deterministic (cardinality for n, subset-ness for fraction)
# =====================================================================


@_q(
    "orders_sample_n_exact",
    "SELECT count(*) AS n FROM (SELECT * FROM orders LIMIT 90)",
)
def orders_sample_n_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    sampled = eng.sample(_t(spark, sf_dir, "orders"), n=90)
    return sampled.native.agg(F.count(F.lit(1)).alias("n"))


@_q("orders_sample_fraction")  # no oracle: seeded-random row subset
def orders_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SparkWarehouseEngine(spark)
    return eng.sample(_t(spark, sf_dir, "orders"), frac=0.2, seed=42).native


# =====================================================================
# Python-transform surface (B12/B13) and SQL-on-frames (B1) as
# oracle-checked queries — the UDF results must agree with pure SQL
# =====================================================================


@_q(
    "sql_on_frames_revenue",
    """
    SELECT n.n_name AS nation,
           round(sum(o.o_totalprice), 2) AS total_revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_on_frames_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 fragment-splicing: frames interleaved with SQL text, one
    spark.sql plan (SURVEY.md §3.3 — the reference uploads temp tables
    per frame; here it's temp views, zero movement)."""
    from fugue_warehouses_spark.sql import select_sql

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return select_sql(
        spark,
        "SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS total_revenue,",
        "count(*) AS n_orders FROM",
        o,
        "AS o JOIN",
        c,
        "AS c ON o.o_custkey = c.c_custkey JOIN",
        n,
        "AS n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name",
    ).native


@_q(
    "transform_charge_stats",
    """
    SELECT o_orderpriority,
           round(sum(charge), 2) AS total_charge,
           count(*) AS n
    FROM (
      SELECT o.o_orderpriority,
             l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax) AS charge
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ) GROUP BY o_orderpriority
    """,
)
def transform_charge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: per-batch pandas computation (charge column) feeding a
    relational aggregate — Arrow-batched, no engine hop."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )

    def add_charge(pdf):
        pdf = pdf.assign(
            charge=pdf.l_extendedprice * (1 - pdf.l_discount) * (1 + pdf.l_tax)
        )
        return pdf[["l_orderkey", "charge"]]

    charged = transform(li, add_charge, schema="l_orderkey:long,charge:double").native
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        charged.join(o, charged.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("charge"), 2).alias("total_charge"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "cotransform_customer_orders",
    """
    SELECT c.c_custkey AS c_custkey,
           max(c.c_acctbal) AS acctbal,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey < 100
    GROUP BY c.c_custkey
    """,
)
def cotransform_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 cotransform (disabled in the reference on both backends,
    tests/fugue_bigquery/test_execution_engine.py:27-37) — cogrouped
    pandas over customer x orders per key."""
    from fugue_warehouses_spark.transform import cotransform

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )

    def summarize(left, right):
        import pandas as pd

        if len(left) == 0:
            return pd.DataFrame(
                columns=["c_custkey", "acctbal", "n_orders", "total_spend"]
            )
        return pd.DataFrame(
            {
                "c_custkey": [left.c_custkey.iloc[0]],
                "acctbal": [left.c_acctbal.max()],
                "n_orders": [len(right)],
                "total_spend": [round(float(right.o_totalprice.sum()), 2)],
            }
        )

    return cotransform(
        c,
        o,
        summarize,
        on=["c_custkey"],
        schema="c_custkey:long,acctbal:double,n_orders:long,total_spend:double",
    ).native


# =====================================================================
# Event-time windows (batch twins of streaming/windows.py — same code
# path runs unbounded under Structured Streaming; tests/test_streaming.py
# asserts stream==batch, the oracle here asserts batch==SQL)
# =====================================================================


@_q(
    "events_tumbling_15m",
    """
    SELECT strftime(to_timestamp(epoch_us(ts) // 900000000 * 900),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fugue_warehouses_spark.streaming import tumbling_agg

    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        ev, "ts", "15 minutes",
        {"n": "count(1)", "total_value": "round(sum(value), 2)"},
        keys=["event_type"],
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n", "total_value",
    )


@_q(
    "events_sliding_30m_15m",
    """
    SELECT strftime(to_timestamp(epoch_us(ts) // 900000000 * 900 - s.k * 900),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) AS s(k)
    GROUP BY 1
    """,
)
def events_sliding_30m_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 — each event lands in exactly
    two; the oracle expands the two slots with a cross join."""
    from fugue_warehouses_spark.streaming import sliding_agg

    ev = _t(spark, sf_dir, "events")
    out = sliding_agg(
        ev, "ts", "30 minutes", "15 minutes",
        {"n": "count(1)", "total_value": "round(sum(value), 2)"},
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n", "total_value",
    )


@_q(
    "events_session_windows",
    """
    WITH d AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM d
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM g GROUP BY user_id, sess_id
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window semantics: span = [first event, last event + gap).
    Oracle is the classic gaps-and-islands rewrite."""
    from fugue_warehouses_spark.streaming import session_agg

    ev = _t(spark, sf_dir, "events")
    out = session_agg(
        ev, "ts", "30 minutes",
        {"n": "count(1)", "total_value": "round(sum(value), 2)"},
        keys=["user_id"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n", "total_value",
    )


# =====================================================================
# TPC-H shapes q4/q12/q14/q18/q19 (adapted to the slim fixture schema:
# no shipmode/commitdate/container columns)
# =====================================================================


_Q4_SQL = """
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """


@_q("q4_priority_late_ships", _Q4_SQL)
def q4_priority_late_ships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS -> left-semi join; the late-
    commit predicate adapted to shipdate lag (no commitdate column).

    Spark executes the same text with TIMESTAMP_NTZ literals: a bare
    ``TIMESTAMP`` literal is LTZ in Spark SQL, and comparing it to the
    NTZ o_orderdate column would shift by the (unknown, vanilla)
    session timezone; DuckDB's TIMESTAMP is already naive."""
    register_star_views(spark, sf_dir)
    return spark.sql(_Q4_SQL.replace("TIMESTAMP '", "TIMESTAMP_NTZ '"))


@_q(
    "q12_priority_class_by_status",
    """
    SELECT l.l_linestatus,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_class_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation over a fact-fact join
    (l_linestatus standing in for the absent l_shipmode)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_q(
    "q14_promo_revenue_ratio",
    """
    SELECT round(100.00 * sum(CASE WHEN p.p_type = 'PROMO'
                   THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share. part broadcasts; one aggregate,
    no fact shuffle."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@_q(
    "q18_large_volume_orders",
    """
    SELECT o.o_orderkey, o.o_totalprice, sum(l.l_quantity) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    HAVING sum(l.l_quantity) > 150
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate + HAVING over the fact join.

    Aggregate-before-join: the group keys contain the join key, so
    lineitem collapses to one row per orderkey (and the HAVING prunes
    to the handful of large orders) BEFORE touching orders — at scale
    the join input shrinks ~|lineitem|/|orders|-fold and the join
    reuses the aggregation's hash partitioning instead of shuffling
    the full fact table. Quantities are integer-valued doubles, so the
    sums are exact and engine-order-independent."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return per_order.join(o, per_order.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "o_totalprice", "total_qty"
    )


@_q(
    "q19_disjunctive_predicates",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 30)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — the
    optimizer stress case for predicate pushdown (per-side implied
    disjuncts still prune the scans)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 30))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 40))
        | ((b == "Brand#34") & s.between(1, 35) & q.between(20, 50))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )


@_q(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_3', 'NATION_8')
        AND n2.n_name IN ('NATION_3', 'NATION_8')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (cross-nation trade volume): the nation dim joins
    lineitem TWICE under different roles (via supplier and via
    customer). Both nation sides are pre-filtered to the 2-nation set
    and broadcast, so the fact table is pruned by two implied semi
    filters before the one orders join."""
    ns = ("NATION_3", "NATION_8")
    n1 = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*ns))
    n2 = n1.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    supp = s.join(F.broadcast(n1), s.s_nationkey == n1.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey")).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_q(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): 8-way star join, conditional
    share-of-total aggregate. All dims (part filtered to one type,
    supplier+nation, customer+nation+region filtered to one region)
    broadcast; the fact shuffles once, for the final year grouping."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_region = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_region), o.o_custkey == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0)))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@_q(
    "q11_important_parts",
    """
    SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) >
           (SELECT sum(l_extendedprice * (1 - l_discount)) * 0.006 FROM lineitem)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group values compared against a fraction of the
    GLOBAL total (uncorrelated scalar subquery in HAVING). The total is
    a one-row aggregate cross-joined (broadcast) onto the grouped frame
    — no second pass over the fact and no driver collect."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    grouped = li.groupBy("l_partkey").agg(val.alias("_v"))
    total = li.agg((val * F.lit(0.006)).alias("_threshold"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("_v") > F.col("_threshold"))
        .select("l_partkey", F.round("_v", 2).alias("part_value"))
    )


@_q(
    "q13_order_count_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: double aggregation — per-customer order count
    (LEFT join with the filter in the JOIN condition, so order-less
    customers survive as count 0) then a histogram of counts. The
    second groupBy's input is |customer|-sized, already tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE reused twice — once as the join input, once
    inside the scalar-max subquery. The revenue frame is computed once
    and the max is a broadcast one-row cross join against it (Spark
    reuses the shuffle output for both branches). Equality on the
    ROUNDED revenue so float summation order can't split the max."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("_best"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_best"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery — decorrelated into a
    per-part aggregate joined back onto the fact. The per-part avg
    frame is |part|-sized and broadcasts; quantities are integer-valued
    doubles so the avg (exact sum / exact count) is engine-order
    independent and the strict < is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_cap")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_q(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the sole-blamed-supplier EXISTS / NOT EXISTS
    pair), rewritten as ONE pass over the fact: aggregate lineitem to
    (order, supplier) grain carrying the R-row count, then a window
    over the order computes distinct-supplier and distinct-R-supplier
    counts. EXISTS(other supplier) == nsupp >= 2; NOT EXISTS(other R
    supplier) for an R-supplier X == exactly one R supplier
    (necessarily X). One fact scan + one (order,supplier) shuffle +
    a window on the already-collapsed frame replaces the reference
    pattern's two correlated semi/anti probes — the variant that
    survives at 100 TB (the pair-grain frame is ~|orders|-sized)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # One exchange for the whole per-order chain: hash the fact on
    # orderkey ONCE; HashPartitioning(ok) satisfies the (ok, sk)
    # groupBy's clustering AND the ok window's, so neither re-shuffles
    # (vs. the groupBy-first shape, whose (ok, sk) partitioning forces
    # a second exchange for the window). AQE picks broadcast vs
    # shuffle for the orders semi-probe from the runtime size.
    per = (
        li.repartition("l_orderkey")
        .groupBy(
            F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
        )
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("_n_r")
        )
        .join(
            o.select("o_orderkey"),
            F.col("_ok") == F.col("o_orderkey"),
            "left_semi",
        )
    )
    w = Window.partitionBy("_ok")
    per = per.withColumn("_nsupp", F.count(F.lit(1)).over(w)).withColumn(
        "_nsupp_r", F.sum((F.col("_n_r") > 0).cast("int")).over(w)
    )
    return (
        per.filter(
            (F.col("_n_r") > 0) & (F.col("_nsupp") >= 2) & (F.col("_nsupp_r") == 1)
        )
        .join(F.broadcast(s), F.col("_sk") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("_n_r").cast("long").alias("numwait"))
    )


@_q(
    "q22_lapsed_customers",
    """
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT c_custkey % 10 AS cntrycode, c_acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT floor(avg(c_acctbal) * 100) / 100
                         FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-average scalar subquery + NOT EXISTS,
    adapted to "high-balance customers with no order since 2000"
    (every fixture customer has SOME order, so the original no-orders
    predicate is vacuous). NOT EXISTS is a left-anti join against the
    date-pruned orders scan; the average is a broadcast one-row frame.
    The threshold is floored to cents on both engines so the strict >
    can't flip on last-bit float summation differences."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.floor(F.avg("c_acctbal") * 100) / 100).alias("_cap")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_cap"))
        .groupBy((F.col("c_custkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# =====================================================================
# SQL-surface widening (SURVEY §2.C): correlated subqueries, lateral
# explode, exact percentiles, range-frame windows, ordered string_agg,
# approximate aggregates
# =====================================================================


_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_totalprice,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS n_items
    FROM orders o
    WHERE o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate <  DATE '1995-02-01'
    """


@_q("orders_scalar_subquery", _SCALAR_SUBQ_SQL)
def orders_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into a
    left outer aggregate join; the SQL text runs verbatim on both
    engines (§2.C pass-through surface)."""
    register_star_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


@_q(
    "doc_top_tokens",
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
      FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (unnest) + top-k with total order."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@_q(
    "lineitem_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


_RANGE_WINDOW_SQL = """
    SELECT o_orderkey,
           ((sum(price_cents) OVER w) * 2 + (count(*) OVER w))
             // ((count(*) OVER w) * 2) / 100.0 AS avg_90d
    FROM (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS day_num
      FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
    """


@_q("orders_trailing_90d_avg", _RANGE_WINDOW_SQL)
def orders_trailing_90d_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): trailing-90-day average
    order value per customer. Day offsets computed as ints so both
    engines use the same integer range-frame semantics; the average is
    computed and rounded to cents entirely in BIGINT arithmetic
    (floor((2*sum + n) / 2n) = half-up), because (a) double summation
    order over RANGE peers is engine-dependent and (b) Spark's round()
    goes through BigDecimal.valueOf's shortest-decimal repr while
    DuckDB rounds the raw double — .235-boundary values flip."""
    orders = _t(spark, sf_dir, "orders")
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_num)
        .rangeBetween(-90, Window.currentRow)
    )
    s, n = F.sum(cents).over(w), F.count(F.lit(1)).over(w)
    t = s * 2 + n
    # t - t%(2n) is exactly divisible, so the long/long division yields
    # an integer-valued double exactly (quotient < 2^53) == floor(t/2n)
    avg = (t - (t % (n * 2))) / (n * 2) / F.lit(100.0)
    return orders.select(
        "o_orderkey",
        avg.alias("avg_90d"),
    )


@_q(
    "nation_customer_roster",
    """
    SELECT n.n_name AS nation,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS roster,
           count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY n.n_name
    """,
)
def nation_customer_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): the hashable
    scalar encoding of a per-group list result."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    nat = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias(
                "roster"
            ),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@_q(
    "lineitem_unpivot_charges",
    """
    WITH s AS (
      SELECT l_returnflag,
             round(sum(l_extendedprice), 2) AS base,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS discounted,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS charged
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, measure, amount FROM (
      SELECT l_returnflag, 'base' AS measure, base AS amount FROM s
      UNION ALL SELECT l_returnflag, 'discounted', discounted FROM s
      UNION ALL SELECT l_returnflag, 'charged', charged FROM s)
    """,
)
def lineitem_unpivot_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (§2.C): wide aggregate -> long (measure, amount)
    rows. Spark's native unpivot == SQL stack == the UNION ALL oracle."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    s = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("base"),
        F.round(F.sum(disc), 2).alias("discounted"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("charged"),
    )
    return s.unpivot(
        ["l_returnflag"], ["base", "discounted", "charged"], "measure", "amount"
    )


_CHUNK_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks,
             greatest(1, (len(toks) - 16 + 47) // 48) AS n_chunks
      FROM t),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM c)
    SELECT doc_id, chunk_idx,
           md5(array_to_string(
             toks[chunk_idx*48+1 : chunk_idx*48+64], ' ')) AS chunk_md5,
           len(toks[chunk_idx*48+1 : chunk_idx*48+64])::BIGINT AS n_tokens
    FROM e
    """


@_q("doc_chunks", _CHUNK_SQL)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, 16 overlap) — the
    training-data prep op between cleaning and tokenization. Chunk
    payloads are md5'd so the output stays hashable scalars."""
    docs = _t(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(TX.chunk_text("text", chunk_tokens=64, overlap=16)).alias(
            "chunk_idx", "chunk"
        ),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("chunk").alias("chunk_md5"),
        F.size(TX.tokens(F.col("chunk"))).cast("long").alias("n_tokens"),
    )


@_q(
    "events_props_map",
    """
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS key, props
      FROM events WHERE props IS NOT NULL)
    SELECT key, count(*)::BIGINT AS n,
           sum(json_extract_string(props, '$.' || key)::BIGINT)::BIGINT
             AS total
    FROM kv GROUP BY key
    """,
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (§2.C / SURVEY §1.3 — the reference declared map
    but skipped it): JSON -> map<string,string> -> explode(map) ->
    per-key aggregate."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "key", "value"
        )
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("long")).alias("total"),
    )


@_q(
    "events_running_totals",
    """
    SELECT user_id, count(value)::BIGINT AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful-streaming operator's batch collapse (streaming/
    stateful.py running_totals): per-key totals, identical semantics in
    both modes — the registry-visible face of §2.D's custom state op."""
    from fugue_warehouses_spark.streaming.stateful import running_totals

    ev = _t(spark, sf_dir, "events")
    out = running_totals(ev, "user_id", "value")
    return out.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value")
    )


@_q(
    "salted_join_revenue",
    """
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators/skew.py): result must equal the
    plain join row-for-row — the oracle IS the unsalted join, so the
    hash check proves salting changes only physical distribution."""
    from fugue_warehouses_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "orderkey")
    # salt=4 here: the dial trades replication of the dim side (x salt)
    # against per-task hot-key width; a real skew case sizes it to the
    # hottest key's row count / target partition size
    joined = salted_join(
        li, o.select("orderkey", "o_orderpriority"), ["orderkey"], salt=4
    )
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@_q(
    "take_nulls_first_events",
    """
    SELECT event_type, event_id, value FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC NULLS FIRST, event_id ASC) AS rn
      FROM events) WHERE rn <= 3
    """,
)
def take_nulls_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take() with explicit NULL positioning (B10): events.value has
    real nulls, so nulls-first per-partition take is observable — the
    null rows must win the top slots."""
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return take(
        ev,
        3,
        presort="value desc, event_id asc",
        na_position="first",
        partition_by=["event_type"],
    )


@_q(
    "lineitem_bag_setops",
    """
    WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45),
         b AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'intersect_all' AS op, count(*)::BIGINT AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all', count(*)::BIGINT
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    """,
)
def lineitem_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set ops — INTERSECT ALL / EXCEPT ALL preserve
    duplicate multiplicity, unlike the distinct variants (B6)."""
    eng = SparkWarehouseEngine(spark)
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    ia = (
        eng.intersect(a, b, distinct=False)
        .native.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "n")
    )
    ea = (
        eng.subtract(a, b, distinct=False)
        .native.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "n")
    )
    return ia.unionByName(ea)


def _pipeline_sql() -> str:
    counts = []
    for lang, markers in TX.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        counts.append(
            f"len(list_filter(toks, t -> lower(t) IN ({lst}))) AS c_{lang}"
        )
    cases = " ".join(
        f"WHEN c_{lang} = best THEN '{lang}'" for lang in TX.LANG_MARKERS
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS} AS toks, len({_TOKS}) AS ntok
      FROM documents),
    s AS (
      SELECT doc_id, source, text, toks, {', '.join(counts)},
             {_Q_EXPR} AS q
      FROM t),
    l AS (
      SELECT *, greatest(c_en, c_de, c_fr, c_es, c_zh) AS best FROM s),
    f AS (
      SELECT doc_id, source, text, toks FROM l
      WHERE q >= 0.75
        AND (CASE WHEN best = 0 THEN 'und' {cases} END) = 'en'),
    d AS (
      SELECT * FROM f
      QUALIFY row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        ORDER BY doc_id ASC) = 1)
    SELECT source, count(*)::BIGINT AS n_docs,
           CAST(sum(list_sum(list_transform(toks,
                t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT)
             AS est_tokens
    FROM d GROUP BY source
    """


@_q("doc_training_pipeline", _pipeline_sql())
def doc_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline as ONE composed lazy
    plan: quality filter -> language filter (en) -> fingerprint dedup
    -> per-source token budget. Every stage is the same operator the
    standalone queries use; Catalyst fuses the whole thing into a scan
    + two shuffles (dedup window, final aggregate)."""
    from fugue_warehouses_spark.plans.scanout import fan_out_scan

    docs = _t(spark, sf_dir, "documents")
    # fan out the scan before the quality/lang filter: both
    # predicates are heavy regex/char-class expressions,
    # and the single-row-group fixture evaluated them serially in a
    # one-task scan stage. No-op at real scan parallelism.
    filtered = fan_out_scan(docs, "doc_id").filter(
        (TX.quality_score("text") >= 0.75) & (TX.lang_id("text") == "en")
    )
    # token estimate computed BEFORE the dedup window ("project before
    # the exchange"): the agg
    # was the only post-window consumer of `text`, so the fingerprint
    # exchange shipped every document's bytes to carry one long. With
    # __est precomputed below the exchange, Catalyst prunes `text`
    # from the shuffle — narrow ints cross, payload bytes don't.
    # Identical results: __est is a pure per-row function and the
    # survivor set is unchanged.
    est = filtered.withColumn(
        "__est", TX.bpe_token_estimate("text")
    )
    deduped = DD.fingerprint_dedup(est, "text", "doc_id")
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__est").cast("long").alias("est_tokens"),
    )


_EPOCH_SHUFFLE_SQL = """
    WITH e AS (
      SELECT d.doc_id, g.epoch
      FROM documents d, (SELECT UNNEST([0, 1, 2]) AS epoch) g),
    r AS (
      SELECT epoch, doc_id,
             row_number() OVER (
               PARTITION BY epoch
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':'
                                            || epoch::VARCHAR), 1, 8))::UBIGINT,
                        doc_id) AS position
      FROM e)
    SELECT epoch::INT AS epoch, position::BIGINT AS position, doc_id
    FROM r WHERE position <= 20
    """


@_q("doc_epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def doc_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle
    (sampling.epoch_shuffle): every epoch re-orders the full corpus by
    a pure function of (doc_id, epoch) — reproducible across runs and
    engines, no RNG state. Positions come from the distributed rank
    operator (range shuffle + offsets), NOT a per-epoch window — at
    100 TB x N epochs a PARTITION BY epoch window is a 2-16-partition
    sort, the same melt as a global one. The facet emits each epoch's
    first 20 positions (bounded output; the full ordering is what a
    writer would consume)."""
    from fugue_warehouses_spark.extensions.sampling import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = epoch_shuffle(docs, "doc_id", epochs=3)
    return out.filter(F.col("position") <= 20).select(
        "epoch", "position", "doc_id"
    )


_ALPHA_MIXTURE_SQL = """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS nmin FROM c),
    r AS (
      SELECT lang,
             CAST(floor(sqrt(CAST((SELECT nmin FROM m) AS DOUBLE)
                             / CAST(n AS DOUBLE))
                        * 4294967296.0) AS BIGINT) AS thresh
      FROM c),
    kept AS (
      SELECT d.lang, d.doc_id
      FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
            < r.thresh)
    SELECT lang, count(*)::BIGINT AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM kept GROUP BY lang
    """


@_q("doc_alpha_mixture", _ALPHA_MIXTURE_SQL)
def doc_alpha_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture
    (sampling.alpha_flatten_sample, alpha=0.5): keep rate per lang =
    sqrt(n_min/n), so post-sample sizes ∝ sqrt(n) — the multilingual
    rebalancing step. sqrt is correctly rounded on both engines, so
    the kept row SET is bit-identical to the oracle (asserted via
    per-lang id_sum)."""
    from fugue_warehouses_spark.extensions.sampling import alpha_flatten_sample

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    kept = alpha_flatten_sample(docs, "lang", "doc_id", alpha=0.5)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


_DSIR_SELECT_SQL = r"""
    WITH rawdocs AS (
      SELECT doc_id, source, text FROM documents
      WHERE source NOT IN ('src0', 'src1')),
    tgt AS (
      SELECT text FROM documents WHERE source IN ('src0', 'src1')),
    rt AS (
      SELECT d.doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS b
      FROM rawdocs d,
           UNNEST(string_split_regex(trim(d.text), '\s+')) AS t(tok)
      WHERE tok <> ''),
    tt AS (
      SELECT CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS b
      FROM tgt d,
           UNNEST(string_split_regex(trim(d.text), '\s+')) AS t(tok)
      WHERE tok <> ''),
    cr AS (SELECT b, count(*) AS c_r FROM rt GROUP BY b),
    ct AS (SELECT b, count(*) AS c_t FROM tt GROUP BY b),
    cb AS (
      SELECT coalesce(cr.b, ct.b) AS b,
             coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
      FROM cr FULL OUTER JOIN ct ON cr.b = ct.b),
    tot AS (SELECT sum(c_r) AS tot_r, sum(c_t) AS tot_t FROM cb),
    lr AS (
      SELECT b,
             ln(CAST(c_t + 1 AS DOUBLE) * CAST(tot_r + 4096 AS DOUBLE)
                / (CAST(c_r + 1 AS DOUBLE)
                   * CAST(tot_t + 4096 AS DOUBLE))) AS lr
      FROM cb, tot),
    perdoc AS (SELECT doc_id, b, count(*) AS n FROM rt GROUP BY doc_id, b),
    logw AS (
      SELECT doc_id, sum(n * lr.lr) AS lw
      FROM perdoc JOIN lr USING (b) GROUP BY doc_id),
    keyed AS (
      SELECT doc_id, round(lw, 6) AS dsir_logw,
             round(lw - ln(-ln(
               ((('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 8))
                  ::UBIGINT)::DOUBLE + 0.5) / 4294967296.0)), 6) AS sel_key
      FROM logw)
    SELECT k.doc_id, d.source, k.dsir_logw, k.sel_key
    FROM keyed k JOIN rawdocs d USING (doc_id)
    ORDER BY k.sel_key DESC, k.doc_id ASC
    LIMIT 100
    """


@_q("doc_dsir_select", _DSIR_SELECT_SQL)
def doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (sampling.dsir_select; Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    treat src0/src1 as the high-quality TARGET distribution and
    importance-resample 100 documents from the remaining raw corpus
    toward it. Weights are hashed bag-of-tokens log-likelihood ratios
    (4096 buckets, add-one smoothing); selection is Gumbel top-k over
    a deterministic md5 uniform draw, so the resample is a pure
    function of the data and the oracle reproduces the exact selected
    set. Plan shape: two wordcounts reduced to <= 4096 rows, the
    log-ratio table broadcast back, one per-doc sum, one TakeOrdered —
    no UDFs, no collects; the 100 TB shape is two wordcounts plus one
    per-doc aggregation."""
    from fugue_warehouses_spark.extensions.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents")
    is_target = F.col("source").isin("src0", "src1")
    raw = docs.filter(~is_target)
    target = docs.filter(is_target)
    sel = dsir_select(
        raw, target, "text", "doc_id", n_select=100, n_buckets=4096
    )
    return (
        raw.select("doc_id", "source")
        .join(F.broadcast(sel), "doc_id")
        .select("doc_id", "source", "dsir_logw", "sel_key")
    )


_DSIR_SELECT_BIGRAM_SQL = r"""
    WITH rawdocs AS (
      SELECT doc_id, source, text FROM documents
      WHERE source NOT IN ('src0', 'src1')),
    rtoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '') AS ts
      FROM rawdocs),
    ttoks AS (
      SELECT list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents WHERE source IN ('src0', 'src1')),
    rgram AS (
      SELECT doc_id, unnest(ts) AS g FROM rtoks
      UNION ALL
      SELECT r.doc_id, r.ts[s.i - 1] || ' ' || r.ts[s.i] AS g
      FROM rtoks r, UNNEST(generate_series(2, len(r.ts))) AS s(i)),
    tgram AS (
      SELECT unnest(ts) AS g FROM ttoks
      UNION ALL
      SELECT t.ts[s.i - 1] || ' ' || t.ts[s.i] AS g
      FROM ttoks t, UNNEST(generate_series(2, len(t.ts))) AS s(i)),
    rt AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS b
      FROM rgram),
    tt AS (
      SELECT CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096
                  AS BIGINT) AS b
      FROM tgram),
    cr AS (SELECT b, count(*) AS c_r FROM rt GROUP BY b),
    ct AS (SELECT b, count(*) AS c_t FROM tt GROUP BY b),
    cb AS (
      SELECT coalesce(cr.b, ct.b) AS b,
             coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
      FROM cr FULL OUTER JOIN ct ON cr.b = ct.b),
    tot AS (SELECT sum(c_r) AS tot_r, sum(c_t) AS tot_t FROM cb),
    lr AS (
      SELECT b,
             ln(CAST(c_t + 1 AS DOUBLE) * CAST(tot_r + 4096 AS DOUBLE)
                / (CAST(c_r + 1 AS DOUBLE)
                   * CAST(tot_t + 4096 AS DOUBLE))) AS lr
      FROM cb, tot),
    perdoc AS (SELECT doc_id, b, count(*) AS n FROM rt GROUP BY doc_id, b),
    logw AS (
      SELECT doc_id, sum(n * lr.lr) AS lw
      FROM perdoc JOIN lr USING (b) GROUP BY doc_id),
    keyed AS (
      SELECT doc_id, round(lw, 6) AS dsir_logw,
             round(lw - ln(-ln(
               ((('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 8))
                  ::UBIGINT)::DOUBLE + 0.5) / 4294967296.0)), 6) AS sel_key
      FROM logw)
    SELECT k.doc_id, d.source, k.dsir_logw, k.sel_key
    FROM keyed k JOIN rawdocs d USING (doc_id)
    ORDER BY k.sel_key DESC, k.doc_id ASC
    LIMIT 100
    """


@_q("doc_dsir_select_bigram", _DSIR_SELECT_BIGRAM_SQL)
def doc_dsir_select_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection over the paper's canonical unigram+bigram hashed
    feature space (sampling.dsir_select with ngram_max=2) — same
    target/raw split, Gumbel draw and top-k as :func:`doc_dsir_select`,
    but every document contributes its bigrams ("tok_{i-1} tok_i",
    single-space joined) to the same 4096 hashed buckets alongside its
    unigrams. The oracle rebuilds the exact gram stream with a
    generate_series self-pairing, so the selected SET stays
    engine-exact (this puts the ngram_max=2 path under the same
    oracle discipline as the unigram facet). Plan shape is unchanged — the bigram explode roughly
    doubles the token stream feeding the one tagged-union wordcount;
    still no UDFs, no collects."""
    from fugue_warehouses_spark.extensions.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents")
    is_target = F.col("source").isin("src0", "src1")
    raw = docs.filter(~is_target)
    target = docs.filter(is_target)
    sel = dsir_select(
        raw, target, "text", "doc_id", n_select=100, n_buckets=4096,
        ngram_max=2,
    )
    return (
        raw.select("doc_id", "source")
        .join(F.broadcast(sel), "doc_id")
        .select("doc_id", "source", "dsir_logw", "sel_key")
    )


_INCR_DEDUP_SQL = r"""
    WITH split AS (SELECT max(doc_id) // 2 AS t FROM documents),
    hist AS (
      SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS fp
      FROM documents WHERE doc_id < (SELECT t FROM split)),
    batch AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id >= (SELECT t FROM split))
    SELECT doc_id, source FROM batch
    WHERE fp NOT IN (SELECT fp FROM hist)
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) = 1
    """


def _doc_split_thr(spark: SparkSession, sf_dir: str) -> int:
    """max(doc_id)//2 via parquet footer stats (no job; agg fallback)
    — the documents twin of _emb_split's scan-stats fast path."""
    thr = _parquet_col_max(sf_dir, "documents", "doc_id")
    if thr is None:
        thr = _t(spark, sf_dir, "documents").agg(
            F.max("doc_id")
        ).collect()[0][0]
    return thr // 2


@_q("doc_incremental_dedup", _INCR_DEDUP_SQL)
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup (dedup.incremental_dedup): treat the
    lower half of doc_ids as the already-ingested corpus and the upper
    half as today's batch; keep only batch docs whose fingerprint is
    new vs history AND unique within the batch. Both shuffles ride the
    16-byte fingerprint — at 100 TB the history side is a materialized
    fingerprint set, not a rescan."""
    docs = _t(spark, sf_dir, "documents")
    thr = _doc_split_thr(spark, sf_dir)  # footer stats: no job
    hist = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    return DD.incremental_dedup(batch, hist, "text", "doc_id").select(
        "doc_id", "source"
    )


@_q("doc_incremental_dedup_bloom", _INCR_DEDUP_SQL)
def doc_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as doc_incremental_dedup — same oracle, EXACT
    same output — through the broadcast-Bloom prefilter plan
    (dedup.incremental_dedup_bloom): history fingerprints compress
    into a <=m_bits/64-row bitset relation built with one
    partial-bit_or shuffle; each batch representative probes the
    broadcast bitset with k seeded xxhash64 bits and only Bloom
    candidates ride the exact anti-join. At 100 TB this swaps the
    per-batch full history-fingerprint shuffle for one broadcast of
    the bitset + a candidate-sized join — the runtime-bloom-join-
    filter idea as an explicit, persistable operator. Undersized m
    only adds false-positive traffic to the exact join; the result
    never changes (asserted by sharing doc_incremental_dedup's
    oracle)."""
    docs = _t(spark, sf_dir, "documents")
    thr = _doc_split_thr(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    return DD.incremental_dedup_bloom(
        batch, hist, "text", "doc_id", m_bits=1 << 20, k=5
    ).select("doc_id", "source")


def _bloom_handle_for(
    spark: SparkSession, sf_dir: str, store: str | None = None
):
    """Rolling-corpus dedup state under the :func:`_serving_handle`
    contract: the history-fingerprint Bloom bitset AND the distinct
    fingerprint table. A real ingest pipeline maintains exactly these
    two tables across batches (bloom for the cheap probe, fp set for
    the exact verify) instead of re-reading and re-hashing the history
    corpus per batch. A caller-supplied ``store`` holding a completed
    build RE-OPENS without re-hashing the history; the split threshold
    is read back from the store's ``thr.json`` (it is part of the
    stored state — the bitset only covers doc_id below the
    at-build-time threshold, so re-deriving it from a since-grown
    corpus would silently under-dedup)."""
    from fugue_warehouses_spark.functions.text import fingerprint

    import json as _json
    import os as _os

    def _entry_from_store(store_dir, bloom, fps, thr):
        docs = _t(spark, sf_dir, "documents")
        entry = {"bloom": bloom, "fps": fps, "thr": thr}
        # exact facet shape: the FULL batch probe (not a limit(50) toy
        # — see _serving_handle's C2 note)
        warmup = lambda: DD.incremental_dedup_bloom(  # noqa: E731
            docs.filter(F.col("doc_id") >= thr),
            docs.filter(F.col("doc_id") < thr),
            m_bits=1 << 20,
            k=5,
            bloom_df=bloom,
            history_fp_df=fps,
        )
        return entry, warmup

    def build(store_dir):
        docs = _t(spark, sf_dir, "documents")
        thr = _doc_split_thr(spark, sf_dir)
        hist = docs.filter(F.col("doc_id") < thr)
        bloom = _stored_table(
            spark, store_dir, "bloom",
            DD.fingerprint_bloom(hist, "text", m_bits=1 << 20, k=5),
        )
        fps = _stored_table(
            spark, store_dir, "fps",
            hist.select(fingerprint("text").alias("__fp")).distinct(),
        )
        # the split threshold is PART of the stored state: the bloom
        # bitset and fp table only cover doc_id < thr-at-build-time.
        # Re-deriving thr from the live corpus on re-open would
        # silently desynchronize on a grown corpus — docs in
        # [thr_build, thr_new) would be treated as covered history the
        # bitset never saw, i.e. silent under-dedup.
        with open(_os.path.join(store_dir, "thr.json"), "w") as f:
            _json.dump({"thr": thr}, f)
        return _entry_from_store(store_dir, bloom, fps, thr)

    def open_existing(store_dir):
        bloom = _served_table(spark, store_dir, "bloom")
        fps = _served_table(spark, store_dir, "fps")
        with open(_os.path.join(store_dir, "thr.json")) as f:
            thr = _json.load(f)["thr"]
        return _entry_from_store(store_dir, bloom, fps, thr)

    return _serving_handle(
        spark, "fp_bloom", sf_dir, build,
        store=store, open_existing=open_existing,
    )


@_q("doc_incremental_dedup_bloom_persisted", _INCR_DEDUP_SQL)
def doc_incremental_dedup_bloom_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The amortized rolling-corpus shape of the Bloom dedup (same
    oracle again — persisted state must answer identically to the
    inline rebuild, and that identity IS the state-consistency check):
    the history's Bloom bitset and distinct-fingerprint table are
    built once, versioned-store-backed and memory-cached
    (_bloom_handle_for); each batch then costs one batch scan, one
    bitset broadcast, and candidate-sized exact verification against
    the cached fingerprint table. History text is never re-read per
    batch — the per-batch cost is independent of history size."""
    docs = _t(spark, sf_dir, "documents")
    h = _bloom_handle_for(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") >= h["thr"])
    return DD.incremental_dedup_bloom(
        batch,
        docs.filter(F.col("doc_id") < h["thr"]),  # unused when state given
        "text",
        "doc_id",
        m_bits=1 << 20,
        k=5,
        bloom_df=h["bloom"],
        history_fp_df=h["fps"],
    ).select("doc_id", "source")


_CONTEXT_WINDOWS_SQL = r"""
    WITH tl AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents),
    w AS (
      SELECT doc_id,
             (s - 1) // 8 AS win_idx,
             least(s + 15, len(ts)) - s + 1 AS n_tokens,
             array_to_string(list_slice(ts, s, least(s + 15, len(ts))), ' ')
               AS win_text
      FROM tl, UNNEST(generate_series(1, len(ts), 8)) AS g(s)
      WHERE len(ts) > 0)
    SELECT doc_id, win_idx, CAST(n_tokens AS BIGINT) AS n_tokens,
           md5(win_text) AS win_md5
    FROM w
    """


@_q("doc_context_windows", _CONTEXT_WINDOWS_SQL)
def doc_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style context windowing (chunking.context_windows): every
    document sliced into overlapping 16-token windows at stride 8 via
    a Spark 4 Python UDTF (Arrow-batched table function + LATERAL
    join) — the idiomatic one-row-to-many fan-out surface. Windows are
    content-checked by md5 so the oracle verifies exact token
    boundaries, not just counts."""
    docs = _t(spark, sf_dir, "documents")
    wins = CH.context_windows(docs, "doc_id", "text", window=16, stride=8)
    return wins.select(
        "doc_id",
        "win_idx",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("win_text").alias("win_md5"),
    )


_VARIANT_PROPS_SQL = """
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(CAST(props->>'$.k' AS BIGINT))::BIGINT AS sum_k,
           max(CAST(props->>'$.k' AS BIGINT))::BIGINT AS max_k
    FROM events GROUP BY event_type
    """


@_q("events_variant_props", _VARIANT_PROPS_SQL)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    JSON props column is parsed ONCE into the binary variant encoding
    (``parse_json``) and fields are extracted with typed
    ``variant_get`` — the scale path for repeated multi-field access,
    vs per-field ``get_json_object`` string re-parsing
    (events_json_props keeps that classic path for contrast)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


_BIGRAM_LOGPROB_SQL = r"""
    WITH tl AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '') AS ts
      FROM documents),
    bg AS (
      SELECT doc_id, source, ts[i] AS w1, ts[i + 1] AS w2
      FROM tl, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
      WHERE len(ts) >= 2),
    c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1w FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vsz
          FROM (SELECT unnest(ts) AS tok FROM tl)),
    per_doc AS (
      SELECT bg.doc_id, bg.source,
             avg(ln(c2.c12 + 0.5)
                 - ln(c1.c1w + 0.5 * (SELECT vsz FROM v))) AS lp
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY bg.doc_id, bg.source)
    SELECT source, count(*)::BIGINT AS n_docs,
           round(avg(lp), 6) AS avg_logprob,
           round(min(lp), 6) AS min_logprob,
           round(max(lp), 6) AS max_logprob
    FROM per_doc GROUP BY source
    """


@_q("doc_bigram_logprob", _BIGRAM_LOGPROB_SQL)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filter (quality.bigram_logprob): mean
    log p(w_i | w_{i-1}) per doc under the corpus's add-0.5-smoothed
    bigram model — the KenLM/CCNet-style quality gate — rolled up per
    source. Bigrams come from zipping each token array with its own
    tail, so there is no positional self-join; the bigram count table
    is the only corpus-proportional shuffle."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = QL.bigram_logprob(docs, "doc_id", "text", keep_cols=("source",))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("mean_logprob"), 6).alias("avg_logprob"),
        F.round(F.min("mean_logprob"), 6).alias("min_logprob"),
        F.round(F.max("mean_logprob"), 6).alias("max_logprob"),
    )


def _sig_estimate_sql() -> str:
    """DuckDB twin of the SIGNATURE-ESTIMATED near-dedup:
    replays the ENTIRE MinHash pipeline in SQL — byte shingles as
    base-257 polynomials (grams < 257^5 < 2^49, so plain BIGINT), the
    seeded multiply-add permutation family with the 64 (a, b)
    constants INLINED as literals (a < 2^63, so a*gram < 2^112 fits
    HUGEINT; mod 2^64 exact), per-component min, and the
    matching-component-fraction estimate. This makes the estimator's
    output hash-checkable end-to-end, not just property-tested: the
    oracle computes ALL batch-vs-history + within-batch pairs at the
    threshold, so any pair LSH banding ever dropped (or invented)
    would hash-mismatch. Spark's xxhash64 bucket ids never need
    replicating — bucket equality only gates CANDIDATES, and the
    frozen fixtures' est>=0.6 pairs are all banding-captured
    (verified at sf0.001 and sf0.01; deterministic thereafter)."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = (rng.integers(1, 2**62, size=64, dtype=np.uint64) << 1) | 1
    b = rng.integers(0, 2**62, size=64, dtype=np.uint64)
    m = "18446744073709551616::HUGEINT"  # 2^64
    # vectorized form: unnest grams to rows and compute the 64
    # per-component mins as AGGREGATE columns — DuckDB's columnar
    # engine does the 64 x n_grams HUGEINT multiply-mods vectorized,
    # 12x faster than per-row list lambdas (131 -> 11 s at sf0.01)
    mins = ",\n             ".join(
        f"CAST(min((CAST({int(a[k])} AS HUGEINT) * gg + {int(b[k])})"
        f" % {m}) AS UBIGINT) AS s{k + 1}"
        for k in range(64)
    )
    sig_list = "[" + ", ".join(f"s{k + 1}" for k in range(64)) + "]"
    # est >= 0.6 <=> nmatch/64 >= 0.6 <=> nmatch >= 39 (38/64=0.59375
    # and 39/64=0.609375 — no 6-dp rounding boundary between them)
    return f"""
    WITH g AS (
      SELECT doc_id,
        CASE
          WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
          WHEN length(text) < 5 THEN [CAST(list_sum(
            list_transform(generate_series(1, length(text)),
              i -> CAST(ascii(text[i]) AS BIGINT)
                   * (257 ** (length(text) - i))::BIGINT)) AS BIGINT)]
          ELSE list_distinct(
            list_transform(generate_series(1, length(text) - 4),
              i -> CAST(ascii(text[i]) AS BIGINT) * 4362470401::BIGINT
                 + CAST(ascii(text[i+1]) AS BIGINT) * 16974593::BIGINT
                 + CAST(ascii(text[i+2]) AS BIGINT) * 66049::BIGINT
                 + CAST(ascii(text[i+3]) AS BIGINT) * 257::BIGINT
                 + CAST(ascii(text[i+4]) AS BIGINT)))
        END AS grams
      FROM documents
    ), u AS (
      SELECT doc_id, unnest(grams) AS gg FROM g
    ), s0 AS (
      SELECT doc_id, {mins}
      FROM u GROUP BY doc_id
    ), s AS (
      SELECT doc_id, {sig_list} AS sig FROM s0
    ), p AS (
      SELECT a.doc_id AS id_new, b.doc_id AS id_match,
             len(list_filter(generate_series(1, 64),
                 k -> a.sig[k] = b.sig[k])) AS nmatch
      FROM s a JOIN s b
        ON a.doc_id % 5 = 4
       AND (b.doc_id % 5 <> 4 OR b.doc_id < a.doc_id)
       AND a.doc_id <> b.doc_id
    )
    SELECT id_new, id_match, round(nmatch / 64.0, 6) AS est_sim
    FROM p WHERE nmatch >= 39
    """


@_q("doc_near_dup_signature_estimate", _sig_estimate_sql())
def doc_near_dup_signature_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signature-estimated incremental near-dedup, hash-checked: the
    grams-free serving mode (extensions/dedup.py ``verify="signature"``
    over a ``keep_grams=False`` index — SCALE_NOTES.md: 11x smaller
    store, 2-3.8x faster per-batch verify) run as a driver-visible
    facet against an EXACT DuckDB replay of the whole MinHash pipeline
    (byte shingles -> inlined seeded permutation family -> component
    mins -> matching-fraction estimate). Batch = doc_id %% 5 == 4,
    history = the rest, threshold 0.6 — the incremental family's
    split."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    # lazy localCheckpoint ("don't compute things twice"): the index feeds TWO plan branches (banding + verify
    # signatures) — without it each branch re-signed the whole hist
    # side; the sibling incremental facets already checkpoint here, and
    # the real workflow reads a persisted signature table instead
    slim = DD.build_minhash_index(
        hist, "doc_id", "text", keep_grams=False
    ).localCheckpoint(eager=False)
    pairs = DD.near_dup_pairs_against_index(
        new, slim, "doc_id", "text", threshold=0.6, verify="signature"
    )
    return pairs.select(
        "id_new", "id_match", F.col("jaccard_sim").alias("est_sim")
    )


_INCR_NEAR_DEDUP_SQL = f"""
    WITH {_jaccard_pairs_cte(
        "a.doc_id % 5 = 4 AND (b.doc_id % 5 <> 4 OR b.doc_id < a.doc_id)")}
    SELECT id_a AS id_new, id_b AS id_match, jac AS jaccard_sim FROM p
    """


@_q("doc_incremental_near_dedup", _INCR_NEAR_DEDUP_SQL)
def doc_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup against a persisted MinHash index
    (dedup.build_minhash_index + near_dup_pairs_against_index): docs
    with doc_id % 5 == 4 play today's crawl batch, the rest the
    already-indexed corpus. Only the batch is shingled/signed; the
    index side contributes stored signatures to the banding and stored
    shingle arrays to verification — at 100 TB the index is a
    signature table maintained across runs (plans/versioned), never a
    corpus rescan. Oracle = exact all-pairs Jaccard restricted to
    pairs whose left side is a batch doc (the same recall-1 argument
    as doc_minhash_near_dups: every true pair sits far above the
    banding knee at the fixture similarity profile)."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    # lazy localCheckpoint: the index frame feeds three plan branches
    # (banding + both verify sides); in the real workflow it is a
    # parquet scan of the persisted signature table, so the checkpoint
    # stands in for that materialization
    idx = DD.build_minhash_index(hist, "doc_id", "text").localCheckpoint(
        eager=False
    )
    pairs = DD.near_dup_pairs_against_index(
        new, idx, "doc_id", "text", threshold=0.6
    )
    return pairs.select(
        "id_new", "id_match", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


def _minhash_index_for(
    spark: SparkSession, sf_dir: str, store: str | None = None
):
    """MinHash signature index of the historical corpus (doc_id % 5
    != 4) under the :func:`_serving_handle` contract — the near-dedup
    analog of _bloom_handle_for. The BAND table too:
    re-banding the index per batch is an index-length explode per
    call — precompute it at build time like a real rolling pipeline
    stores banded postings. A caller-supplied ``store`` holding a
    completed build RE-OPENS both tables without re-reading history
    text (the cross-process serving path)."""

    def _entry_from_store(store_dir, idx, bands):
        docs = _t(spark, sf_dir, "documents")
        entry = {"idx": idx, "bands": bands}
        # exact facet shape: the FULL 20%-corpus batch probe (not a
        # limit(20) toy — see _serving_handle's C2 note)
        warmup = lambda: DD.near_dup_pairs_against_index(  # noqa: E731
            docs.filter(F.col("doc_id") % 5 == 4),
            idx,
            "doc_id",
            "text",
            threshold=0.6,
            index_bands_df=bands,
        )
        return entry, warmup

    def build(store_dir):
        docs = _t(spark, sf_dir, "documents")
        hist = docs.filter(F.col("doc_id") % 5 != 4)
        idx = _stored_table(
            spark, store_dir, "sigs",
            DD.build_minhash_index(hist, "doc_id", "text"),
        )
        bands = _stored_table(
            spark, store_dir, "bands",
            DD.build_minhash_band_index(idx, "doc_id"),
        )
        return _entry_from_store(store_dir, idx, bands)

    def open_existing(store_dir):
        idx = _served_table(spark, store_dir, "sigs")
        bands = _served_table(spark, store_dir, "bands")
        return _entry_from_store(store_dir, idx, bands)

    return _serving_handle(
        spark, "minhash_idx", sf_dir, build,
        store=store, open_existing=open_existing,
    )


@_q("doc_incremental_near_dedup_persisted", _INCR_NEAR_DEDUP_SQL)
def doc_incremental_near_dedup_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The amortized rolling-crawl shape of the MinHash near-dedup
    (same oracle as doc_incremental_near_dedup — the persisted index
    must answer identically to the inline rebuild, and that identity
    IS the index-consistency check): the history's signature index is
    built once, versioned-store-backed and memory-cached
    (_minhash_index_for), ALONG WITH its band table
    (build_minhash_band_index) so not even the index-side banding
    explode reruns per batch; each batch then pays only its own
    shingle/signature cost plus the band join and colliding-grams
    verify. History TEXT is never re-read per batch — the benched
    row measures the per-crawl marginal cost, while the inline sibling
    keeps paying the 80%-corpus index rebuild for oracle
    self-containment."""
    docs = _t(spark, sf_dir, "documents")
    h = _minhash_index_for(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    pairs = DD.near_dup_pairs_against_index(
        new, h["idx"], "doc_id", "text", threshold=0.6,
        index_bands_df=h["bands"],
    )
    return pairs.select(
        "id_new", "id_match", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


def _profile_sql() -> str:
    """DuckDB twin of orders_profile: one UNION ALL leg per column,
    same numeric-vs-string min/max typing rules as profile_table."""
    cols = [
        ("o_orderkey", "bigint", True),
        ("o_custkey", "bigint", True),
        ("o_orderstatus", "string", False),
        ("o_totalprice", "double", True),
        ("o_orderdate", "timestamp_ntz", False),
        ("o_orderpriority", "string", False),
    ]
    legs = []
    for c, dt, is_num in cols:
        if is_num:
            mn = f"round(CAST(min({c}) AS DOUBLE), 6)"
            mx = f"round(CAST(max({c}) AS DOUBLE), 6)"
            mns = "CAST(NULL AS VARCHAR)"
            mxs = "CAST(NULL AS VARCHAR)"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            mns = f"CAST(min({c}) AS VARCHAR)"
            mxs = f"CAST(max({c}) AS VARCHAR)"
        legs.append(
            f"SELECT '{c}' AS \"column\", '{dt}' AS dtype, "
            f"count(*)::BIGINT AS n_rows, "
            f"(count(*) - count({c}))::BIGINT AS n_null, "
            f"count(DISTINCT {c})::BIGINT AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{mns} AS min_str, {mxs} AS max_str FROM orders"
        )
    return " UNION ALL ".join(legs)


@_q("orders_profile", _profile_sql())
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audited table profile (validation.profile_table): per-column
    row count, null count, EXACT distinct count and typed min/max in
    one aggregate pass — the warehouse ANALYZE / column-statistics
    surface (A21-adjacent), deterministic so the whole profile
    hash-matches the DuckDB twin."""
    from fugue_warehouses_spark.operators.validation import profile_table

    return profile_table(_t(spark, sf_dir, "orders"))


_WDS_EXPORT_SQL = """
    SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 8)::INT
             AS shard,
           count(*) AS n_members,
           CAST(coalesce(sum(strlen(text)), 0) AS BIGINT) AS total_bytes,
           (sum(('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::UBIGINT)
            % 2147483647)::BIGINT AS id_checksum
    FROM documents
    GROUP BY 1
    """

_WDS_DIRS: dict = {}


def _wds_dir(sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    d = _WDS_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="wf_wds_shards_")
        _WDS_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@_q("doc_webdataset_export", _WDS_EXPORT_SQL)
def doc_webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style corpus export (layout.export_tar_shards): the
    documents land as 8 byte-reproducible tar shards (hash-mod
    membership, id-ordered members, zeroed tar metadata) — the
    sequential-read artifact a training dataloader streams. The
    export dir here is a driver-local temp path (the bench rig is
    local-mode); on a multi-node cluster pass shared storage, since
    each shard is written by whichever executor runs its task. The
    returned manifest's accounting columns (counts, byte totals,
    id checksums) are pure functions of the data, verified against the
    DuckDB twin; tar_md5 certifies the on-disk bytes and is asserted
    reproducible in tests/test_layout.py."""
    docs = _t(spark, sf_dir, "documents")
    out = LY.export_tar_shards(
        docs, _wds_dir(sf_dir), "doc_id", "text", n_shards=8
    )
    return out.select("shard", "n_members", "total_bytes", "id_checksum")


_EXPORT_MANIFEST_SQL = """
    SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 8)::INT
             AS shard,
           count(*) AS n_rows,
           (sum(('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::UBIGINT)
            % 2147483647)::BIGINT AS id_checksum
    FROM documents
    GROUP BY 1
    """


@_q("doc_export_manifest", _EXPORT_MANIFEST_SQL)
def doc_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard manifest (layout.shard_assignment +
    shard_manifest): the per-shard (row count, order-independent id
    checksum) accounting a training dataloader uses to consume and
    audit an export. Shard = md5-mod of the id — a pure function of
    the data, identical on any engine and any partitioning; the actual
    partitioned write (layout.export_shards) is pytest-verified
    against this manifest."""
    docs = _t(spark, sf_dir, "documents")
    return LY.shard_manifest(
        LY.shard_assignment(docs, "doc_id", 8), "doc_id"
    )


_TOKEN_BALANCED_SHARDS_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS})::BIGINT AS ntok,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT AS draw
      FROM documents),
    c AS (
      SELECT doc_id, ntok,
             sum(ntok) OVER (ORDER BY draw, doc_id) AS cum
      FROM t),
    tot AS (SELECT sum(ntok)::BIGINT AS tt FROM t)
    SELECT least(7, ((c.cum - c.ntok) * 8) // tot.tt)::INT AS shard,
           count(*)::BIGINT AS n_docs,
           sum(c.ntok)::BIGINT AS shard_tokens,
           (sum(('0x' || substr(md5(c.doc_id::VARCHAR), 9, 8))::UBIGINT)
            % 2147483647)::BIGINT AS id_checksum
    FROM c, tot GROUP BY 1
    """


@_q("doc_token_balanced_shards", _TOKEN_BALANCED_SHARDS_SQL)
def doc_token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-balanced shard plan (layout.token_balanced_shards):
    unlike doc_export_manifest's hash-mod shards (equal ROWS), shards
    here are contiguous cuts of the deterministic md5-draw order with
    ~equal total TOKENS — the plan that keeps every data-parallel
    training consumer equally busy under heavy-tailed document
    lengths. Prefix sums via the distributed global-cumsum operator
    (range exchange + O(#partitions) offsets — never a partition-less
    window at this shape's 100 TB scale; the oracle's plain OVER
    (ORDER BY) is the semantics, not the plan). Integer arithmetic
    end-to-end, so shard boundaries hash-check cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    from fugue_warehouses_spark.plans.scanout import fan_out_scan

    # lazy localCheckpoint: the regex-heavy
    # token_count projection feeds the cumsum pipeline's sampling
    # pass, range shuffle and total aggregate — materialize the
    # ~16 B/row (id, ntok) frame once instead of re-splitting every
    # document per pass (same fix as doc_quality_token_budget).
    # Fanned out: the single-row-group scan serialized the split on
    # one core.
    weighted = fan_out_scan(docs, "doc_id").select(
        "doc_id", TX.token_count("text").alias("__ntok")
    ).localCheckpoint(eager=False)
    planned = LY.token_balanced_shards(weighted, "doc_id", "__ntok", 8)
    # one aggregate over the plan (shard_manifest's checksum inline, so
    # the cumsum pipeline runs once, not once per output column family)
    chk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    return planned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__ntok").cast("long")).alias("shard_tokens"),
        (F.sum(chk) % F.lit((1 << 31) - 1)).alias("id_checksum"),
    )


@_q("orders_approx_distinct")  # no oracle: HLL++ estimate, engine-specific
def orders_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (§2.C APPROX_COUNT_DISTINCT analog).
    Estimate quality vs the exact count is pytest-asserted (<2% rsd)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custkeys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@_q(
    "events_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
           CAST(datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT)
             AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (first-seen day x activity-day offset):
    the standard product-analytics rollup. The first-seen aggregate
    and the events-side join share the user_id hash partitioning, so
    the fact shuffles once; the distinct-user count shuffles the
    already-collapsed (cohort, offset, user) frame."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


@_q(
    "events_funnel_stages",
    """
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS s_ts
      FROM events
    ), s2 AS (
      SELECT user_id, event_type, ts, s_ts,
             min(CASE WHEN event_type = 'view' AND ts > s_ts THEN ts END)
               OVER (PARTITION BY user_id) AS v_ts
      FROM s1
    ), s3 AS (
      SELECT user_id, s_ts, v_ts,
             min(CASE WHEN event_type = 'purchase' AND ts > v_ts THEN ts END)
               OVER (PARTITION BY user_id) AS p_ts
      FROM s2
    ), per_user AS (
      SELECT user_id, max(s_ts) AS s_ts, max(v_ts) AS v_ts, max(p_ts) AS p_ts
      FROM s3 GROUP BY user_id
    )
    SELECT CASE WHEN p_ts IS NOT NULL THEN 3
                WHEN v_ts IS NOT NULL THEN 2
                WHEN s_ts IS NOT NULL THEN 1
                ELSE 0 END AS stage,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY stage
    """,
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (signup -> later view -> later purchase):
    the sequential-pattern query behind conversion metrics. Three
    chained window passes over the SAME user partitioning — Catalyst
    plans one hash shuffle on user_id and reuses it for all three
    windows and the final per-user collapse; nothing re-shuffles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    s1 = ev.withColumn("s_ts", F.min(F.when(et == "signup", ts)).over(w))
    s2 = s1.withColumn(
        "v_ts", F.min(F.when((et == "view") & (ts > F.col("s_ts")), ts)).over(w)
    )
    s3 = s2.withColumn(
        "p_ts",
        F.min(F.when((et == "purchase") & (ts > F.col("v_ts")), ts)).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("s_ts").alias("s_ts"),
        F.max("v_ts").alias("v_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    stage = (
        F.when(F.col("p_ts").isNotNull(), 3)
        .when(F.col("v_ts").isNotNull(), 2)
        .when(F.col("s_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.groupBy(stage.alias("stage")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


@_q(
    "doc_pack_sequences",
    f"""
    WITH t AS (
      SELECT source, doc_id, len({_TOKS}) AS ntok FROM documents
    ), c AS (
      SELECT source, doc_id, ntok,
             coalesce(sum(ntok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tok_offset
      FROM t
    )
    SELECT source, CAST(floor(tok_offset / 512.0) AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS seq_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM c GROUP BY source, seq_id
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (extensions/packing.py): lay
    each source's documents on a token tape, cut 512-token sequences,
    report per-sequence document counts. One shuffle on the shard key
    (source) + in-partition sort — the layout step of a pretraining
    dataloader."""
    from fugue_warehouses_spark.extensions.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", TX.token_count("text").alias("ntok")
    )
    packed = pack_sequences(
        docs, order_col="doc_id", token_count_col="ntok",
        seq_len=512, partition_cols=["source"],
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("seq_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@_q(
    "doc_stratified_sample",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) ranked
    WHERE rk <= 20
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (extensions/sampling.py): 20
    docs per language chosen by ascending md5(key) — a seedless,
    partition-layout-independent uniform draw that DuckDB reproduces
    bit-for-bit (engine.sample's seeded Sample node cannot; it is
    layout-dependent, hence the separate rows-only query)."""
    from fugue_warehouses_spark.extensions.sampling import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    return stratified_sample_exact(docs, ["lang"], 20, "doc_id")


@_q(
    "doc_bigram_lift",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ),
    uni AS (SELECT unnest(ts) AS w FROM toks),
    uni_counts AS (SELECT w, count(*) AS nw FROM uni GROUP BY w),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
             i -> ts[i] || ' ' || ts[i+1])) AS bg
      FROM toks WHERE len(ts) >= 2
    ),
    bi_counts AS (SELECT bg, count(*) AS nb FROM bi GROUP BY bg),
    tot AS (SELECT (SELECT count(*) FROM uni) AS t_uni,
                   (SELECT count(*) FROM bi) AS t_bi)
    SELECT bg AS bigram, CAST(nb AS BIGINT) AS n_pair,
           round(CAST(nb AS DOUBLE) * t_uni * t_uni
                 / (CAST(t_bi AS DOUBLE) * a.nw * c.nw), 6) AS lift
    FROM bi_counts, tot
    JOIN uni_counts a ON a.w = split_part(bg, ' ', 1)
    JOIN uni_counts c ON c.w = split_part(bg, ' ', 2)
    WHERE nb >= 5
    ORDER BY lift DESC, bigram ASC LIMIT 20
    """,
)
def doc_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigram lift (the PMI ratio without the log
    — all-integer cross-multiplication, so the score is exact and
    cross-engine deterministic where log() rounding is not). Unigram
    counts broadcast into the bigram aggregate; top-k has a total
    order on the rounded score."""
    docs = _t(spark, sf_dir, "documents")
    ts = TX.tokens(F.lower(F.col("text")))
    toks = docs.select(ts.alias("ts"))
    uni = toks.select(F.explode("ts").alias("w"))
    # totals as BROADCAST 1-row aggregates over the count frames (the
    # count exchanges are shared via ReuseExchange, so the corpus is
    # still tokenized once): a partition-less WINDOW here would move
    # the whole VOCABULARY through one task — bounded on these
    # fixtures, a 10^8-row single partition on a real corpus — whereas
    # a scalar agg is a partial-sum tree
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("nw"))
    uni_counts = uni_counts.crossJoin(
        F.broadcast(uni_counts.agg(F.sum("nw").alias("t_uni")))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda i: F.struct(
            F.element_at("ts", i).alias("w1"),
            F.element_at("ts", i + 1).alias("w2"),
        ),
    )
    bi = (
        toks.filter(F.size("ts") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bi_counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nb"))
    bi_counts = bi_counts.crossJoin(
        F.broadcast(bi_counts.agg(F.sum("nb").alias("t_bi")))
    )
    a = uni_counts.select(
        F.col("w").alias("_wa"), F.col("nw").alias("_nwa"), "t_uni"
    )
    c = uni_counts.select(F.col("w").alias("_wc"), F.col("nw").alias("_nwc"))
    lift = F.round(
        F.col("nb").cast("double") * F.col("t_uni") * F.col("t_uni")
        / (F.col("t_bi").cast("double") * F.col("_nwa") * F.col("_nwc")),
        6,
    )
    return (
        bi_counts.filter(F.col("nb") >= 5)
        .join(F.broadcast(a), F.col("w1") == F.col("_wa"))
        .join(F.broadcast(c), F.col("w2") == F.col("_wc"))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("nb").cast("long").alias("n_pair"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("bigram").asc())
        .limit(20)
    )


@_q(
    "doc_domain_mixture",
    """
    WITH drawn AS (
      SELECT lang, doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS draw,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                       WHEN 'zh' THEN 0.25 ELSE 0.1 END AS rate
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM drawn WHERE draw < CAST(floor(rate * 4294967296) AS UBIGINT)
    GROUP BY lang
    """,
)
def doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted corpus mixing (extensions/sampling.py): keep
    50% of en, all of de, 25% of zh, 10% of everything else — by
    md5-hash threshold, so the mixture is a pure function of the data
    (the oracle reproduces the exact row set, asserted via id_sum)."""
    from fugue_warehouses_spark.extensions.sampling import weighted_mixture

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    mixed = weighted_mixture(
        docs, "lang", {"en": 0.5, "de": 1.0, "zh": 0.25}, "doc_id",
        default_rate=0.1,
    )
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@_q(
    "doc_clean_normalize",
    """
    WITH c AS (
      SELECT source,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS cleaned
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(cleaned)) AS BIGINT) AS clean_chars,
           CAST(count(DISTINCT md5(cleaned)) AS BIGINT) AS distinct_cleaned
    FROM c GROUP BY source
    """,
)
def doc_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pass (lowercase, whitespace-run collapse,
    trim) + per-source dedup accounting on the NORMALIZED text — the
    canonicalization step that runs before exact dedup in a training
    pipeline. Pure JVM expressions (regexp_replace/md5), zero Python.
    Note DuckDB's regexp_replace needs the 'g' flag; Spark's replaces
    all matches by default."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select("source", cleaned.alias("cleaned"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("cleaned")).cast("long").alias("clean_chars"),
            F.countDistinct(F.md5(F.col("cleaned").cast("binary")))
            .cast("long")
            .alias("distinct_cleaned"),
        )
    )


@_q(
    "doc_contamination",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> t <> '') AS ts
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(ts) - 4),
                    i -> array_to_string(ts[i:i+4], ' '))) AS g
      FROM toks WHERE len(ts) >= 5
    ), probe AS (
      SELECT DISTINCT g FROM grams WHERE source = 'src0'
    ), hits AS (
      SELECT DISTINCT grams.doc_id FROM grams JOIN probe USING (g)
      WHERE grams.source <> 'src0'
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.source <> 'src0'
    GROUP BY d.source
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (extensions/contamination.py): treat
    source 'src0' as the held-out benchmark; flag every other document
    sharing >= 1 word 5-gram with it. Probe gram set broadcasts
    (xxhash64-packed); the corpus side is a narrow explode + broadcast
    semi join — the GPT-3/Pile overlap-filter shape at corpus scale."""
    from fugue_warehouses_spark.extensions.contamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return contamination_report(corpus, probes, group_col="source")


_DECON_SPANS_SQL = r"""
    WITH tl AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         t -> t <> '') AS t,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS tlo
      FROM documents),
    probe AS (
      SELECT DISTINCT array_to_string(tlo[i:i+3], ' ') AS g
      FROM tl, UNNEST(generate_series(1, len(tlo) - 3)) r(i)
      WHERE source = 'src0' AND len(tlo) >= 4),
    corp AS (
      SELECT doc_id, source, t, tlo, len(t) AS n
      FROM tl WHERE source <> 'src0'),
    occ AS (
      SELECT corp.doc_id, r.i::INT AS s,
             array_to_string(corp.tlo[r.i:r.i+3], ' ') AS g
      FROM corp, UNNEST(generate_series(1, corp.n - 3)) r(i)
      WHERE corp.n >= 4),
    hits AS (SELECT occ.doc_id, occ.s FROM occ JOIN probe USING (g)),
    cov AS (
      SELECT doc_id, u.p::INT AS p
      FROM hits, UNNEST(generate_series(hits.s, hits.s + 3)) u(p)
      GROUP BY doc_id, u.p),
    rem AS (
      SELECT doc_id, count(*)::BIGINT AS removed_tokens
      FROM cov GROUP BY doc_id),
    toksp AS (
      SELECT corp.doc_id, r.i::INT AS p, corp.t[r.i] AS tok
      FROM corp, UNNEST(generate_series(1, corp.n)) r(i)),
    surv AS (
      SELECT toksp.doc_id, toksp.p, toksp.tok
      FROM toksp LEFT JOIN cov
        ON toksp.doc_id = cov.doc_id AND toksp.p = cov.p
      WHERE cov.p IS NULL),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
      FROM surv GROUP BY doc_id)
    SELECT corp.doc_id, corp.source,
           corp.n::BIGINT AS n_tokens,
           rem.removed_tokens,
           md5(coalesce(agg.clean_text, '')) AS clean_md5
    FROM corp JOIN rem USING (doc_id)
    LEFT JOIN agg ON corp.doc_id = agg.doc_id
    """


@_q("doc_decontaminate_spans", _DECON_SPANS_SQL)
def doc_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-surgery decontamination
    (extensions/contamination.decontaminate_spans): same probe
    semantics as doc_contamination ('src0' as the held-out benchmark,
    lowercased word n-grams — n=4 here, one notch more aggressive
    than the flagging facet's 5, exercising the overlap-window
    parameter), but instead of FLAGGING contaminated
    documents it removes exactly the covered token positions and
    re-joins the survivors — the policy that keeps a 100 TB corpus's
    documents when only a quoted benchmark item overlaps. Per
    contaminated doc: token counts before/removed and the md5 of the
    cleaned text (the oracle rebuilds the identical string via
    position anti-join + ordered string_agg). Hashed probe broadcast +
    narrow gram posexplode; shuffles are hit-window-sized and
    contaminated-doc-sized only."""
    from fugue_warehouses_spark.extensions.contamination import (
        decontaminate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    out = decontaminate_spans(corpus, probes, n=4, keep_cols=("source",))
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "removed_tokens",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


@_q(
    "customer_balance_upsert",
    """
    WITH upd AS (
      SELECT CASE WHEN o_custkey % 2 = 1 THEN o_custkey + 1000000
                  ELSE o_custkey END AS c_custkey,
             round(sum(o_totalprice) / 1000, 2) AS c_acctbal
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      GROUP BY 1
    ), merged AS (
      SELECT CASE WHEN u.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
                    THEN 'update'
                  WHEN u.c_custkey IS NOT NULL THEN 'insert'
                  ELSE 'keep' END AS action,
             CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                  ELSE c.c_acctbal END AS bal
      FROM customer c FULL JOIN upd u ON c.c_custkey = u.c_custkey
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n, round(sum(bal), 2) AS total_bal
    FROM merged GROUP BY action
    """,
)
def customer_balance_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse MERGE (engine.merge_into): upsert recomputed balances
    into customer — even custkeys update in place, odd ones are
    key-shifted to exercise the INSERT branch. The oracle spells out
    the same semantics as a FULL JOIN. Output is the post-merge action
    census, not the merged table (driver hash needs scalars)."""
    eng = SparkWarehouseEngine(spark)
    cust = _t(spark, sf_dir, "customer")
    upd = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .groupBy(
            F.when(
                F.col("o_custkey") % 2 == 1, F.col("o_custkey") + 1000000
            )
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey")
        )
        .agg(F.round(F.sum("o_totalprice") / 1000, 2).alias("c_acctbal"))
    )
    merged = eng.merge_into(
        cust, upd, on=["c_custkey"], update_cols=["c_acctbal"], action_col="action"
    )
    return merged.native.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@_q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_partkey, p.p_name, s.s_name,
           round(s.s_acctbal, 2) AS s_acctbal, n.n_name
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      AND s.s_acctbal = (
            SELECT min(s2.s_acctbal)
            FROM ps ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
            JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
            JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
            WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated MIN subquery choosing the best
    supplier per part), adapted to the slim schema: the part-supplier
    relation is derived from distinct lineitem pairs and s_acctbal
    stands in for ps_supplycost. The correlated subquery decorrelates
    into a per-part window MIN over the already-filtered candidate
    frame — one shuffle on p_partkey, no second scan of lineitem. The
    equality is on the raw stored double (no arithmetic), so it is
    engine-exact; rounding is display-only."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"))
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    cand = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(sup), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("_mb", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("_mb"))
        .select(
            "p_partkey", "p_name", "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"), "n_name",
        )
    )


@_q(
    "q16_supplier_part_counts",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'MEDIUM'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    bucket with a NOT IN exclusion (negative-balance suppliers stand in
    for the complaints predicate; the part-supplier relation derives
    from distinct lineitem pairs). The exclusion list is tiny and
    broadcast as a LEFT ANTI join; COUNT(DISTINCT) expands to a
    two-phase aggregate Catalyst plans automatically."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@_q(
    "q20_excess_supply_suppliers",
    """
    WITH qty AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                 GROUP BY l_partkey, l_suppkey)
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT qty.l_suppkey FROM qty
        WHERE qty.l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND qty.q > 80)
    """,
)
def q20_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries (suppliers who moved >80
    units of any red part in 1996; shipped quantity stands in for the
    missing ps_availqty). Both INs become LEFT SEMI joins: red parts
    broadcast into the year-filtered per-(part,supplier) aggregate,
    whose surviving supplier keys semi-filter the supplier dim. The
    quantity cut is exact (integer-valued doubles)."""
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    qty = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 80)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(qty, s.s_suppkey == qty.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


# ---------------------------------------------------------------------
# Mergeable sketches (extensions/sketches.py): approximate answers whose
# registers derive from md5, so even the APPROXIMATIONS hash-match the
# oracle — unlike engine-native HLL++ (orders_approx_distinct above,
# which stays rows-only-checked by design).
# ---------------------------------------------------------------------


@_q("orders_kmv_distinct", SK.kmv_sql("orders", "o_custkey", k=256))
def orders_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-customer estimate over orders.

    One distributed top-k over a 60-bit md5 hash — the sketch is 256
    rows at any input size and union-merges across partitions/days
    without rescan (extensions/sketches.py). Estimate quality is also
    pytest-bounded vs the exact count (test_sketches.py)."""
    orders = _t(spark, sf_dir, "orders")
    return SK.kmv_distinct(orders, "o_custkey", k=256)


@_q(
    "events_cms_user_counts",
    SK.cms_sql("events", "user_id", "user_id < 20", depth=4, width=256),
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch event counts for users 0..19.

    The sketch is a depth*width counter grid built with one map-side-
    combined groupBy (shuffle volume bounded by sketch size, not data);
    probes join the broadcast sketch and take the min counter. CMS
    never undercounts; the overcount bound is pytest-asserted
    (test_sketches.py)."""
    events = _t(spark, sf_dir, "events")
    sketch = SK.cms_sketch(events, "user_id", depth=4, width=256)
    keys = events.filter(F.col("user_id") < 20)
    return SK.cms_estimate(sketch, keys, "user_id", depth=4, width=256)


@_q("doc_cdc_dedup", CH.cdc_sql(window=8, divisor=64, group_col="source"))
def doc_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup accounting per
    source (extensions/chunking.py): documents split where a windowed
    rolling hash hits a sentinel, so shared passages chunk identically
    at any offset; the per-source gap total_chunk_chars -
    distinct_chunk_chars is exactly the volume chunk-level dedup
    removes. Chunking is per-row (no shuffle); the accounting shuffles
    (source, chunk-hash) pairs with map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    chunks = CH.cdc_chunks(
        docs, "doc_id", "text", window=8, divisor=64, keep_cols=("source",)
    )
    return CH.cdc_dedup_stats(chunks, "source")


# =====================================================================
# Time-series regularization (hypertable-style gapfill + LOCF)
# =====================================================================


_GAPFILL_SQL = """
    WITH b AS (
      SELECT user_id, epoch_us(ts) // 300000000 AS bucket_5m,
             count(*) AS n, sum(value) AS sv
      FROM events WHERE user_id < 8 GROUP BY 1, 2),
    ext AS (
      SELECT user_id, min(bucket_5m) AS lo, max(bucket_5m) AS hi
      FROM b GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_5m FROM ext),
    j AS (
      SELECT g.user_id, g.bucket_5m,
             coalesce(b.n, 0)::BIGINT AS n_events, b.sv
      FROM grid g LEFT JOIN b
        ON g.user_id = b.user_id AND g.bucket_5m = b.bucket_5m)
    SELECT user_id, bucket_5m, n_events,
           round(last_value(sv IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_5m
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS locf_sum
    FROM j
    """


@_q("events_gapfill_5m", _GAPFILL_SQL)
def events_gapfill_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style ``time_bucket_gapfill`` + ``locf()`` as a
    composition of built-in ops (operators/timeseries.py): bucket
    aggregate -> per-key sequence/explode grid -> left join ->
    ignore-nulls window. The grid is generated from *aggregated*
    extents, so shuffled volume is bucket counts, not raw events —
    the property that keeps this viable on a 100 TB event stream."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    out = TSO.gapfill_locf(
        ev, "user_id", "ts", "value", 300_000_000, bucket_name="bucket_5m"
    )
    return out.select(
        "user_id",
        "bucket_5m",
        "n_events",
        F.round("locf_sum", 6).alias("locf_sum"),
    )


# =====================================================================
# Corpus quality: repetition filtering + PII redaction (extensions/quality.py)
# =====================================================================


_REPETITION_SQL = r"""
    WITH toks AS (
      SELECT d.doc_id, d.source,
             unnest(string_split_regex(trim(d.text), '\s+')) AS tok
      FROM documents d),
    cnt AS (
      SELECT doc_id, source, tok, count(*) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2, 3),
    per AS (
      SELECT doc_id, source, sum(c)::BIGINT AS n_tokens,
             count(*)::BIGINT AS n_distinct, max(c)::BIGINT AS top_c
      FROM cnt GROUP BY 1, 2),
    m AS (
      SELECT source,
             1.0 - n_distinct / n_tokens AS dup_frac,
             top_c / n_tokens AS top_frac
      FROM per)
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN dup_frac > 0.6 OR top_frac > 0.125
                    THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
           round(avg(dup_frac), 6) AS avg_dup_frac,
           round(avg(top_frac), 6) AS avg_top_frac
    FROM m GROUP BY source
    """


@_q("doc_repetition_filter", _REPETITION_SQL)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (extensions/quality.py): duplicate-
    token fraction and top-token dominance per doc, flagged against the
    classic thresholds, rolled up per source. Wordcount-shaped plan —
    partial aggregation keeps the (doc, token) shuffle bounded by
    distinct pairs; cross-engine exact because every metric is a ratio
    of integer counts (IEEE division is deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    m = QL.repetition_metrics(docs, "doc_id", "text", keep_cols=("source",))
    flags = QL.repetition_flags(m, max_dup_frac=0.6, max_top_frac=0.125)
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
        F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
        F.round(F.avg("top_frac"), 6).alias("avg_top_frac"),
    )


_PII_SQL = r"""
    WITH p AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 3 <> 0
                THEN ' contact u' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END AS payload
      FROM documents),
    r AS (
      SELECT source, payload,
             len(regexp_extract_all(payload,
                 '@EMAIL_RE@'))::BIGINT AS n_emails,
             len(regexp_extract_all(payload,
                 '@PHONE_RE@'))::BIGINT AS n_phones,
             regexp_replace(regexp_replace(payload,
                 '@EMAIL_RE@', '<EMAIL>', 'g'),
                 '@PHONE_RE@', '<PHONE>', 'g') AS red
      FROM p)
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_emails)::BIGINT AS emails_redacted,
           sum(n_phones)::BIGINT AS phones_redacted,
           sum(length(red))::BIGINT AS redacted_chars,
           sum(length(payload) - length(red))::BIGINT AS chars_removed
    FROM r GROUP BY source
    """.replace("@EMAIL_RE@", QL.EMAIL_RE).replace("@PHONE_RE@", QL.PHONE_RE)


@_q("doc_pii_redaction", _PII_SQL)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (extensions/quality.py) over payloads fabricated
    with deterministic synthetic emails/phones (the fixture corpus has
    none). Entirely codegen'd regexp_count/regexp_replace — zero
    Python, zero shuffle before the final per-source rollup. Patterns
    live in the RE2 ∩ java.util.regex common dialect so DuckDB runs
    the identical bytes."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    red = QL.redact_pii(
        docs.select("source", payload.alias("payload")), "payload", out_col="red"
    )
    return red.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_emails").alias("emails_redacted"),
        F.sum("n_phones").alias("phones_redacted"),
        F.sum(F.length("red")).alias("redacted_chars"),
        F.sum(F.length("payload") - F.length("red")).alias("chars_removed"),
    )


# =====================================================================
# Embedding clustering: Lloyd k-means + SemDeDup (extensions/clustering.py)
# =====================================================================


_KMEANS_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
      FROM e ORDER BY vec_id LIMIT 8),
    a1 AS (
      SELECT vec_id, v, cidx FROM (
        SELECT e.vec_id, e.v, i.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, i.cv), 6) DESC,
                          i.cidx ASC) AS rn
        FROM e, init i) WHERE rn = 1),
    u AS (
      SELECT cidx, ord, avg(val) AS m FROM (
        SELECT cidx, unnest(v) AS val, generate_subscripts(v, 1) AS ord
        FROM a1) GROUP BY 1, 2),
    c1 AS (SELECT cidx, list(m ORDER BY ord) AS cv FROM u GROUP BY 1),
    a2 AS (
      SELECT vec_id, cidx, cos FROM (
        SELECT e.vec_id, c.cidx,
               round(list_cosine_similarity(e.v, c.cv), 6) AS cos,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cidx ASC) AS rn
        FROM e, c1 c) WHERE rn = 1)
    SELECT cidx AS cluster_id, count(*)::BIGINT AS n_members,
           round(avg(cos), 4) AS avg_cos
    FROM a2 GROUP BY 1
    """


@_q("embedding_kmeans", _KMEANS_SQL)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means, 2 assignment passes, deterministic smallest-id
    init (extensions/clustering.py) — so unlike sampled k-means the
    whole trajectory is engine-reproducible and the DuckDB twin unrolls
    the identical iteration in SQL. Assignment is an Arrow matmul pass
    (centroids ride in the closure); the update shuffles k x dim
    partial sums, not the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = CL.kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=2)
    return assigned.groupBy(F.col("cidx").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("cos_sim"), 4).alias("avg_cos"),
    )


_SEMDEDUP_SQL = """
    WITH cent AS (
      SELECT cv, rn - 1 AS cidx FROM (
        SELECT embedding::DOUBLE[] AS cv,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings) WHERE rn <= 32),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    asg AS (
      SELECT vec_id, label, v, cidx FROM (
        SELECT e.vec_id, e.label, e.v, cent.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                          cent.cidx ASC) AS rn
        FROM e, cent) WHERE rn = 1),
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b
        ON a.cidx = b.cidx AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.8)
    SELECT asg.label, count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           sum(CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_dropped
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    GROUP BY asg.label
    """


@_q("embedding_semantic_dedup", _SEMDEDUP_SQL)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (extensions/clustering.py): cluster-bucketed embedding
    near-dup removal — candidate pairs only within a hash-centroid
    bucket, never global all-pairs, the property that holds at 100 TB.
    Deterministic md5-sample centroids + rounded-cosine assignment make
    the approximate result exactly reproducible in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    flagged = CL.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.8, n_centroids=32,
        keep_cols=("label",),
    )
    return flagged.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum((~F.col("is_dup")).cast("long")).alias("n_kept"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
    )


_ROLLUP_CASCADE_SQL = """
    WITH f AS (
      SELECT epoch_us(ts) // 900000000 AS b,
             count(*) AS n, sum(value) AS sv
      FROM events GROUP BY 1),
    h AS (
      SELECT (b * 900000000) // 3600000000 AS b,
             sum(n) AS n, sum(sv) AS sv
      FROM f GROUP BY 1),
    d AS (
      SELECT (b * 3600000000) // 86400000000 AS b,
             sum(n) AS n, sum(sv) AS sv
      FROM h GROUP BY 1)
    SELECT '15m' AS grain, b * 900000000 AS bucket_start_us,
           n::BIGINT AS n_events, round(sv, 4) AS sum_value FROM f
    UNION ALL
    SELECT '1h', b * 3600000000, n::BIGINT, round(sv, 4) FROM h
    UNION ALL
    SELECT '1d', b * 86400000000, n::BIGINT, round(sv, 4) FROM d
    """


@_q("events_rollup_cascade", _ROLLUP_CASCADE_SQL)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (operators/timeseries.py): 15m
    buckets aggregate the raw stream once; 1h re-aggregates the 15m
    partials; 1d re-aggregates 1h. One full-data shuffle total — the
    hypertable materialized-rollup contract, with coarser grains
    costing only rollup-sized shuffles at any data scale."""
    ev = _t(spark, sf_dir, "events")
    out = TSO.rollup_cascade(ev, "ts", "value")
    return out.select(
        "grain",
        "bucket_start_us",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


_WEIGHTED_SAMPLE_SQL = """
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
               AS draw
      FROM orders)
    WHERE draw < floor(least(o_totalprice * 0.000002, 1.0) * 4294967296.0)
    """


@_q("orders_weighted_sample", _WEIGHTED_SAMPLE_SQL)
def orders_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a continuous weight (extensions/
    sampling.weighted_bernoulli_sample): keep probability proportional
    to o_totalprice, decided by the md5 key-hash draw — reproducible
    from the data alone (partition-layout independent, unlike seeded
    Sample nodes) and a shuffle-free narrow filter. The floor()ed
    integer threshold makes the kept row SET engine-exact."""
    from fugue_warehouses_spark.extensions.sampling import weighted_bernoulli_sample

    orders = _t(spark, sf_dir, "orders")
    out = weighted_bernoulli_sample(
        orders, "o_orderkey", "o_totalprice", rate_per_unit=0.000002
    )
    return out.select("o_orderkey", "o_totalprice")


# =====================================================================
# Data-quality validation (operators/validation.py) + histograms
# =====================================================================


_VALIDATION_SQL = """
    SELECT 'orders_pk_unique' AS rule,
           (SELECT coalesce(sum(n - 1), 0)::BIGINT FROM (
              SELECT count(*) AS n FROM orders GROUP BY o_orderkey))
           AS violations
    UNION ALL
    SELECT 'custkey_not_null',
           sum((o_custkey IS NULL)::INT)::BIGINT FROM orders
    UNION ALL
    SELECT 'totalprice_range',
           sum((o_totalprice IS NULL OR o_totalprice < 0
                OR o_totalprice > 1000000)::INT)::BIGINT FROM orders
    UNION ALL
    SELECT 'status_accepted',
           sum((o_orderstatus IS NULL
                OR o_orderstatus NOT IN ('F', 'O', 'P'))::INT)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'lineitem_order_fk',
           (SELECT count(*)::BIGINT FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    """


@_q("star_quality_checks", _VALIDATION_SQL)
def star_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation (operators/validation.py):
    PK uniqueness, NOT NULL, CHECK range, accepted values, and a
    child->parent FOREIGN KEY — the warehouse constraint surface as
    one lazy plan. Scan-only rules share a single aggregate pass; the
    FK is a left-anti join against distinct-collapsed parent keys."""
    from fugue_warehouses_spark.operators import validation as V

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    order_rules = V.validate(
        orders,
        [
            V.unique("orders_pk_unique", "o_orderkey"),
            V.not_null("custkey_not_null", "o_custkey"),
            V.in_range("totalprice_range", "o_totalprice", 0, 1_000_000),
            V.accepted("status_accepted", "o_orderstatus", "F", "O", "P"),
        ],
    )
    fk_rules = V.validate(
        lineitem,
        [
            V.foreign_key(
                "lineitem_order_fk", ("l_orderkey",), orders, ("o_orderkey",)
            )
        ],
    )
    return order_rules.unionByName(fk_rules)


_HISTOGRAM_SQL = """
    WITH b AS (
      SELECT least(greatest(floor(o_totalprice / 25000)::BIGINT, 0), 19)
               AS bucket,
             o_totalprice
      FROM orders),
    h AS (
      SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM b GROUP BY bucket)
    SELECT bucket, n::BIGINT AS n,
           total,
           round(sum(n) OVER (ORDER BY bucket) /
                 (SELECT count(*) FROM orders), 6) AS cum_share
    FROM h
    """


@_q("orders_price_histogram", _HISTOGRAM_SQL)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram + cumulative distribution: one hash
    aggregate on the bucket index (20 groups regardless of data size)
    plus a 20-row window — the constant-size-result profile shape that
    replaces exact percentiles when the column is 100 TB wide. Clamped
    integer bucketing keeps the cross-engine compare exact."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.select(
        F.least(
            F.greatest(F.floor(F.col("o_totalprice") / 25000), F.lit(0)),
            F.lit(19),
        ).alias("bucket"),
        "o_totalprice",
    )
    h = b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # denominator as a whole-frame window over the 20-row histogram —
    # no separate count() job, the plan stays single-pass
    wall = Window.partitionBy()
    return h.select(
        "bucket",
        "n",
        "total",
        F.round(F.sum("n").over(w) / F.sum("n").over(wall), 6).alias("cum_share"),
    )


# =====================================================================
# Graph (extensions/graph.py), window suite, fuzzy entity matching
# =====================================================================


_PAGERANK_SQL = """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    deg AS (SELECT src, count(*)::DOUBLE AS d FROM e0 GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS score FROM nodes),
    r1 AS (
      SELECT nodes.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(s.c, 0.0) AS score
      FROM nodes LEFT JOIN (
        SELECT e0.dst AS node, sum(r0.score / deg.d) AS c
        FROM e0 JOIN deg ON e0.src = deg.src
                JOIN r0 ON r0.node = e0.src
        GROUP BY e0.dst) s ON s.node = nodes.node),
    r2 AS (
      SELECT nodes.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(s.c, 0.0) AS score
      FROM nodes LEFT JOIN (
        SELECT e0.dst AS node, sum(r1.score / deg.d) AS c
        FROM e0 JOIN deg ON e0.src = deg.src
                JOIN r1 ON r1.node = e0.src
        GROUP BY e0.dst) s ON s.node = nodes.node),
    r3 AS (
      SELECT nodes.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(s.c, 0.0) AS score
      FROM nodes LEFT JOIN (
        SELECT e0.dst AS node, sum(r2.score / deg.d) AS c
        FROM e0 JOIN deg ON e0.src = deg.src
                JOIN r2 ON r2.node = e0.src
        GROUP BY e0.dst) s ON s.node = nodes.node)
    SELECT node AS part, round(score * 1000, 6) AS pagerank_x1000
    FROM r3
    ORDER BY round(score * 1000, 6) DESC, node
    LIMIT 100
    """


@_q("part_pagerank", _PAGERANK_SQL)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the parts-bought-together graph (extensions/
    graph.py): edges from a co-partitioned self-join on the order key
    (pair fan-out bounded by items-per-order, never |lineitem|²),
    3 join+aggregate iterations with lineage checkpointing. The DuckDB
    twin unrolls the identical iteration, so this 'iterative algorithm
    a warehouse can't express' is still hash-checked exactly."""
    from fugue_warehouses_spark.extensions import graph as G

    li = _t(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    ranks = G.pagerank(edges, iters=3, damping=0.85)
    scored = ranks.select(
        F.col("node").alias("part"),
        F.round(F.col("score") * 1000, 6).alias("pagerank_x1000"),
    )
    return scored.orderBy(
        F.col("pagerank_x1000").desc(), F.col("part").asc()
    ).limit(100)


_WINDOW_SUITE_SQL = """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           round(percent_rank() OVER w, 6) AS prk,
           round(cume_dist() OVER w, 6) AS cd,
           ntile(4) OVER w AS quartile,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """


@_q("orders_window_suite", _WINDOW_SUITE_SQL)
def orders_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window surface in one pass:
    lag/lead, rank/dense_rank, percent_rank/cume_dist, ntile,
    first/last value. All nine functions share ONE (custkey) exchange
    and sort — Catalyst collapses same-spec windows into a single
    Window operator."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.round(F.percent_rank().over(w), 6).alias("prk"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(wfull).alias("last_key"),
    )


_FUZZY_MATCH_SQL = """
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           levenshtein(a.c_name, b.c_name)::BIGINT AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """


def _deletion_variants(name_col: str) -> F.Column:
    """The string itself plus every single-character deletion — the
    SymSpell/FastSS neighborhood. ED(a,b) <= 1 implies a and b share at
    least one variant (substitution: delete the edited position from
    both; insert/delete: the longer's deletion IS the shorter), so
    bucket-joining on variants is an EXACT candidate generator for
    threshold-1 matching. HOF-over-short-string is fine here (names are
    ~18 chars; the quadratic-HOF hazard applies to document-sized
    inputs)."""
    return F.expr(
        f"transform(sequence(0, length({name_col})), i -> "
        f"CASE WHEN i = 0 THEN {name_col} "
        f"ELSE concat(substring({name_col}, 1, i - 1), "
        f"substring({name_col}, i + 1)) END)"
    )


@_q("customer_fuzzy_match", _FUZZY_MATCH_SQL)
def customer_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked edit distance. Blocking is the
    deletion neighborhood (SymSpell): each name emits itself + its
    1-deletion variants, candidates are pairs sharing (nation,
    hash(variant)), and exact 3-arg ``levenshtein`` (DP short-circuits
    past the threshold, returning -1) verifies. The variant bucketing
    is provably lossless for threshold 1, so the result equals the
    quadratic within-nation spec (the oracle) while pairs-examined
    stays O(matches): block cardinality is bounded by how many names
    share a variant — independent of nation size, unlike nation-only
    blocking where blocks grow linearly with data and pairs
    quadratically. Variants shuffle as 64-bit hashes, not strings (a
    hash collision only adds a candidate; the verify step removes it).
    """
    from fugue_warehouses_spark.plans.scanout import fan_out_scan

    # fan out the unsplittable scan: the
    # deletion-variant explode + hash (~25x row fan-out) ran serially
    # on the single-row-group customer file; the keyed repartition
    # moves only the narrow name rows once, is reused by both join
    # sides, and is a no-op at real scan parallelism. Interleaved A/B
    # at sf0.1: 1.43 -> 0.60 s min, identical 10,435 rows.
    c = fan_out_scan(_t(spark, sf_dir, "customer"), "c_custkey")
    va = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.explode(_deletion_variants("c_name")).alias("__v"),
    ).select("nk", "custkey_a", "name_a", F.xxhash64("__v").alias("__vh"))
    vb = va.select(
        F.col("nk"),
        F.col("custkey_a").alias("custkey_b"),
        F.col("name_a").alias("name_b"),
        "__vh",
    )
    cand = (
        va.join(vb, ["nk", "__vh"])
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .select("custkey_a", "custkey_b", "name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b", 1).cast("long")
        )
        .filter(F.col("edit_dist") >= 0)
        .select("custkey_a", "custkey_b", "edit_dist")
    )


_KMV_ROLLUP_SQL = f"""
    WITH hs AS (
      SELECT DISTINCT o_orderpriority AS scope,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::UBIGINT
               AS h
      FROM orders),
    sk AS (
      SELECT scope, h FROM (
        SELECT scope, h,
               row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
        FROM hs) WHERE rn <= 256),
    per AS (
      SELECT scope, count(*) AS n, CAST(max(h) AS BIGINT) AS kh
      FROM sk GROUP BY scope),
    m AS (
      SELECT h FROM (SELECT DISTINCT h FROM sk) ORDER BY h LIMIT 256),
    ma AS (
      SELECT 'ALL' AS scope, count(*) AS n, CAST(max(h) AS BIGINT) AS kh
      FROM m),
    u AS (SELECT * FROM per UNION ALL SELECT * FROM ma)
    SELECT scope,
           CAST(floor(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                           ELSE {float(255 * (1 << 60))!r}
                                / CAST(greatest(kh, 1) AS DOUBLE) END)
                AS BIGINT) AS est_distinct,
           CAST(n AS BIGINT) AS sketch_size,
           kh AS kth_min_hash
    FROM u
    """


@_q("orders_kmv_rollup", _KMV_ROLLUP_SQL)
def orders_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability end-to-end (sketches.kmv_rollup): per-priority
    distinct-customer sketches PLUS the all-priorities estimate merged
    from the sketches alone — no second data scan. The md5-derived
    registers make every estimate (not just the true counts)
    hash-identical in DuckDB."""
    orders = _t(spark, sf_dir, "orders")
    return SK.kmv_rollup(orders, "o_orderpriority", "o_custkey", k=256)


_KMV_SET_OPS_SQL = f"""
    WITH ha AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
               ::UBIGINT AS h
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    hb AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
               ::UBIGINT AS h
      FROM orders WHERE o_orderpriority = '2-HIGH'),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    un  AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
            ORDER BY h LIMIT 256),
    sta AS (SELECT 'A' AS op, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth
            FROM ska),
    stb AS (SELECT 'B' AS op, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth
            FROM skb),
    stu AS (SELECT 'UNION' AS op, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth
            FROM un),
    sts AS (
      SELECT op, sz,
             CASE WHEN sz < 256 THEN {1 << 60} ELSE kth END AS theta, kth
      FROM (SELECT * FROM sta UNION ALL SELECT * FROM stb
            UNION ALL SELECT * FROM stu)),
    th AS (
      SELECT least((SELECT theta FROM sts WHERE op = 'A'),
                   (SELECT theta FROM sts WHERE op = 'B')) AS theta),
    isect AS (
      SELECT count(*) AS c FROM ska JOIN skb USING (h), th
      WHERE CAST(h AS BIGINT) < th.theta),
    base AS (
      SELECT op,
             CAST(floor(CASE WHEN sz < 256 THEN CAST(sz AS DOUBLE)
                             ELSE {float(255 * (1 << 60))!r}
                                  / CAST(greatest(kth, 1) AS DOUBLE) END)
                  AS BIGINT) AS est_distinct,
             CAST(sz AS BIGINT) AS sample_size,
             CAST(theta AS BIGINT) AS theta
      FROM sts),
    inter AS (
      SELECT 'INTERSECT' AS op,
             CAST(floor((CAST(isect.c AS DOUBLE) * {float(1 << 60)!r})
                        / CAST(th.theta AS DOUBLE)) AS BIGINT) AS est_distinct,
             CAST(isect.c AS BIGINT) AS sample_size,
             CAST(th.theta AS BIGINT) AS theta
      FROM isect, th)
    SELECT * FROM base UNION ALL SELECT * FROM inter
    """


@_q("orders_kmv_set_ops", _KMV_SET_OPS_SQL)
def orders_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra on KMV registers
    (sketches.kmv_set_estimates): estimated cardinalities of the
    URGENT-priority customer set, the HIGH-priority customer set,
    their union (register merge) and their intersection (registers
    below the common theta present in both sketches) — all from ≤256
    hashes per side, no raw-set rescans. md5-derived registers make
    every estimate hash-identical in DuckDB."""
    orders = _t(spark, sf_dir, "orders")
    return SK.kmv_set_estimates(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"),
        orders.filter(F.col("o_orderpriority") == "2-HIGH"),
        "o_custkey",
        k=256,
    )


_SLIDING_DISTINCT_SQL = f"""
    WITH hs AS (
      SELECT DISTINCT epoch_us(ts) // 900000000 AS b,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::UBIGINT AS h
      FROM events),
    sk AS (
      SELECT b, h FROM (
        SELECT b, h, row_number() OVER (PARTITION BY b ORDER BY h) AS rn
        FROM hs) WHERE rn <= 32),
    contrib AS (
      SELECT b + o AS bucket, h
      FROM sk, UNNEST(generate_series(0, 3)) AS g(o)),
    valid AS (SELECT DISTINCT b AS bucket FROM hs),
    cand AS (SELECT DISTINCT bucket, h FROM contrib JOIN valid USING (bucket)),
    merged AS (
      SELECT bucket, h FROM (
        SELECT bucket, h,
               row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
        FROM cand) WHERE rn <= 32),
    per AS (
      SELECT bucket, count(*) AS sz, CAST(max(h) AS BIGINT) AS kth
      FROM merged GROUP BY bucket)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(floor(CASE WHEN sz < 32 THEN CAST(sz AS DOUBLE)
                           ELSE {float(31 * (1 << 60))!r}
                                / CAST(greatest(kth, 1) AS DOUBLE) END)
                AS BIGINT) AS est_distinct,
           CAST(sz AS BIGINT) AS sketch_size,
           kth AS kth_min_hash
    FROM per
    """


@_q("events_sliding_distinct_users", _SLIDING_DISTINCT_SQL)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour distinct users every 15 minutes from per-bucket
    KMV sketches (sketches.kmv_trailing_rollup): each 15-min bucket
    keeps its 32 smallest user-hash registers once; a window's
    estimate merges the 4 contributing buckets' registers — no
    per-window distinct sets, shuffle bounded by k·trailing rows per
    bucket regardless of event volume. md5 registers keep every
    estimate hash-identical in DuckDB."""
    ev = _t(spark, sf_dir, "events")
    bucketed = ev.withColumn("__b", TSO.bucket_index("ts", 900_000_000))
    return SK.kmv_trailing_rollup(bucketed, "__b", "user_id", k=32, trailing=4)


_SURPRISAL_SQL = r"""
    WITH toks AS (
      SELECT d.doc_id, d.source, tok FROM documents d,
        UNNEST(string_split_regex(trim(d.text), '\s+')) AS t(tok)
      WHERE tok <> ''),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab),
    per_doc AS (
      SELECT toks.doc_id, toks.source,
             count(*) AS n_tokens,
             avg(ln((SELECT total FROM tot)) - ln(vocab.cnt)) AS s
      FROM toks JOIN vocab USING (tok)
      GROUP BY toks.doc_id, toks.source)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(avg(s), 6) AS avg_surprisal,
           round(min(s), 6) AS min_surprisal,
           round(max(s), 6) AS max_surprisal
    FROM per_doc GROUP BY source
    """


@_q("doc_unigram_surprisal", _SURPRISAL_SQL)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (quality.unigram_surprisal):
    mean -ln p(token) per doc under the corpus unigram distribution,
    rolled up per source. The vocabulary joins the token stream by
    broadcast, so the scoring pass adds no shuffle beyond the
    wordcount; transcendental ln differs across engines by <= 1 ulp,
    absorbed by the 6-dp rounding."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = QL.unigram_surprisal(docs, "doc_id", "text", keep_cols=("source",))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("mean_surprisal"), 6).alias("avg_surprisal"),
        F.round(F.min("mean_surprisal"), 6).alias("min_surprisal"),
        F.round(F.max("mean_surprisal"), 6).alias("max_surprisal"),
    )


_STATS_SUITE_SQL = """
    SELECT l_returnflag,
           count(*)::BIGINT AS n,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(covar_pop(l_quantity, l_discount), 6) AS qty_disc_covar_pop,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(stddev_pop(l_quantity), 6) AS qty_stddev_pop,
           round(var_samp(l_discount), 6) AS disc_var,
           round(median(l_quantity), 1) AS qty_median
    FROM lineitem
    GROUP BY l_returnflag
    """


@_q("lineitem_stats_suite", _STATS_SUITE_SQL)
def lineitem_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistical-aggregate surface in one grouped pass: corr,
    sample/population covariance and stddev, variance, median — all
    JVM-side single-pass moment aggregates (median via exact
    percentile). Definitions are the textbook ones in both engines, so
    rounded results hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias(
            "qty_disc_covar_pop"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("qty_stddev_pop"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.median("l_quantity"), 1).alias("qty_median"),
    )


_CALENDAR_SQL = """
    SELECT date_diff('day', DATE '1995-01-02', o_orderdate::DATE) % 7
             AS dow_idx,
           (date_diff('day', DATE '1995-01-02', o_orderdate::DATE) // 7)::BIGINT
             AS week_idx,
           count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-02'
    GROUP BY 1, 2
    """


@_q("orders_calendar_heatmap", _CALENDAR_SQL)
def orders_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x week grid via pure day arithmetic from a fixed
    Monday epoch — deliberately NOT weekofyear()/dayofweek(), whose
    ISO-vs-locale conventions differ across engines; datediff is
    convention-free and pushes to the scan as integer math."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-02").cast("date")
    )
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-02").cast("date")
    )
    return orders.groupBy(
        (days % 7).alias("dow_idx"),
        (days / 7).cast("long").alias("week_idx"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_IMPUTE_SQL = """
    WITH m AS (
      SELECT user_id, avg(value) AS user_mean, count(value) AS n_obs
      FROM events GROUP BY user_id),
    g AS (SELECT avg(value) AS global_mean FROM events),
    imp AS (
      SELECT e.event_id, e.user_id,
             coalesce(e.value, m.user_mean, (SELECT global_mean FROM g))
               AS value_imputed,
             (e.value IS NULL)::INT AS was_null
      FROM events e LEFT JOIN m ON e.user_id = m.user_id)
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           sum(was_null)::BIGINT AS n_imputed,
           round(sum(value_imputed), 4) AS total_imputed
    FROM imp GROUP BY user_id
    """


@_q("events_impute_value", _IMPUTE_SQL)
def events_impute_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML-prep imputation: NULL values fill with the per-user mean,
    falling back to the global mean for all-null users — one grouped
    aggregate joined back (user means broadcast; the global mean is a
    scalar subquery). The dropna/fillna (B8/B9) surface extended to
    statistics-aware filling."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(F.avg("value").alias("user_mean"))
    g = ev.agg(F.avg("value").alias("global_mean"))
    imp = (
        ev.join(F.broadcast(m), "user_id", "left")
        .join(F.broadcast(g))
        .select(
            "user_id",
            F.coalesce("value", "user_mean", "global_mean").alias(
                "value_imputed"
            ),
            F.col("value").isNull().cast("int").alias("was_null"),
        )
    )
    return imp.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("was_null").cast("long").alias("n_imputed"),
        F.round(F.sum("value_imputed"), 4).alias("total_imputed"),
    )


_ISLANDS_SQL = """
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderdate, o_orderkey) AS rns
      FROM orders),
    isl AS (
      SELECT o_custkey, o_orderstatus, rn - rns AS grp,
             count(*) AS run_len, min(o_orderkey) AS first_key
      FROM seq GROUP BY 1, 2, 3)
    SELECT o_custkey, o_orderstatus,
           count(*)::BIGINT AS n_runs,
           max(run_len)::BIGINT AS longest_run,
           min(first_key)::BIGINT AS first_run_start
    FROM isl
    GROUP BY o_custkey, o_orderstatus
    HAVING max(run_len) >= 3
    """


@_q("orders_status_islands", _ISLANDS_SQL)
def orders_status_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive same-status runs per customer via
    the two-row_number difference trick — both windows share the one
    custkey exchange, then a single aggregate collapses runs. The
    classic sequence-analytics shape (state machines, streak analysis)
    without any self-join."""
    orders = _t(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias("grp"),
    )
    isl = seq.groupBy("o_custkey", "o_orderstatus", "grp").agg(
        F.count("*").alias("run_len"), F.min("o_orderkey").alias("first_key")
    )
    return (
        isl.groupBy("o_custkey", "o_orderstatus")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_len").alias("longest_run"),
            F.min("first_key").alias("first_run_start"),
        )
        .filter(F.col("longest_run") >= 3)
    )


_BM25_TERMS = ["spark", "hash", "window", "merge"]


@_q(
    "doc_bm25_search",
    None,  # oracle attached below via RT.bm25_sql (needs the terms)
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (extensions/retrieval.py): probe terms
    filter the token stream BEFORE scoring, so the posting lists — not
    the corpus — flow into the join; df/N/avgdl broadcast. Top-20 by
    rounded score with id tie-break, matching the SQL twin exactly
    (ln differs <= 1 ulp, absorbed by 6-dp rounding)."""
    from fugue_warehouses_spark.extensions import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    scored = RT.bm25_scores(docs, "doc_id", "text", _BM25_TERMS)
    return (
        scored.select(
            "doc_id", F.round("score", 6).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


from fugue_warehouses_spark.extensions.retrieval import bm25_sql as _bm25_sql  # noqa: E402

ORACLE["doc_bm25_search"] = _bm25_sql(_BM25_TERMS)

_EVAL_QUERIES = [
    ("q_spark_hash", ["spark", "hash"]),
    ("q_window_merge", ["window", "merge"]),
    ("q_sort_stream_filter", ["sort", "stream", "filter"]),
    ("q_vector_group_key", ["vector", "group", "key"]),
]


@_q("doc_retrieval_eval", None)  # oracle attached below (needs queries)
def doc_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval: MRR@10 / nDCG@10 /
    best-doc@10 of the BM25 ranking against graded term-hit-mass
    pseudo-relevance, per probe query (extensions/retrieval.py
    retrieval_eval). The eval leg every index/scorer change needs —
    a regression NUMBER for ranking quality, the lexical sibling of
    the ANN recall harness (scale_probe --ops ann_recall). One
    wordcount pass; ranking windows are matched-set-sized."""
    from fugue_warehouses_spark.extensions import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    return RT.retrieval_eval(docs, "doc_id", "text", _EVAL_QUERIES, k=10)


from fugue_warehouses_spark.extensions.retrieval import (  # noqa: E402
    retrieval_eval_sql as _retrieval_eval_sql,
)

ORACLE["doc_retrieval_eval"] = _retrieval_eval_sql(_EVAL_QUERIES, k=10)


def _hybrid_sql() -> str:
    """DuckDB twin of doc_hybrid_search: the bm25_sql top-50 leg
    embedded as a subquery (ONE source of truth for the BM25 pipeline
    — tokenization/smoothing changes there flow into this twin), a
    cosine leg anchored at vec 0, and the RRF fusion."""
    bm25_leg = _bm25_sql(_BM25_TERMS, top_n=50)
    return rf"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM ({bm25_leg})),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sem0 AS (
      SELECT c.vec_id AS doc_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cs
      FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS r_sem
      FROM sem0 ORDER BY cs DESC, doc_id LIMIT 50),
    fused AS (
      SELECT doc_id,
             COALESCE(1.0 / (60 + l.r_lex), 0)
               + COALESCE(1.0 / (60 + s.r_sem), 0) AS rrf,
             l.r_lex, s.r_sem
      FROM lex l FULL OUTER JOIN sem s USING (doc_id))
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           round(rrf, 6) AS rrf_score,
           CAST(r_lex AS BIGINT) AS r_lex,
           CAST(r_sem AS BIGINT) AS r_sem
    FROM fused ORDER BY round(rrf, 6) DESC, doc_id LIMIT 20
    """


@_q("doc_hybrid_search", _hybrid_sql())
def doc_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    leg (same probe terms as doc_bm25_search) and a cosine semantic
    leg (anchor = embedding 0, the same Arrow-batch matmul as
    embedding_topk) each rank their top-50; RRF fuses as
    sum(1/(60+rank)) — the standard hybrid-search combiner, exact in
    doubles so the fused ordering is engine-identical. Both legs are
    top-k pipelines whose ranked candidate sets are tiny regardless of
    corpus size; the fusion join touches <= 100 rows."""
    from pyspark.sql.window import Window as W

    from fugue_warehouses_spark.extensions import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    scored = RT.bm25_scores(docs, "doc_id", "text", _BM25_TERMS)
    lex_order = [F.round("score", 6).desc(), F.col("doc_id").asc()]
    # top-50 FIRST (TakeOrdered — distributed per-partition top-k +
    # driver merge), THEN rank the 50 survivors with the window:
    # ranking the whole matched set through a partition-less window
    # would be a one-task sort of every BM25 match. Ranks are identical because the order is total
    # (rounded score desc, doc_id asc): the top-50 by that order get
    # row numbers 1..50 either way.
    lex = (
        scored.orderBy(*lex_order)
        .limit(50)
        .withColumn("r_lex", F.row_number().over(W.orderBy(*lex_order)))
        .select("doc_id", "r_lex")
    )
    anchor = emb.filter(F.col("vec_id") == 0)
    sem = (
        SS.brute_force_topk(emb, anchor, k=50, round_digits=6)
        .withColumn(
            "r_sem",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cosine_sim").desc(), F.col("match_id").asc()
                )
            ),
        )
        .select(F.col("match_id").alias("doc_id"), "r_sem")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
        "r_lex",
        "r_sem",
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            F.col("r_lex").cast("long").alias("r_lex"),
            F.col("r_sem").cast("long").alias("r_sem"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_TFIDF_SQL = r"""
    WITH toks AS (
      SELECT source, tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS t(tok)),
    tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY source, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(DISTINCT source) AS n FROM documents),
    scored AS (
      SELECT tf.source, tf.tok AS token, tf.tf,
             round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS score
      FROM tf JOIN dfreq USING (tok), n)
    SELECT source, token, tf, score FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY score DESC, token ASC) <= 3
    """


@_q("doc_tfidf_keywords", _TFIDF_SQL)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF keyword profile (retrieval.tfidf_keywords):
    what distinguishes each corpus slice. df/N aggregates are bounded
    by vocabulary and broadcast back; scores round before ranking with
    token tie-break, so the top-3 matches the SQL twin exactly."""
    from fugue_warehouses_spark.extensions import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    return RT.tfidf_keywords(docs, "source", "text", k=3)


_MAD_SQL = """
    WITH v AS (
      SELECT user_id, value FROM events WHERE value IS NOT NULL),
    med AS (SELECT user_id, median(value) AS med FROM v GROUP BY user_id),
    dev AS (
      SELECT v.user_id, v.value, med.med, abs(v.value - med.med) AS adev
      FROM v JOIN med USING (user_id)),
    mad AS (SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id)
    SELECT dev.user_id,
           count(*)::BIGINT AS n_values,
           sum((dev.adev > 3 * mad.mad)::INT)::BIGINT AS n_anomalies,
           round(min(dev.med), 4) AS median_value,
           round(min(mad.mad), 4) AS mad_value
    FROM dev JOIN mad USING (user_id)
    GROUP BY dev.user_id
    """


_EWMA_SQL = """
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id)
    SELECT user_id, len(vs)::BIGINT AS n_events,
           round(list_reduce(vs, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
             AS ewma_value
    FROM s
    """


@_q("events_ewma", _EWMA_SQL)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing (timeseries.ewma_last): the
    recurrence isn't a frame-based window aggregate in either engine,
    but an ordered per-group fold runs the identical IEEE op sequence
    in both (F.aggregate / list_reduce), so the smoothed value is
    bit-deterministic cross-engine. One shuffle on the key."""
    events = _t(spark, sf_dir, "events")
    return TSO.ewma_last(
        events, "user_id", "ts", "value", alpha=0.25,
        order_cols=("event_id",),
    )


@_q("events_anomaly_mad", _MAD_SQL)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: flag values more than 3 median-
    absolute-deviations from the per-user median — outlier-immune where
    mean/stddev z-scores (orders_zscore) are not. Two grouped exact
    medians with the tiny per-user stats broadcast back; the deviation
    comparison is exact arithmetic, so counts hash-match."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.median("adev").alias("mad"))
    j = dev.join(F.broadcast(mad), "user_id")
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_values"),
        F.sum((F.col("adev") > 3 * F.col("mad")).cast("int"))
        .cast("long")
        .alias("n_anomalies"),
        F.round(F.min("med"), 4).alias("median_value"),
        F.round(F.min("mad"), 4).alias("mad_value"),
    )


_SPLIT_SQL = """
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::UBIGINT < 3865470566 THEN 'train' ELSE 'test' END
               AS split
      FROM documents)
    SELECT split, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM s GROUP BY split, lang
    """


@_q("doc_train_test_split", _SPLIT_SQL)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split: membership is a pure
    function of the doc id's hash (threshold = floor(0.9 * 2^32)), so
    the split is leakage-free by construction — the same document can
    never land in both sides, on any cluster size, partitioning, or
    engine. Shuffle-free assignment; one aggregate for the audit."""
    docs = _t(spark, sf_dir, "documents")
    draw = F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    split = F.when(draw < int(0.9 * 2**32), "train").otherwise("test")
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_RECURSIVE_SPINE_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT (m + INTERVAL 1 MONTH)::DATE FROM months
      WHERE m < DATE '2002-12-01')
    SELECT strftime(m, '%Y-%m') AS month,
           count(o.o_orderkey)::BIGINT AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total
    FROM months
    LEFT JOIN orders o ON strftime(o.o_orderdate, '%Y-%m') = strftime(m, '%Y-%m')
    GROUP BY month
    """


@_q("orders_recursive_month_spine", _RECURSIVE_SPINE_SQL)
def orders_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) generating a complete
    month spine, left-joined to orders so empty months surface with
    zero counts — the calendar-dimension build warehouses do with
    recursion. The recursion is driver-cheap (96 spine rows); the join
    broadcasts the spine against the fact scan."""
    ev = _t(spark, sf_dir, "orders")
    ev.createOrReplaceTempView("__spine_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '2002-12-01')
        SELECT date_format(m, 'yyyy-MM') AS month,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
               round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total
        FROM months
        LEFT JOIN __spine_orders o
          ON date_format(o.o_orderdate, 'yyyy-MM') = date_format(m, 'yyyy-MM')
        GROUP BY month
        """
    )


_WINSORIZE_SQL = """
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag),
    w AS (
      SELECT l.l_returnflag,
             l.l_extendedprice AS raw,
             least(greatest(l.l_extendedprice, q.p05), q.p95) AS clipped,
             (l.l_extendedprice < q.p05)::INT AS lo,
             (l.l_extendedprice > q.p95)::INT AS hi
      FROM lineitem l JOIN q USING (l_returnflag))
    SELECT l_returnflag,
           count(*)::BIGINT AS n,
           sum(lo)::BIGINT AS n_clipped_low,
           sum(hi)::BIGINT AS n_clipped_high,
           round(avg(raw), 4) AS mean_raw,
           round(avg(clipped), 4) AS mean_winsorized
    FROM w GROUP BY l_returnflag
    """


@_q("lineitem_winsorized", _WINSORIZE_SQL)
def lineitem_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp values into the group's
    [p05, p95] band (exact interpolated percentiles, broadcast back)
    and report the clipping audit — the robust-scaling prep step that
    bounds heavy tails before training statistics. The clamp is exact
    arithmetic, so counts and 4-dp means hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.05).alias("p05"),
        F.percentile("l_extendedprice", 0.95).alias("p95"),
    )
    w = li.join(F.broadcast(q), "l_returnflag").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("raw"),
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
        ).alias("clipped"),
        (F.col("l_extendedprice") < F.col("p05")).cast("int").alias("lo"),
        (F.col("l_extendedprice") > F.col("p95")).cast("int").alias("hi"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("lo").cast("long").alias("n_clipped_low"),
        F.sum("hi").cast("long").alias("n_clipped_high"),
        F.round(F.avg("raw"), 4).alias("mean_raw"),
        F.round(F.avg("clipped"), 4).alias("mean_winsorized"),
    )


# =====================================================================
# Deterministic driver-checkable twins for the two inherently
# approximate/random operators (the full registry keeps the native
# variants — orders_sample_fraction, orders_approx_distinct — under
# pytest invariant checks; these two give the SAME operator families
# exact cross-engine evidence).
# =====================================================================


_HASH_SAMPLE_SQL = """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::UBIGINT
          < 858993459
    """


@_q("orders_sample_hash_fraction", _HASH_SAMPLE_SQL)
def orders_sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli fraction sample (A12's exact-evidence
    twin): keep rows whose 32-bit md5-of-key draw falls under 20% of
    the hash space (extensions/sampling.hash_threshold_sample) — a
    shuffle-free narrow filter whose kept set is a pure function of
    the data, so DuckDB reproduces it byte-for-byte. The engine's
    random ``sample(fraction)`` (engine.py) stays pytest-checked for
    statistical invariants; this query is the oracle-checkable face of
    fraction sampling (reference analog: TABLESAMPLE SYSTEM emission,
    /root/reference/fugue_bigquery/_utils.py:99-117)."""
    from fugue_warehouses_spark.extensions.sampling import hash_threshold_sample

    orders = _t(spark, sf_dir, "orders")
    samp = hash_threshold_sample(orders, "o_orderkey", 0.2)
    return samp.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


_APPROX_CHECK_SQL = """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)::BIGINT AS exact_custkeys,
           (abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
              <= 0.05 * count(DISTINCT o_custkey)) AS approx_within_5pct
    FROM orders GROUP BY o_orderstatus
    """


@_q("orders_approx_distinct_check", _APPROX_CHECK_SQL)
def orders_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine evidence for approximate aggregates: each engine
    asserts ITS OWN HLL estimate lands within 5% of the exact distinct
    count (estimates themselves are engine-specific sketches and can
    never hash-match; the tolerance verdict can, and does). Spark side
    runs approx_count_distinct at rsd=0.02 next to the exact
    count_distinct in one grouped aggregate."""
    orders = _t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("__approx"),
    )
    return g.select(
        "o_orderstatus",
        "exact_custkeys",
        (
            F.abs(F.col("__approx") - F.col("exact_custkeys"))
            <= 0.05 * F.col("exact_custkeys")
        ).alias("approx_within_5pct"),
    )


# =====================================================================
# Table history: snapshot diff, SCD Type 2, changelog compaction,
# time-weighted average, equi-depth histogram, matryoshka ANN
# =====================================================================


_SNAPSHOT_DIFF_SQL = """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice AS price, o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS price,
             o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 0),
    d AS (
      SELECT coalesce(v2.o_orderkey, v1.o_orderkey) AS k,
             CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                  WHEN v2.o_orderkey IS NULL THEN 'removed'
                  WHEN v1.price IS NOT DISTINCT FROM v2.price
                   AND v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
                       THEN 'unchanged'
                  ELSE 'changed' END AS change_type,
             coalesce(v2.price, 0) - coalesce(v1.price, 0) AS delta
      FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
    SELECT change_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS key_sum,
           round(sum(delta), 2) AS price_delta
    FROM d GROUP BY change_type
    """


@_q("orders_snapshot_diff", _SNAPSHOT_DIFF_SQL)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style reconciliation of two table snapshots
    (operators/history.snapshot_diff): v1/v2 are deterministic slices
    of orders (v2 drops every 11th key, adds back every 7th, bumps
    every 5th price 10%); the diff classifies every key added/removed/
    changed/unchanged via one full-outer join on the key — the shape of
    a data-regression gate between pipeline runs. Aggregated to
    per-class counts + key checksum + net price delta."""
    from fugue_warehouses_spark.operators import history as H

    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    # raw doubles throughout: the bumped price is the same IEEE multiply
    # on both engines, so change classification is bit-deterministic;
    # rounding happens ONCE, on the final aggregated delta (pre-round
    # prices hit engine-specific half-cent rounding at cent boundaries)
    v1 = orders.filter(key % 7 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        "o_orderstatus",
    )
    bump = F.when(
        key % 5 == 0, F.col("o_totalprice") * 1.1
    ).otherwise(F.col("o_totalprice"))
    v2 = orders.filter(key % 11 != 0).select(
        "o_orderkey", bump.alias("price"), "o_orderstatus"
    )
    d = H.snapshot_diff(v1, v2, ["o_orderkey"], ["price", "o_orderstatus"])
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.round(
            F.sum(
                F.coalesce(F.col("new_price"), F.lit(0.0))
                - F.coalesce(F.col("old_price"), F.lit(0.0))
            ),
            2,
        ).alias("price_delta"),
    )


_SCD2_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type, ts
      FROM events WHERE user_id < 40),
    m AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
      FROM e),
    r AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM m),
    g AS (
      SELECT user_id, run, min(event_type) AS state,
             min(ts) AS vf, count(*)::BIGINT AS n_obs
      FROM r GROUP BY 1, 2),
    f AS (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY run) AS vt, n_obs
      FROM g)
    SELECT user_id, state,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           n_obs, (vt IS NULL) AS is_current
    FROM f
    """


@_q("events_scd2_user_state", _SCD2_SQL)
def events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build
    (operators/history.scd2_intervals): the events log, read as
    observations of each user's current event_type, collapses into
    validity intervals (valid_from, valid_to, is_current) — the
    standard dimension-table historization the reference's warehouses
    express with MERGE + window SQL. One shuffle on user_id; the run
    groupBy and both windows reuse the same partitioning."""
    from fugue_warehouses_spark.operators import history as H

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    iv = H.scd2_intervals(ev, ["user_id"], "event_type", "ts", ("event_id",))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return iv.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "n_obs",
        "is_current",
    )


_LATEST_STATE_SQL = """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           round(value, 6) AS value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """


@_q("events_latest_state", _LATEST_STATE_SQL)
def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins changelog compaction
    (operators/history.latest_state): one row per user — the most
    recent by (ts, event_id) — i.e. the materialized current-state
    table a CDC consumer maintains. Spark plans a partial
    WindowGroupLimit before the single exchange, so map tasks forward
    one candidate per key, not whole partitions."""
    from fugue_warehouses_spark.operators import history as H

    ev = _t(spark, sf_dir, "events")
    latest = H.latest_state(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.round("value", 6).alias("value"),
    )


_TWA_SQL = """
    WITH e AS (
      SELECT user_id, event_id, ts, value
      FROM events WHERE user_id < 50 AND value IS NOT NULL),
    s AS (
      SELECT user_id, value,
             (epoch_us(lead(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))
              - epoch_us(ts)) / 1000000.0 AS dur_s
      FROM e)
    SELECT user_id, count(*)::BIGINT AS n_events,
           round(sum(value * dur_s) / sum(dur_s), 6) AS twa
    FROM s GROUP BY user_id
    """


@_q("events_time_weighted_avg", _TWA_SQL)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-weighted average
    (operators/timeseries.time_weighted_avg): each value weighted by
    how long it was current (gap to the next observation), so
    irregularly sampled series average correctly. The lead() window
    and the groupBy share one user_id partitioning — one shuffle."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("user_id") < 50) & F.col("value").isNotNull())
    )
    return TSO.time_weighted_avg(ev, "user_id", "ts", "value", ("event_id",))


_EQUIDEPTH_SQL = """
    WITH r AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT bucket, count(*)::BIGINT AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(o_totalprice), 2) AS total
    FROM r GROUP BY bucket
    """


@_q("orders_equidepth_histogram", _EQUIDEPTH_SQL)
def orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram: exact ntile(10) over a
    total order — the complement of orders_price_histogram's
    fixed-width buckets. EXACT result with NO window at all:
    operators/rank.add_global_rank range-partitions on
    (o_totalprice, o_orderkey), sorts within partitions, decodes
    monotonically_increasing_id into (partition, local row number),
    and adds per-partition cumulative offsets (a #partitions-int
    driver collect) for the exact global rank; the ntile bucket is
    then a constant-folded expression of (rank, n).
    Hash-identical to the oracle's global ntile, but every stage moves
    ~1/P of the data — survives 100x. The O(1)-cost approximate form
    is the separate orders_equidepth_histogram_approx facet."""
    from fugue_warehouses_spark.operators.rank import (
        add_global_rank,
        ntile_from_rank,
    )

    orders = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked, n = add_global_rank(
        orders, ["o_totalprice", "o_orderkey"], rank_col="__rank"
    )
    return (
        ranked.withColumn("bucket", ntile_from_rank(F.col("__rank"), n, 10))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_EQUIDEPTH_APPROX_SQL = """
    WITH b AS (
      SELECT quantile_disc(o_totalprice,
                           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds
      FROM orders),
    r AS (
      SELECT o_totalprice,
             1 + len(list_filter(b.bounds, x -> x < o_totalprice))
               AS bucket
      FROM orders, b)
    SELECT bucket, count(*)::BIGINT AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(o_totalprice), 2) AS total
    FROM r GROUP BY bucket
    """


@_q("orders_equidepth_histogram_approx", _EQUIDEPTH_APPROX_SQL)
def orders_equidepth_histogram_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB-default equi-depth histogram: approx_percentile
    decile boundaries (one tiny-sketch aggregation, O(1) result) +
    bucket-by-boundary as a literal-array expression — the degenerate
    broadcast range join (9 doubles never need a join node). The scan
    stays fully parallel with a single 10-group aggregation shuffle;
    no ranks, no windows, no range repartition. Semantics differ from
    exact ntile only in tie placement and sketch error: rows equal to
    a boundary go to the lower bucket, and at accuracy >= n (true
    here and in any run where accuracy is raised to taste) the
    boundaries are the exact discrete deciles, which is what makes
    the DuckDB quantile_disc oracle a value-exact twin."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.select(
        F.percentile_approx(
            "o_totalprice", [i / 10.0 for i in range(1, 10)], 1_000_000
        ).alias("b")
    ).collect()[0]["b"]
    blit = F.array(*[F.lit(float(x)) for x in bounds])
    bucket = (
        F.size(F.filter(blit, lambda x: x < F.col("o_totalprice"))) + 1
    ).alias("bucket")
    return (
        orders.select("o_totalprice", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_q(
    "embedding_matryoshka_topk",
    """
    WITH e AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cosine_sim
    FROM e q JOIN e c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) <= 10
    """,
)
def embedding_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated retrieval: cosine top-k over the FIRST 16
    of 64 dims (MRL-style embeddings front-load information, so
    truncation is the cheap first-stage retriever; rerank with full
    dims downstream). Same streamed Arrow-batch matmul as
    embedding_topk — 4x less compute and memory bandwidth per pair,
    corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    sliced = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    queries = sliced.filter(F.col("vec_id") < 10)
    return SS.brute_force_topk(sliced, queries, k=10, round_digits=6)


_QUALITY_LOGIT_SQL = f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks, len({_TOKS}) AS ntok
      FROM documents),
    f AS (
      SELECT source,
             CAST(least(ntok, 100) AS DOUBLE) / 100.0 AS f1,
             (coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
               / greatest(ntok, 1))::DOUBLE AS f2,
             (len(list_filter(toks, t ->
               t IN ('the','a','an','and','of','to','in','is')))::DOUBLE
               / greatest(ntok, 1)) AS f3,
             (length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE
               / greatest(length(text), 1)) AS f4
      FROM t),
    z AS (
      SELECT source,
             ((((-2.0 + 2.5 * f1) + 0.35 * f2) - 0.08 * (f2 * f2))
              + 6.0 * f3) - 9.0 * f4 AS z
      FROM f)
    SELECT source, count(*)::BIGINT AS n_docs,
           sum((z >= 0)::BIGINT)::BIGINT AS n_pass,
           round(avg(1.0 / (1.0 + exp(-z))), 6) AS avg_prob
    FROM z GROUP BY source
    """


@_q("doc_quality_logit", _QUALITY_LOGIT_SQL)
def doc_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring inference stage (extensions/quality.
    quality_logit_scores): a linear quality classifier with fixed
    published weights, evaluated as one numpy expression per Arrow
    batch inside a pandas UDF — the execution shape of every learned
    quality/toxicity/language scorer in a curation pipeline. The
    decision bit uses the logit's SIGN (z >= 0), which is
    bit-deterministic cross-engine; the sigmoid is presentation,
    rounded at 6."""
    docs = _t(spark, sf_dir, "documents")
    scored = QL.quality_logit_scores(docs, "text", keep_cols=("source",))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("z") >= 0).cast("long")).alias("n_pass"),
        F.round(F.avg(1.0 / (1.0 + F.exp(-F.col("z")))), 6).alias("avg_prob"),
    )


# =====================================================================
# entry points used by __spark_entry__.py
# =====================================================================


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q1_pricing_summary(spark, sf_dir)


def all_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(ORACLE)
