"""TableName.parse semantics — behavior pinned to the reference's
tests (tests/fugue_trino/test_collections.py:5-39)."""

from __future__ import annotations

import pytest

from fugue_warehouses_spark.naming import TableName, temp_table_name


def test_parse_reference_semantics():
    assert str(TableName.parse(" a . b . c")) == "a.b.c"
    assert str(TableName.parse(" b . c", default_catalog="a")) == "a.b.c"
    assert (
        str(TableName.parse("  c", default_catalog="a", default_schema="b"))
        == "a.b.c"
    )
    assert (
        str(
            TableName.parse(
                " ", default_catalog="a", default_schema="b",
                table_func=lambda: "c",
            )
        )
        == "a.b.c"
    )
    assert (
        str(
            TableName.parse(
                None, default_catalog="a", default_schema="b",
                table_func=lambda: "c",
            )
        )
        == "a.b.c"
    )
    t = TableName.parse("a.b.c")
    assert TableName.parse(t) is t
    assert str(TableName.parse(("a", "b", "c"))) == "a.b.c"
    assert str(TableName.parse(["a", "b", "c"])) == "a.b.c"


def test_parse_reference_errors():
    with pytest.raises(ValueError):
        TableName.parse(123)
    with pytest.raises(ValueError):
        TableName.parse(" b . c")  # no catalog
    with pytest.raises(ValueError):
        TableName.parse(" c", default_catalog="a")  # no schema
    with pytest.raises(ValueError):
        TableName.parse(" ", default_catalog="a", default_schema="b")
    with pytest.raises(ValueError):
        TableName.parse(("a", "b", "c", "d"))


def test_quoted_segments_round_trip():
    t = TableName.parse("`my cat`.sch.`dot.ted`")
    assert t == TableName("my cat", "sch", "dot.ted")
    assert t.full_name == "`my cat`.sch.`dot.ted`"
    assert TableName.parse(t.full_name) == t
    with pytest.raises(ValueError):
        TableName.parse("`unbalanced.x.y")


def test_temp_names_unique_and_spark_rooted():
    a, b = temp_table_name(), temp_table_name()
    assert a.table.startswith("temp_") and a != b
    assert a.catalog == "spark_catalog" and a.schema == "default"


def test_temp_view_lifecycle_with_spark(spark):
    name = temp_table_name().table
    spark.range(3).createOrReplaceTempView(name)
    assert spark.catalog.tableExists(name)
    spark.catalog.dropTempView(name)
    assert not spark.catalog.tableExists(name)


def test_engine_accepts_tablename(spark, tmp_path):
    from fugue_warehouses_spark.engine import SparkWarehouseEngine
    from fugue_warehouses_spark.naming import TableName

    eng = SparkWarehouseEngine(spark)
    t = TableName("spark_catalog", "default", "tn_roundtrip")
    d = eng.to_df([[1, "a"], [2, "b"]], "x:long,s:str")
    try:
        eng.save_table(d, t)
        assert eng.table_exists(t)
        back = eng.load_table(t)
        assert back.count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS tn_roundtrip")


def test_registry_contract_integrity():
    """Driver-contract invariants: every oracle belongs to a registered
    query, and the only queries without an oracle are the two
    random/approximate-by-design ones."""
    from fugue_warehouses_spark.queries import ORACLE, QUERIES

    assert set(ORACLE) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLE) == {
        "orders_approx_distinct",
        "orders_sample_fraction",
    }
