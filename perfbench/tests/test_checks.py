"""The benchmark's correctness checks accept right results and refuse
wrong ones; its generated inputs depend only on the seed. No Spark needed."""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow.parquet as pq
import pytest

import datagen
import oracle
import workloads
from fugue_warehouses_spark.queries import ORACLE


@pytest.fixture(scope="module")
def db():
    con = oracle.OracleDB(workloads.QUERY_DATA, workloads.FIXTURE_TABLES)
    yield con
    con.close()


@pytest.fixture(scope="module")
def small_orders(tmp_path_factory):
    """The first 5000 rows of the fixture's sf0.1 ``orders`` table."""
    path = str(tmp_path_factory.mktemp("base") / "orders.parquet")
    base = pq.read_table(os.path.join(workloads.INGEST_DATA, "orders.parquet"))
    pq.write_table(base.slice(0, 5000), path)
    return path


def test_every_benchmarked_op_has_an_oracle():
    assert set(workloads.QUERY_OPS) <= set(ORACLE)


def test_oracle_result_matches_itself_in_any_order(db):
    cols, rows = db.query(ORACLE["q1_pricing_summary"])
    assert len(rows) > 1
    assert db.check(ORACLE["q1_pricing_summary"], cols[::-1],
                    [r[::-1] for r in reversed(rows)]) is None


def test_wrong_expected_result_is_refused(db):
    sql = ORACLE["q1_pricing_summary"]
    cols, rows = db.query(sql)
    i = cols.index("sum_qty")
    wrong_value = [tuple(v + 1 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert "rows differ" in db.check(sql, cols, wrong_value)
    assert "rows !=" in db.check(sql, cols, rows[1:])
    renamed = ["qty" if c == "sum_qty" else c for c in cols]
    assert "columns" in db.check(sql, renamed, rows)


def test_rounded_columns_come_from_the_oracle_sql():
    got = oracle.rounded_columns(ORACLE["q1_pricing_summary"])
    assert got["sum_qty"] == 2 and got["sum_charge"] == 2 and got["avg_disc"] == 4
    assert "l_returnflag" not in got and "count_order" not in got
    assert oracle.rounded_columns("SELECT round(x, 2) / 3 AS y FROM t") == {}
    assert oracle.rounded_columns("SELECT ROUND(sum(a * (1 - b)), 3) v FROM t") == {"v": 3}


def test_float_slack_is_one_unit_only_where_the_query_rounds():
    cols = ["n_name", "profit"]
    cents = {"profit": 2}
    # a rounded sum on either side of a rounding boundary
    assert oracle.compare_rows(cols, [("N1", 598725.3)], cols, [("N1", 598725.31)], cents) is None
    assert oracle.compare_rows(cols, [("N1", 598725.3)], cols, [("N1", 598725.31)])
    assert oracle.compare_rows(cols, [("N1", 598725.29)], cols, [("N1", 598725.31)], cents)
    for a, b in ((0.5, 0.6), (1.0, 1.1), (0.05, 0.06)):
        assert oracle.compare_rows(cols, [("N1", a)], cols, [("N1", b)])
        assert oracle.compare_rows(cols, [("N1", a)], cols, [("N1", b)], {"profit": 1}) is None
        assert oracle.compare_rows(cols, [("N1", a)], cols, [("N1", b)], {"profit": 3})
    assert oracle.compare_rows(cols, [("N1", 0.5)], cols, [("N1", 0.6)], cents)
    assert oracle.compare_rows(cols, [("N1", 1.0)], cols, [("N1", 1.1)], cents)
    # double sums added in another order
    assert oracle.compare_rows(cols, [("N1", 0.1 + 0.2)], cols, [("N1", 0.3)]) is None
    assert oracle.compare_rows(cols, [("N1", 0.1234561)], cols, [("N1", 0.1234549)])


def test_batches_depend_only_on_the_seed(tmp_path, small_orders):
    a = datagen.generate_batches(small_orders, str(tmp_path / "a"), seed=3, n_batches=2)
    b = datagen.generate_batches(small_orders, str(tmp_path / "b"), seed=3, n_batches=2)
    c = datagen.generate_batches(small_orders, str(tmp_path / "c"), seed=4, n_batches=2)
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not filecmp.cmp(a[1], c[1], shallow=False)


def test_batches_update_existing_keys_and_insert_new_ones(tmp_path, small_orders):
    paths = datagen.generate_batches(small_orders, str(tmp_path), seed=3, n_batches=2)
    batch = pq.read_table(paths[1])
    assert batch.schema == pq.read_table(small_orders).schema.remove_metadata()
    keys = batch.column("o_orderkey").to_pylist()
    updates = [k for k in keys if k < 5000 + 25]
    assert len(updates) == len(set(updates)) == int((5000 + 25) * 0.02)
    assert [k for k in keys if k >= 5025] == list(range(5025, 5050))


def _write_snapshot(expected_path: str, version_dir, tweak=None) -> None:
    df = pq.read_table(expected_path).to_pandas()
    if tweak:
        tweak(df)
    os.makedirs(version_dir)
    df.to_parquet(os.path.join(version_dir, "part-0.parquet"), index=False)


def test_ingest_replay_accepts_the_replayed_snapshot_and_refuses_a_wrong_one(
    tmp_path, small_orders
):
    feed = str(tmp_path / "feed")
    assert datagen.main([small_orders, feed, "3", "3"]) == 0
    with open(os.path.join(feed, "expected.json")) as f:
        exp = json.load(f)
    final = os.path.join(feed, "expected_final.parquet")
    aggs = [{k: tuple(v) for k, v in a.items()} for a in exp["aggregates"]]
    assert sum(n for n, _ in aggs[-1].values()) == 5000 + 3 * 25  # 0.5% new keys per batch
    assert oracle.aggregates_match(
        aggs[-1], oracle.snapshot_aggregate(pq.read_table(final).to_pandas())
    )
    assert not oracle.aggregates_match(aggs[0], aggs[-1])

    _write_snapshot(final, tmp_path / "good")
    assert oracle.snapshot_mismatch(str(tmp_path / "good"), final) is None

    def bump_price(df):
        df.loc[5, "o_totalprice"] += 0.01

    _write_snapshot(final, tmp_path / "bad", bump_price)
    assert "o_totalprice" in oracle.snapshot_mismatch(str(tmp_path / "bad"), final)
    _write_snapshot(final, tmp_path / "short", lambda df: df.drop(index=0, inplace=True))
    assert "rows" in oracle.snapshot_mismatch(str(tmp_path / "short"), final)
