"""Correctness checks, run outside every timed region and outside the
window in which the run samples its memory.

- ``OracleDB`` runs a query's DuckDB ``ORACLE`` SQL over the same
  parquet files Spark read; ``compare_rows`` compares the two results
  the way the engine's oracle-parity suite does (same column set, same
  row count, order insensitive), with floats equal to a relative 1e-9,
  or to one unit of the last decimal the ``ORACLE`` SQL itself rounds
  the column to (``rounded_columns``).
- ``IngestReplay`` replays the ``versioned_ingest`` batches in pandas,
  independent of the engine: the expected aggregate after each upsert
  and the expected final snapshot.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd

_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)
_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", re.IGNORECASE)


def rounded_columns(sql: str) -> dict[str, int]:
    """Column -> d for every ``round(<expr>, d) [AS] column`` in ``sql``:
    the result columns whose values the query rounds to d decimals."""
    out = {}
    for m in _ROUND.finditer(sql):
        depth, i, comma = 1, m.end(), None
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            elif sql[i] == "," and depth == 1:
                comma = i
            i += 1
        digits = sql[comma + 1 : i - 1].strip() if comma else ""
        alias = _ALIAS.match(sql, i)
        if digits.isdigit() and alias:
            out[alias.group(1).lower()] = int(digits)
    return out


def _norm(v, ndigits: int = 6):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, ndigits)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, ndigits) for x in v)
    return v


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with their columns in name order, sorted by their 6-digit
    normalised values; each row keeps its raw values for the compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    raw = (tuple(r[i] for i in order) for r in rows)
    return [r for _, r in sorted(((repr(_norm(r)), r) for r in raw), key=lambda x: x[0])]


def _same(a, b, decimals: int | None) -> bool:
    """Equal; for floats, equal to a relative 1e-9 or, in a column the
    query rounds to ``decimals``, at most one unit of that decimal apart.
    Spark and DuckDB add doubles in different orders, so a rounded sum
    can land on either side of a rounding boundary."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if decimals is not None and abs(a - b) <= 10.0 ** -decimals * (1 + 1e-9):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)) and len(a) == len(b):
        return all(_same(x, y, decimals) for x, y in zip(a, b))
    return a == b


def compare_rows(
    cols: list[str],
    rows: list[tuple],
    exp_cols: list[str],
    exp_rows: list[tuple],
    rounded: dict[str, int] | None = None,
) -> str | None:
    """``None`` when the results agree, else a one-line description.
    ``rounded`` maps a column to the decimals the query rounds it to."""
    if sorted(cols) != sorted(exp_cols):
        return f"columns {sorted(cols)} != expected {sorted(exp_cols)}"
    if len(rows) != len(exp_rows):
        return f"{len(rows)} rows != expected {len(exp_rows)}"
    rounded = rounded or {}
    decimals = [rounded.get(c.lower()) for c in sorted(cols)]
    got, exp = _canonical(cols, rows), _canonical(exp_cols, exp_rows)
    bad = [
        (g, e) for g, e in zip(got, exp)
        if not all(_same(x, y, d) for x, y, d in zip(g, e, decimals))
    ]
    if bad:
        return f"{len(bad)} rows differ; first {bad[0][0]!r} != {bad[0][1]!r}"
    return None


class OracleDB:
    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), [tuple(r) for r in rel.fetchall()]

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """Compare a result with the one ``sql`` gives here."""
        return compare_rows(cols, rows, *self.query(sql), rounded_columns(sql))

    def close(self) -> None:
        self.con.close()


KEY = "o_orderkey"


def snapshot_aggregate(df: pd.DataFrame) -> dict[str, tuple[int, float]]:
    """The read-side aggregate of ``versioned_ingest``: rows and total
    price per order status."""
    g = df.groupby("o_orderstatus")["o_totalprice"].agg(["count", "sum"])
    return {k: (int(r["count"]), float(r["sum"])) for k, r in g.iterrows()}


def aggregates_match(got: dict, exp: dict) -> bool:
    return got.keys() == exp.keys() and all(
        got[k][0] == exp[k][0] and math.isclose(got[k][1], exp[k][1], rel_tol=1e-9)
        for k in exp
    )


class IngestReplay:
    """Applies the upsert batches to a pandas copy of the base table:
    batch rows replace live rows with the same key, new keys append."""

    def __init__(self, base_path: str):
        self.state = pd.read_parquet(base_path).set_index(KEY)

    def apply(self, batch_path: str) -> dict[str, tuple[int, float]]:
        batch = pd.read_parquet(batch_path).set_index(KEY)
        self.state = pd.concat([self.state.drop(batch.index, errors="ignore"), batch])
        return snapshot_aggregate(self.state)

    def write_snapshot(self, path: str) -> None:
        self.state.sort_index().reset_index().to_parquet(path, index=False)


def snapshot_mismatch(version_dir: str, expected_path: str) -> str | None:
    """Compare a store's snapshot directory with the replayed snapshot
    ``IngestReplay.write_snapshot`` wrote."""
    got = duckdb.sql(
        f"SELECT * FROM read_parquet('{version_dir}/*.parquet') ORDER BY {KEY}"
    ).df()
    exp = duckdb.sql(f"SELECT * FROM read_parquet('{expected_path}') ORDER BY {KEY}").df()
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != expected {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != expected {len(exp)}"
    for c in exp.columns:
        if not (got[c].to_numpy() == exp[c].to_numpy()).all():
            return f"column {c} differs from the replay"
    return None
