"""Deterministic checkpoint: lossless identity, TTL, GC, atomic writes."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from fugue_warehouses_spark.plans.checkpoint import (
    deterministic_checkpoint,
    gc_checkpoints,
    plan_fingerprint,
)


@pytest.fixture()
def ckpt_root(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    spark.conf.set("spark.fugue_warehouses.checkpoint.dir", root)
    yield tmp_path / "ckpt"
    spark.conf.unset("spark.fugue_warehouses.checkpoint.dir")


def _wide(spark, last_col):
    df = spark.range(3)
    cols = [F.col("id").alias(f"c{i}") for i in range(39)]
    return df.select(*cols, F.col("id").alias(last_col))


def test_fingerprint_distinguishes_wide_plans(spark):
    """Two failure modes of the old toString hash, both must stay fixed:
    (a) alias-only differences past canonicalization (schema in hash);
    (b) expression differences past maxToStringFields truncation
    (lossless toJSON rendering)."""
    # (a) same exprs, different output name in position 40
    assert plan_fingerprint(_wide(spark, "x")) != plan_fingerprint(
        _wide(spark, "y")
    )
    # (b) same output names, different source expression in position 40
    df = spark.range(3).select(
        F.col("id"), (F.col("id") * 2).alias("id2")
    )
    head = [F.col("id").alias(f"c{i}") for i in range(39)]
    w1 = df.select(*head, F.col("id").alias("c39"))
    w2 = df.select(*head, F.col("id2").alias("c39"))
    assert w1.schema == w2.schema
    assert plan_fingerprint(w1) != plan_fingerprint(w2)


def test_checkpoint_reuse_and_ttl_rewrite(spark, ckpt_root):
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    deterministic_checkpoint(df)
    dirs = [p for p in ckpt_root.iterdir() if p.name.startswith("ckpt_")]
    assert len(dirs) == 1
    mtime1 = (dirs[0] / "_SUCCESS").stat().st_mtime_ns

    # fresh within TTL: not rewritten
    deterministic_checkpoint(df, ttl_seconds=3600)
    assert (dirs[0] / "_SUCCESS").stat().st_mtime_ns == mtime1

    # expired: rewritten in place (marker mtime advances)
    time.sleep(1.1)
    out = deterministic_checkpoint(df, ttl_seconds=0.5)
    assert (dirs[0] / "_SUCCESS").stat().st_mtime_ns > mtime1
    assert out.count() == 5


def test_gc_by_age_and_count(spark, ckpt_root):
    a = deterministic_checkpoint(spark.range(2))
    time.sleep(1.1)
    deterministic_checkpoint(spark.range(3))
    deterministic_checkpoint(spark.range(4))
    names = sorted(p.name for p in ckpt_root.iterdir())
    assert len(names) == 3

    # count bound: keep the 2 newest
    deleted = gc_checkpoints(spark, max_count=2)
    assert len(deleted) == 1
    left = {p.name for p in ckpt_root.iterdir()}
    assert len(left) == 2 and deleted[0] not in left

    # age bound: everything older than now-ish goes
    time.sleep(1.1)
    deleted = gc_checkpoints(spark, max_age_seconds=0.5)
    assert len(deleted) == 2
    assert not any(p.name.startswith("ckpt_") for p in ckpt_root.iterdir())
    # a already-collected frame still readable (parquet dir deleted is
    # fine — the returned df above was materialized before GC); re-call
    # recreates
    assert deterministic_checkpoint(spark.range(2)).count() == 2
    assert a.schema is not None


def test_gc_sweeps_stale_tmp_dirs(spark, ckpt_root):
    import os

    deterministic_checkpoint(spark.range(2))
    stale = ckpt_root / ".tmp_dead_beef"
    stale.mkdir()
    (stale / "part-junk").write_text("x")
    old = time.time() - 2 * 86400
    os.utime(stale, (old, old))
    # a concurrent session's checkpoint still being written
    fresh = ckpt_root / ".tmp_in_flight"
    fresh.mkdir()
    gc_checkpoints(spark)
    assert not stale.exists()
    assert fresh.exists()


def test_no_partial_dir_visible_after_write(spark, ckpt_root):
    deterministic_checkpoint(spark.range(7))
    names = [p.name for p in ckpt_root.iterdir()]
    assert all(n.startswith("ckpt_") for n in names)


def test_released_after_scope(spark):
    """released_after frees exactly the RDD blocks persisted INSIDE
    the scope: pre-existing checkpoints survive, in-scope ones are
    unpersisted (blocking) on exit — the lifecycle API that lets
    bench/probe loops run localCheckpoint-heavy ops back-to-back at
    tight heaps without caller gc discipline."""
    from fugue_warehouses_spark.plans.checkpoint import released_after

    sc = spark.sparkContext

    def n_persisted():
        count = 0
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()
            count += 1
        return count

    base = n_persisted()
    pre = spark.range(100).localCheckpoint()
    pre.count()
    assert n_persisted() == base + 1
    with released_after(spark):
        a = spark.range(1000).localCheckpoint()
        a.count()
        spark.range(500).localCheckpoint(eager=False).count()
        assert n_persisted() == base + 3
    assert n_persisted() == base + 1, "in-scope blocks must be freed"
    assert pre.count() == 100, "pre-existing checkpoint must survive"
