"""Deterministic, content-addressed checkpoints (Fugue contract B16).

The reference's workflow DAG derives a stable ``spec_uuid`` per node so
``deterministic_checkpoint(storage_type="table")`` reuses the
materialized table across runs and across DAGs (``yield_table_as``,
tests/fugue_bigquery/test_workflow.py:35-64). Here the identity is a
hash of Spark's *canonicalized analyzed plan* — two frames built by
different code paths but describing the same computation share a
fingerprint, so re-running a pipeline skips recomputation.

Storage is plain parquet under a checkpoint root (durable — survives
session restart, unlike ``df.cache()``). All filesystem access goes
through the Hadoop FileSystem API; writes are staged in ``.tmp_*``
and committed through ``plans/commit.py``, so concurrent sessions
sharing a root never observe (or clobber) a half-written checkpoint
where rename is atomic (local, HDFS — not object stores).

Lifecycle mirrors the reference's temp-table TTL expiration
(fugue_bigquery/client.py:186-194): checkpoints carry a modification
time; an expired checkpoint is rewritten on access, and
``gc_checkpoints`` bounds the store by age and/or count.
"""

from __future__ import annotations

from contextlib import contextmanager

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from fugue_warehouses_spark.plans.commit import (
    STAGE_TTL_S,
    fs_path,
    is_complete,
    publish,
    replace,
    sweep_stages,
)


def plan_fingerprint(df: DataFrame) -> str:
    """Stable hex id for the frame's logical plan.

    Uses the canonicalized analyzed plan (expression ids normalized
    away) rendered as JSON — a LOSSLESS encoding. ``toString`` would
    elide attributes beyond ``spark.sql.debug.maxToStringFields``
    (default 25) as "... N more fields", which made two wide plans
    differing only in the truncated tail hash identical — i.e. a
    checkpoint could silently return another query's data.

    The output schema participates in the hash too: canonicalization
    normalizes alias NAMES away, but two frames that differ only in
    output naming must not share a checkpoint (the materialized parquet
    column names differ).
    """
    canon = df._jdf.queryExecution().analyzed().canonicalized().toJSON()
    ident = canon + "\x00" + df.schema.json()
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


def _checkpoint_root(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.fugue_warehouses.checkpoint.dir",
        os.path.join(os.environ.get("SPARK_GRAFT_TMP", "/tmp"), "wf_checkpoints"),
    )


def _mtime_ms(spark: SparkSession, dir_str: str) -> int:
    fs, marker = fs_path(spark, f"{dir_str}/_SUCCESS")
    return fs.getFileStatus(marker).getModificationTime()


def deterministic_checkpoint(
    df: DataFrame,
    spark: SparkSession | None = None,
    namespace: str = "",
    ttl_seconds: float | None = None,
) -> DataFrame:
    """Materialize ``df`` once per logical plan; reuse on later calls.

    Returns a frame re-rooted at the materialized parquet (like the
    reference's persist-to-temp-table re-rooting,
    fugue_bigquery/execution_engine.py:126-141, but durable and
    content-addressed).

    Concurrency: the frame is written to a session-private temp dir and
    published into place. If another session won the race, its
    (complete) checkpoint is used and ours is discarded — readers never
    see a partial directory. An expired checkpoint is swapped in by
    ``commit.replace``, so a reader may find it absent for a moment.

    ``ttl_seconds``: a checkpoint whose ``_SUCCESS`` marker is older
    than this is considered expired and rewritten (default: no expiry;
    falls back to ``spark.fugue_warehouses.checkpoint.ttl_seconds``
    when set).
    """
    spark = spark or df.sparkSession
    fid = plan_fingerprint(df)
    if namespace:
        fid = hashlib.sha256(f"{namespace}:{fid}".encode()).hexdigest()[:16]
    root = _checkpoint_root(spark)
    path = f"{root}/ckpt_{fid}"

    if ttl_seconds is None:
        conf_ttl = spark.conf.get("spark.fugue_warehouses.checkpoint.ttl_seconds", "")
        ttl_seconds = float(conf_ttl) if conf_ttl else None

    fresh = is_complete(spark, path)
    if fresh and ttl_seconds is not None:
        import time

        age_s = (time.time() * 1000 - _mtime_ms(spark, path)) / 1000.0
        fresh = age_s <= ttl_seconds

    if not fresh:
        tmp = f"{root}/.tmp_{fid}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if ttl_seconds is not None and is_complete(spark, path):
            replace(spark, tmp, path)  # expired: swap the rewrite in
        elif not publish(spark, tmp, path):
            # a racer's checkpoint won the name: keep theirs
            fs, tmp_path = fs_path(spark, tmp)
            fs.delete(tmp_path, True)
    return spark.read.parquet(path)


def gc_checkpoints(
    spark: SparkSession,
    max_age_seconds: float | None = None,
    max_count: int | None = None,
) -> list[str]:
    """Bound the checkpoint store; returns the deleted directory names.

    Age-based: drop checkpoints whose marker is older than
    ``max_age_seconds``. Count-based: keep only the ``max_count`` most
    recently written. Mirrors the reference's temp-table expiration
    policy (fugue_bigquery/client.py:186-194). Temp dirs are swept once
    older than ``commit.STAGE_TTL_S`` (24 h, as in ``versioned.vacuum``).
    """
    import time

    root = _checkpoint_root(spark)
    fs, root_path = fs_path(spark, root)
    if not fs.exists(root_path):
        return []
    # a younger temp dir may be a concurrent session's write in flight
    sweep_stages(spark, root, ".tmp_", STAGE_TTL_S)
    entries = []
    for st in fs.listStatus(root_path):
        name = st.getPath().getName()
        if not name.startswith("ckpt_"):
            continue
        dir_str = f"{root}/{name}"
        if not is_complete(spark, dir_str):
            continue
        entries.append((name, _mtime_ms(spark, dir_str)))

    doomed: set[str] = set()
    now_ms = time.time() * 1000
    if max_age_seconds is not None:
        doomed |= {
            n for n, m in entries if (now_ms - m) / 1000.0 > max_age_seconds
        }
    if max_count is not None:
        survivors = sorted(
            (e for e in entries if e[0] not in doomed), key=lambda e: -e[1]
        )
        doomed |= {n for n, _ in survivors[max_count:]}
    for name in doomed:
        fs2, p = fs_path(spark, f"{root}/{name}")
        fs2.delete(p, True)
    return sorted(doomed)


def yield_table_as(df: DataFrame, name: str, spark: SparkSession | None = None) -> None:
    """Hand a materialized result to other pipelines by name (B16).

    ``saveAsTable`` writes into the session warehouse and registers the
    name in the catalog, so a *different* pipeline (or session sharing
    the warehouse dir) can ``spark.table(name)`` it — the Spark shape of
    the reference's cross-DAG ``yield_table_as``.
    """
    spark = spark or df.sparkSession
    df.write.mode("overwrite").saveAsTable(name)


@contextmanager
def released_after(spark: SparkSession, blocking: bool = True):
    """Scope that releases every RDD block persisted INSIDE it on exit
    — the lifecycle API for ``localCheckpoint``-heavy operators
    (minhash/near-dedup/similarity), whose lineage-cut blocks otherwise
    accumulate in the JVM across repeated same-session runs until the
    ContextCleaner happens to notice the dropped Python references.
    At tight heaps that accumulation is fatal: SCALE_NOTES records the
    second back-to-back 320k minhash run dying at 8g without an
    explicit release. Usage (bench.py / scale_probe.py iteration
    loops)::

        with released_after(spark):
            op(df).count()       # consume the result IN the scope

    Contract: blocks persisted BEFORE entry (e.g. deliberately cached
    indexes) are untouched — only RDDs first persisted inside the
    scope are unpersisted, ``blocking=True`` by default so the memory
    is actually free before the next iteration starts. A local
    checkpoint's blocks ARE its data (lineage is truncated), so a
    result frame held past the scope cannot be recomputed — fully
    collect/write/count it inside, or don't scope it.
    """
    sc = spark.sparkContext

    def _ids() -> set:
        ids = set()
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    before = _ids()
    try:
        yield
    finally:
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        doomed = []
        while it.hasNext():
            t = it.next()
            if t._1() not in before:
                doomed.append(t._2())
        for rdd in doomed:
            rdd.unpersist(blocking)
