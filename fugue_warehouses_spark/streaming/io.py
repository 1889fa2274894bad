"""Stream sources/sinks for testing and batch-parity drains.

``read_parquet_stream`` turns a directory of parquet files into a file
stream (the standard replay pattern — each file is a micro-batch
split). ``run_available_now`` drains a streaming query to completion
with Trigger.AvailableNow and returns the result as a batch DataFrame
from the in-memory sink: the idiom for asserting stream-vs-batch parity
in tests without wall-clock waits.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from fugue_warehouses_spark.plans import commit as C

# Filesystems whose "rename" is a non-atomic copy+delete: the swap in
# compact_survivors is NOT crash-safe on these. The
# list covers the Hadoop connectors for the major object stores; a
# scheme not listed here is trusted to rename atomically (HDFS, local,
# viewfs, alluxio, ...).
_NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "swift",
     "wasb", "wasbs", "abfs", "abfss"}
)

AT_LEAST_ONCE_NOTE = (
    "These parquet files are an AT-LEAST-ONCE survivor log: a crash "
    "replay of the writing ingest can append the same rows twice. The "
    "ingest function's RETURNED frame is deduplicated; consumers "
    "reading this path directly must dropDuplicates on the id column "
    "(or read through the ingest module's loader), or rewrite the "
    "log exactly-once with streaming.compact_survivors. See "
    "fugue_warehouses_spark/streaming/{dedup,embedding}.py delivery "
    "notes.\n"
)


def write_at_least_once_marker(spark: SparkSession, dir_path: str) -> None:
    """Drop an ``_AT_LEAST_ONCE_README`` file next to a survivor log so
    consumers who read the raw path learn its delivery contract from
    the directory itself. Underscore-prefixed
    files are hidden to Spark/Hadoop parquet readers, so the marker
    never pollutes a scan. Idempotent; best-effort (a read-only
    filesystem must not fail the ingest over documentation)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            os.path.join(dir_path, "_AT_LEAST_ONCE_README")
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            return
        out = fs.create(p, True)
        out.write(bytearray(AT_LEAST_ONCE_NOTE.encode("utf-8")))
        out.close()
    except Exception:
        pass


def compact_survivors(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-once materialization of an at-least-once survivor log:
    rewrite ``path`` with one row per ``id_col`` and return the
    compacted frame.

    The ingest functions (:func:`streaming.dedup.run_near_dedup_ingest`,
    :func:`streaming.embedding.run_embedding_dedup_ingest`) append
    survivors with at-least-once delivery — a crash replay can append
    the same rows twice (their RETURNED frames are deduplicated; the
    raw path is not); this helper is the supported rewrite for
    external consumers of ``survivors_path``. Duplicate rows from
    replay are byte-identical, so keeping an arbitrary row per id is
    exact.

    Swap protocol (``commit.replace``, never in-place): the compacted
    data lands at ``<path>__compact_tmp``; then ``path`` ->
    ``<path>__compact_old``, tmp -> ``path``, old deleted, each rename
    checked. A crash between the renames leaves ``path`` absent and the
    old log intact at ``__compact_old`` — rename it back and rerun; no
    state is ever only in memory. The ``_AT_LEAST_ONCE_README`` marker
    is not carried into the rewrite (the compacted directory IS
    exactly-once — a LATER ingest append to the same path re-creates
    the marker and the at-least-once regime with it).

    FILESYSTEM REQUIREMENT: the crash-safety story
    above depends on directory rename being ATOMIC — true on local
    filesystems, HDFS, and viewfs. Object stores (s3a, gs, abfs, ...)
    implement "rename" as a non-atomic copy+delete, so a crash
    mid-swap could leave ``path`` PARTIALLY populated — a state the
    debris check cannot distinguish from a complete log. Known
    object-store schemes are therefore REJECTED here; route such
    stores through an atomic-commit layer (HDFS staging, or a table
    format with transactional swap) instead. As a second guard, the
    swap refuses to proceed unless the tmp rewrite carries Spark's
    ``_SUCCESS`` job-commit marker.

    CONCURRENCY: this is a maintenance-window operation. Rows appended
    to ``path`` by a concurrent ingest between the read below and the
    swap are silently DROPPED from the compacted log — stop the ingest
    first; the function cannot detect a concurrent writer.

    At 100 TB this is one shuffle on the id column over the survivor
    log — the same cost class as the exact-dedup operator — and runs
    in a maintenance window, never on the ingest path.
    """
    tmp = path.rstrip("/") + "__compact_tmp"
    scheme = spark._jvm.org.apache.hadoop.fs.Path(path).toUri().getScheme()
    if scheme and scheme.lower() in _NON_ATOMIC_RENAME_SCHEMES:
        raise ValueError(
            f"compact_survivors requires atomic directory rename; "
            f"{scheme}:// is an object store whose rename is a "
            "non-atomic copy+delete (a crash mid-swap could leave the "
            "log partially populated). Compact via an atomic-rename "
            "filesystem (HDFS/local) or a transactional table format."
        )
    # debris check before the read: after a crashed swap `path` may be
    # absent, and the check must precede the corpus-sized shuffle
    C._refuse_swap_debris(spark, path)
    df = spark.read.parquet(path).dropDuplicates([id_col])
    df.write.mode("overwrite").parquet(tmp)
    C.replace(spark, tmp, path)
    return spark.read.parquet(path)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet path. Streaming file sources
    need an explicit schema; if none is given, infer it with a one-off
    batch read of the same path (driver-side footer peek, no data scan).
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # file streams monitor directories; a plain-file path fails with
        # "Option 'basePath' must be a directory". A single-character
        # glob ([x] matching the last char) makes Spark anchor basePath
        # at the parent directory while matching exactly this file.
        path = f"{path[:-1]}[{path[-1]}]"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Run a streaming frame to completion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    Memory sink collects to the driver — test-scale only. Production
    sinks are writeStream.format('parquet'/'kafka'/...) with
    checkpointLocation; this helper exists for parity assertions.
    """
    sink = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    return stream_df.sparkSession.table(sink)


def run_merge_sink(
    stream_df: DataFrame,
    target_path: str,
    on: list[str],
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Continuously upsert a stream into a parquet table: each
    micro-batch MERGEs (engine.merge_into) into the current target and
    swaps the result in — the streaming CDC-apply pattern (warehouse
    MERGE fed by a change stream).

    The first batch is published into the missing path, later ones are
    swapped in by ``plans/commit.replace``: a reader may find the path
    absent between its two renames, never partly written, and a failed
    swap restores the previous table. Parquet has no transactional
    row-level merge, so the swap is a rewrite (fine for dimension-sized
    targets; a table format with upsert support replaces the swap at
    larger scale — the MERGE plan itself is unchanged). The checkpoint
    gives at-least-once batch delivery, and merging is idempotent per
    key, so replays converge. Returns the final merged table as a batch
    frame.
    """
    from fugue_warehouses_spark.engine import SparkWarehouseEngine

    spark = stream_df.sparkSession
    eng = SparkWarehouseEngine(spark)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fs, dest = C.fs_path(spark, target_path)
        # dedup within the batch (last write wins is arbitrary here;
        # sources with a version column should pre-aggregate)
        out = batch_df.dropDuplicates(on)
        exists = fs.exists(dest)
        if exists:
            target = spark.read.parquet(target_path)
            out = eng.merge_into(target, out, on=on).native
        stage = f"{target_path}__m{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(stage)
        if exists:
            C.replace(spark, stage, target_path)
        elif not C.publish(spark, stage, target_path):
            raise FileExistsError(
                f"{target_path} was created by another writer during "
                f"batch {batch_id}; the batch is staged at {stage}"
            )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    return spark.read.parquet(target_path)
