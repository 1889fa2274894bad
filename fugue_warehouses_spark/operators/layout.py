"""Storage-layout operators: small-file compaction and Z-order
clustering.

Neither changes query SEMANTICS — they change the physical layout so
that later scans read less. At 100 TB these are the difference between
a table that prunes to a handful of files and one that lists millions
of 1 MB fragments:

- **compact**: streaming sinks, incremental upserts and over-parallel
  writes leave many small files; each costs a listing round-trip, a
  footer read and a task. Rewriting to ~target-sized files keeps scan
  task count proportional to data, not to write history.
- **z-order**: parquet scans prune row groups / files via min-max
  stats, which only helps when values are clustered. Sorting clusters
  ONE column; interleaving the bits of several columns' bucket ranks
  (a space-filling Z-curve) gives every interleaved column locality,
  so filters on ANY of them prune files.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fugue_warehouses_spark.plans.commit import fs_path, replace


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> int:
    """Rewrite ``path`` into ~``target_file_mb``-sized files; returns
    the new file count.

    The rewrite goes to a temp dir and is swapped in by
    ``plans/commit.replace``: a concurrent reader sees the old layout or
    the new one, or finds ``path`` absent between the swap's two
    renames, never a partial directory; a failed swap restores the old
    layout and raises. Row order is not preserved (it never is under
    distributed scans).
    """
    fs, p = fs_path(spark, path)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(tmp)
    replace(spark, tmp, path)
    return n_files


def zvalue(cols: list[Column | str], mins: list[float], maxs: list[float],
           bits: int = 16) -> Column:
    """Z-curve key: interleave the bits of each column's bucket rank.

    Ranks come from uniform ``2**bits`` bucketing over [min, max] —
    cheap (no sort, no sampling pass at compute time; min/max are
    driver-known or from a stats pass). For heavily skewed columns,
    feed a rank-transformed column instead.
    """
    n = len(cols)
    if not (n and n == len(mins) == len(maxs)):
        raise ValueError("cols, mins, maxs must be same nonzero length")
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        if hi <= lo:
            raise ValueError("max must exceed min for every column")
        scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
        buckets.append(
            F.least(
                (clamped * (1 << bits)).cast("long"), F.lit((1 << bits) - 1)
            )
        )
    # interleave: output bit (i*n + j) takes bit i of column j
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 16,
    fmt: str = "parquet",
    stats: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Write ``df`` clustered on the Z-curve of ``cols``.

    ``stats`` supplies per-column (min, max); when omitted, one cheap
    aggregate computes them. Rows are range-partitioned by z-value
    (``num_files`` output files) and sorted within each file, so every
    clustered column's min-max footer range is narrow — point/range
    filters on any of them prune files instead of scanning all.
    """
    if stats is None:
        row = df.agg(
            *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
        ).collect()[0]
        stats = {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}
    z = zvalue(cols, [stats[c][0] for c in cols], [stats[c][1] for c in cols], bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


# ---------------- deterministic sharded export --------------------


def shard_assignment(
    df: DataFrame, id_col: str, n_shards: int
) -> DataFrame:
    """Add a ``shard`` column: a deterministic hash-mod of ``id_col``.

    The draw is the same 32-bit md5 prefix the deterministic-sampling
    family uses (extensions/sampling.py), so the assignment is a pure
    function of the data — stable across runs, partitionings, Spark
    versions, AND engines (md5 exists everywhere), unlike
    ``spark_partition_id`` or ``monotonically_increasing_id``, which
    depend on physical placement. Narrow (no shuffle)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    draw = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return df.withColumn(
        "shard", (draw.cast("bigint") % F.lit(n_shards)).cast("int")
    )


def export_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    fmt: str = "parquet",
) -> DataFrame:
    """Write ``df`` as ``n_shards`` deterministic hash shards
    (``path/shard=K/``) and return the manifest: one row per shard
    with row count and an order-independent content checksum of the
    ids — what a training dataloader needs to consume, resume, and
    audit the export (shards are stable, so a re-export after an
    upstream fix only changes the shards whose rows changed).

    One shuffle (repartition by shard so each shard is one file write
    group); the manifest is a second pass over the written data — read
    back from ``path`` so it certifies what is actually on disk, not
    what the plan intended.
    """
    sharded = shard_assignment(df, id_col, n_shards)
    (
        sharded.repartition(n_shards, "shard")
        .write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(path)
    )
    back = df.sparkSession.read.format(fmt).load(path)
    return shard_manifest(back, id_col)


def token_balanced_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
    order_by: list[Column] | None = None,
) -> DataFrame:
    """Add a ``shard`` column cutting the rows into ``n_shards``
    CONTIGUOUS ranges of ~equal total ``weight_col`` — the plan a
    training-data writer wants when shards must carry equal TOKEN
    mass, not equal row counts (hash-mod ``shard_assignment`` balances
    rows; with heavy-tailed document lengths that leaves some shards
    2-3x the work of others, and the slowest shard paces every data-
    parallel consumer).

    Rows are ordered by ``order_by`` (default: the family's md5-draw
    of the id + id tiebreak — i.e. a deterministic pre-shuffle, so a
    shard is also an unbiased sample) and assigned
    ``shard = floor(prefix_weight_before_row * n_shards / total)``,
    clamped to ``n_shards - 1``. Every shard is a contiguous slice of
    the order (sequential-read friendly) and no shard's weight can
    exceed ``total/n_shards + max_row_weight`` — the classic
    prefix-sum partitioning bound.

    Scale shape: the prefix sums come from
    ``operators/rank.add_global_cumsum`` (one range exchange +
    O(#partitions) offsets + pid-partitioned window — never a
    partition-less global window); the grand total rides the operator's
    offsets collect as a literal (``total_col``), so no second pass
    over the data. Weights must be non-negative integers — that makes
    the assignment bit-deterministic across engines (integer multiply
    + floor div) and keeps the prefix-sum bound meaningful.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from fugue_warehouses_spark.operators.rank import add_global_cumsum

    if order_by is None:
        draw = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        df = df.withColumn("__draw", draw)
        order_by = [F.asc("__draw"), F.asc(id_col)]
    out = add_global_cumsum(
        df, order_by, weight_col, cumsum_col="__cum", total_col="__total"
    ).withColumn(
        "shard",
        F.when(F.col("__total") <= 0, F.lit(0)).otherwise(
            F.least(
                F.lit(n_shards - 1),
                F.expr(
                    f"((__cum - cast({weight_col} as bigint))"
                    f" * {n_shards}) div __total"
                ),
            )
        ).cast("int"),
    )
    return out.drop("__cum", "__total", "__draw")


def shard_manifest(sharded: DataFrame, id_col: str) -> DataFrame:
    """Per-shard accounting over a frame that already has ``shard``:
    (shard, n_rows, id_checksum) with the checksum an order-independent
    sum of 32-bit md5 draws mod 2^31-1 — cheap to recompute on any
    engine to verify an export."""
    draw = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 9, 8), 16, 10)
    return (
        sharded.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum(draw.cast("bigint")) % F.lit((1 << 31) - 1)).alias(
                "id_checksum"
            ),
        )
    )


def export_tar_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n_shards: int = 8,
    ext: str = "txt",
) -> DataFrame:
    """WebDataset-style sharded tar export: the corpus lands as
    ``path/shard-00000.tar ... shard-{n-1:05d}.tar``, each member named
    ``{id}.{ext}`` holding the document's utf-8 bytes — the artifact a
    training dataloader streams sequentially (the whole point of tar
    shards at 100 TB: pure sequential reads, one open file per worker).

    Byte-reproducible by construction: shard membership is the same
    md5 hash-mod as :func:`shard_assignment`, members are written in
    ascending id order, and every tar header pins mtime=0, uid=gid=0,
    empty uname/gname — re-exporting unchanged data produces
    bit-identical shards (asserted in tests), so shard-level md5s can
    be diffed across export runs to ship only changed shards.

    Each shard is built by ONE task (groupBy(shard).applyInPandas) and
    written atomically (tmp file + rename), so a shard must fit a
    worker's memory — at real scale size n_shards for ~1-10 GiB
    shards, the WebDataset norm. Writes go through plain file I/O:
    local paths and mounted (fuse) stores; object stores need a
    two-step local-write + upload.

    Returns the manifest, one row per NON-EMPTY shard:
    (shard, n_members, total_bytes, id_checksum, tar_md5) where the
    first four are engine-reproducible accounting (same checksum as
    :func:`shard_manifest`) and tar_md5 certifies the exact bytes on
    disk.

    The export runs EAGERLY, exactly once per call: the side-effecting
    tar write is forced here and the manifest is returned as a small
    local frame, so downstream actions (count, hash, repeated timing
    runs) re-read the manifest instead of re-writing every shard. A
    task retry after a partially-written tmp file is safe regardless
    (mode="w" truncates the tmp; os.replace commits atomically).
    """
    import hashlib
    import io
    import os
    import tarfile

    import pandas as pd
    from pyspark.sql import types as T

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    os.makedirs(path, exist_ok=True)
    sharded = shard_assignment(
        df.select(F.col(id_col), F.col(text_col)), id_col, n_shards
    )
    schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("id_checksum", T.LongType()),
            T.StructField("tar_md5", T.StringType()),
        ]
    )

    def write_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        if pd.isna(shard):  # NULL id -> NULL shard (NaN through pandas)
            raise ValueError(
                f"NULL {id_col} in export input — tar members need a "
                "non-null id for their names; filter or fill ids first"
            )
        pdf = pdf.sort_values(id_col)
        dest = os.path.join(path, f"shard-{int(shard):05d}.tar")
        tmp = f"{dest}.__tmp_{os.getpid()}"
        total = 0
        checksum = 0
        # stream the tar straight to the tmp file (never the whole
        # shard in memory), then hash it in chunks — peak extra memory
        # is one member, not 2x the shard
        with tarfile.open(tmp, mode="w", format=tarfile.USTAR_FORMAT) as tar:
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                data = ("" if text is None else str(text)).encode("utf-8")
                info = tarfile.TarInfo(name=f"{rid}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(data))
                total += len(data)
                checksum += int(
                    hashlib.md5(str(rid).encode()).hexdigest()[8:16], 16
                )
        h = hashlib.md5()
        with open(tmp, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        os.replace(tmp, dest)
        return pd.DataFrame(
            {
                "shard": [int(shard)],
                "n_members": [len(pdf)],
                "total_bytes": [total],
                "id_checksum": [checksum % ((1 << 31) - 1)],
                "tar_md5": [h.hexdigest()],
            }
        )

    manifest_rows = (
        sharded.groupBy("shard").applyInPandas(write_shard, schema).collect()
    )
    # one-slice local frame: #shards manifest rows — one slice, not
    # defaultParallelism near-empty ones (plans/localframe.py)
    from fugue_warehouses_spark.plans.localframe import local_frame

    return local_frame(df.sparkSession, manifest_rows, schema)
