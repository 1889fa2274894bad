"""One way to commit a directory: write a complete stage, then rename.

A writer stages its output where no reader looks; Spark's job commit
drops ``_SUCCESS`` into it. :func:`publish` renames the stage into a
name that does not exist yet — atomic, so readers see all or nothing.
:func:`replace` swaps it over an existing directory with two checked
renames. Both refuse a stage without ``_SUCCESS``. :func:`sweep_stages`
reclaims crashed writers' stages once older than a TTL. Rename is
atomic on local filesystems, HDFS and viewfs, not on object stores
(copy + delete). Every rename goes through :func:`_rename`, so a test
can make a chosen call fail.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

# default age after which a stage counts as a crashed writer's leftover
STAGE_TTL_S = 86400.0


def fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any scheme the session supports."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def is_complete(spark: SparkSession, dir_path: str) -> bool:
    """True when ``dir_path`` holds Spark's ``_SUCCESS`` commit marker."""
    fs, marker = fs_path(spark, f"{dir_path}/_SUCCESS")
    return fs.exists(marker)


def _rename(fs, src, dst) -> bool:
    return fs.rename(src, dst)


def _require_complete(spark: SparkSession, stage: str) -> None:
    if not is_complete(spark, stage):
        raise OSError(
            f"{stage} has no _SUCCESS marker: the write is partial or the "
            "stage was swept; nothing was committed"
        )


def _refuse_swap_debris(spark: SparkSession, dest: str) -> str:
    """Raise if a crashed :func:`replace` left ``<dest>__compact_old``
    behind (it may hold the only copy); return that name otherwise."""
    old = dest.rstrip("/") + "__compact_old"
    fs, p = fs_path(spark, old)
    if fs.exists(p):
        raise FileExistsError(
            f"{old} exists — a previous swap crashed mid-swap; restore it "
            f"to {dest} (or delete it if {dest} is complete) before "
            "swapping again"
        )
    return old


def publish(spark: SparkSession, stage: str, dest: str) -> bool:
    """Atomically rename the complete ``stage`` to ``dest``; True on
    success. False when ``dest`` exists or a racer created it first —
    the payload is then still at ``stage`` and ``dest`` is untouched.
    ``OSError`` when the stage lacks ``_SUCCESS`` or the rename fails
    for another reason."""
    _require_complete(spark, stage)
    fs, dst = fs_path(spark, dest)
    _, src = fs_path(spark, stage)
    if fs.exists(dst):
        return False
    if not _rename(fs, src, dst):
        if fs.exists(dst):
            return False
        raise OSError(f"rename {stage} -> {dest} failed")
    # rename(src, EXISTING dir) "succeeds" by moving src inside it: a
    # racer created dest between exists() and rename(). Move our
    # payload back out to the stage; the racer keeps dest.
    _, nested = fs_path(spark, f"{dest}/{src.getName()}")
    if not fs.exists(nested):
        return True
    if not _rename(fs, nested, src):
        raise OSError(f"lost {dest} to a racer; moving {nested} back to {stage} failed")
    return False


def replace(spark: SparkSession, stage: str, dest: str) -> None:
    """Swap the complete ``stage`` in place of the existing ``dest``.

    Two checked renames: ``dest`` to ``<dest>__compact_old``, then
    ``stage`` to ``dest``. If the second fails, the old copy is renamed
    back and ``OSError`` is raised. The old copy is deleted only after
    both renames succeed. Between the two renames a reader may find
    ``dest`` absent; it never finds ``dest`` partly written, and no data
    is lost: a crash in that window leaves the old data at
    ``<dest>__compact_old`` and the new data at ``stage``.

    A failed swap that leaves ``dest`` holding the old data (either
    rename failed, and the restore succeeded) deletes the stage before
    raising ``OSError``, so retries do not pile up full copies. The
    stage is kept whenever it may hold the only copy of something: when
    the restore fails, and on the refusals below.

    Refuses with ``FileExistsError`` ("crashed mid-swap") while
    ``<dest>__compact_old`` exists, and with ``OSError`` when the stage
    lacks ``_SUCCESS``. One writer at a time per ``dest``."""
    old = _refuse_swap_debris(spark, dest)
    _require_complete(spark, stage)
    fs, dst = fs_path(spark, dest)
    _, src = fs_path(spark, stage)
    _, old_p = fs_path(spark, old)
    if not _rename(fs, dst, old_p):
        if fs.exists(dst):
            fs.delete(src, True)
        raise OSError(f"rename {dest} -> {old} failed; {dest} untouched")
    if not _rename(fs, src, dst):
        if not _rename(fs, old_p, dst):
            raise OSError(
                f"rename {stage} -> {dest} failed, and restoring {old} -> "
                f"{dest} failed too; the old data is at {old}"
            )
        fs.delete(src, True)
        raise OSError(f"rename {stage} -> {dest} failed; original restored")
    fs.delete(old_p, True)


def sweep_stages(spark: SparkSession, root: str, prefix: str, ttl_s: float) -> None:
    """Delete the children ``root/prefix*`` modified at least ``ttl_s``
    ago: crashed writers' stages. A younger stage may belong to a writer
    still in flight and is kept; ``ttl_s=0`` sweeps them all."""
    fs, root_p = fs_path(spark, root)
    if not fs.exists(root_p):
        return
    now_ms = time.time() * 1000.0
    for st in fs.listStatus(root_p):
        if st.getPath().getName().startswith(prefix) and (
            now_ms - st.getModificationTime() >= ttl_s * 1000.0
        ):
            fs.delete(st.getPath(), True)
