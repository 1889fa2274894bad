"""Versioned table store: atomic multi-version writes + time travel.

The Delta/Iceberg idea reduced to its load-bearing core, on plain
parquet + rename atomicity (``plans/commit.py``): every write lands as
a brand-new immutable version directory ``v_00001, v_00002, ...``
under one store root; readers discover the latest COMPLETE version by
listing, so there is no pointer file whose swap could be half-seen.
This gives the reference's persist / save_table surface (SURVEY §2
A6/A17) snapshot isolation, reproducible pinned reads ("train on
exactly v_7"), and safe concurrent writers — properties a 100 TB
pipeline needs and an overwrite-in-place sink cannot give:

- **Writers** stage into ``__stage_<uuid>`` then ``commit.publish`` it
  as ``v_N``. Hadoop rename into a non-existent destination is atomic;
  if a racer claimed ``v_N`` first, we retry with N+1 — both writers
  keep their data, as distinct versions.
- **Readers** never look at ``__stage_*`` and require the version's
  ``_SUCCESS`` marker, so a crashed writer leaves garbage, never a
  readable half-version. ``vacuum`` sweeps stage leftovers and old
  versions (bounded storage), keeping at least ``keep_last``.
- A version, once complete, is immutable — time travel is just
  reading its directory.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from fugue_warehouses_spark.plans.commit import (
    STAGE_TTL_S,
    fs_path,
    is_complete,
    publish,
    sweep_stages,
)

_V_RE = re.compile(r"^v_(\d{5,})$")


def list_versions(spark: SparkSession, store: str) -> list[int]:
    """Complete (readable) versions, ascending. Empty if the store
    doesn't exist yet."""
    fs, root = fs_path(spark, store)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        m = _V_RE.match(st.getPath().getName())
        if m and is_complete(spark, f"{store}/{st.getPath().getName()}"):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(spark: SparkSession, store: str) -> int | None:
    vs = list_versions(spark, store)
    return vs[-1] if vs else None


def write_version(
    df: DataFrame, store: str, spark: SparkSession | None = None
) -> int:
    """Write ``df`` as the next version of ``store``; returns the
    version number. Safe under concurrent writers (each write becomes
    its own version; nobody's data is lost or half-visible)."""
    spark = spark or df.sparkSession
    stage = f"{store}/__stage_{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(stage)
    return _publish_next(spark, store, stage)


def _publish_next(spark: SparkSession, store: str, stage: str) -> int:
    """Commit ``stage`` as the lowest free version above the latest."""
    n = (latest_version(spark, store) or 0) + 1
    while not publish(spark, stage, f"{store}/v_{n:05d}"):
        n += 1
    return n


def read_version(
    spark: SparkSession, store: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: ``version=None`` reads the latest complete
    version; a pinned version reads that immutable snapshot."""
    if version is None:
        version = latest_version(spark, store)
        if version is None:
            raise FileNotFoundError(f"no complete versions under {store}")
    dir_str = f"{store}/v_{version:05d}"
    if not is_complete(spark, dir_str):
        raise FileNotFoundError(
            f"version {version} missing or incomplete under {store}"
        )
    return spark.read.parquet(dir_str)


def read_all_versions(spark: SparkSession, store: str) -> DataFrame:
    """Union of ALL complete versions — for stores used as append-only
    DELTA LOGS (each version is one increment, e.g. a micro-batch's
    signature rows) rather than snapshots. One multi-path parquet scan
    over every version directory: a single relation, so plan size
    stays O(1) in version count (an N-way union would make Catalyst
    analysis itself the bottleneck at thousands of deltas). Delta-log
    stores must keep one schema across versions (the snapshot store's
    upsert schema evolution does not apply here).

    Do NOT ``vacuum`` a store read this way: dropping old versions
    drops data, not history. Compaction (fold all deltas into one new
    version, then remove the old ones in the same maintenance window)
    is the operator-level path to bound version count."""
    versions = _live_versions(spark, store)
    if not versions:
        raise FileNotFoundError(f"no complete versions under {store}")
    return spark.read.parquet(
        *[f"{store}/v_{v:05d}" for v in versions]
    )


def _compacts_upto(spark: SparkSession, store: str, version: int) -> int | None:
    """Max version subsumed by ``version``'s compaction, or None if the
    version is a plain delta (no ``_COMPACTS`` marker)."""
    fs, marker = fs_path(spark, f"{store}/v_{version:05d}/_COMPACTS")
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return int(text.strip())


def _live_versions(spark: SparkSession, store: str) -> list[int]:
    """Complete versions that still carry live delta-log content: a
    compacted version's ``_COMPACTS`` marker names the highest version
    it folded in, so everything at or below the highest marker — other
    than compacted versions themselves — is a subsumed duplicate.
    This is what makes compaction crash-safe: the marker commits
    atomically with the version rename, so a crash after the compacted
    write but before the old directories are swept leaves readers
    seeing each row exactly once (the sweep is pure garbage
    collection, not a correctness step)."""
    versions = list_versions(spark, store)
    cutoff = -1
    for v in versions:
        upto = _compacts_upto(spark, store, v)
        if upto is not None:
            cutoff = max(cutoff, upto)
    # live = strictly above the highest cutoff. A compacted version is
    # always numbered above its own marker, so the newest compaction
    # survives this rule naturally — and an OLDER compacted version
    # (itself subsumed by a later compaction whose cutoff reaches it)
    # correctly dies with the plain deltas it had folded; reviving it
    # would double-count its content against the newer fold.
    return [v for v in versions if v > cutoff]


def compact_versions(
    spark: SparkSession,
    store: str,
    sweep: bool = True,
    stage_ttl_s: float = STAGE_TTL_S,
) -> int | None:
    """Fold every live version of a DELTA-LOG store into ONE new
    version, so per-probe listing/scan cost returns to a single
    directory no matter how many micro-batches appended deltas.
    Returns the new version number, or None when the store already has
    at most one live version (nothing to fold).

    Crash-safe by construction: the compacted version stages with a
    ``_COMPACTS`` marker (the max version it subsumes) and commits via
    the same atomic rename as any write; ``read_all_versions`` skips
    subsumed versions whether or not they have been swept yet. Old
    directories are deleted only AFTER the commit (``sweep=False``
    skips the sweep, e.g. to let a later maintenance window batch the
    deletes). Concurrent delta writers are safe: a delta that commits
    while compaction runs takes a higher version number than the
    marker records, so it stays live.

    The sweep also reclaims ``__stage_*`` leftovers older than
    ``stage_ttl_s`` (same in-flight-writer TTL discipline as
    ``vacuum``): once a store has been compacted, ``vacuum`` refuses
    it outright, so this is the ONLY reclamation path for stage dirs
    orphaned by crashed writers or crashed compactions on delta-log
    stores — without it they would leak forever.
    """
    fs, _ = fs_path(spark, store)
    live = _live_versions(spark, store)
    if sweep:
        # sweep subsumed leftovers from a compaction that crashed
        # between commit and sweep — without this, the short-circuit
        # below would keep the dead directories (and their listing
        # cost) forever
        for v in set(list_versions(spark, store)) - set(live):
            _, p = fs_path(spark, f"{store}/v_{v:05d}")
            fs.delete(p, True)
        sweep_stages(spark, store, "__stage_", stage_ttl_s)
    if len(live) <= 1:
        return None
    upto = max(live)
    merged = spark.read.parquet(*[f"{store}/v_{v:05d}" for v in live])
    stage = f"{store}/__stage_{uuid.uuid4().hex[:12]}"
    merged.write.mode("overwrite").parquet(stage)
    # marker joins the staged payload BEFORE the commit rename, so the
    # marker and the data become visible in the same atomic step
    _, marker = fs_path(spark, f"{stage}/_COMPACTS")
    out = fs.create(marker, True)
    try:
        out.write(bytearray(str(upto).encode("utf-8")))
    finally:
        out.close()
    n = _publish_next(spark, store, stage)
    if sweep:
        for v in live:
            _, p = fs_path(spark, f"{store}/v_{v:05d}")
            fs.delete(p, True)
    return n


def vacuum(
    spark: SparkSession,
    store: str,
    keep_last: int = 2,
    stage_ttl_s: float = STAGE_TTL_S,
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions and sweep stage
    leftovers from crashed writers; returns removed version numbers.
    The latest version is never removed (``keep_last`` min-clamps to
    1).

    Stage directories are only swept once older than ``stage_ttl_s``
    (by filesystem modification time, default 24 h) so a concurrent
    writer that is between its parquet write and its commit rename is
    never destroyed — the same leftover-vs-in-flight discipline as
    Delta's ``VACUUM ... RETAIN``. Pass ``stage_ttl_s=0`` to force-
    sweep everything (only safe when no writer can be in flight)."""
    keep_last = max(1, keep_last)
    fs, root = fs_path(spark, store)
    if not fs.exists(root):
        return []
    removed = []
    vs = list_versions(spark, store)
    if any(_compacts_upto(spark, store, v) is not None for v in vs):
        # a _COMPACTS marker means this store is a delta log that has
        # been compacted: versions are DATA, not history, and "keep the
        # newest K" would silently drop folded content. Compaction is
        # the cleanup path for these stores.
        raise ValueError(
            f"{store} is a compacted delta-log store; vacuum() would "
            "drop folded data — use compact_versions() for cleanup"
        )
    for v in vs[:-keep_last] if len(vs) > keep_last else []:
        _, p = fs_path(spark, f"{store}/v_{v:05d}")
        fs.delete(p, True)
        removed.append(v)
    sweep_stages(spark, store, "__stage_", stage_ttl_s)
    return removed


def upsert_version(
    spark: SparkSession,
    store: str,
    updates: DataFrame,
    keys: list[str],
    allow_missing_update_columns: bool = False,
) -> int:
    """MERGE-style upsert materialized as a NEW immutable version:
    latest-version rows whose key is absent from ``updates`` survive,
    update rows win on conflict, new keys append. Readers pinned to
    the previous version are untouched (snapshot isolation for free);
    a crashed upsert leaves only stage garbage.

    One anti-join shuffle on the keys — the same cost as any MERGE —
    plus the version write. On a first write (empty store) the updates
    become v_00001. Schema evolution is ADD-only merge-on-write: a NEW
    column in the feed null-fills surviving old rows (the
    Delta/Iceberg ``mergeSchema`` behavior). A feed MISSING columns
    the store has fails loudly — silently null-filling existing data
    because upstream dropped (or typo-renamed) a column would corrupt
    the new latest snapshot; pass
    ``allow_missing_update_columns=True`` to opt in deliberately.
    """
    try:
        cur = read_version(spark, store)
    except FileNotFoundError:
        return write_version(updates, store, spark)
    dropped = set(cur.columns) - set(updates.columns)
    if dropped and not allow_missing_update_columns:
        raise ValueError(
            f"update feed is missing store columns {sorted(dropped)}; "
            "add them, or pass allow_missing_update_columns=True to "
            "null-fill them on updated rows deliberately"
        )
    survivors = cur.join(updates.select(*keys), keys, "left_anti")
    merged = updates.unionByName(survivors, allowMissingColumns=True)
    return write_version(merged, store, spark)
