"""Scale-adaptive fan-out after an unsplittable scan.

The input-skew rule: "one huge unsplittable file (gzip) ... fix at
the source if you can; otherwise repartition immediately after the
read." A parquet file is splittable only at ROW-GROUP boundaries, so a
table written as one row group scans as ONE task no matter what
``spark.sql.files.maxPartitionBytes`` / ``minPartitionNum`` ask for —
and every expensive per-row expression or Python table function placed
in that scan stage runs serially on one core. The fixture tables are
exactly this shape (every sf0.1 table is a single row group), and a
real lake has the same problem with single-row-group exports and
gzip'd text.

``fan_out_scan`` repartitions ONLY when the input's planned scan
parallelism is below the cluster's (so at 100 TB, where a scan has
thousands of splits, it is a no-op and adds no exchange), and
repartitions BY KEY — a keyless round-robin ``repartition(n)`` first
pays a local sort of its input (``spark.sql.execution.
sortBeforeRepartition``, on by default so task retries are
deterministic), which for document-sized rows costs more than the
shuffle itself.

The parallelism probe is CACHED per input file set and split
settings — ``df.rdd.getNumPartitions()`` builds a full QueryExecution
plus the DataFrame→RDD conversion that is then discarded, so repeated
calls over the same table (every benchmark pass, every facet sharing a
fixture) re-paid analysis for a number that only depends on the files
and the split size. Scan split counts are a function of the file
set + ``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes`` /
``minPartitionNum`` (unset, the last falls back to the session's
default parallelism, fixed for its life), so all four form the cache
key: a conf change probes again. Filters/projections don't change the
count; partition pruning changes ``inputFiles`` and hence the key.
Any scan planned BELOW the core count is
repartitioned — the added exchange is cheap relative to an
under-parallel per-row Python or regex stage, which is the only reason
callers invoke this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPLIT_CONFS = tuple(
    f"spark.sql.files.{k}"
    for k in ("maxPartitionBytes", "openCostInBytes", "minPartitionNum")
)

# (sorted input files, split settings) -> planned scan partition count;
# per-process, like the session itself. Never keyed on data contents —
# it caches a PLANNING property, not results.
_nparts_cache: dict[tuple[tuple[str, ...], tuple], int] = {}


def fan_out_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` by ``key_col`` to ``defaultParallelism``
    IFF its planned parallelism is under the core count; otherwise
    return it untouched (the at-scale path: no exchange added).

    Result-neutral by construction: callers apply per-row functions
    (or shuffling aggregations) downstream, so row placement cannot
    change any value. The ``rdd.getNumPartitions()`` probe plans the
    query but runs no job, and is cached per input file set and split
    settings."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    key = (files, tuple(spark.conf.get(k, None) for k in _SPLIT_CONFS))
    if files and key in _nparts_cache:
        nparts = _nparts_cache[key]
    else:
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:
            return df
        if files:
            _nparts_cache[key] = nparts
    if nparts >= par:
        return df
    return df.repartition(par, F.col(key_col))
