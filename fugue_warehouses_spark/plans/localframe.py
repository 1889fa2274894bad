"""One-slice driver-local DataFrames.

``spark.createDataFrame(list)`` parallelizes the rows into
``defaultParallelism`` slices — so every read of a tiny offsets /
centroid / probe-term frame runs 32 near-empty tasks, and every
BROADCAST build over one pays 32 Python-runner rounds (the slices are
pickled Python rows; each partition evaluation is a separate runner
exchange). Measured on the global-rank offsets frame:
32-slice 1.24 s vs one-slice 0.93 s for the equidepth facet — and a
``.coalesce(1)`` "fix" is an anti-fix (5.5 s: ONE task then pays the
32 runner rounds sequentially).

``local_frame`` builds the frame from a single-slice RDD: one Python
round per read, one task. Use it for every driver-local list that a
query plan consumes (offsets, centroids, probe terms, manifests) —
these are O(cluster) or O(k) rows by construction, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """``spark.createDataFrame(data, schema)`` with ONE slice."""
    rows = list(data)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
