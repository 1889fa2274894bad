"""SparkSession factory with scale-oriented defaults.

The reference delegates execution to warehouse engines and exposes a
``parallelism`` knob (read fan-out = 2x parallelism,
fugue_bigquery/api.py:100-102,176-177). Here the single engine is
Spark; this module centralizes the session config so every entry point
(tests, benchmark, driver contract) gets the same tuned session.

Design-for-scale notes (local[32] test rig, 1000-executor target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  dynamic join-strategy demotion — the knobs that keep a fixed plan
  honest at 100 TB.
- Arrow on: every pandas interchange (toPandas, mapInPandas,
  applyInPandas) is Arrow-batched, never row-pickled.
- Session timezone UTC: the canonical timestamp policy is
  "microsecond, UTC-naive" (SURVEY.md §1.3); pinning the session TZ
  makes parquet timestamp round-trips deterministic and matches the
  DuckDB oracle.
- shuffle.partitions default sized for the local rig; real clusters
  should raise it (or rely on AQE coalescing from a high initial).

Warm-pass defaults. On small inputs the per-call costs of the session
(Janino codegen, the HotSpot JIT behind it, Py4J round trips) outweigh
the operators' own work, so the session lets a repeated query reuse
what its first run paid for:
- ``spark.sql.codegen.cache.maxEntries`` 4000 (Spark: 100). One
  ``query_mix`` benchmark pass needs ~260 generated classes; under the
  100-entry LRU every warm pass recompiled nearly all of them.
- ``spark.sql.codegen.useIdInClassName`` false. The whole-stage codegen
  stage id is otherwise part of the generated class body and so of the
  cache key, and AQE numbers stages in the order they become ready: on
  4 task threads a warm re-run of five registry queries still compiled
  4 classes now and then, and 0 with this off.
- ``spark.python.sql.dataFrameDebugging.enabled`` false. With it on,
  every ``Column`` method and ``functions.*`` call runs
  ``getActiveSession``, a ``conf.get``, ``PySparkCurrentOrigin.set`` and
  ``clear`` and a Python stack walk, which about doubles the Py4J round
  trips of building a plan. The trade: a runtime error no longer names
  the Python call site in its "DataFrame context"; for plans the library
  builds, that site points into library internals anyway.
- ``get_spark`` keeps the JVM method handles that PySpark resolves by
  reflection on every ``functions.*`` call and list-to-Seq conversion
  (``_cache_jvm_lookups``): a reflection round trip for the class and
  another for the method, each time.
Measured on the ``query_mix`` benchmark (4 vCPU, untraced, seeds 1-5,
order alternating per seed), against the session without these four:
``pass_s`` median 7.61 -> 5.33 s (-30%; -22 to -37% per seed),
``setup_s`` 24.6 -> 22.3 s, ``peak_rss_mb`` 3046 -> 3012. Traced (seed
3): ``codegen.compiles`` 260.5 -> 0 a pass, ``engine.build_s`` 2.27 ->
1.52 s, ``exec_s`` 6.40 -> 5.01 s, ``jvm.jit_s`` 10.1 -> 8.6 CPU-s,
Spark jobs, stages and tasks unchanged. Building one warm pass sends
~9600 Py4J commands, ~7900 with the lookups kept, ~2800 with the
debugging flag off as well.
To get call-site capture back, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to ``get_spark``. Two caveats: the cache size is a static conf, read
only when the session is created, so ``getOrCreate`` on a live session
keeps the old size; and PySpark reads the debugging flag once per
Python process, at the first ``Column`` or ``functions.*`` call made
with an active session, and keeps that answer for the life of the
process.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass, JavaMember
from pyspark.sql import SparkSession

def _default_driver_mem() -> str:
    """Local mode runs every task's shuffle-hash build plus all cached
    localCheckpoint blocks in ONE JVM: 8g GC-thrashed / OOM'd the
    320k-doc scale probe, so take a larger heap where the host allows —
    but never size past what physical RAM supports (a too-big -Xmx
    trades Spark's graceful spill path for the OS OOM-killer). On a
    real cluster this maps to executor memory, not driver."""
    try:
        ram_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    if ram_gb >= 96:
        return "24g"
    if ram_gb >= 32:
        return "12g"
    return "8g"


def _tune_malloc() -> None:
    """Keep large glibc allocations heap-resident instead of
    mmap-per-allocation (mallopt M_MMAP_THRESHOLD / M_TRIM_THRESHOLD
    -> 1 GB). On this class of host, first-touch page faults on fresh
    mmap regions run at single-digit MB/s, so every numpy temp over
    the 128 KB default threshold re-pays a fault storm on EVERY
    allocation — measured 4.5-49 s for 64-258 MB temps, dropping to
    0.03-0.6 s once the region is reused (this is the mechanism
    behind timings once banded as 'host noise'). With the
    thresholds raised, freed large buffers stay in the process heap
    and are reused fault-free; the one-time first-touch cost lands in
    session/query warmups. Workers get the same via the
    MALLOC_*_THRESHOLD_ env vars in ``_DEFAULT_CONF`` (env is read at
    process start, which is exactly when executor Python workers are
    forked). Non-glibc platforms no-op."""
    import ctypes

    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass


_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # parquet TIMESTAMP(NANOS) is otherwise illegal to read in Spark 4;
    # read as long and normalize to us in sources/star.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
    ),
    # extra driver JVM flags (local mode: the one JVM). Main use:
    # pinning -Xms=-Xmx for GC-variance probes — a growing heap takes
    # full GCs at every expansion step under a localCheckpoint-heavy
    # workload (SCALE_NOTES.md)
    "spark.driver.extraJavaOptions": os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", ""
    ),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # one BLAS thread per Python worker: task-level parallelism already
    # saturates the cores, and 32 workers x N-thread OpenBLAS
    # oversubscribes catastrophically on the numpy-matmul kernels
    # (measured ~1.9x on the 80k-vector all-pairs path)
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # worker-side twin of _tune_malloc (see its docstring): keep big
    # numpy temps heap-resident; glibc reads these at process start
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    # warm passes reuse their generated classes: a query_mix pass needs
    # ~260, Spark's default LRU of 100 recompiled nearly all of them
    # (see "Warm-pass defaults" above)
    "spark.sql.codegen.cache.maxEntries": "4000",
    # keep the codegen stage id out of the generated class body, so the
    # cache key does not depend on the order AQE plans query stages in
    "spark.sql.codegen.useIdInClassName": "false",
    # no per-call origin capture on Column / functions.* calls: halves
    # the Py4J round trips of building a plan (see "Warm-pass defaults")
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def pinned_heap_conf() -> dict[str, str]:
    """extra_conf that pins the driver JVM's -Xms to its -Xmx.

    A growing heap was measured as THE benchmark/probe variance driver
    under localCheckpoint-heavy workloads (full GC at every expansion
    step: 320k/8g spread 4.8-11x unpinned vs 1.86x pinned), so
    ``perfbench`` and ``scale_probe.py`` pin by default. A caller-set
    ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` wins — this helper then returns
    {} and the env passthrough in ``_DEFAULT_CONF`` applies as-is.
    Cluster note: local-mode driver == the one executing JVM; on a real
    cluster pin ``spark.executor.extraJavaOptions`` instead."""
    if os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS"):
        return {}
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    # -Xss16m: Catalyst analysis recurses deeply on big triangle-block
    # + iterative-CC plans; Structured Streaming's stream-execution
    # thread overflowed the default 1 MB stack running that plan shape
    # inside foreachBatch (the 320k ingest probe). 16 MB per
    # thread is noise against the pinned heap.
    return {"spark.driver.extraJavaOptions": f"-Xms{mem} -Xss16m"}


class _StaticMethodCache(JavaClass):
    """A py4j ``JavaClass`` that keeps the static-method handles it
    resolves. The plain ``JavaClass`` asks the JVM again (one reflection
    round trip) on every attribute access; a method handle holds only
    the class and method names, so one serves the life of the gateway.
    Fields are not kept: their values can change."""

    def __getattr__(self, name):
        member = super().__getattr__(name)
        if isinstance(member, JavaMember):
            self.__dict__[name] = member
        return member


# the JVM classes PySpark resolves on every ``functions.*`` call and
# every list-to-Seq conversion, by full name and by the short name that
# the gateway's imports allow
_HOT_CLASSES = (
    "org.apache.spark.sql.functions",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
)


def _cache_jvm_lookups(jvm) -> None:
    """Pin a :class:`_StaticMethodCache` per hot class on the gateway's
    ``JVMView``: an instance attribute wins over ``JVMView.__getattr__``,
    so PySpark's lookups by these names stop costing a reflection round
    trip for the class and another for the method."""
    for fqn in _HOT_CLASSES:
        cls = _StaticMethodCache(fqn, jvm._gateway_client)
        setattr(jvm, fqn, cls)
        setattr(jvm, fqn.rsplit(".", 1)[1], cls)


def get_spark(
    app_name: str = "fugue_warehouses_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and submit via spark-submit so the
    cluster manager decides.
    """
    # Python workers deserialize our pandas-UDF closures by module
    # reference; make the package importable on workers regardless of
    # the driver's cwd. (On a real cluster, ship the package via pip /
    # --py-files instead; this covers local mode + tests.)
    _tune_malloc()
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _cache_jvm_lookups(spark.sparkContext._jvm)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
