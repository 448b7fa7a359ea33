"""SparkSession factory.

Reference parity note: the reference is single-threaded pure Python
(`/root/reference/README.md:42` lists async/distribution as future
work). Here the execution engine is Spark; this module centralizes the
conf we rely on: AQE (runtime re-planning, skew-join handling,
partition coalescing), Arrow (vectorized Python interop for the few
UDF stages), and UTC session time so timestamp semantics match the
DuckDB oracle.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable SQL confs we also apply defensively to sessions we
# did not create (the driver hands us its own SparkSession).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep Spark's default parallelism-first AQE coalescing: with
    # size-first ("false") a small-by-bytes but CPU-heavy shuffle
    # output (297k shingle rows ≈ 20 MB < the 64 MB advisory) collapses
    # to ONE task and the whole downstream stage runs single-threaded —
    # measured 2-2.5× slowdowns on the dedup family at sf0.1
    # (dedup_simhash 12.8→5.2 s, dedup_prefix_filter 5.9→3.1 s,
    # graph_triangle_census 2.6→1.5 s). At cluster scale this flag only
    # governs shuffles smaller than cores×minPartitionSize; the 100 TB
    # reducer sizing comes from advisoryPartitionSizeInBytes in
    # CLUSTER_CONF either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Recursive CTEs here do BULK work (every row advances one hop per
    # step — the SCALE.md recursion granularity rule), so the working
    # set is rows × depth and the 1M default row limit binds at data
    # scale, not at logic errors (first hit: the sf1 probe's customer
    # ancestor chain, 150k keys × depth 9 = 1.35M rows). Depth stays
    # guarded by cteRecursionLevelLimit=100; every registry recursion
    # is log- or calendar-bounded well under it.
    "spark.sql.cteRecursionRowLimit": "1000000000",
    # The harness events.parquet stores TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Recommended spark-submit conf for the production deployment this
# engine is designed for (a ~1000-executor cluster over ~100 TB of
# parquet). Local tests neither need nor can apply these (they are
# cluster-manager settings); they are the documented, reviewable
# companion to SCALE.md — pass via spark-submit --conf.
CLUSTER_CONF = {
    # Shuffle width: ~2-3x total cores so AQE has room to coalesce
    # down by size instead of being starved of parallelism.
    "spark.sql.shuffle.partitions": "8192",
    # 128-256 MB input splits keep scan tasks seconds-long at 100 TB
    # without overwhelming the scheduler with millions of tasks.
    "spark.sql.files.maxPartitionBytes": "268435456",
    # AQE target: reducers sized for memory, not core count.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "134217728",
    # Dimension tables up to this size broadcast (region/nation/
    # supplier/part all qualify at any realistic cardinality).
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    # Arrow batches for the pipeline UDF seams: big enough to
    # amortize Python dispatch, small enough to bound worker memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Executor shape: leave the driver thin; state lives in executors.
    "spark.executor.memory": "24g",
    "spark.executor.cores": "8",
    "spark.executor.memoryOverhead": "4g",
    "spark.dynamicAllocation.enabled": "true",
    "spark.dynamicAllocation.maxExecutors": "1000",
    # Shuffle robustness at scale.
    "spark.shuffle.service.enabled": "true",
    "spark.reducer.maxSizeInFlight": "96m",
    # Let HotSpot JIT the wide codegen'd vector-math methods (64-term
    # unrolled dots exceed the 8 KB huge-method guard and would run
    # interpreted, ~6x slower on ANN scoring stages).
    "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # A static conf is fixed by the owner of the session
            # (CANNOT_MODIFY_STATIC_CONFIG); the engine still works,
            # just potentially less optimally.
            pass
    return spark


def drop_zip_importers(fn: Callable[[Iterator], Iterator]) -> Callable[[Iterator], Iterator]:
    """Wrap a ``mapInPandas``/``mapInArrow`` batch function so that, once
    its iterator is exhausted, every ``zipimport.zipimporter`` is removed
    from ``sys.path_importer_cache``.

    PySpark starts every task with ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py:144``, ``setup_spark_files``, PySpark
    4.1). On CPython 3.11.7, ``zipimporter.invalidate_caches``
    (``zipimport.py:329``) re-reads the archive's whole central
    directory, so a reused worker re-reads ``pyspark.zip``, py4j and
    the spark-core jar (5,359 entries) on its import path before each
    task: ~0.2 s a task on a 4-core host, where a DOCX-chain UDF takes
    a few ms. With no zip importer cached, that reset costs under
    0.1 ms. Dropping the entries is safe: Python refills the cache on
    the next import, and a re-created importer reads its file list from
    ``zipimport._zip_directory_cache``, not from disk.

    In CPython 3.13.0 ``zipimporter.invalidate_caches`` only drops the
    cache entry (``zipimport.py:276``); delete this helper once the
    floor is CPython 3.13 or later.
    """

    @functools.wraps(fn)
    def wrapped(batches: Iterator) -> Iterator:
        yield from fn(batches)
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]

    return wrapped


def _default_driver_memory() -> str:
    """min(28g, ~60% of MemAvailable), floored at 2g: the 28g bench
    posture where the box affords it, a bootable session anywhere
    else. Parses /proc/meminfo (Linux); other platforms get the
    conservative 8g the engine shipped with before round 12."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_g = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(28, int(avail_g * 0.6)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(app_name: str = "syllabus-sense-spark") -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Local test runs honor ``SPARK_GRAFT_CPUS`` (default: all cores).
    On a real cluster the master/memory come from spark-submit; only
    the SQL confs below matter there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        # In local mode the driver JVM IS the executor: 8g heap split
        # across 32 task threads was ~250 MB/task and OOM'd the
        # minhash band join at the sf10 probe tier, while the box has
        # 128 GiB and the cluster posture (CLUSTER_CONF above) gives
        # every executor 24g+4g. Match that posture locally — same
        # memory-per-task a production executor would see — but derive
        # the default from the HOST's available RAM (r12 ADVICE: a
        # hard-coded 28g encodes the 128 GiB bench box and fails to
        # start on smaller hosts). SPARK_DRIVER_MEMORY still overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        # Wide codegen'd expressions (the statically-unrolled 64-term
        # vector dots in ext_similarity) compile to methods past
        # HotSpot's 8 KB DontCompileHugeMethods guard, leaving the
        # hottest inner loop in the BYTECODE INTERPRETER: measured
        # 17.7 s -> 2.7 s on the sf1 IVF assignment (1.6M x 64-dim)
        # from this flag alone. Cluster deployments want it in
        # spark.executor.extraJavaOptions too (see CLUSTER_CONF).
        .config(
            "spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods"
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
