"""SparkSession factory with scale-oriented defaults.

Centralizes the physical-strategy knobs we own (SURVEY.md §4): AQE with
skew-join splitting, partition sizing, Arrow batch size for the
regex/format UDF stages.  Tests and bench share this so local runs
exercise the same configuration that a spark-submit deployment would.

JVM defaults go in ``spark.driver.defaultJavaOptions`` and
``spark.executor.defaultJavaOptions``.  Spark puts them before the
matching ``extraJavaOptions`` (``spark-defaults.conf``,
``PYSPARK_SUBMIT_ARGS``) on the command line, so a user's flag wins:

- the driver JVM: ``-XX:CompileThresholdScaling=4`` (see ``_JIT_OPTS``);
- each ``local-cluster`` executor: ``-XX:ActiveProcessorCount=<cores>``.

``get_spark`` sets both ``defaultJavaOptions`` keys, so a site-wide value
of them in ``spark-defaults.conf`` does not reach its JVMs; put site JVM
flags in ``extraJavaOptions`` instead.

Python workers of a ``local[...]`` session start from
``m3spark._pydaemon`` (``spark.python.daemon.module``), which runs
Spark's ``pyspark.daemon`` unchanged after one edit of ``sys.path``:
pyspark is imported from ``$SPARK_HOME/python`` instead of
``lib/pyspark.zip`` (when both hold the same ``pyspark/version.py``),
and the Spark core jar, which holds no Python, leaves the path.
PySpark calls ``importlib.invalidate_caches()`` at the start of every
task, and on CPython 3.11 that re-reads the central directory of every
zip archive a worker has imported from.  On a 4-vCPU VM (Spark 4.1.2,
CPython 3.11.7) that was 104 ms of CPU per call with the zips' 16
importers, and 0.1 ms after the edit (median of 20 calls in a worker);
``spark.createDataFrame`` of 6 rows on ``local[4]`` cost 0.50 s of
Python worker CPU per call, and 0.05 s after it (median of 10 calls).
``get_spark`` also puts the directory holding ``m3spark`` on
``spark.executorEnv.PYTHONPATH``, so the daemon module imports whatever
the driver's working directory is.  ``local-cluster`` executors keep
Spark's own daemon: their ``pyFiles`` reach a worker only with its
first task, after the daemon has started.

:func:`jvm_counters` reads the driver JVM's compilation layer (HotSpot
JIT and GC time, Janino-generated classes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot compiles a method once its invocation and back-edge counters
# pass a threshold; scaling the thresholds by 4 leaves the lukewarm
# methods of session start-up and short jobs in the interpreter, while
# hot loops still reach C2.  Sweep on a 4-vCPU VM (JDK 17, local[4]),
# medians of 4 interleaved `perfbench/run.py --seconds 12` seeds:
#
#   scaling  setup_s job/interp  op_cpu_s job/interp  peak_rss_mb job
#   1        19.7 / 18.4         5.58 / 6.75          1886
#   2        15.9 / 15.7         5.17 / 7.07          1876
#   4        14.2 / 14.1         5.15 / 6.71          1835
#   8        13.5 / 14.2         5.39 / 6.43          1524
#
# The cost is a slower warm-up: in `tools/ab_bench.py` (sf0.1, median
# of runs 2-6 in a fresh JVM) dedup_clusters_documents took 2.8 s at 1,
# 3.3 s at 2, 3.6 s at 4 and 3.8 s at 8, and minhash_pairs_documents
# 1.1 s at 1-4 but 1.5 s at 8.  4 keeps most of 8's start-up cut
# without 8's warm-up cost.  The default is the driver's only: every
# measurement above ran in local[...] mode, where the driver JVM runs
# all tasks; local-cluster executors get it once a run there shows it.
_JIT_OPTS = "-XX:CompileThresholdScaling=4"

# the directory ``import m3spark`` found the package in
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app: str = "m3spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              executors: int | None = None,
              executor_mem_mb: int = 4096,
              ui: bool = False) -> SparkSession:
    """``executors=None`` → single-JVM ``local[cores]``.

    ``executors=E`` → ``local-cluster[E, cores, mem]``: E separate
    executor JVM processes with their own Python workers, shuffling
    through real block transfers — the in-sandbox analog of growing a
    real cluster from N to 4N executors (BASELINE.md scaling plan).
    The m3spark package ships to executors the same way a
    ``spark-submit --py-files m3spark.zip`` deployment would."""
    if cores is None:
        # this sandbox oversubscribes vCPUs above ~16 threads (local[32]
        # is measurably SLOWER than local[16]); honor an explicit
        # SPARK_GRAFT_CPUS but default to at most 16
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else min(16, os.cpu_count() or 16)
    if shuffle_partitions is None:
        # scale shuffle width with cores (2x for scheduling overlap)
        total = cores * (executors or 1)
        shuffle_partitions = max(8, total * 2)
    if executors is None:
        builder = (
            SparkSession.builder
            .master(f"local[{cores}]")
            .appName(app)
            .config("spark.python.daemon.module", "m3spark._pydaemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT))
    else:
        from jobs.package import build as build_pyfiles

        builder = (
            SparkSession.builder
            .master(f"local-cluster[{executors},{cores},{executor_mem_mb}]")
            .appName(app)
            .config("spark.submit.pyFiles", build_pyfiles())
            .config("spark.executor.memory", f"{executor_mem_mb}m")
            # size each executor JVM's internal pools (GC, JIT, common
            # ForkJoin) for ITS core count, not the host's — E co-located
            # executors otherwise each spawn host-width service threads
            # and oversubscribe the box (real clusters set this via
            # container CPU limits)
            .config("spark.executor.defaultJavaOptions",
                    f"-XX:ActiveProcessorCount={cores}"))
    return (
        builder
        .config("spark.driver.defaultJavaOptions", _JIT_OPTS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # whole-stage codegen caches at most 100 compiled classes by
        # default; one dedup_clusters_documents run generates 103
        # distinct classes, so every warm run evicted and recompiled 33
        # of them, and the new bytecode ran interpreted until HotSpot
        # compiled it again
        # (sf0.1, local[4], runs 2-5 in one JVM: 4.8-5.8 s at 100,
        # 3.5-4.6 s and no new classes at 1000)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # InferFiltersFromGenerate plants a `size(gen_input) > 0` filter
        # below every explode; predicate pushdown then substitutes the
        # FULL generator-input expression into that filter, so for the
        # violation queries (explode over a computed violations array)
        # the whole validation expression tree was evaluated TWICE per
        # row — and the filter copy ran outside whole-stage codegen
        # (variant/invoke exprs force interpreted eval).  The inferred
        # filter is purely an optimization (it never changes results);
        # excluding it measured -40..-75% on the five val_* queries at
        # sf1.0 and is scale-independent plan hygiene, not a local[32]
        # tune (the duplicated subtree grows with schema complexity,
        # not core count).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def jvm_counters(spark: SparkSession) -> dict[str, int]:
    """Cumulative compilation-layer counters of the driver JVM, which in
    ``local[...]`` mode also runs every task: HotSpot JIT milliseconds
    (``CompilationMXBean``), GC milliseconds summed over the
    ``GarbageCollectorMXBean``s, and the number of classes Janino has
    compiled for whole-stage codegen (``CodegenMetrics``).  Diff two
    readings to charge a query."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        # a collector that does not track time reports -1
        "gc_ms": sum(max(0, b.getCollectionTime())
                     for b in mf.getGarbageCollectorMXBeans()),
        "codegen_classes": codegen.METRIC_COMPILATION_TIME().getCount(),
    }
