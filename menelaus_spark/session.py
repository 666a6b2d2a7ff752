"""SparkSession builder tuned for this engine.

Local mode is a single JVM with N executor threads; the same configs
(AQE, Arrow, shuffle-partition sizing) are what we would ship to a
1000-executor cluster via spark-submit — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    cores: int | None = None,
    app_name: str = "menelaus_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to ``cores`` in local mode: the
    classic 200 over-parallelizes small local runs and under-
    parallelizes 100 TB; on a real cluster this would be set to
    ~2-3x total executor cores.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    # Python workers are separate processes: driver-side sys.path edits
    # don't reach them. Exporting PYTHONPATH before the JVM launches is
    # the local-mode analog of `spark-submit --py-files menelaus_spark.zip`
    # (the cluster launch mode required by the north rule).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch + file-split sizing for wide binary rows (~50 KB
        # audio payloads): batches and splits must be sized in BYTES.
        # 1024 rows x ~50 KB ~= 50 MB per in-flight Arrow batch keeps 32
        # concurrent Python workers well under memory pressure; 64 MB
        # splits give ~2-3 waves of tasks per stage at 32 cores while
        # still amortizing per-task setup (tiny splits were the other
        # failure mode: 1 MB files -> per-task overhead dominated).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.files.openCostInBytes", "8m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # off-heap column vectors: parquet scan batches of ~50 KB binary
        # audio rows bypass the GC entirely (on-heap scan batches caused
        # allocation-pressure collapse at high thread counts)
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_OFFHEAP", "16g"))
        .config("spark.sql.columnVector.offheap.enabled", "true")
        # Whole-stage codegen cache (static, one per JVM). The engine
        # runs many small distinct plans that repeat run after run, and
        # Spark's default of 100 entries is below their working set: a
        # drift_tabular op generates 111 distinct units and a suite op
        # 69, so at 100 every warm drift op recompiled 72-98 units in
        # Janino and C2 re-JIT'd the new classes. The whole 88-entry
        # queries() registry at sf0.01 is 992 units
        # (tools/codegen_working_set.py); 2048 holds about twice that,
        # so a steady-state run recompiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # The cache is keyed on the generated source, whose class name
        # carries the codegen stage id by default. AQE numbers stages in
        # the order they finish, which varies when a plan runs branches
        # in parallel (hll_distinct_events, the suite's overlapped
        # passes), so one plan yields several sources. With both
        # defaults a warm suite op recompiled 18-23 units; with the
        # larger cache alone a warm drift op still recompiled 4-8.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark wraps F.col and every Column method in a call-site
        # capture: it walks the Python stack and sets, then clears,
        # PySparkCurrentOrigin in the JVM over py4j. The engine builds
        # its detectors from many small column expressions, so this is
        # a fixed driver cost on every query. Measured on 4 cores,
        # (F.col("x") + 1) * 2 took 41 py4j round trips and 7.6-10.4 ms
        # with capture, 8 and 1.3-1.7 ms without. Static conf, read once
        # per process (pyspark.errors.utils.is_debugging_enabled).
        # Analysis errors still name the column; only the Python
        # file:line context is gone.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # InferFiltersFromGenerate turns every explode(expr) into a
        # size(expr)>0 pre-filter; predicate pushdown then substitutes
        # the FULL generator input into that filter and pushes it below
        # the nearest Exchange — so a heavy shingle/tokenize expression
        # is evaluated TWICE per row, once of those on the pre-shuffle
        # (often single-split) side of a repartition. Our generators
        # explode computed arrays that are almost never empty, so the
        # inferred filter prunes nothing and only duplicates work (at
        # any scale — the duplicate evaluation is per input row).
        # Measured on the r06 bench: minhash_documents 4.6 s -> 1.5 s
        # warm with the rule excluded, identical results.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
