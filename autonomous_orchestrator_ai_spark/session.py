"""SparkSession factory.

Mirrors the reference's session configuration
(``/root/reference/spark/jobs/ingest_transform.py:55-64`` — AQE on, partition
coalescing on, Kryo) and adds the settings a large deployment wants from day
one: UTC session timezone (stable timestamp semantics vs any oracle), Arrow
for any pandas interchange, shuffle partitions sized to the actual
parallelism instead of the 200 default.

On a real cluster the same builder is used with ``master`` unset (picked up
from spark-submit) and ``shuffle_partitions`` sized ~2-3x total cores; AQE
coalescing then trims empty post-shuffle partitions at runtime.

``CODEGEN_CACHE_ENTRIES`` sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``, default 100, least recently used
evicted first) to the working set of a long-lived session. One pass of the
benchmark's three-query suite generates 113 distinct classes, so at the
default every steady pass evicted and recompiled 60-76 of them, and the JIT
warmed each new class again from the interpreter. It is a static SQL conf:
it takes effect only when set before the session's JVM starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Generated classes the codegen cache keeps. One pass over all 203
#: registered queries at sf0.01 generates 2,740 distinct classes, at about
#: 10 KiB of Metaspace each; the sizing rule and the measurements are in
#: PERF.md "Codegen cache: the session's working set".
CODEGEN_CACHE_ENTRIES = 4096


def default_cpus() -> int:
    """Local cores for a session: ``$SPARK_GRAFT_CPUS`` (driver contract)
    when set, else the cores this process may run on, which is what
    ``perfbench/run.py`` passes. A value that is not a positive integer
    raises instead of sizing the session to a typo."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"$SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def get_spark(
    app_name: str = "autonomous-orchestrator-ai-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local SparkSession tuned for this host.

    ``cpus`` defaults to ``default_cpus()``.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # reference parity: ingest_transform.py:58-60
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # scale hygiene beyond the reference
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # codegen-heavy operators (minhash/simhash/LSH) compile many large
        # Janino classes; the JVM's default 240m code cache fills mid-session
        # and the JIT silently falls back to interpretation (observed 5-10x
        # slowdowns late in long sessions). One JVM flag fixes it.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_session_storage(spark) -> int:
    """Free ALL session storage between benchmark/serving units of work:
    `catalog.clearCache()` drops cached DataFrames but NOT checkpointed
    RDD lineage — a `localCheckpoint()` (e.g. the PageRank edge list)
    survives it and silently starves every later query's execution
    memory (measured 2-4x slowdowns at sf10, PERF.md round 4). This
    walks the JVM's persistent-RDD registry and unpersists everything.
    Returns the number of RDDs released.

    DESTRUCTIVE to live lineage: because localCheckpoint TRUNCATES a
    DataFrame's lineage to the checkpoint blocks, any still-referenced
    DataFrame built before this call becomes unrecomputable afterwards
    (FileNotFoundException / "checkpoint block not found" on next use).
    Call it only BETWEEN fully-independent units of work, and never
    reuse a DataFrame object across the call — re-derive it from the
    registry/source instead (what bench.py and check_oracle do)."""
    spark.catalog.clearCache()
    jsc_sc = spark.sparkContext._jsc.sc()
    it = jsc_sc.getPersistentRDDs().toList().iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(True)
        n += 1
    return n


def codegen_compiles(spark) -> tuple[int, float]:
    """Generated classes Janino has compiled in this JVM (codegen cache
    misses) and their summed milliseconds. The time is the count times the
    mean of Spark's ``CodegenMetrics`` compile-time histogram, so it is
    approximate once the histogram's reservoir samples."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, n * h.getSnapshot().getMean()
