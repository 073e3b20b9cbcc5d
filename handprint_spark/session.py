"""SparkSession factory with the engine's tuned configuration.

Scale posture (SURVEY.md §4/§7): everything here is chosen for a
multi-executor cluster reading ~100 TB and only *tested* on local[N]:

  * AQE on (runtime coalesce + skew-join splitting);
  * Arrow on for every pandas UDF boundary, with a bounded
    ``maxRecordsPerBatch`` so batches of media BLOBs can't blow
    executor memory (media rows are KB-to-MB sized);
  * shuffle partitions sized by caller, else one per core in the CPU
    affinity mask (tests use 4; a real cluster would use 2-3x total
    cores);
  * 128 MiB scan splits — the parquet/Iceberg sweet spot.

JIT posture: the driver JVM runs C1 only (``-XX:TieredStopAtLevel=1``).
A CLI run, a benchmark run and a test session are each one short-lived
driver JVM, and with tiered C2 most of a warm batch's JVM CPU went to
C2 compiling Spark's own code (planning, task serde, Parquet, Arrow,
Hadoop ``Configuration``), still 0.27 s per bulk batch at the 40th.
Measured on a 4-vCPU host at local[4], C2 against C1: JIT 0.9-1.4 s
against 0.13-0.15 s per warm benchmark pass; ``cpu_ms_per_doc`` -32%
on skewed and -22% on bulk (medians of 20 and 5 pairs); 40 bulk
batches in one JVM 105 s against 85-95 s of CPU, with batches 30-39
at about 2 s each either way; a default CLI run on sf0.1 129 s
against 117 s of CPU (medians of 4 pairs). The cost: C1 code is
slower where one JVM runs many different plans, as in the test suite
(tier-1 wall +13% and +34% in two pairs). The env options in
``SPARK_GRAFT_DRIVER_JAVA_OPTS`` come after the flag and HotSpot takes
a flag's last occurrence, so
``SPARK_GRAFT_DRIVER_JAVA_OPTS=-XX:TieredStopAtLevel=4`` restores C2.
Executors keep C2 (a cluster's executors are long-lived); in local
mode they are threads of the driver JVM and so run C1 too. Under
``spark-submit`` the driver JVM exists before ``get_spark`` runs, so
pass ``--driver-java-options -XX:TieredStopAtLevel=1`` there.
``jvm_time_ms`` reads the JVM's JIT and GC time; ``run_batch`` reports
both per batch.
"""

from __future__ import annotations

import functools
import os

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

# Media blobs are ~0.1-6 MB per row; 64 rows bounds an Arrow batch at
# tens of MB AND gives each task enough batches that the JVM feeder
# and the Python worker pipeline (measured: 64-row batches beat
# 256-row by ~15% on the extraction flagship — with ~2 batches/task
# the worker idles during the first fill).
ARROW_BATCH_ROWS = 64


def _default_driver_memory() -> str:
    """min(16g, half of physical RAM): the 16g cap is the heap the
    engine was tuned with; half of RAM leaves room for the Python
    workers on a small host."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "handprint-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    host_cpus = str(len(os.sched_getaffinity(0)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", host_cpus)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus if cpus.isdigit() else host_cpus
    ))
    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        # "inherit": do NOT set a master — builder.master() overrides
        # the spark.master the launcher (spark-submit) already put in
        # the JVM conf, silently turning a cluster run into local[N].
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # BLOB-table guard: the vectorized parquet reader's default
        # 4096-row batch is sized for scalar columns; with media rows
        # of ~0.1-6 MB, 4096-row batches x n_cores OOM the heap. 128
        # rows bounds a batch at tens of MB regardless of blob size.
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        # Off-heap column vectors: the OnHeapColumnVector long-array
        # copies SIGSEGV on this host's JIT stubs (hs_err in
        # jlong_disjoint_arraycopy under 16+ threads); off-heap
        # vectors bypass those stubs and are also the right choice for
        # BLOB scans (no GC pressure from multi-MB rows).
        .config("spark.sql.columnVector.offheap.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        # This sandbox's virtualized CPU advertises AVX-512 but the
        # JIT'd avx3 arraycopy stubs SIGSEGV under load (observed:
        # hs_err crashes in jlong_disjoint_arraycopy_avx3 at 16+
        # threads). Cap the JIT at AVX2. C1 only: see "JIT posture"
        # above; the env options come last, so they can override both.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:UseAVX=2 -XX:TieredStopAtLevel=1 "
            + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.executor.extraJavaOptions", "-XX:UseAVX=2")
    )
    return builder.getOrCreate()


@functools.lru_cache(maxsize=1)
def _time_beans(gateway) -> tuple:
    """The JVM's compilation MXBean and its garbage collector MXBeans,
    looked up once per JVM: each py4j call is a round trip. The class
    is named whole (``gateway.jvm.java...`` checks each package level
    over py4j) and the beans are taken by index, since py4j ends an
    iteration of a Java list on a JVM exception. Measured: 8 ms for the
    first read in a JVM (40-50 ms without both), 0.06 ms after."""
    mf = JavaClass("java.lang.management.ManagementFactory", gateway._gateway_client)
    collectors = mf.getGarbageCollectorMXBeans()
    return mf.getCompilationMXBean(), [collectors[i] for i in range(len(collectors))]


def jvm_time_ms(spark: SparkSession) -> tuple[int, int]:
    """(JIT, GC) milliseconds the session's JVM has spent so far: the
    compilation MXBean's total compilation time and the summed
    collection time of every garbage collector. In local mode that JVM
    is the whole engine; on a cluster it is the driver only."""
    jit, collectors = _time_beans(spark.sparkContext._gateway)
    gc = sum(max(0, b.getCollectionTime()) for b in collectors)
    return jit.getTotalCompilationTime(), gc
