"""SparkSession factory tuned for the record-linkage workload.

Local mode is the sandbox proxy for a multi-executor cluster: ``cores``
maps to executor slots (the scaling-efficiency evidence runs the same job
at local[N] and local[4N]). On a real cluster the same builder is used by
``spark-submit --py-files`` with master/memory supplied externally.

Sizing rule — the session is sized to the host it runs on, and the
engine reads its sizes from the session, never from constants:

- **Shuffle width.** ``spark.sql.shuffle.partitions`` defaults to
  ``sparkContext.defaultParallelism`` (the executor slot count). An
  explicit width wins: ``shuffle_partitions=``,
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``, ``extra_conf`` or
  ``spark-submit --conf``. The engine's explicit repartitions
  (representatives, the JW band) and the clustering loop's shuffles all
  use this one value (:func:`shuffle_width`). A fixed width wider than
  the slot count makes every stage downstream of a repartition,
  checkpoint or state write run near-empty tasks: on a 4-core host a
  ~1,000-turn streaming micro-batch ran 1,882 tasks at width 32 and 343
  at width 4.
- **Driver heap.** ``driver_memory`` defaults to 60% of the host's
  MemTotal: a heap larger than physical RAM never comes under GC
  pressure, so the kernel OOM-kills the JVM instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_driver_memory() -> str:
    """60% of the host's physical memory (MemTotal on Linux), as a JVM size."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(total * 0.6) >> 20}m"


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width — the one width every explicit
    repartition in the engine uses (sizing rule, module docstring)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def get_spark(
    app_name: str = "address_match_recommend_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession sized to the host (module docstring).

    AQE is on (runtime partition coalescing + skew-join splitting), Arrow is
    on (all pandas UDFs cross the JVM/Python boundary in columnar batches),
    and the session timezone is pinned to UTC so results compare cleanly
    against DuckDB oracles.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")

    builder = SparkSession.builder.master(master).appName(app_name)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): an experiment with
        # false (honor the 64 MB advisory size) made the tiny CC-loop
        # shuffles collapse nicely to 1-2 tasks (2.2× on that loop) but
        # ALSO coalesced the ~100-200 MB pair-scoring shuffles — whose
        # rows are compute-expensive, not byte-heavy — to a handful of
        # tasks, wrecking the scoring stage's core scaling (stage wall
        # 600-1200 s vs 84-216 s measured at the same 20k-entity corpus).
        # Byte-based sizing is the wrong proxy when cost-per-row dominates;
        # the host-sized shuffle width (module docstring) is what keeps
        # the tiny shuffles cheap instead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR job scheduling: run_pipeline submits its independent stage
        # branches from two driver threads (plans/pipeline.py); FAIR mode
        # lets the branches' pools share task slots instead of queueing
        # one branch behind the other. Unconfigured pools get weight 1 /
        # minShare 0 — no allocation file needed. Single-job workloads
        # are unaffected (scheduling mode is moot with one job running).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", driver_memory or host_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # At 100 TB the scan parallelism is governed by file splits:
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            # Scaling-evidence hook (bench.py): e.g. -XX:ActiveProcessorCount=N
            # so a local[N] "executor" JVM also sizes its GC/JIT/fork-join
            # thread pools for N cores, like a real N-core executor would,
            # instead of for the whole host.
            + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", ""),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark


def stop_spark() -> None:
    """Stop the active session (used between scaling-benchmark runs).

    No private-attribute surgery (round-3 fix): ``SparkSession.builder``
    is a fresh Builder per access in PySpark 4, so stopping the session
    is sufficient for a later ``get_spark`` with a different master; the
    scaling harness additionally isolates each parallelism level in its
    own subprocess (bench.py), which is the robust path on any version."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
