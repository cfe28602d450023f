"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 1000-executor / 100 TB deployment and scaled down by
env for the local[32] sandbox:

- AQE on (runtime coalescing, SMJ→broadcast conversion, skew-join splitting).
- Explicit skew-join enablement (SURVEY.md §2.12 K3).
- Arrow enabled for pandas-UDF exchange (the only sanctioned Python boundary).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

_GIB = 1 << 30
# The measured throughput heap (see get_spark's JVM-flag note); smaller hosts
# get half their RAM.
DRIVER_HEAP_CAP_GIB = 48


def host_mem_bytes() -> int | None:
    """Physical memory of this host (Linux: ``MemTotal``), or None if the
    platform does not report it."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None


def default_driver_conf(mem_total: int | None = None) -> tuple[str, str]:
    """(``spark.driver.memory``, driver JVM flags) that start on a host with
    ``mem_total`` bytes of RAM (default: this host's).

    The heap is half the host's RAM, capped at DRIVER_HEAP_CAP_GIB.
    ``-XX:+AlwaysPreTouch`` commits and zeroes the whole heap at JVM start;
    it is kept only where the heap reaches the cap, the measured recipe,
    and dropped on smaller heaps (a 48g pre-touched heap cannot start on a
    15 GB host). An unknown host keeps the measured recipe.
    ``$SPARK_GRAFT_DRIVER_MEM`` and ``$SPARK_GRAFT_DRIVER_JAVA_OPTS``
    override each part; set the latter to "" to pass no flags."""
    total = host_mem_bytes() if mem_total is None else mem_total
    heap_gib = DRIVER_HEAP_CAP_GIB
    if total is not None:
        heap_gib = max(1, min(DRIVER_HEAP_CAP_GIB, total // 2 // _GIB))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_gib}g")
    pretouch = " -XX:+AlwaysPreTouch" if heap_gib == DRIVER_HEAP_CAP_GIB else ""
    flags = f"-Xms{mem}{pretouch} -XX:+UseParallelGC"
    return mem, os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", flags)


def _default_local_dir() -> str | None:
    """Shuffle/spill dir. The sandbox VM disk serializes concurrent shuffle
    writers (measured: 28% pipeline speedup moving to tmpfs at local[8]);
    prefer /dev/shm when present and writable. On a real cluster
    spark.local.dir comes from the cluster conf — env override wins."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return None


def get_spark(
    app_name: str = "kbgen_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass None and let spark-submit set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    mem, java_opts = default_driver_conf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, SMJ→BHJ.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (mention detection, emitter, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the mention UDF's per-batch overhead
        # (series construction, dict lookups re-entry) amortizes better;
        # rows at this boundary are short text spans, so batch memory stays
        # in the tens of MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Nested-schema pruning: text-only stages must never read media bytes.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every executor thread — size the
        # heap for all-of-them (32 tasks × shuffle/agg buffers), not a
        # driver-only 1-2g default.
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
    )
    # Driver JVM flags (local mode hosts all executor threads in the driver
    # JVM, so these govern the whole engine here; on a real cluster the same
    # flags belong in spark.executor.extraJavaOptions — this is the standard
    # production executor recipe). Measured A/B, full pipeline ×64 pinned
    # (BENCH/raw/jvmopts_ab_x64_r5.json): Xms=Xmx + AlwaysPreTouch commits
    # and zeroes the heap at JVM start — moving kernel page-faulting (the
    # box's worst-scaling primitive, hwceiling 0.31; a production executor
    # pays it once at startup and amortizes it over hours) out of the
    # steady-state region — and ParallelGC beats G1 on this batch-throughput
    # workload at every measured core count. The combination is the only arm
    # that was fastest at BOTH 2 and 8 pinned cores (35.3 s vs baseline
    # 38.2 @8; 88.8 vs 90.0 @2, min-of-2 each): selection is by absolute
    # throughput per level, never by the scaling ratio. The heap size and
    # whether to pre-touch it follow the host (default_driver_conf).
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
