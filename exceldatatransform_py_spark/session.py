"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads); the same configs are the right defaults on a real cluster:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow
for any Pandas-UDF exchange, UTC session timezone so date semantics
are stable across engines (the DuckDB oracle is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the driver heap on a machine with room for it (local mode: the
#: driver is the only JVM)
_DRIVER_HEAP_MB = 48 * 1024


def driver_memory(total_mb: int | None) -> str:
    """Default ``spark.driver.memory`` for a machine (or cgroup) with
    ``total_mb`` of memory: 48g, capped at half the total so the heap,
    the JVM's off-heap memory and the Python driver all fit (a heap
    larger than RAM grows past it without a leak and gets the process
    OOM-killed), never below 512m. ``None`` (unknown) keeps 48g."""
    if total_mb is None:
        return f"{_DRIVER_HEAP_MB}m"
    return f"{max(512, min(_DRIVER_HEAP_MB, total_mb // 2))}m"


def _memory_total_mb() -> int | None:
    """The memory this process may use, in MB: the smallest of
    ``MemTotal`` and the limits of the process's own cgroup and its
    ancestors (cgroup v2 ``memory.max``, v1 ``memory.limit_in_bytes``;
    the cgroup path comes from /proc/self/cgroup). Read-only; None
    when nothing is readable."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            limits += [
                int(line.split()[1]) * 1024
                for line in f
                if line.startswith("MemTotal:")
            ]
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/self/cgroup") as f:
            groups = [line.rstrip("\n").split(":", 2) for line in f]
    except OSError:
        groups = []
    for g in groups:
        if len(g) != 3:
            continue
        if g[1] == "":
            root, name = "/sys/fs/cgroup", "memory.max"
        elif "memory" in g[1].split(","):
            root, name = "/sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        path = g[2]
        while True:
            try:
                with open(os.path.join(root + path, name)) as f:
                    limits.append(int(f.read()))
            except (OSError, ValueError):  # absent, or "max"
                pass
            if path in ("/", ""):
                break
            path = os.path.dirname(path)
    return min(limits) // (1024 * 1024) if limits else None


def get_spark(
    app_name: str = "exceldatatransform_py_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster, drop the ``master`` override via the
    ``SPARK_MASTER`` env var and size ``shuffle_partitions`` to
    ~2-3× total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting,
        # broadcast-join demotion/promotion from observed sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Stable date/time semantics (oracle comparisons are tz-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's ICU-backed case mapping pays a ~250s one-time
        # static-init (CollationAwareUTF8String precomputes titlecase
        # tables on first lower()/upper()). JVM case mapping is
        # identical for the data handled here and starts instantly.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Arrow transfer for toPandas / pandas_udf exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode: the driver is the only JVM; give it headroom
        # the machine actually has.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or driver_memory(_memory_total_mb()),
        )
        # Whole-stage-codegen classes run interpreted until the JIT
        # compiles them; with many distinct queries per session the
        # default compiler-thread pool backlogs and a big generated
        # method can stay interpreted for an entire single-task stage
        # (measured 16x slowdown). More JIT threads drain the queue —
        # but scale them with the core count, or several concurrent
        # bench JVMs (4 × local[8]) oversubscribe the box with
        # compiler threads alone (measured 3.8s → 33s on the same
        # query purely from 4 × 18 JIT threads).
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:CICompilerCount={max(2, min(18, cpus // 2 + 2))} "
            "-XX:ReservedCodeCacheSize=512m",
        )
        # Generated classes are cached by source; a query shape that
        # repeats reuses its class only while it stays in the cache.
        # The default holds 100, but a steady cycle of the perfbench
        # `relational` workload uses 110 classes and one of `ingest`
        # 282 plus about 4 per cycle, so at 100 every cycle evicted
        # and recompiled (about 80 compiles per `relational` cycle).
        # 512 holds both; cached classes live in metaspace, so the
        # size stays near the working sets rather than unbounded.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Deterministic parquet scans at small SF (fewer, stabler splits).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
