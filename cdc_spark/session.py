"""SparkSession factory with the engine's required configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ceiling of the launch-time heap; also the size when free memory is
#: unknown (no /proc/meminfo)
_MAX_HEAP_MB = 8192
#: floor: below ~0.5 GB the driver refuses to start
_MIN_HEAP_MB = 1024


def _driver_mem() -> str:
    """Pinned driver heap: ``CDC_SPARK_DRIVER_MEM`` when set, else about
    half of ``MemAvailable`` at launch, capped at 8g.

    The heap is pre-touched, so a JVM holds its whole heap from launch;
    one launched later (say a ``python -m cdc_spark.job`` subprocess)
    sizes itself against what the earlier ones left, so together they
    never pin more than a host without swap has."""
    mem = os.environ.get("CDC_SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_MAX_HEAP_MB}m"
    return f"{max(_MIN_HEAP_MB, min(_MAX_HEAP_MB, kb // 2048))}m"


def get_spark(
    app: str = "cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned for the sandbox; on a real cluster the
    same engine code runs under spark-submit with cluster conf.

    - AQE on: runtime coalescing + skew-join mitigation (SURVEY.md §4.3).
    - Arrow enabled for the pandas-UDF kernels.

    No semantic configs: the engine must produce identical results on a
    bare ``SparkSession.builder.getOrCreate()`` (the driver's session) —
    pinned by tests/test_default_session.py.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    mem = _driver_mem()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(master[master.find("[") + 1 : -1]) if "[" in master and "*" not in master else cpus, 4)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # pinned heap: an elastic JVM heap on this class of microVM spends
        # 50-96% CPU in kernel page-fault handling; -Xms=-Xmx + pre-touch
        # removes it. Only effective when THIS builder launches the JVM
        # (python -m / tests / bench); under spark-submit the driver JVM
        # already exists and these are ignored — pass submit flags there
        # (tools/bench_scaling.py does).
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
