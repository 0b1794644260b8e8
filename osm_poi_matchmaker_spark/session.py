"""SparkSession factory tuned for the POI matchmaker engine.

Local-mode settings mirror what we would ship via ``spark-submit --py-files``
on a real cluster: AQE on (skew-join handling for mega-cells), Arrow enabled
for the pandas-UDF extraction path, shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)
_MAX_DRIVER_MB = 16 * 1024


def _read_int(path: str) -> int | None:
    """First integer in ``path`` (cgroup files hold a bare number or
    ``max``); None when the file is missing or holds no number."""
    try:
        with open(path) as f:
            return int(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def _meminfo_total(path: str) -> int | None:
    """MemTotal of a /proc/meminfo-format file, in bytes."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def default_driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = _CGROUP_LIMITS
) -> str:
    """Driver heap sized from the host: 60% of the RAM this process may
    use — the smaller of MemTotal and any cgroup memory limit — never
    above 16g. A fixed 16g heap on a 15 GB host let the JVM grow until
    the kernel killed it before garbage collection ever ran. Falls back
    to 16g when neither source is readable."""
    limits = [_meminfo_total(meminfo)] + [_read_int(p) for p in cgroup_limits]
    ram = min((b for b in limits if b), default=None)
    if ram is None:
        return f"{_MAX_DRIVER_MB}m"
    return f"{min(ram * 6 // 10 // (1 << 20), _MAX_DRIVER_MB)}m"


def get_spark(
    app_name: str = "osm_poi_matchmaker_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. On a real cluster the
    same configs apply; only ``master`` changes (driven by spark-submit).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        ncores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Simple (JVM) case mapping instead of ICU full case mapping:
        # measured 5x faster on lower()-heavy paths (the cascade's
        # case-insensitive join keys; thread dumps showed
        # CollationSupport$Lower.execBinaryICU as the top CPU frame), and
        # simple mapping is also what the DuckDB oracle applies — they
        # only diverge on locale-special cases (Turkish dotless i etc.)
        # that Hungarian Latin text never exercises.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict:
    """Load driver-generated parquet tables from ``sf_dir`` as DataFrames."""
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
