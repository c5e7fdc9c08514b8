"""SparkSession construction for the engine.

In production the package ships to executors via ``spark-submit --py-files
jcrawler_spark.zip`` (north rule). In local/driver-launched mode the executor
Python workers inherit ``PYTHONPATH`` from the driver process environment, so
``get_spark`` exports the package's parent directory there *before* the JVM
starts — making drive scripts and tests work from any cwd.

Config defaults follow the scale guidance (SURVEY.md §4/§7): AQE on (runtime
skew-join defusal), Arrow on (the three pandas UDFs are the only Python
surface), shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_pythonpath() -> None:
    """Ensure executor python workers can import jcrawler_spark."""
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if _PKG_PARENT not in parts:
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + existing if existing else "")
        )


def _default_driver_mem() -> str:
    """Half of the host's physical memory, at least 1 GB, as a JVM size."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, total_mb // 2)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "jcrawler-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    export_pythonpath()
    cores = os.cpu_count() or 4
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2× parallelism: big enough to bound per-partition memory, small
        # enough to keep task overhead negligible (BASELINE.md protocol)
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = 2 * int(master[6:-1])
        elif master.startswith("local-cluster["):
            # local-cluster[nExec,coresPerExec,memMB] — real executor JVMs
            n_exec, exec_cores = master[14:-1].split(",")[:2]
            shuffle_partitions = 2 * int(n_exec) * int(exec_cores)
        else:
            shuffle_partitions = 2 * cores
    # local mode: one JVM holds driver + all executor threads — size it for
    # the machine (override with JCRAWLER_DRIVER_MEM)
    driver_mem = os.environ.get("JCRAWLER_DRIVER_MEM") or _default_driver_mem()
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
