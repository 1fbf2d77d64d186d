"""SparkSession factory tuned for the local[N] sandbox.

Production deployment is spark-submit --py-files on a multi-executor
cluster; nothing here assumes local mode except the memory sizing.

Sizing comes from the host: local[os.cpu_count()] and a driver heap of
half the physical RAM. SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override
both for a deployment (or a benchmark that pins them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 // 2**30)}g"


def get_spark(app: str = "search_engine_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    # Make the package importable in forked python workers regardless of
    # the driver's cwd (the local-mode analogue of --py-files: workers
    # re-import UDF modules by name when unpickling).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # straggler mitigation: individual tasks (esp. python workers)
        # intermittently stall for seconds in this sandbox; speculative
        # re-launch clips the tail (same knob you'd set on a cluster)
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "2")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _half_ram())
        .config("spark.ui.enabled", "false")
        # JVM unified logging defaults to STDOUT; a mid-run GC warning
        # (e.g. GCLocker retry) would interleave with the one-JSON-line
        # stdout contract of bench.py and the driver's entry smoke —
        # route warnings to stderr instead.
        .config("spark.driver.extraJavaOptions",
                "-Djava.net.preferIPv4Stack=true -Xlog:all=warning:stderr")
    )
    return builder.getOrCreate()
