"""SparkSession factory with the engine's scale-oriented defaults.

The same config set is used for tests, the driver contract and bench:
AQE on (runtime re-planning + skew-join splitting), Arrow enabled for
pandas UDFs, explicit shuffle partition counts sized to the sandbox.
On a real cluster the same builder applies — only master/cores change.

Python workers are forked from ``osml10n_spark._daemon`` (set as
``spark.python.daemon.module``) where that daemon can import it: the
package is loaded from a plain directory whose parent is the working
directory or on ``PYTHONPATH``, which is where executors import the
package from. The daemon stops each task from re-reading every zip
directory on the worker's path. Where the package comes from a zip
(``--py-files``), workers put it on their path only per task, so the
stock ``pyspark.daemon`` is kept.
"""
from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["build_session", "daemon_conf"]

_PACKAGE = Path(__file__).resolve().parents[1]


def daemon_conf(package: Path = _PACKAGE) -> dict[str, str]:
    """``spark.python.daemon.module`` where a daemon started as
    ``python -m`` from this process's working directory, with this
    process's ``PYTHONPATH``, imports ``package``; else nothing."""
    if not (package / "_daemon.py").is_file():
        return {}
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if any(r and Path(r).resolve() == package.parent for r in roots):
        return {"spark.python.daemon.module": "osml10n_spark._daemon"}
    return {}


def build_session(app_name: str = "osml10n-spark", cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**daemon_conf(), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
