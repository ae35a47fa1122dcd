"""The one SparkSession factory, with the engine's scale-oriented defaults.

Every run mode gets its session here: tests, the driver contract,
``bench.py``, ``perfbench`` and the ``spark-submit`` job
(``run_job.py``). The defaults are one dict: ``spark.master =
local[cores]``, AQE on (runtime re-planning + skew-join splitting),
Arrow enabled for pandas UDFs, shuffle partitions and parallelism
sized to ``cores``, a 64 MB broadcast threshold, UTC session time.
``cores`` has one source in both run modes: the argument, else
``SPARK_GRAFT_CPUS`` (default 32).

- In a plain Python process nothing was submitted: every key applies,
  ``extra_conf`` over the defaults.
- Under ``spark-submit`` (``PYSPARK_GATEWAY_PORT`` is set) a key is
  applied only where the submit did not set it, so ``--master`` and
  ``--conf`` win. The submitted values are read through a JVM-backed
  ``SparkConf``: one made before the gateway exists is backed by an
  empty dict and contains nothing. ``spark.driver.memory`` acts only
  where this process starts the JVM; under spark-submit pass
  ``--driver-memory``.

Python workers are forked from ``osml10n_spark._daemon`` (set as
``spark.python.daemon.module``) where that daemon can import it: the
package is loaded from a plain directory whose parent is the working
directory or on ``PYTHONPATH``, which is where executors import the
package from. So ``run_job.py`` submitted from the checkout root gets
it. The daemon stops each task from re-reading every zip directory on
the worker's path. Where the package comes from a zip (``--py-files``),
workers put it on their path only per task, so the stock
``pyspark.daemon`` is kept: executors on a cluster do not see the
driver's zip path, and YARN sets its own
``spark.executorEnv.PYTHONPATH``, so naming the daemon there cannot be
made safe in general.
"""
from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf, SparkContext
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
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        **daemon_conf(), **(extra_conf or {})}
    if "PYSPARK_GATEWAY_PORT" in os.environ:     # under spark-submit
        SparkContext._ensure_initialized()
        submitted = SparkConf()
        conf = {k: v for k, v in conf.items() if not submitted.contains(k)}
    b = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
