"""SparkSession factory with scale-oriented defaults.

The reference engine (striot/striot) runs one OS process per operator
partition connected by TCP (``src/Striot/Nodes.hs:52-167``); all of that
machinery is replaced here by a single SparkSession whose scheduler,
shuffle, and AQE take over deployment planning (SURVEY.md §3.3, §4.3).

Defaults are chosen for the 100 TB design point and then scaled down by
environment for local testing:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  replaces the reference's static Jackson-cost partitioning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this should be ~2-3x total executor cores (or left to AQE
  with ``coalescePartitions``).
- Arrow enabled: every Python-side operator in this package is an
  Arrow-batched Pandas UDF, never a row-at-a-time Python UDF.
- Python workers run under ``striot_spark.pydaemon``
  (``spark.python.daemon.module``), with the directory holding this
  package on their path. Every Python UDF task calls
  ``importlib.invalidate_caches()``, and with the stock daemon each of
  the worker's 14-18 zipimporters then re-parses the 1,328-entry
  directory of pyspark.zip: about 120 ms per task on a 4-vCPU VM
  (``tools/pyworker_cost.py``), a fixed cost on every micro-batch of a
  stateful streaming operator. The daemon re-reads an archive only when
  its mtime or size changed. It relies on Spark never rewriting a zip
  on the worker path in place; a zip that does change is still re-read.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "striot-spark"
# the directory holding the striot_spark package, for the Python workers
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def local_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session used by queries, tests and bench."""
    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps read as session-UTC TIMESTAMP (not NTZ),
        # matching DuckDB's wall-clock reading — see sources/batch.py
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "striot_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
