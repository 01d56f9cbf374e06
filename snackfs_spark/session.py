"""SparkSession factory tuned for the target execution profile.

Local testing runs on local[N] (one JVM); the configuration is chosen so
the same plans scale to a multi-executor cluster at ~100 TB:
  - AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
  - shuffle partitions sized to cores locally (cluster: set to 2-3x cores)
  - Arrow enabled so any Pandas-UDF path is batch-vectorized
  - UTC session timezone so timestamp semantics match the DuckDB oracle
  - Python task workers fork from snackfs_spark.pyworker, which keeps
    Spark's own archives off the worker import path: each zipimporter
    there re-read its archive on the per-task importlib.invalidate_caches(),
    ~250 ms of every Python task (DESIGN.md "Python worker floor")
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_REPO = Path(__file__).resolve().parents[1]
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(app_name: str = "snackfs_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    conf = (
        SparkConf(loadDefaults=False)
        .setMaster(f"local[{cpus}]")
        .setAppName(app_name)
        .set("spark.sql.shuffle.partitions", str(cpus))
        .set("spark.default.parallelism", str(cpus))
        .set("spark.sql.adaptive.enabled", "true")
        .set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .set("spark.sql.adaptive.skewJoin.enabled", "true")
        .set("spark.sql.session.timeZone", "UTC")
        # Pinned EXPLICITLY (r8 ADVICE): the exact-rational operators
        # (two-proportion, Mann-Whitney, KS, KMV, power grid) rely on
        # decimal(38,0) overflow failing LOUDLY. Under ANSI mode Spark
        # raises ARITHMETIC_OVERFLOW / NUMERIC_VALUE_OUT_OF_RANGE at the
        # offending expression — that raise IS the primary guard. The
        # in-plan isNull->assert_true traps next to those expressions are
        # the backstop for deployments that run with ANSI disabled
        # (where overflow silently yields NULL). Do not flip this to
        # false without auditing DESIGN.md rule 7.
        .set("spark.sql.ansi.enabled", "true")
        .set("spark.sql.execution.arrow.pyspark.enabled", "true")
        .set("spark.sql.parquet.filterPushdown", "true")
        .set("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .set("spark.ui.enabled", "false")
        .set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .set("spark.sql.warehouse.dir", str(_REPO / "var" / "warehouse"))
        # custom Python data source (snackstore) declares pushFilters
        .set("spark.sql.python.filterPushdown.enabled", "true")
        .set("spark.python.daemon.module", "snackfs_spark.pyworker")
    )
    # Workers import snackfs_spark (pickled functions, the snackstore
    # source, the daemon) from any driver cwd: append the package's parent
    # to the workers' PYTHONPATH, keeping any value spark-defaults.conf or
    # --conf give. Those are visible once the JVM runs, so launch it first,
    # with the settings getOrCreate would launch it with.
    SparkContext._ensure_initialized(conf=conf)
    entries = [p for p in SparkConf().get(_WORKER_PYTHONPATH, "").split(os.pathsep) if p]
    if str(_REPO) not in entries:
        entries.append(str(_REPO))
    conf.set(_WORKER_PYTHONPATH, os.pathsep.join(entries))
    spark = SparkSession.builder.config(conf=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
