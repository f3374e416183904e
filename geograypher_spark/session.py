"""SparkSession factory with scale-oriented defaults.

Single place where all engine jobs, tests and benchmarks get their session.
Defaults are chosen for a real multi-executor cluster (AQE on, skew-join
handling on, Arrow on) and merely *sized down* via parameters for the
local[k] sandbox.

Whole-stage codegen compiles each distinct generated class with Janino
and keeps it in one JVM-wide cache of ``spark.sql.codegen.cache.maxEntries``
entries, split over 4 LRU segments. A pipeline that re-runs the same plans
thrashes Spark's default of 100: a cold perfbench ``forward_survey``
iteration compiles about 140 classes, always in the same order, and at
the default each steady iteration recompiled 108 of them (seed 1,
``local[4]``), code identical to the last iteration's. At 512 each
segment holds 128 entries against about 35 of that pipeline's, and a
steady iteration compiles none. The cache is built once per JVM, at the
first compile, from the conf then in force, so the value belongs in the
launch conf; sessions rebuilt later in the same JVM keep the cache.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Conservative defaults for the local sandbox; on a real cluster these are
# overridden by spark-submit conf. shuffle.partitions is sized to ~2-3x the
# core count locally; at 100 TB you want AQE coalescing from a high initial
# count instead (set initialPartitionNum high, let AQE shrink).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # generated-class cache: ~3.5x a cold forward_survey iteration's ~140
    # classes (see the module docstring); a static conf, read at launch
    "spark.sql.codegen.cache.maxEntries": "512",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _inject_worker_sitecustomize() -> None:
    """Put ``workerenv/`` (a ``sitecustomize.py`` shim) on ``$PYTHONPATH``
    so every Python worker imports it at interpreter startup.

    The shim backports Python 3.12's mtime-guarded
    ``zipimporter.invalidate_caches`` — without it, pyspark's per-task
    ``importlib.invalidate_caches()`` (``worker_util.py:144``) re-parses
    the pyspark.zip central directory on EVERY task: a measured fixed
    ~125-300 ms/task of pure overhead that dominates small Arrow tasks
    (see workerenv/sitecustomize.py for the full measurement). Must run
    BEFORE the JVM launches; a no-op when the dir is already present.
    """
    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerenv")
    parts = os.environ.get("PYTHONPATH", "")
    if d not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            d + os.pathsep + parts if parts else d)


def conf_gaps(conf: dict[str, str]) -> dict[str, str]:
    """The entries of ``conf`` whose keys the launch conf does not set.

    A ``builder.config(k, v)`` is applied on top of the launch conf, so
    setting every default would override what spark-submit's ``--conf``
    (or ``spark-defaults.conf``) chose. Under spark-submit the JVM runs
    before Python starts and holds the submit conf as ``spark.*`` system
    properties; this connects to it and reads them. Without a JVM yet
    (plain ``python``), nothing is set and every entry is a gap.
    """
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
    launch = SparkConf()
    return {k: v for k, v in conf.items() if not launch.contains(k)}


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf :func:`get_spark` applies on top of the launch conf. Its
    defaults (``_DEFAULTS``, a ``local[$SPARK_GRAFT_CPUS or *]`` master, a
    core-sized shuffle partition count) only fill the keys the launch conf
    lacks (:func:`conf_gaps`); explicit arguments win over both."""
    conf = conf_gaps({
        **_DEFAULTS,
        "spark.master": f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        "spark.sql.shuffle.partitions": str(
            min(64, max(8, os.cpu_count() or 8))),
    })
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return {**conf, **(extra_conf or {})}


def get_spark(
    app_name: str = "geograypher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession with :func:`session_conf`;
    under spark-submit, leave ``master`` None and the submit conf wins."""
    _inject_worker_sitecustomize()
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
