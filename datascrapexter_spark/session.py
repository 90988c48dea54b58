"""SparkSession factory tuned for this engine.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
  AQE only splits *join* skew, so the host-skewed politeness top-k bounds
  a hot host's window input itself: a literal page cap lets Spark plan a
  map-side WindowGroupLimit before the domain exchange (see
  frontier/politeness.py).
- Arrow enabled: every Python crossing is Arrow-batched (pandas UDFs);
  there is no row-at-a-time Python UDF anywhere in this package.
- shuffle.partitions defaults to cores on local mode; on a real cluster
  leave it to AQE's coalescing from an over-partitioned initial value.
- Python workers on a local master fork from `pydaemon`, which stops each
  task from re-reading every zip archive on the worker's path (~0.3 s of
  start-up per Python task on a 4-core VM). Only local masters get it:
  there the daemon starts in the driver's working directory and
  environment, so it can import this package (`get_spark` checks that it
  can, and leaves pyspark's daemon in place where it cannot). On a
  cluster the package may arrive as a `--py-files` zip only at task time,
  after the daemon has started. An `extra_conf` entry for
  `spark.python.daemon.module` overrides the choice.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def _daemon_importable() -> bool:
    """Whether a Python started as Spark starts a local daemon (`python -m`
    in this process's working directory and environment) finds this
    package: it was imported from a directory (not a `--py-files` zip,
    which a worker only receives with a task) that is the working
    directory, a PYTHONPATH entry or a site-packages directory."""
    parent = os.path.realpath(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return os.path.isdir(parent) and any(
        p and os.path.realpath(p) == parent for p in roots)


def session_conf(master: str, shuffle_partitions: int | None = None,
                 extra_conf: dict | None = None) -> dict[str, str]:
    """The configuration `get_spark` starts a session with."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions":
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if (master == "local" or master.startswith("local[")) \
            and _daemon_importable():
        conf["spark.python.daemon.module"] = "datascrapexter_spark.pydaemon"
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "datascrapexter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
