"""SparkSession factory with engine defaults.

Mirrors the role of the reference's ``SedonaContext.create(spark)``
(``spark/common/src/main/scala/org/apache/sedona/spark/SedonaContext.scala:67-122``)
— but because this engine is plain DataFrame pipelines over int64 cell
equi-joins, there is nothing to inject into Catalyst: no strategy, no
optimizer rule, no UDT registration. "Setup" is just sensible confs.

One of them reaches past the SQL layer: ``spark.python.daemon.module`` is
set to :mod:`sedona_spark.pydaemon`, the stock PySpark daemon without the
per-task re-read of Spark's zipped pyspark that ``importlib.invalidate_caches()``
does on Python 3.11/3.12 (0.16-0.28 CPU-s per Python task, most of a
small pandas UDF task's cost). The workers then import ``sedona_spark``
before the first fork, which every engine UDF needs anyway. A value in
``extra_conf`` wins. Sessions built without :func:`get_spark` (such as
``tools/submit_job.py`` under ``spark-submit``) keep the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine knobs (spark-conf-carried, cf. reference SedonaConf.java:105-215).
CONF_CELL_LEVEL = "spark.sedona_spark.cell.level"  # default join index level
CONF_JOIN_SALT = "spark.sedona_spark.join.salt"  # salt buckets for hot cells
CONF_KNN_TIES = "spark.sedona_spark.knn.includeTies"

# Python worker daemon: pyspark.daemon minus the per-task zip re-read
DAEMON_MODULE = "sedona_spark.pydaemon"


def get_spark(
    app_name: str = "sedona_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    ``cpus=None`` reads ``$SPARK_GRAFT_CPUS`` (default ``local[*]``).
    AQE is on: it coalesces small shuffle partitions and splits skewed
    ones at runtime — our replacement for the reference's sample-adaptive
    KDB-tree splits (SURVEY.md §4 "Spatial partitioning").
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_threads = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n_threads = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_threads)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.python.daemon.module", DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
