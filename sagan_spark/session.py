"""SparkSession factory tuned for the sandbox (local[N]) but configured the
way the job would run on a real cluster: AQE on (skew-join splitting for
hot conv_ids, SURVEY §4.2), Arrow enabled for the pandas-UDF matcher, UTC
session timezone for oracle comparability."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()   # applicationIds the package was shipped to


def ship_package(spark: SparkSession) -> None:
    """Make ``sagan_spark`` importable on executor python workers
    regardless of the driver's cwd — the in-process equivalent of
    ``spark-submit --py-files sagan_spark.zip``.  Idempotent per
    application: keyed by ``applicationId``, since a stopped session's
    ``id()`` can be handed to a later one."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(),
                         f"sagan_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def get_spark(app: str = "sagan_spark",
              cores: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               f"{max(16, 2 * int(cores))}g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
