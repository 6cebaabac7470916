"""SparkSession factory tuned for this engine."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

PACKAGE_ZIP = "featuretools_spark.zip"


def ship_package(sc) -> None:
    """Put this package on the Python workers' import path: zip it and
    add the zip with ``sc.addPyFile``, as ``spark-submit --py-files``
    would, once per SparkContext — nothing is added when a file of
    that name is already among the context's Python includes. Without
    it a worker imports the package only from its working directory or
    ``PYTHONPATH``, and a pandas/Arrow kernel fails with
    ``ModuleNotFoundError`` when the driver runs from elsewhere."""
    if PACKAGE_ZIP in (sc._python_includes or []):
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    tmp = tempfile.mkdtemp(prefix="ftspark-pyfiles-")
    # executors may fetch the zip from the driver until the context
    # stops, so it lives as long as the driver process
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, PACKAGE_ZIP)
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(path)


def get_spark(
    app_name: str = "featuretools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow co-partitioned joins when both sides share the SAME
        # subset of the join keys (e.g. as-of matrices leave the
        # aggregation entity-partitioned; the pass-column re-attach
        # joins on (entity, cutoff) — entity-only co-partitioning is
        # sufficient clustering and skips re-shuffling the wide
        # matrix side; guide §2.4). Scale-independent planner
        # behavior, not a local[32] tune: the subset key's skew equals
        # the skew the upstream aggregation already carried.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark.sparkContext)
    return spark
