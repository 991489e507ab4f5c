"""SparkSession construction with scale-appropriate defaults.

local[N] in this sandbox stands in for an N-executor cluster; every setting
here is one we would also set (with larger numbers) via spark-submit on a
real cluster: AQE for runtime re-planning and skew-join splitting, Arrow for
the pandas-UDF boundary, and shuffle partitions sized to the parallelism.

Python workers: every PySpark task starts with
``importlib.invalidate_caches()``, and on CPython 3.10-3.12 that made each of
a worker's 16 zip importers (``pyspark.zip``, the spark-core jar, py4j)
re-read its archive directory, 80-170 ms per task before any UDF ran.  No
session setting avoids it; the fix is in
``set_sketch_paper_spark/worker_zipimport.py``, which the package installs on
import inside worker processes only.  It backports CPython 3.13's lazy
invalidation (one re-read per archive, on the next lookup), so shipped
``addPyFile`` contents still import, and it retires itself on Python 3.13+.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "set-sketch-paper-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores keeps all threads busy through stragglers without
        # drowning small stages in task overhead
        shuffle_partitions = max(8, 2 * cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
