"""SparkSession factory with engine defaults.

Defaults chosen for the target shape (very large scans, shuffle-heavy
merge, Arrow UDF hot paths): AQE on (runtime coalesce + skew-join),
Arrow transfer on, modest shuffle partitions for local mode (callers on a
real cluster pass ``shuffle_partitions`` sized to the data).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lucene_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the active) SparkSession with the engine defaults.

    PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is OFF by default.
    While it is on, every DataFrame and Column method call first reads
    the active session, a conf value and sets/clears a JVM-side origin —
    several py4j round trips per call, and query compilation makes
    thousands of such calls. The call site it records would always be a
    frame inside ``lucene_spark`` anyway. Errors still raise unchanged;
    only the PySpark call-site context attached to them is dropped.
    Turn it back on with
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    (PySpark reads the flag once per process, so set it on the first
    session).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
