"""SparkSession construction tuned for this engine.

The reference delegates all execution to a single PostgreSQL
(``/root/reference/datafabric/settings.py:77-86``); here the execution engine
is Spark itself, so session defaults matter:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster AQE's coalescing makes the initial number mostly a cap.
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas interchange (Pandas UDFs, ``toPandas``) is
  batch-columnar instead of row-pickled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data-fabric-spark"


def local_cores(default: int | None = None) -> int:
    """The core count a local session is sized for: ``$SPARK_GRAFT_CPUS``,
    else ``default``, else the host's. The one read of that variable; a
    value that is not an integer (``*`` included) raises."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or default or os.cpu_count() or 1)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[local_cores(32)]`` and the shuffle
    partitions to :func:`local_cores`; on a real cluster callers pass
    ``None`` with a pre-set master or use ``spark-submit``.
    """
    if master is None:
        # More threads than cores on purpose: on a 4-core host bench.py's
        # join cells (q4, q8, q13, bucketed_join_revenue) ran 15-30% slower
        # on local[4] than on local[32] (3 alternating pairs at sf0.1).
        master = f"local[{local_cores(32)}]"
    if shuffle_partitions is None:
        shuffle_partitions = local_cores()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

