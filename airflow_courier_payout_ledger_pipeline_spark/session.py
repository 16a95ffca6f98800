"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the same
conf block is what we would ship to a 1000-executor cluster — AQE for runtime
re-planning (skew joins, coalesced shuffle partitions), broadcast threshold sized for
dimension tables, UTC session time so event-time semantics are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "courier-ledger-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configuration.

    On a real cluster ``master`` is left to spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # AQE: runtime shuffle-partition coalescing + skew-join splitting — the
        # safety net that keeps the watermark/ledger jobs stable at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Dimension tables (couriers/orders dims ≤ a few GB at 100 TB scale) are
        # broadcast; bump the threshold above the 10 MB default.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Arrow for the few pandas_udf extension operators (similarity, multimodal).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Event-time must not depend on the deployment host's zone.
        "spark.sql.session.timeZone": "UTC",
        # NB: spark.driver.memory is deliberately absent — it only takes effect
        # before the JVM starts, so it belongs in spark-submit / SPARK_SUBMIT_OPTS,
        # not in a getOrCreate() conf that silently no-ops on a live session.
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """An empty frame of ``schema`` (a StructType or DDL string), built from an
    empty Arrow table. Spark turns that into an empty ``LocalRelation`` on the
    JVM: no Python-worker task ever runs for it, and the optimizer sees the
    emptiness, so joins and unions against it are pruned at planning time.
    ``createDataFrame([], schema)`` instead builds a Python RDD whose every
    downstream stage starts Python workers."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
