"""SparkSession factory.

The reference has no session concept (eager pandas in one uvicorn worker,
``backend/app/utils/file_handler.py:102-134``). Here a session is the unit of
execution; the factory encodes the scale-oriented defaults the engine relies
on: AQE (runtime coalescing + skew-join handling), Arrow for the pandas-UDF
boundary, and an explicit shuffle-partition count sized to the cluster.
``arrow_rows`` turns driver-side rows into an Arrow table, and
``local_frame`` is the one way the engine turns them into a DataFrame.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_cores() -> str:
    """Cores for ``local[...]``: ``$SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on (the affinity mask, which honours taskset and
    cgroup cpusets where ``os.cpu_count`` reports the whole machine)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )


def get_spark(
    app_name: str = "data-drift-monitoring-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[<local_cores()>]``; under ``spark-submit``
    (detected via the gateway the launcher JVM exports) it is left unset so
    ``--master``/``--deploy-mode`` on the submit command line control
    deployment instead of being silently overridden here.
    """
    cpus = local_cores()
    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_spark_submit:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; a real cluster would size
        # this to 2-3x total executor cores or rely on AQE coalescing.
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
        )

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the engine's large joins are digest/key equi-joins that need no
        # sort order — shuffled-hash beats sort-merge (no per-side sorts)
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_rows(rows: Iterable[tuple | dict], schema: StructType | str) -> pa.Table:
    """Rows built on the driver (tuples in schema order, or dicts keyed by
    field name; extra keys are ignored) as an Arrow table of ``schema``, a
    ``StructType`` or a DDL string. A table IO appends it without Spark;
    ``local_frame`` turns it into a frame."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.fieldNames()
    return pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple | dict] | pa.Table,
    schema: StructType | str,
) -> DataFrame:
    """A DataFrame of ``schema`` over rows built on the driver, given as for
    ``arrow_rows`` or as the table it returns.

    The rows cross to the JVM once, as an Arrow table, and the frame plans
    as a ``LocalTableScan``. ``createDataFrame`` over a Python list instead
    pickles the rows into a ``PythonRDD``, and every action on that frame
    runs them through Python workers again."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = rows if isinstance(rows, pa.Table) else arrow_rows(rows, schema)
    return spark.createDataFrame(table, schema)
