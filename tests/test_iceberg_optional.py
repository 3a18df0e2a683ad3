"""Deploy-gated Iceberg integration test (VERDICT r2 missing #3).

The sandbox has no Iceberg runtime jar, so snapshot pinning / time travel
is emulated by ParquetTableIO's versioned directories and this test SKIPS.
At deploy time, point SPARK_GRAFT_ICEBERG_JAR at the
iceberg-spark-runtime jar and it exercises the real IcebergTableIO
contract end to end: write → snapshot id → append → read pinned at the
old snapshot (time travel) vs current.

Runs in a subprocess because the Iceberg catalog requires session-level
configs (spark.sql.extensions, catalog registration) that cannot be
applied to the suite's already-started shared SparkSession.

Contract difference of the parquet emulation (documented in README):
ParquetTableIO versions are whole-directory copies keyed by its own
snapshot ids (content digests), so pinning is at write granularity and
concurrent writers are last-wins; Iceberg gives atomic commits with
optimistic concurrency and column-level schema evolution. The engine's
call sites use only the shared subset (write→id, read(snapshot_id),
append, read_appended).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

JAR = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")


@pytest.mark.skipif(
    not (JAR and os.path.exists(JAR)),
    reason="SPARK_GRAFT_ICEBERG_JAR not set (no Iceberg runtime in sandbox); "
    "parquet-dir snapshot emulation is covered by test_pipeline/test_service",
)
def test_iceberg_snapshot_pinning_and_time_travel(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from pyspark.sql import SparkSession
        from data_drift_monitoring_spark.sources.tables import IcebergTableIO

        wh = {str(tmp_path / "warehouse")!r}
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.jars", {JAR!r})
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            )
            .config(
                "spark.sql.catalog.it",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config("spark.sql.catalog.it.type", "hadoop")
            .config("spark.sql.catalog.it.warehouse", wh)
            .getOrCreate()
        )
        spark.sql("CREATE NAMESPACE IF NOT EXISTS it.ns")
        io = IcebergTableIO(spark, "it", "ns")
        df1 = spark.range(10).withColumnRenamed("id", "doc_id")
        snap1 = io.write(df1, "t")
        assert snap1 != "unknown"
        io.append(spark.range(10, 15).withColumnRenamed("id", "doc_id"), "t")
        assert io.read("t").count() == 15
        assert io.read("t", snapshot_id=snap1).count() == 10  # time travel
        print("ICEBERG_OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600,
    )
    assert "ICEBERG_OK" in out.stdout, out.stderr[-2000:]


def test_manifest_read_of_a_table_without_attempt_id(spark, tmp_path):
    """``IcebergTableIO``'s resume read over a manifest table created before
    the ``attempt_id`` column: the column reads as NULL and the done parts
    are found. Runs offline over a session-catalog parquet table standing in
    for the Iceberg table (``read`` is the only Iceberg-specific call)."""
    from data_drift_monitoring_spark.schema import MANIFEST_SCHEMA
    from data_drift_monitoring_spark.sources import manifest as M
    from data_drift_monitoring_spark.sources.tables import IcebergTableIO

    class SessionTableIO(IcebergTableIO):
        def read(self, table, snapshot_id=None):
            return self.spark.table(f"{self.prefix}.{table}")

    io = SessionTableIO(spark, "spark_catalog", "default")
    old = [f for f in MANIFEST_SCHEMA if f.name != "attempt_id"]
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in old)
    spark.sql(
        f"CREATE TABLE default.{M.MANIFEST_TABLE} ({ddl}) USING parquet "
        f"LOCATION '{tmp_path}'"
    )
    try:
        assert M.completed_partitions(io, "r") == []
        spark.createDataFrame(
            [("r", p, "s", None, "done", "t0", "t1") for p in (0, 1)], ddl
        ).write.insertInto(f"default.{M.MANIFEST_TABLE}")
        assert M.completed_partitions(io, "r") == [0, 1]
        m = io.read_appended_arrow(M.MANIFEST_TABLE, MANIFEST_SCHEMA)
        assert m["attempt_id"].to_pylist() == [None, None]
    finally:
        spark.sql(f"DROP TABLE default.{M.MANIFEST_TABLE}")
