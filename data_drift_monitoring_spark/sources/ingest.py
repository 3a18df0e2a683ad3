"""Ingestion: format gates, multi-format readers, dataset validation,
metadata computation.

Distributed re-expression of the reference's upload path
(``backend/app/api/routes/data_upload.py:24-192`` →
``backend/app/utils/file_handler.py``):

- format whitelist csv/json/parquet (``config/settings.py:31``,
  ``file_handler.py:43-60``) — S1/S2/S3 in SURVEY.md §2.1
- hard validation gates: empty / MIN_ROWS / MIN_COLUMNS
  (``file_handler.py:163-186``, thresholds ``config/settings.py:58-59``)
- soft schema comparison (warnings, ``file_handler.py:206-235``) via
  ``schema.validate_schema``
- dataset metadata (``file_handler.py:247-324``): rows, columns, dtypes,
  per-column nulls, numeric summaries (first 10 numeric), top-k values for
  categoricals — all from ONE ``column_profile`` aggregation pass instead
  of the reference's per-column pandas loops
- content digest for upload dedup (``file_handler.py:83-100``): at scale a
  whole-file SHA-256 is replaced by a Spark-side xxhash64 rollup of row
  digests — order-insensitive, computed distributed in one pass (S8).

The reference's 500 MB size cap (``config/settings.py:29-30``) is a
single-node guard with no distributed analogue — deliberately dropped
(Spark's input splitting replaces it); the MIN_ROWS floor is kept.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..config import MIN_COLUMNS, MIN_ROWS, TOPK_VALUES
from ..schema import SchemaValidationResult, validate_schema

# reference allows csv/json/parquet (config/settings.py:31); orc added —
# Spark reads it natively and columnar warehouses commonly hold it
ALLOWED_FORMATS = ("csv", "json", "parquet", "orc")


def validate_format(path: str) -> str:
    """Return the normalized format for ``path`` or raise ValueError
    (reference 400 path, file_handler.py:43-60). Directories default to
    parquet (a table is a directory of files here, not one file)."""
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if not ext:
        return "parquet"
    if ext not in ALLOWED_FORMATS:
        raise ValueError(
            f"unsupported format '{ext}': allowed {list(ALLOWED_FORMATS)}"
        )
    return ext


def read_dataset(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Multi-format scan (S1/S2/S3). An explicit schema skips inference
    jobs and enforces types at the scan; without one, csv/json infer
    (the reference's pandas behavior)."""
    fmt = fmt or validate_format(path)
    if fmt == "csv":
        r = spark.read.option("header", True)
        return (
            r.schema(schema).csv(path)
            if schema
            else r.option("inferSchema", True).csv(path)
        )
    if fmt == "json":
        r = spark.read
        return r.schema(schema).json(path) if schema else r.json(path)
    if fmt == "orc":
        return spark.read.orc(path)
    return spark.read.parquet(path)


@dataclass(frozen=True)
class DatasetValidation:
    is_valid: bool
    errors: tuple[str, ...]
    warnings: tuple[str, ...]
    n_rows: int
    n_columns: int
    schema_result: SchemaValidationResult | None = field(default=None)


def validate_dataset(
    df: DataFrame,
    expected_schema: T.StructType | None = None,
) -> DatasetValidation:
    """The reference's 7-check DataFrame validation
    (file_handler.py:136-245): hard errors for empty / min rows / min
    columns, warnings for schema drift. One bounded `limit().count()` job
    — never a full count just to check a floor."""
    errors: list[str] = []
    warnings: list[str] = []
    n_cols = len(df.columns)
    # bounded count: reads at most min_rows+1 rows, not the whole table
    n = df.limit(MIN_ROWS + 1).count()
    if n == 0:
        errors.append("dataset is empty")
    elif n < MIN_ROWS:
        errors.append(f"dataset has {n} rows; minimum is {MIN_ROWS}")
    if n_cols < MIN_COLUMNS:
        errors.append(f"dataset has {n_cols} columns; minimum is {MIN_COLUMNS}")
    sr = None
    if expected_schema is not None:
        sr = validate_schema(df.schema, expected_schema)
        warnings.extend(sr.warnings)
        errors.extend(sr.errors)
    return DatasetValidation(
        not errors, tuple(errors), tuple(warnings), n, n_cols, sr
    )


def content_digest(df: DataFrame) -> str:
    """Order-insensitive whole-dataset digest: xor-rollup of per-row
    xxhash64 over the canonical JSON of each row, 16 hex chars (mirroring
    the reference's truncated SHA-256, file_handler.py:98-100). One
    distributed pass; replaces re-hashing files on every upload
    (file_handler.py:366-394)."""
    h = df.select(
        F.xxhash64(F.to_json(F.struct(*sorted(df.columns)))).alias("h")
    )
    # sum (not xor) of row hashes, reduced mod 2^64: order-insensitive AND
    # multiplicity-sensitive — an xor rollup is blind to any even number of
    # duplicate rows, so adding two copies of a row left the digest
    # unchanged. The decimal cast keeps the aggregate exact under Spark 4
    # ANSI mode (int64 SUM over full-range hashes throws
    # ARITHMETIC_OVERFLOW); one JVM-side pass either way.
    row = h.agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).collect()[0]
    return format(int(row["s"] or 0) & 0xFFFFFFFFFFFFFFFF, "016x")


def dataset_metadata(
    df: DataFrame,
    max_numeric: int = 10,
    max_categorical: int = 10,
) -> dict:
    """file_handler.compute_metadata equivalent (``:247-324``): one wide
    aggregation pass via ``column_profile`` + ONE melt pass for all
    categorical top-k (a melt of (col, value) pairs into a single
    groupBy + per-col window, instead of a scan + shuffle per column —
    the upload path runs a fixed 2 aggregate jobs regardless of width).
    Returns a plain dict shaped like the reference's metadata JSON."""
    from pyspark.sql import Window

    from ..operators.stats import column_profile

    tagged = df.withColumn("_p", F.lit(0))
    prof = column_profile(tagged, partition_col="_p").collect()
    by_col = {r["column"]: r for r in prof}
    n_rows = prof[0]["n_rows"] if prof else 0

    dtypes = dict(df.dtypes)
    numeric_cols = [
        c for c, r in by_col.items() if r["mean"] is not None
    ][:max_numeric]
    cat_cols = [
        c
        for c, d in dtypes.items()
        if d == "string" and c in by_col
    ][:max_categorical]

    top_by_col: dict[str, dict] = {c: {} for c in cat_cols}
    if cat_cols:
        pairs = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(c).cast("string").alias("value"),
                        )
                        for c in cat_cols
                    ]
                )
            ).alias("cv")
        ).select("cv.col", "cv.value")
        w = Window.partitionBy("col").orderBy(
            F.desc("cnt"), F.asc_nulls_last("value")
        )
        topk = (
            pairs.groupBy("col", "value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= TOPK_VALUES)
            .collect()
        )
        for r in sorted(topk, key=lambda r: (r["col"], r["_rn"])):
            top_by_col[r["col"]][str(r["value"])] = int(r["cnt"])

    meta = {
        "num_rows": int(n_rows),
        "num_columns": len(df.columns),
        "dtypes": dtypes,
        "missing_values": {
            c: int(r["null_count"]) for c, r in by_col.items()
        },
        "numeric_summary": {
            c: {
                "mean": by_col[c]["mean"],
                "std": by_col[c]["stddev"],
                "min": by_col[c]["min"],
                "max": by_col[c]["max"],
                "median": by_col[c]["median"],
            }
            for c in numeric_cols
        },
        "categorical_summary": {
            c: {
                "unique_count": int(by_col[c]["approx_distinct"]),
                "top_values": top_by_col[c],
            }
            for c in cat_cols
        },
    }
    return meta
