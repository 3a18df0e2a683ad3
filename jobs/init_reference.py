"""spark-submit entry: build and persist the reference snapshot.

Distributed equivalent of ``scripts/init_baseline.py:18-105`` in the
reference (read → validate → compute metadata → persist versioned
baseline). Artifacts written to the warehouse (versioned parquet locally,
Iceberg tables on a real catalog):

- ``ref_stats``:     per-value n_tok histogram + source category counts
- ``ref_digests``:   (doc_id, tok_digest) for the per-row equality invariant
- ``ref_sequences``: full reference copy, the versioned raw baseline; no
                     check reads it (skip with ``--no-sequences``)

Cluster usage::

    spark-submit --py-files engine.zip jobs/init_reference.py \
        --input /path/to/sequences --warehouse /path/to/warehouse
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="reference sequences path")
    ap.add_argument("--warehouse", required=True, help="warehouse root dir")
    ap.add_argument("--no-sequences", action="store_true",
                    help="skip persisting the raw reference copy")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from data_drift_monitoring_spark.plans.reference import init_reference
    from data_drift_monitoring_spark.schema import (
        SEQUENCES_SCHEMA,
        validate_schema,
    )
    from data_drift_monitoring_spark.session import get_spark
    from data_drift_monitoring_spark.sources.tables import ParquetTableIO

    spark = get_spark(app_name="init-reference", master=args.master)
    ref = spark.read.parquet(args.input)
    sv = validate_schema(ref.schema, SEQUENCES_SCHEMA)
    if not sv.is_valid:
        print(f"schema validation failed: {sv.errors}", file=sys.stderr)
        return 1
    io = ParquetTableIO(spark, args.warehouse)
    snap = init_reference(
        spark, io, ref, persist_sequences=not args.no_sequences
    )
    print(f"reference snapshot: {snap}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
