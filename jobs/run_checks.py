"""spark-submit entry: the validation + drift monitoring pass.

Distributed equivalent of ``POST /check_quality``
(``backend/app/api/routes/quality_check.py:25-191``), generalized per
partition and resumable: completed (run_id, part_id) pairs recorded in the
warehouse manifest are pruned before the scan, so a re-launched run only
touches unfinished partitions.

Cluster usage::

    spark-submit --py-files engine.zip jobs/run_checks.py \
        --input /path/to/current --warehouse /path/to/warehouse \
        --run-id run_2026_08_17 [--ref-snapshot vN_...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="current sequences path")
    ap.add_argument("--warehouse", required=True, help="warehouse root dir")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--ref-snapshot", default=None,
                    help="reference snapshot id (default: latest)")
    ap.add_argument("--allowed-sources", default=None,
                    help="parquet path of the allowed-source dimension "
                         "(default: engine ALLOWED_SOURCES)")
    ap.add_argument("--no-drift", action="store_true")
    ap.add_argument("--no-token-equality", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from data_drift_monitoring_spark.config import ALLOWED_SOURCES
    from data_drift_monitoring_spark.plans import reference as R
    from data_drift_monitoring_spark.plans.pipeline import run_checks
    from data_drift_monitoring_spark.session import get_spark, local_frame
    from data_drift_monitoring_spark.sources.tables import ParquetTableIO

    spark = get_spark(app_name="run-checks", master=args.master)
    io = ParquetTableIO(spark, args.warehouse)
    cur = spark.read.parquet(args.input)

    ref_stats = ref_digests = None
    if not args.no_drift and io.exists(R.REF_STATS_TABLE):
        ref_stats = R.load_ref_stats(io, args.ref_snapshot)
    if not args.no_token_equality and io.exists(R.REF_DIGESTS_TABLE):
        ref_digests = R.load_ref_digests(io, args.ref_snapshot)
    if args.allowed_sources:
        dim = spark.read.parquet(args.allowed_sources)
    else:
        dim = local_frame(
            spark, [(s,) for s in ALLOWED_SOURCES], "source string"
        )

    result = run_checks(
        spark, cur, io=io, run_id=args.run_id,
        ref_stats=ref_stats, allowed_sources=dim, ref_digests=ref_digests,
        snapshot_id=args.ref_snapshot,
    )
    if result.pruned_partitions:
        print(f"resumed: skipped partitions {result.pruned_partitions}")
    failed = result.verdicts.filter("passed = false").count()
    total = result.verdicts.count()
    print(f"run {result.run_id}: {total} verdicts, {failed} failed")
    result.score.orderBy("part_id").show(100, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
