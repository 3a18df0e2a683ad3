"""spark-submit entry: end-to-end training-corpus curation — repetition
filters, PII redaction, URL-blocklist filtering, and optional
domain-mixture rebalancing, in one pipeline (no reference analogue;
BASELINE.json north-star training-pipeline role).

Cluster usage::

    spark-submit --py-files engine.zip jobs/filter_corpus.py \
        --input /path/to/corpus.parquet --output /path/to/curated \
        [--text-col text] [--no-repetition] [--no-pii] \
        [--blocklist spam.example,bad.example] \
        [--mixture src_a=0.6,src_b=0.4] [--budget-rows N] \
        [--report /path/report.json] [--master ...]

Stage order (each optional, each one corpus scan, none shuffles the
corpus): repetition keep-filter → URL blocklist → PII redaction (text
column replaced in place; original preserved as <text>_raw) → mixture
rebalance (the only stage with an aggregate: one |strata|-row count).
The blocklist reads the raw text (redaction turns an IPv4 host into
``[IPV4]``), as ``streaming.curate`` does. Emits a JSON line with
per-stage row counts."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_mixture(spec: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in spec.split(","):
        k, _, v = part.partition("=")
        if not _:
            raise SystemExit(
                f"bad --mixture entry {part!r} (want stratum=share)"
            )
        out[k.strip()] = float(v)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--strata-col", default="source")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--no-repetition", action="store_true")
    ap.add_argument("--no-pii", action="store_true")
    ap.add_argument("--blocklist", default=None,
                    help="comma-separated blocked domains")
    ap.add_argument("--mixture", default=None,
                    help="comma-separated stratum=share pairs")
    ap.add_argument("--budget-rows", type=int, default=None)
    ap.add_argument("--report", default=None,
                    help="optional path for the JSON stage report")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.operators.pii import redact_pii
    from data_drift_monitoring_spark.operators.repetition import (
        repetition_flags,
    )
    from data_drift_monitoring_spark.operators.sampling import (
        rebalance_to_mixture,
    )
    from data_drift_monitoring_spark.operators.urls import (
        filter_blocklisted,
    )
    from data_drift_monitoring_spark.session import get_spark

    spark = get_spark(app_name="filter-corpus", master=args.master)
    df = spark.read.parquet(args.input)
    stages: dict[str, int] = {"input": df.count()}
    tc = args.text_col

    if not args.no_repetition:
        flagged = repetition_flags(df, tc)
        df = flagged.filter(F.col("repetition_keep")).select(df.columns)
        stages["after_repetition"] = df.count()

    if args.blocklist:
        bl = [d.strip() for d in args.blocklist.split(",") if d.strip()]
        df = filter_blocklisted(df, bl, tc)
        stages["after_blocklist"] = df.count()

    if not args.no_pii:
        df = (
            redact_pii(df, tc, out_col="__redacted")
            .withColumnRenamed(tc, f"{tc}_raw")
            .withColumnRenamed("__redacted", tc)
        )

    if args.mixture:
        df = rebalance_to_mixture(
            df,
            parse_mixture(args.mixture),
            strata_col=args.strata_col,
            key_col=args.key_col,
            budget_rows=args.budget_rows,
        )

    df.write.mode("overwrite").parquet(args.output)
    stages["output"] = spark.read.parquet(args.output).count()
    report = {"output": args.output, "rows": stages}
    line = json.dumps(report)
    if args.report:
        with open(args.report, "w") as f:
            f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
