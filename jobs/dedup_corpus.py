"""spark-submit entry: near-duplicate deduplication of a document corpus —
MinHash+LSH candidate mining, exact n-gram-Jaccard verification,
cluster formation, and (optionally) the deduplicated corpus itself
(no reference analogue; BASELINE.json north-star training-pipeline role).

Cluster usage::

    spark-submit --py-files engine.zip jobs/dedup_corpus.py \
        --input /path/to/corpus.parquet --pairs /path/to/pairs \
        [--clusters /path/to/clusters] [--deduped /path/to/corpus_deduped] \
        [--threshold 0.7] [--num-hashes 64] [--bands 16] [--shingle-k 3] \
        [--text-col text] [--key-col doc_id] [--max-bucket-size 2000]

Scale shape: the dominant exchange carries (band, signature-slice, key)
rows — never document text; oversized LSH buckets are census-salted so
no single task exceeds ``--max-bucket-size`` comparisons; verification
cost is bounded by the candidate set, and cluster formation
(star-contraction) converges in O(log²) rounds or raises. Keeping one
representative per cluster (min key) is a broadcast anti-join.
See BENCH.md for measured 1M/10M-doc recall=1.0 evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="corpus (parquet)")
    ap.add_argument("--pairs", required=True,
                    help="verified near-dup pair output dir")
    ap.add_argument("--clusters", default=None,
                    help="optional (key, cluster) output dir")
    ap.add_argument("--deduped", default=None,
                    help="optional deduplicated-corpus output dir "
                         "(keeps the min key per cluster)")
    ap.add_argument("--threshold", type=float, default=0.7,
                    help="exact n-gram Jaccard decision line")
    ap.add_argument("--num-hashes", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16,
                    help="must divide --num-hashes evenly; raise toward "
                         "num-hashes/2 for recall near threshold 0.5 "
                         "(64/32 : miss prob <= 1e-4 at J=0.5)")
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--max-bucket-size", type=int, default=2000)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from data_drift_monitoring_spark.operators.dedup import (
        duplicate_clusters,
        minhash_verified_duplicates,
    )
    from data_drift_monitoring_spark.session import get_spark

    spark = get_spark(app_name="dedup-corpus", master=args.master)
    corpus = spark.read.parquet(args.input)

    pairs = minhash_verified_duplicates(
        corpus,
        key_col=args.key_col,
        text_col=args.text_col,
        threshold=args.threshold,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_k=args.shingle_k,
        max_bucket_size=args.max_bucket_size,
    )
    pairs.write.mode("overwrite").parquet(args.pairs)
    # read the persisted pairs back: clustering and dedup both consume
    # them, and re-running the whole LSH plan per consumer would triple
    # the dominant cost
    pairs = spark.read.parquet(args.pairs)

    stats = {"input": args.input, "pairs": args.pairs,
             "n_rows": corpus.count(), "n_pairs": pairs.count()}

    clusters = None
    if args.clusters or args.deduped:
        # one clustering pass serves both outputs
        duplicate_clusters(pairs).write.mode("overwrite").parquet(
            args.clusters or os.path.join(args.pairs, "_clusters")
        )
        clusters = spark.read.parquet(
            args.clusters or os.path.join(args.pairs, "_clusters")
        )
    if args.clusters:
        stats["clusters"] = args.clusters
        stats["n_clustered_rows"] = clusters.count()
        stats["n_clusters"] = clusters.select("cluster").distinct().count()
    if args.deduped:
        from pyspark.sql import functions as F

        drop = clusters.filter(F.col("k") != F.col("cluster")).select(
            F.col("k").alias(args.key_col)
        )
        deduped = corpus.join(
            F.broadcast(drop), on=args.key_col, how="left_anti"
        )
        deduped.write.mode("overwrite").parquet(args.deduped)
        stats["deduped"] = args.deduped
        stats["n_rows_kept"] = spark.read.parquet(args.deduped).count()

    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
