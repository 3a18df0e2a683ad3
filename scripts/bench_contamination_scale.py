"""Large-corpus train/eval contamination evidence: run
contamination_report end-to-end on the 1M+ document dedup corpus as the
TRAINING side and a deterministically planted eval set (leaked-full /
leaked-70% / leaked-30% / clean bands), and report flag recall/precision
vs the planted truth, runtime, throughput, and shuffle volume.

The eval docs are built from corpus documents chosen by doc_id stride,
so ground truth is constructive: grams of a copied prefix exist verbatim
in the training doc, fresh 50k-vocab word-soup suffixes/docs have ≈ 0
accidental 8-gram collisions (50000^8 gram space). Band margins are wide
(band overlaps ≈ 1.0 / ~0.65 / ~0.2 / 0.0 vs the 0.5 decision line).

Usage:
    python scripts/bench_contamination_scale.py [--docs 1000000] [--cpus 16]

Prints one JSON line. Reuses .bench_cache/dedup_corpus_<docs>_42/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.bench_dedup_scale import shuffle_totals  # noqa: E402

SEED = 42
N = 8                 # gram width (GPT-3 appendix C uses 8-13)
MIN_OVERLAP = 0.5
STRIDE = 100          # every 100th base doc becomes a leak source


def build_eval(spark, docs, stride):
    """Deterministic eval set from strided corpus docs. Returns
    (eval_df, truth, eval_rows): per-band leak texts (full / mix70 /
    mix30) built from every ``stride``-th corpus doc plus a same-size
    clean band; truth maps eval_id -> (band, expected)."""
    from pyspark.sql import functions as F

    src = (
        docs.filter(F.col("doc_id") % stride == 0)
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    rng = np.random.default_rng(np.random.SeedSequence([SEED, 2026]))
    vocab_size = 50_000
    bands = ("full", "mix70", "mix30")
    eval_rows = []     # (eval_id, text)
    truth = {}         # eval_id -> (band, expected_contaminated)
    for i, row in src.iterrows():
        words = row["text"].split(" ")
        band = bands[i % 3]
        frac = {"full": 1.0, "mix70": 0.7, "mix30": 0.3}[band]
        h = max(int(round(frac * len(words))), N)
        fresh = [
            f"w{w:05d}"
            for w in rng.integers(0, vocab_size, size=len(words) - h)
        ]
        eid = 10_000_000 + i
        eval_rows.append((eid, " ".join(words[:h] + fresh)))
        truth[eid] = (band, band in ("full", "mix70"))
    n_leaked = len(eval_rows)
    for i in range(n_leaked):   # same-size clean band
        L = int(rng.integers(40, 121))
        eid = 20_000_000 + i
        eval_rows.append((
            eid,
            " ".join(f"w{w:05d}" for w in rng.integers(0, vocab_size, size=L)),
        ))
        truth[eid] = ("clean", False)
    return spark.createDataFrame(eval_rows, ["doc_id", "text"]), truth, eval_rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument(
        "--cpus", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", 16)),
    )
    ap.add_argument(
        "--stride", type=int, default=STRIDE,
        help="every --stride'th doc becomes a leak source (raise for "
             "bigger corpora to keep the eval set bounded)",
    )
    args = ap.parse_args()

    from data_drift_monitoring_spark.generator import generate_dedup_corpus
    from data_drift_monitoring_spark.session import get_spark
    from data_drift_monitoring_spark.operators.contamination import (
        contamination_report,
    )
    from pyspark.sql import functions as F

    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
        f"dedup_corpus_{args.docs}_{SEED}",
    )
    if not os.path.exists(os.path.join(cache, "truth.parquet")):
        t0 = time.time()
        stats = generate_dedup_corpus(cache, n_docs=args.docs, seed=SEED)
        print(f"# generated corpus in {time.time()-t0:.0f}s: {stats}",
              file=sys.stderr)

    spark = get_spark(
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(4 * args.cpus, 32),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={max(args.cpus, 1)} -Xlog:disable"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(cache, "docs"))
    n_train = docs.count()
    total_words = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("w")
    ).collect()[0]["w"]

    # --- deterministic eval set from strided corpus docs ------------------
    eval_df, truth, eval_rows = build_eval(spark, docs, args.stride)

    # --- the measured run -------------------------------------------------
    t0 = time.time()
    rep = contamination_report(
        docs, eval_df, n=N, min_overlap=MIN_OVERLAP
    ).toPandas()
    t_run = time.time() - t0

    # --- flag accuracy vs planted truth -----------------------------------
    rep["band"] = rep["eval_id"].map(lambda e: truth[e][0])
    rep["expected"] = rep["eval_id"].map(lambda e: truth[e][1]).astype(int)
    by_band = {
        b: {
            "n": int((rep["band"] == b).sum()),
            "flagged": int(rep.loc[rep["band"] == b, "contaminated"].sum()),
            "mean_overlap": round(
                float(rep.loc[rep["band"] == b, "overlap"].mean()), 4
            ),
        }
        for b in ("full", "mix70", "mix30", "clean")
    }
    tp = int(((rep["contaminated"] == 1) & (rep["expected"] == 1)).sum())
    fp = int(((rep["contaminated"] == 1) & (rep["expected"] == 0)).sum())
    fn = int(((rep["contaminated"] == 0) & (rep["expected"] == 1)).sum())

    sh = shuffle_totals(spark)
    out = {
        "metric": "contamination_1m",
        "n_train_docs": int(n_train),
        "train_words_m": round(total_words / 1e6, 1),
        "n_eval_docs": len(eval_rows),
        "ngram": N,
        "min_overlap": MIN_OVERLAP,
        "cpus": args.cpus,
        "sec": round(t_run, 1),
        "train_docs_per_sec": round(n_train / t_run),
        "recall": round(tp / max(tp + fn, 1), 5),
        "precision": round(tp / max(tp + fp, 1), 5),
        "false_positives": fp,
        "false_negatives": fn,
        "by_band": by_band,
        **sh,
    }
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
