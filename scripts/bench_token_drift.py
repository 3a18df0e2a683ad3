"""Token-unigram drift at scale: vocabulary-usage PSI/JS/chi² + OOV over
the 40M-row / 5.7B-token bench corpus (ref vs cur snapshots).

The interesting number is validated tokens/sec THROUGH the unigram path:
every token occurrence is read and counted, but the one exchange carries
only |vocab| rows per map task (partial aggregation), so the job is
scan-bound — the same shape at 10^12 sequences. The two ≤|vocab|-row
histograms are then collected and the statistics and OOV counts come from
the numpy drift kernel on the driver (timed inside each rep).

Usage: python scripts/bench_token_drift.py [rows] [cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
CORES = int(sys.argv[2]) if len(sys.argv) > 2 else 16


def main() -> None:
    from data_drift_monitoring_spark.session import get_spark
    from data_drift_monitoring_spark.operators.drift import token_drift

    spark = get_spark(
        master=f"local[{CORES}]",
        shuffle_partitions=max(4 * CORES, 32),
    )
    cache = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".bench_cache")
    ref = spark.read.parquet(f"{cache}/seq_ref_{ROWS}_32")
    cur = spark.read.parquet(f"{cache}/seq_cur_{ROWS}_32")

    best = None
    rows = None
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.time()
        out = token_drift(cur, ref)
        rows = out.collect()
        sec = time.time() - t0
        best = sec if best is None else min(best, sec)
    r = rows[0]
    total_tokens = int(r["n_cur"]) + int(r["n_ref"])
    print(json.dumps({
        "rows_per_side": ROWS,
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "cores": CORES,
        "sec": round(best, 2),
        "total_token_occurrences": total_tokens,
        "tokens_per_sec": round(total_tokens / best),
        "psi": round(float(r["psi"]), 6),
        "js_divergence": round(float(r["js_divergence"]), 6),
        "psi_drift": r["psi_drift"],
        "new_tokens": int(r["new_tokens"]),
        "oov_pct": round(float(r["oov_pct"]), 4),
    }))


if __name__ == "__main__":
    main()
