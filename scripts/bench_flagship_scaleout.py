"""Executor scale-out emulation for the FLAGSHIP validation pipeline.

Topology A: ONE pinned 2-core process validates the full sequences
table. Topology B: TWO concurrent pinned 2-core processes on DISJOINT
core sets, each validating half the table by part_id parity — the real
2-executor topology for this workload: every verdict row (constraint,
uniqueness, referential, drift, token-equality) and the partition score
are keyed/grouped by part_id, so a partition-disjoint split makes the
combined output the plain UNION of the halves, exactly as a cluster
scheduler assigning input partitions to executors would produce.

Topology C (``run 4``) is the literal 1 → 4-executor shape of
BASELINE.json's north rule: FOUR concurrent pinned 2-core processes on
disjoint core sets, each validating a quarter of the table by
``part_id % 4``.

probe mode:    python scripts/bench_flagship_scaleout.py probe <cores> <nsplit> <idx>
               (nsplit=1, idx=0 → full table; nsplit=4, idx=2 → quarter 2)
orchestrator:  python scripts/bench_flagship_scaleout.py run [n_executors=2]

Correctness pin: each probe prints one md5 per part_id over its
canonicalized verdict + score rows (floats at %.6g — the half and full
runs aggregate identical row sets, but partial-agg order may differ in
the last ulp). The orchestrator requires the union of the halves' maps
to equal the full run's map with disjoint keys.

Context (BENCH.md "Executor scale-out emulation", round 4): on this
sandbox two processes interfere through the shared ~2 GB/s memory
system even on disjoint cores, so per-executor-bandwidth efficiency
(solo half-run wall vs full-run wall) is also reported — the number
that transfers to a real cluster where executors own their bandwidth.

Ref-side split (round 5): each fraction probe also restricts the
reference-digest table to its parts' doc_id ranges, modeling how the
token-equality shuffled-hash join distributes the REFERENCE side over
executors on a real cluster (scan + hash-map build are each ~1/N per
executor, not N duplicated full passes). Output-identity vs the
unfiltered full run is enforced by the per-part hash pin.

Cur-side split assignment (round 5): fraction probes read ONLY their
part files (the generator writes exactly one parquet file per
part_id), exactly as a cluster scheduler hands each executor its input
splits. The previous pmod(part_id) filter over the full directory made
every "executor" re-scan + decode the whole 40M-row table — a
duplicated fixed cost (~60 s/probe at nsplit=4) that no real cluster
pays and that diluted the 1→4 ratio to 0.542. The per-part hash pin
still proves the union of fraction outputs equals the full run.
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (reuse the flagship's exact data + session setup)


def _canon_hash_per_part(df):
    """md5 per part_id over sorted, %.6g-canonicalized rows."""
    import hashlib
    from collections import defaultdict

    cols = sorted(df.columns)
    rows = defaultdict(list)
    pdf = df.toPandas()
    for _, r in pdf.iterrows():
        vals = []
        for c in cols:
            v = r[c]
            if v is None or v != v:
                vals.append("∅")
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            else:
                vals.append(str(v))
        rows[int(r["part_id"])].append("|".join(vals))
    return {
        p: hashlib.md5("\n".join(sorted(v)).encode()).hexdigest()
        for p, v in rows.items()
    }


def _bw_sample(arr=[]):
    """One-shot single-core memory-bandwidth sample (GB/s), ~0.2 s.

    This VM's effective memory bandwidth fluctuates up to 6x on an
    otherwise-idle host (measured 1.7-11.6 GB/s across 30 s — external
    hypervisor/co-tenant pressure; see BENCH.md). Each probe records a
    sample before every rep so a result self-adjudicates: reps taken in
    different host phases are visible in the output instead of silently
    skewing a between-topology ratio."""
    import numpy as np

    if not arr:
        arr.append(np.ones(100_000_000))  # 800 MB, streaming read
    t0 = time.perf_counter()
    float(arr[0].sum())
    return round(0.8 / (time.perf_counter() - t0), 2)


def probe(cores: int, nsplit: int, idx: int):
    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.config import ALLOWED_SOURCES
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        release_cached,
        score_partitions,
    )

    spark = bench._spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    ref_dir, cur_dir = bench._ensure_bench_data()
    stats_p, dig_p = bench._ensure_ref_artifacts(spark, ref_dir)
    bench._warm_page_cache(cur_dir, dig_p)
    my_parts = list(range(idx, bench.BENCH_PARTS, nsplit))
    if nsplit > 1:
        # Cluster split assignment: this executor reads ONLY its part
        # files (one parquet file per part_id by construction), the same
        # input-split → executor mapping a real scheduler produces. No
        # duplicated full-table scan across executors.
        cur = spark.read.parquet(
            *[os.path.join(cur_dir, f"part-{p}.parquet") for p in my_parts]
        )
    else:
        cur = spark.read.parquet(cur_dir)
    ref_stats = spark.read.parquet(stats_p)
    ref_digests = spark.read.parquet(dig_p)
    if nsplit > 1:
        # Model the cluster's key-space partitioning of the digest join:
        # in a real N-executor job the token-equality shuffled-hash join
        # splits the REFERENCE side across executors too (each scans ~1/N
        # of ref and builds 1/N of the hash map). The generator gives part
        # p the disjoint doc_id range [p*per, (p+1)*per) (last part takes
        # the remainder), so this executor's ref slice is exactly the
        # union of its parts' ranges — a parquet-pushdown range predicate.
        # ref_digests is only ever LEFT-joined from the cur side
        # (invariants.py: token_equality_stats_from_digests /
        # uniqueness_and_token_equality), so restricting ref to a superset
        # of this fraction's cur keys is output-identical; the per-part
        # hash pin below proves it against the unfiltered full run.
        per = bench.BENCH_ROWS // bench.BENCH_PARTS
        pred = None
        for p in my_parts:
            hi = bench.BENCH_ROWS if p == bench.BENCH_PARTS - 1 else (p + 1) * per
            rng = (F.col("doc_id") >= f"doc_{p * per:010d}") & (
                F.col("doc_id") < f"doc_{hi:010d}"
            )
            pred = rng if pred is None else (pred | rng)
        ref_digests = ref_digests.filter(pred)
    dim = spark.createDataFrame(
        [(s,) for s in ALLOWED_SOURCES], "source string"
    )
    total_tokens = cur.agg(F.sum("n_tok")).collect()[0][0]

    # steady-state: REPS reps, fastest (same protocol as
    # bench.run_flagship — both topologies amortize the same JVM/codegen
    # warm-up). build_verdicts is eager (it collects its per-part
    # aggregates), so each rep times the whole build + score from a
    # cleared cache. Default 3: with the host's phase-varying memory
    # bandwidth (see _bw_sample), 2 reps can land both inside one slow
    # phase; min-of-3 with per-rep bandwidth annotation lets the
    # orchestrator and the reader see which phase each wall came from.
    reps = int(os.environ.get("SPARK_GRAFT_SCALEOUT_REPS", "3"))
    sec = float("inf")
    rep_walls, rep_bw = [], []
    for _ in range(reps):
        spark.catalog.clearCache()
        rep_bw.append(_bw_sample())
        t0 = time.perf_counter()
        verdicts = build_verdicts(
            cur, ref_stats=ref_stats, allowed_sources=dim,
            ref_digests=ref_digests,
        ).persist()
        scores = score_partitions(verdicts)
        bench._force(verdicts)
        bench._force(scores)
        w = time.perf_counter() - t0
        rep_walls.append(round(w, 1))
        sec = min(sec, w)
        if _ == 0:
            hashes = _canon_hash_per_part(verdicts)
            score_hashes = _canon_hash_per_part(scores)
        release_cached(verdicts)
        verdicts.unpersist()
    print(
        json.dumps(
            {
                "nsplit": nsplit,
                "idx": idx,
                "cores": cores,
                "wall": round(sec, 1),
                "rep_walls": rep_walls,
                "bw_gbps_per_rep": rep_bw,
                "tokens": int(total_tokens),
                "verdict_hashes": hashes,
                "score_hashes": score_hashes,
            }
        )
    )
    spark.stop()


def launch(nsplit, idx, cpu_list):
    return subprocess.Popen(
        ["taskset", "-c", cpu_list, sys.executable,
         os.path.abspath(__file__), "probe", "2", str(nsplit), str(idx)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def last_json(*procs):
    """Drain all subprocesses concurrently (sequential communicate()
    deadlocks once a still-running twin fills its 64 KB pipe buffer)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(procs)) as ex:
        outs = list(ex.map(lambda p: p.communicate(), procs))
    results = []
    for p, (stdout, stderr) in zip(procs, outs):
        out = [ln for ln in stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not out:
            tail = "\n".join(stderr.strip().splitlines()[-15:])
            raise RuntimeError(
                f"probe rc={p.returncode} produced no JSON; stderr:\n{tail}"
            )
        results.append(json.loads(out[-1]))
    return results if len(results) > 1 else results[0]


def _combine(maps):
    comb = {}
    for m in maps:
        for k, v in m.items():
            if k in comb:
                raise RuntimeError(f"part {k} appears in two fractions")
            comb[k] = v
    return comb


def _one_topology(a, n_execs: int):
    """Solo fraction + n_execs-concurrent topology, judged against the
    shared full run ``a`` (topology A runs once per invocation even when
    several executor counts are measured — at 100M rows it costs ~18 min
    per rep pair, and the 1→N ratios must share one denominator
    anyway)."""
    # Solo fraction-run: same probe as the concurrent topology's
    # fraction 0, but alone — the per-executor-bandwidth number (a real
    # executor owns its memory bus)
    solo0 = last_json(launch(n_execs, 0, "0-1"))
    # Topology B/C: n_execs 2-core executors, concurrent, disjoint cores
    procs = [
        launch(n_execs, i, f"{2 * i}-{2 * i + 1}") for i in range(n_execs)
    ]
    rs = last_json(*procs)
    if n_execs == 1:
        rs = [rs]
    comb_v = _combine([r["verdict_hashes"] for r in rs])
    comb_s = _combine([r["score_hashes"] for r in rs])
    agree = comb_v == a["verdict_hashes"] and comb_s == a["score_hashes"]
    wall_b = max(r["wall"] for r in rs)
    return {
        "metric": f"executor_scaleout_flagship_1_to_{n_execs}",
        "rows": bench.BENCH_ROWS,
        "tokens": a["tokens"],
        "n_executors": n_execs,
        "verdicts_and_scores_agree_with_full_run": agree,
        "n_parts_full": len(a["verdict_hashes"]),
        "probe_wall_1exec": a["wall"],
        "probe_wall_nexec_max": wall_b,
        "probe_wall_fraction_solo": solo0["wall"],
        "tokens_per_sec_1exec": round(a["tokens"] / a["wall"], 1),
        "tokens_per_sec_nexec": round(a["tokens"] / wall_b, 1),
        "scaleout_efficiency_concurrent": round(
            a["wall"] / (n_execs * wall_b), 3
        ),
        "scaleout_efficiency_per_executor_bandwidth": round(
            a["wall"] / (n_execs * solo0["wall"]), 3
        ),
        "interference_factor_fraction_run": round(
            wall_b / solo0["wall"], 2
        ),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        # per-rep walls + the memory-bandwidth sample taken just before
        # each rep (GB/s): the host's bandwidth fluctuates up to 6x from
        # external pressure, so these let a reader check that the walls
        # being ratioed came from comparable host phases
        "rep_walls_1exec": a["rep_walls"],
        "bw_gbps_1exec": a["bw_gbps_per_rep"],
        "rep_walls_solo": solo0["rep_walls"],
        "bw_gbps_solo": solo0["bw_gbps_per_rep"],
        "rep_walls_nexec": [r["rep_walls"] for r in rs],
        "bw_gbps_nexec": [r["bw_gbps_per_rep"] for r in rs],
    }


def run(execs: str = "2"):
    import shutil

    if shutil.which("taskset") is None:
        sys.exit("taskset not found — this emulation needs pinned cores")
    # Topology A: one 2-core executor, full table (shared across counts)
    a = last_json(launch(1, 0, "0-1"))
    for n_execs in [int(x) for x in execs.split(",")]:
        print(json.dumps(_one_topology(a, n_execs)), flush=True)


if __name__ == "__main__":
    if sys.argv[1] == "probe":
        probe(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
    else:
        run(sys.argv[2] if len(sys.argv) > 2 else "2")
