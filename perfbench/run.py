"""Repository benchmark: closed-loop validation passes on this host.

Usage (from the repository root):

    python3 perfbench/run.py --workload full_pass --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

Workloads (``--workload``, or ``all`` for each in turn):

- ``full_pass``: ``build_verdicts`` + ``score_partitions`` over a 32-part
  ``ref_corrupted`` table against its reference snapshot, no writes.
- ``resume_one_part``: ``run_checks`` into a warehouse whose manifest marks
  31 of the 32 parts done, so only the corrupted part is validated and
  written.
- ``near_dup``: ``minhash_verified_duplicates`` + ``duplicate_clusters`` on
  a planted near-duplicate corpus.

Inputs come from the engine's generators, seeded by ``--seed``, and are
cached under ``.perfbench_cache/``; generation is not timed.  Each run starts
one fresh process (``worker.py``) with ``local[<cores>]``; every pass's
output is checked, and a wrong or failed pass counts in ``failed``.

``--trace 0`` prints the end-to-end metrics (the JSON line carries the
bounded ones: ``pass_cpu_s``, ``setup_s``, ``peak_rss_mb``); ``--trace 1``
turns on the event log, alternates untraced passes with traced ones, and
prints the per-layer table instead.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Exit status is non-zero, with no JSON, when the engine is missing or the run
produced no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = ("full_pass", "resume_one_part", "near_dup")
WORKER_TIMEOUT_S = 170

# per-layer table: the end-to-end metric each layer should move, and where
LAYER_TARGETS = {
    "prepare": "pass_s, peak_rss_mb on full_pass; ~flat on resume_one_part",
    "stats": "pass_s on full_pass",
    "doc_id_join": "pass_s on resume_one_part; flat on full_pass",
    "histograms": "pass_s on full_pass",
    "drift": "pass_s on full_pass; little on resume_one_part",
    "verdicts": "pass_s on both verdict workloads, more on resume_one_part",
    "score": "pass_s on both verdict workloads",
    "manifest": "pass_s on resume_one_part",
    "write": "pass_s on resume_one_part",
    "violations": "pass_s on resume_one_part",
    "minhash": "pass_s, peak_rss_mb on near_dup only",
    "lsh": "pass_s, peak_rss_mb on near_dup only",
    "verify": "pass_s, peak_rss_mb on near_dup only",
    "clusters": "pass_s, peak_rss_mb on near_dup only",
}
LAYER_STATS = (
    ("wall_s", "s"), ("wall_frac", "ratio"), ("tasks", "count"), ("run_s", "s"),
    ("cpu_s", "s"), ("cpu_frac", "ratio"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
)
# what the JSON line reports per layer (BENCHMARK.json "per_layer"): no
# absolute layer times, since a layer the workload does not run reads 0 s
# on every run; its share of the traced pass and the pass's wall carry them
JSON_LAYER_STATS = ("wall_frac", "tasks", "cpu_frac", "shuffle_write_mb")
JSON_TRACE_EXTRA = (
    "traced_pass_s", "doc_id_join.useful_frac", "unattributed_s",
    "tracing_overhead_s",
)


def tail_percentile(values: list[float]):
    """The highest of p99/p90/p75/p50 (nearest rank) with at least ten
    samples above it, as (p, value); None below 20 samples."""
    s = sorted(values)
    for p in (99, 90, 75, 50):
        rank = math.ceil(len(s) * p / 100)
        if len(s) - rank >= 10:
            return p, s[rank - 1]
    return None


def end_to_end(res: dict) -> dict:
    """The metrics BENCHMARK.json bounds.  A pass's cost is its CPU time: on
    a shared host its wall time follows the other guests (steal) more than
    the program, so wall time is in the table but not bounded."""
    return {
        "pass_cpu_s": {"value": statistics.median(res["pass_cpus"]), "unit": "s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
    }


def per_layer(res: dict) -> dict:
    """Median over traced passes of each layer's wall and task metrics.
    ``wall_frac`` is the layer's share of the traced pass wall, ``cpu_frac``
    its tasks' CPU time over their run time."""
    tr = res["trace"]
    passes = range(len(tr["traced_walls"]))
    groups = tr["groups"]
    zero = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_records": 0}

    def g(k, layer):
        return groups.get(f"pb{k}:{layer}", zero)

    def stat(k, layer, name):
        wall = tr["layer_walls"][k].get(layer, 0.0)
        if name == "wall_s":
            return wall
        if name == "wall_frac":
            return wall / tr["traced_walls"][k]
        if name == "cpu_frac":
            run_s = g(k, layer)["run_s"]
            return g(k, layer)["cpu_s"] / run_s if run_s else 0.0
        return g(k, layer)[name]

    out = {}
    for layer in LAYER_TARGETS:
        for name, unit in LAYER_STATS:
            vals = [stat(k, layer, name) for k in passes]
            out[f"{layer}.{name}"] = {"value": statistics.median(vals), "unit": unit}
    useful = [
        tr["current_rows"][k] / g(k, "doc_id_join")["shuffle_records"]
        if g(k, "doc_id_join")["shuffle_records"] else 0.0
        for k in passes
    ]
    unattributed = [
        tr["traced_walls"][k] - sum(tr["layer_walls"][k].values()) for k in passes
    ]
    traced = statistics.median(tr["traced_walls"])
    out["traced_pass_s"] = {"value": traced, "unit": "s"}
    out["doc_id_join.useful_frac"] = {"value": statistics.median(useful), "unit": "ratio"}
    out["unattributed_s"] = {"value": statistics.median(unattributed), "unit": "s"}
    out["tracing_overhead_s"] = {
        "value": traced - statistics.median(res["pass_walls"]),
        "unit": "s",
    }
    return out


def traced_metrics(table: dict) -> dict:
    """The part of ``per_layer``'s table the JSON line reports."""
    names = [
        f"{layer}.{stat}" for layer in LAYER_TARGETS for stat in JSON_LAYER_STATS
    ] + list(JSON_TRACE_EXTRA)
    return {name: table[name] for name in names}


def report(res: dict, seed: int, trace: bool) -> dict:
    """Print the human-readable table for one workload; return its metrics."""
    w = res["workload"]
    print(
        f"== {w}  seed {seed}  local[{res['cores']}]  driver "
        f"{res['driver_memory_mb']} MB  {res['rows']:,} input rows per pass"
    )
    walls = res["pass_walls"]
    tail = tail_percentile(walls)
    tail_txt = (
        f"p{tail[0]} {tail[1]:.3f} s" if tail
        else "no tail percentile below 20 samples"
    )
    print(
        f"  passes: {res['attempted']} attempted, {res['failed']} failed "
        f"(failed_frac {res['failed'] / res['attempted']:.3f}); untraced walls "
        + ", ".join(f"{x:.3f}" for x in walls)
    )
    print(
        "  loadavg_1m at pass starts: "
        + ", ".join(f"{x:.2f}" for x in res["loadavg_1m"])
        + f"  ({res['loaded_passes']} started on a loaded host)"
    )
    print(
        f"  set-up: session {res['session_s']:.3f} s + reference job, load and "
        f"first pass {res['setup_s'] - res['session_s']:.3f} s"
    )
    print(
        f"  peak RSS: JVM {res['jvm_rss_mb']:.1f} MB + Python driver "
        f"{res['peak_rss_mb'] - res['jvm_rss_mb']:.1f} MB"
    )
    print(
        f"  after set-up: passes {res['loop_s']:.1f} s (output checks "
        f"{res['check_s']:.1f} s), session stop {res['stop_s']:.1f} s"
    )
    print("  output digest: " + ", ".join(res["digests"]))
    if res["info"]:
        print("  output: " + ", ".join(f"{k} {v:g}" for k, v in res["info"].items()))
    for p in res["problems"]:
        print(f"  CHECK FAILED: {p.strip()}")
    if not trace:
        m = end_to_end(res)
        pass_s = statistics.median(walls)
        rows = [
            ("pass_s", pass_s, "s", f"wall, median, n={len(walls)}; {tail_txt}"),
            ("pass_cpu_s", m["pass_cpu_s"]["value"], "s",
             f"JVM + Python CPU, median, n={len(res['pass_cpus'])}"),
            ("rows_per_s", res["rows"] / pass_s, "1/s", "at the median wall"),
            ("setup_s", res["setup_s"], "s",
             f"wall; {res['setup_cpu_s']:.1f} s of CPU"),
            ("peak_rss_mb", res["peak_rss_mb"], "MB", ""),
            ("failed_frac", res["failed"] / res["attempted"], "ratio", ""),
        ]
        for name, value, unit, note in rows:
            print(f"  {name:<12} {value:>12.3f} {unit:<6} {note}")
        return m
    m = per_layer(res)
    print(f"  traced passes: {len(res['trace']['traced_walls'])}; medians per layer")
    width = {s: max(12, len(s) + 1) for s, _ in LAYER_STATS}
    head = "".join(f"{s:>{width[s]}}" for s, _ in LAYER_STATS)
    print(f"  {'layer':<12}{head}   should move")
    for layer, target in LAYER_TARGETS.items():
        cells = "".join(
            f"{m[f'{layer}.{s}']['value']:>{width[s]}.3f}" for s, _ in LAYER_STATS
        )
        print(f"  {layer:<12}{cells}   {target}")
    for name in JSON_TRACE_EXTRA:
        print(f"  {name:<24} {m[name]['value']:.4f} {m[name]['unit']}")
    return traced_metrics(m)


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the Spark JVM and its
    Python workers; the worker has stopped its session or timed out) and
    wait until all of it has ended.  Everything they wrote is in the run's
    scratch directory, which is removed next.  Gives up after 10 s, when
    only unreaped zombies can be left."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        proc.poll()  # reap the worker itself
        time.sleep(0.05)


def _run_worker(spec: dict):
    """Run worker.py on ``spec`` in a fresh process group; return its result,
    or None (with the worker's log tail on stderr) if it produced none."""
    label = spec["workload"]
    scratch = os.path.join(CACHE, f"run-{os.getpid()}-{label}")
    spec["scratch"] = scratch
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spec_path = os.path.join(scratch, "spec.json")
    result_path = os.path.join(scratch, "result.json")
    log_path = os.path.join(scratch, "worker.log")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    try:
        with open(spec_path, "w") as fh:
            json.dump(dict(spec, repo=ROOT, started=time.time()), fh)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
                 result_path],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: {label} worker timed out", file=sys.stderr)
            finally:
                _reap_group(proc)
        if not os.path.exists(result_path):
            with open(log_path) as fh:
                tail = fh.readlines()[-40:]
            print(f"perfbench: {label} worker exited {proc.returncode} "
                  "without a result; log tail:", file=sys.stderr)
            sys.stderr.writelines(tail)
            return None
        with open(result_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run_workload(name: str, seed: int, seconds: int, trace: bool):
    """Make the seed's inputs if they are not cached (not timed), then
    measure the workload in a fresh worker process."""
    import inputs

    data_cache = os.path.join(CACHE, "inputs")
    if name == "near_dup":
        data = inputs.dedup_corpus(data_cache, seed)
    else:
        data = inputs.sequences(data_cache, seed)
    spec = {"workload": name, "seed": seed, "seconds": seconds,
            "trace": trace, "data": data}
    return _run_worker(spec)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_drift_monitoring_spark")):
        print(
            f"perfbench: engine package data_drift_monitoring_spark not found "
            f"under {ROOT}; run from a full checkout", file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        res = run_workload(name, args.seed, args.seconds, bool(args.trace))
        if res is None:
            return 1
        if not res["pass_walls"] or (args.trace and not res["trace"]["traced_walls"]):
            print(f"perfbench: {name}: too few passes completed; problems:",
                  *res["problems"], sep="\n", file=sys.stderr)
            return 1
        metrics = report(res, args.seed, bool(args.trace))
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        prefix = "" if len(names) == 1 else f"{name}/"
        summary["metrics"].update({prefix + k: v for k, v in metrics.items()})
    summary["correct"] = summary["failed"] == 0
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
