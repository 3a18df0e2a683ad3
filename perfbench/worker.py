"""One benchmark run of one workload, in its own process (started by run.py).

Usage: worker.py SPEC_JSON RESULT_JSON

Set-up is timed from the moment run.py started this process through session
start, the reference job (verdict workloads), reference-artifact load and
the first full-size pass, on a JVM that has run nothing else.  Then passes
run back to back (closed loop, one client) until ``seconds`` have passed and
at least one pass is done.  Each pass's wall and CPU time are kept.
With ``trace`` the loop alternates untraced and traced passes until both
kinds have run, and the event log gives each layer's task metrics after the
session stops.
"""

from __future__ import annotations

import json
import sys
import time
import traceback

import host


def _timed(fn):
    """``fn()``, its wall time and the CPU time of this process's session
    (see ``host.session_cpu_s``)."""
    c0, t0 = host.session_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, host.session_cpu_s() - c0


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    started = spec["started"]  # time.time() just before this process was spawned

    import eventlog
    import workloads
    from data_drift_monitoring_spark.session import get_spark

    n = host.cores()
    host.use_scratch(spec["scratch"])
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=host.session_conf(spec["scratch"], spec["repo"], spec["trace"]),
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - started
    wl = workloads.WORKLOADS[spec["workload"]](spark, spec["data"], spec["scratch"])

    attempted = failed = 0
    problems: list[str] = []
    digests: set[str] = set()
    check_s = 0.0

    def verify(result) -> None:
        """Check a pass's output; a pass that fails a check counts as failed."""
        nonlocal failed, check_s
        t0 = time.perf_counter()
        try:
            d, bad = wl.check(result)
        except Exception:
            d, bad = None, [traceback.format_exc(limit=3)]
        if d is not None:
            digests.add(d)
        pinned = workloads.PINNED.get(spec["workload"])
        if spec["seed"] == workloads.PINNED_SEED and pinned and d != pinned:
            bad = bad + [f"digest {d} != pinned {pinned}"]
        if len(digests) > 1:
            bad = bad + ["digest differs from an earlier pass"]
        if bad:
            failed += 1
            problems.extend(bad)
        check_s += time.perf_counter() - t0

    def attempt(fn):
        """Run one pass; a pass that raises counts as failed."""
        nonlocal attempted, failed
        attempted += 1
        try:
            return fn()
        except Exception:
            failed += 1
            problems.append(traceback.format_exc(limit=3))
            return None

    def setup():
        wl.load_refs()
        return wl.run_pass()

    t_refs = time.perf_counter()
    res = attempt(setup)
    setup_s = session_s + (time.perf_counter() - t_refs)
    setup_cpu_s = host.session_cpu_s()
    if res is not None:
        verify(res)

    walls, cpus, traced_walls, loads = [], [], [], []
    set_up = res is not None
    layer_walls: list[dict] = []
    current_rows: list[int] = []
    t_window = time.perf_counter()
    i = 0
    while set_up and failed <= 3 and (
        time.perf_counter() - t_window < spec["seconds"]
        or not (traced_walls if spec["trace"] else walls)
    ):
        wl.before_pass()
        loads.append(host.load_1m())
        traced = spec["trace"] and i % 2 == 1
        if traced:
            tr = workloads.Tracer(spark.sparkContext, f"pb{len(traced_walls)}")
            out = attempt(lambda: _timed(lambda: wl.traced_pass(tr)))
            if out is not None:
                (res, rows), wall, _ = out
                traced_walls.append(wall)
                layer_walls.append(tr.walls)
                current_rows.append(rows)
                verify(res)
        else:
            out = attempt(lambda: _timed(wl.run_pass))
            if out is not None:
                res, wall, cpu = out
                walls.append(wall)
                cpus.append(cpu)
                verify(res)
        i += 1

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_rss_mb, python_rss_mb = host.vm_hwm_mb(jvm_pid), host.vm_hwm_mb()
    t_stop = time.perf_counter()
    spark.stop()
    stop_s = time.perf_counter() - t_stop

    result = {
        "workload": spec["workload"],
        "rows": wl.rows,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
        "setup_s": setup_s,
        "session_s": session_s,
        "loop_s": t_stop - t_window,
        "check_s": check_s,
        "stop_s": stop_s,
        "pass_walls": walls,
        "pass_cpus": cpus,
        "setup_cpu_s": setup_cpu_s,
        "loadavg_1m": loads,
        "loaded_passes": sum(host.is_loaded(x, n) for x in loads),
        "cores": n,
        "driver_memory_mb": host.driver_memory_mb(),
        "peak_rss_mb": jvm_rss_mb + python_rss_mb,
        "jvm_rss_mb": jvm_rss_mb,
        "info": getattr(wl, "info", {}),
        "digests": sorted(digests),
    }
    if spec["trace"]:
        totals = eventlog.group_task_metrics(
            eventlog.read_events(spec["scratch"] + "/eventlog")
        )
        result["trace"] = {
            "traced_walls": traced_walls,
            "layer_walls": layer_walls,
            "current_rows": current_rows,
            "groups": totals,
        }
    with open(result_path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
