"""Tests of the benchmark's own helpers; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canon  # noqa: E402
import eventlog  # noqa: E402
import host  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _task_end(stage, run_ms, cpu_ns, gc_ms, shuffle_bytes, shuffle_records):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": shuffle_bytes,
                "Shuffle Records Written": shuffle_records,
            },
        },
    }


def _job_start(stages, group=None):
    props = {"spark.job.description": "x"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages, "Properties": props}


SYNTHETIC = [
    {"Event": "SparkListenerLogStart"},
    _job_start([0, 1], "pb0:stats"),
    _task_end(0, 1500, 1_000_000_000, 100, 2**20, 10),
    _task_end(1, 500, 250_000_000, 0, 0, 0),
    _job_start([2]),  # no group: not attributed
    _task_end(2, 9000, 9, 9, 9, 9),
    # a later job re-listing stage 1 does not steal it
    _job_start([1, 3], "pb0:drift"),
    _task_end(3, 2000, 500_000_000, 50, 2**19, 4),
    _task_end(1, 100, 0, 0, 0, 0),
]


def test_group_task_metrics_sums_per_job_group():
    got = eventlog.group_task_metrics(SYNTHETIC)
    assert set(got) == {"pb0:stats", "pb0:drift"}
    s = got["pb0:stats"]
    assert s["tasks"] == 3
    assert abs(s["run_s"] - 2.1) < 1e-9
    assert abs(s["cpu_s"] - 1.25) < 1e-9
    assert abs(s["gc_s"] - 0.1) < 1e-9
    assert abs(s["shuffle_write_mb"] - 1.0) < 1e-9
    assert s["shuffle_records"] == 10
    d = got["pb0:drift"]
    assert (d["tasks"], d["shuffle_records"]) == (1, 4)
    assert abs(d["shuffle_write_mb"] - 0.5) < 1e-9


def test_rolling_log_read_in_part_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in SYNTHETIC]
    # part 10 sorts before part 2 as text; the reader must order by index
    (app / "events_2_local-1").write_text("\n".join(lines[5:]) + "\n{trunc")
    (app / "events_10_local-1").write_text("")
    (app / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (app / "appstatus_local-1").write_text("")
    files = [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))]
    assert files == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    events = list(eventlog.read_events(str(tmp_path)))
    assert events == SYNTHETIC  # the truncated last line is skipped
    assert eventlog.group_task_metrics(events)["pb0:stats"]["tasks"] == 3


def test_single_file_log_is_read(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in SYNTHETIC))
    assert list(eventlog.read_events(str(tmp_path))) == SYNTHETIC


def test_digest_floats_at_six_significant_digits():
    cols = ["k", "v"]
    a = [{"k": 1, "v": 0.1 + 0.2}, {"k": 2, "v": 1e-7}]
    b = [{"k": 2, "v": 1.0000000001e-7}, {"k": 1, "v": 0.3}]  # other order
    assert canon.digest(a, cols) == canon.digest(b, cols)
    assert canon.digest([{"k": 1, "v": 0.300001}], cols) != canon.digest(
        [{"k": 1, "v": 0.3}], cols)
    assert canon.cell(-0.0) == canon.cell(0.0) == "0"
    assert canon.cell(float("nan")) == "nan"


def test_digest_null_is_not_a_value():
    cols = ["k", "v"]
    null = canon.digest([{"k": 1, "v": None}], cols)
    assert null != canon.digest([{"k": 1, "v": "None"}], cols)
    assert null != canon.digest([{"k": 1, "v": ""}], cols)
    assert null != canon.digest([{"k": 1, "v": 0}], cols)
    assert canon.cell(True) == "true" and canon.cell(False) == "false"


def test_reset_tree_restores_the_template(tmp_path):
    template = tmp_path / "template"
    (template / "_manifest" / "data").mkdir(parents=True)
    (template / "_manifest" / "data" / "part-0.parquet").write_bytes(b"done x31")
    target = tmp_path / "warehouse"
    inputs.reset_tree(str(template), str(target))
    # a pass appends results and a manifest row
    (target / "check_results" / "data").mkdir(parents=True)
    (target / "check_results" / "data" / "part-1.parquet").write_bytes(b"r")
    (target / "_manifest" / "data" / "part-9.parquet").write_bytes(b"done p5")
    inputs.reset_tree(str(template), str(target))
    got = sorted(
        os.path.relpath(os.path.join(d, f), target)
        for d, _, fs in os.walk(target) for f in fs
    )
    assert got == [os.path.join("_manifest", "data", "part-0.parquet")]
    assert (target / "_manifest" / "data" / "part-0.parquet").read_bytes() == b"done x31"


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile([1.0] * 19) is None
    assert run.tail_percentile(list(range(1, 21))) == (50, 10)
    assert run.tail_percentile(list(range(1, 101))) == (90, 90)
    assert run.tail_percentile(list(range(1, 1001))) == (99, 990)


def test_per_layer_table_from_traced_passes():
    res = {
        "pass_walls": [4.0, 5.0, 6.0],
        "trace": {
            "traced_walls": [7.0, 9.0],
            "layer_walls": [{"prepare": 1.0, "doc_id_join": 2.0},
                            {"prepare": 3.0, "doc_id_join": 2.0}],
            "current_rows": [100, 100],
            "groups": {
                "pb0:doc_id_join": {"tasks": 4, "run_s": 2.0, "cpu_s": 1.0,
                                    "gc_s": 0.0, "shuffle_write_mb": 1.0,
                                    "shuffle_records": 400},
                "pb1:doc_id_join": {"tasks": 6, "run_s": 2.0, "cpu_s": 1.0,
                                    "gc_s": 0.0, "shuffle_write_mb": 1.0,
                                    "shuffle_records": 200},
                "pb1:drift": {"tasks": 2, "run_s": 4.0, "cpu_s": 1.0,
                              "gc_s": 0.0, "shuffle_write_mb": 0.0,
                              "shuffle_records": 0},
            },
        },
    }
    m = run.per_layer(res)
    assert m["prepare.wall_s"]["value"] == 2.0
    assert m["prepare.wall_frac"]["value"] == (1.0 / 7.0 + 3.0 / 9.0) / 2
    assert m["doc_id_join.tasks"]["value"] == 5
    assert m["minhash.wall_s"]["value"] == 0.0  # layer not on this workload
    assert m["doc_id_join.useful_frac"]["value"] == (0.25 + 0.5) / 2
    assert m["drift.cpu_frac"]["value"] == 0.125  # median of 0 and 0.25
    assert m["unattributed_s"]["value"] == (4.0 + 4.0) / 2
    assert m["traced_pass_s"]["value"] == 8.0
    assert m["tracing_overhead_s"]["value"] == 8.0 - 5.0
    assert len(m) == len(run.LAYER_TARGETS) * len(run.LAYER_STATS) + 4
    j = run.traced_metrics(m)
    assert "prepare.wall_s" not in j and "prepare.wall_frac" in j
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(e["name"], e["unit"]) for e in bench["per_layer"]] == [
        (k, v["unit"]) for k, v in j.items()
    ]


def test_session_cpu_counts_this_process():
    before = host.session_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert host.session_cpu_s() - before >= 0.25


def test_end_to_end_metrics_are_the_bounded_ones():
    res = {"pass_cpus": [30.0, 10.0, 20.0], "setup_s": 40.0, "peak_rss_mb": 2.5e3}
    m = run.end_to_end(res)
    assert m == {
        "pass_cpu_s": {"value": 20.0, "unit": "s"},
        "setup_s": {"value": 40.0, "unit": "s"},
        "peak_rss_mb": {"value": 2500.0, "unit": "MB"},
    }
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(e["name"], e["unit"]) for e in bench["end_to_end"]] == [
        (k, v["unit"]) for k, v in m.items()
    ]
