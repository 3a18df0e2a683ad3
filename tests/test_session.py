"""Host-fit defaults of the SparkSession factory, and ``local_frame``."""

import ast
import math
import os
import re
from pathlib import Path

from pyspark.sql import types as T

from data_drift_monitoring_spark.session import local_cores, local_frame

ROOT = Path(__file__).resolve().parent.parent


def test_local_cores_defaults_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == str(len(os.sched_getaffinity(0)))


def test_local_cores_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == "3"


def test_local_frame_rows_schema_and_plan(spark):
    ddl = "k int, x double, tags array<string>, s struct<a: string, b: long>"
    df = local_frame(
        spark,
        [
            (1, float("nan"), ["a"], {"a": "p", "b": 2}),
            {"k": 2, "x": 1.5, "extra": "ignored"},
        ],
        ddl,
    )
    assert df.schema == T.DataType.fromDDL(ddl)
    rows = df.orderBy("k").collect()
    assert math.isnan(rows[0]["x"]) and rows[0]["tags"] == ["a"]
    assert rows[0]["s"]["b"] == 2
    assert rows[1]["tags"] is None and rows[1]["x"] == 1.5
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()

    empty = local_frame(spark, [], T.StructType([T.StructField("g", T.LongType())]))
    assert empty.count() == 0 and empty.columns == ["g"]


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(innermost enclosing function, or None) of each ``createDataFrame``
    call in a module."""

    def __init__(self):
        self.stack, self.found = [], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "createDataFrame":
            self.found.append(self.stack[-1] if self.stack else None)
        self.generic_visit(node)


def test_create_dataframe_only_inside_local_frame():
    """Every driver-built frame in the engine and the jobs goes through
    ``local_frame``: a list-built ``createDataFrame`` is pickled into a
    PythonRDD that every action re-runs through Python workers."""
    calls = []
    for top in ("data_drift_monitoring_spark", "jobs"):
        for path in sorted((ROOT / top).rglob("*.py")):
            v = _CreateDataFrameCalls()
            v.visit(ast.parse(path.read_text(), str(path)))
            calls += [(path.relative_to(ROOT).as_posix(), fn) for fn in v.found]
    assert calls == [("data_drift_monitoring_spark/session.py", "local_frame")]


def _engine_params(wanted):
    """(module, function, parameter) of every engine or job function
    parameter whose name satisfies ``wanted``."""
    params = []
    for top in ("data_drift_monitoring_spark", "jobs"):
        for path in sorted((ROOT / top).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = node.args
                    params += [
                        (path.relative_to(ROOT).as_posix(), node.name, p.arg)
                        for p in a.posonlyargs + a.args + a.kwonlyargs
                        if wanted(p.arg)
                    ]
    return params


def test_thresholds_are_module_constants():
    """Thresholds live as module constants in ``config.py``: no engine or job
    function takes a ``config`` or ``t`` parameter, and ``config.py``
    defines no class to carry one."""
    assert _engine_params(lambda a: a in ("config", "t")) == []
    config = ast.parse((ROOT / "data_drift_monitoring_spark/config.py").read_text())
    assert not any(isinstance(n, ast.ClassDef) for n in ast.walk(config))


def test_one_implementation_per_token_text_operator():
    """No engine or job function takes a ``use_*`` or ``normalized``
    switch between two implementations of one operator, and the token-
    equality invariant defines no pandas UDF beside its digest join."""
    assert _engine_params(lambda a: a.startswith("use_") or a == "normalized") == []
    invariants = ROOT / "data_drift_monitoring_spark/operators/invariants.py"
    names = {
        getattr(n, "id", None) or getattr(n, "attr", None) or n.name
        for n in ast.walk(ast.parse(invariants.read_text()))
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    }
    assert "pandas_udf" not in names


_POLICY = re.compile(
    r"(MISSING|DUP|OUTLIER)_[A-Z]+_PCT|SKEW_TRANSFORM_THRESHOLD|PSI_MODERATE"
    r"|PSI_LARGE|KS_ALPHA|CHI2_ALPHA|GRADE_BANDS|[A-Z]+_WEIGHT"
)
_POLICY_OWNERS = {
    "data_drift_monitoring_spark/functions/verdicts.py",
    "data_drift_monitoring_spark/functions/scoring.py",
}


def test_verdict_policy_has_one_owner():
    """Severity, recommendation, drift flags, grade and score rules are plain
    Python in ``functions/verdicts.py`` and ``functions/scoring.py``: those
    two import neither pyspark nor an engine module that does (only the
    config and each other), and no other engine, job or script module
    reads a policy threshold, band or weight."""
    readers, owner_imports = set(), set()
    for top in ("data_drift_monitoring_spark", "jobs", "scripts"):
        for path in sorted((ROOT / top).rglob("*.py")):
            rel = path.relative_to(ROOT).as_posix()
            for node in ast.walk(ast.parse(path.read_text(), rel)):
                if rel in _POLICY_OWNERS and isinstance(node, ast.Import):
                    owner_imports |= {a.name for a in node.names}
                elif rel in _POLICY_OWNERS and isinstance(node, ast.ImportFrom):
                    owner_imports.add("." * node.level + (node.module or ""))
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name
                else:
                    continue
                if _POLICY.fullmatch(name):
                    readers.add(rel)
    assert readers == _POLICY_OWNERS
    assert not {m for m in owner_imports if m.split(".")[0] == "pyspark"}
    assert {m for m in owner_imports if m.startswith(".")} == {
        "..config", ".verdicts"
    }
