"""Spark-free checks of the repository scripts: the oracle gate's value
comparator (``scripts.check_correctness.canon``), and an import of every
``scripts/*.py`` so a script importing a module that no longer exists
fails here rather than when someone next runs it by hand."""

from __future__ import annotations

import glob
import importlib
import os

import pandas as pd
import pytest

from scripts.check_correctness import canon

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)


def _one(value, strict):
    return canon(pd.DataFrame({"v": [value]}, dtype=object), strict=strict)


@pytest.mark.parametrize("strict", [False, True])
def test_canon_none_and_nan_are_null(strict):
    rows, cols = canon(
        pd.DataFrame({"v": [None, float("nan"), 1.5]}, dtype=object),
        strict=strict,
    )
    assert cols == ["v"]
    assert rows == ["1.5", "∅", "∅"]
    assert _one(None, strict) == _one(float("nan"), strict)


def test_canon_strict_tells_float_representations_apart():
    assert _one(7.0, strict=True) != _one(7, strict=True)
    assert _one(0.1 + 0.2, strict=True) != _one(0.3, strict=True)
    assert _one(7.0, strict=False) == _one(7, strict=False)
    assert _one(0.1 + 0.2, strict=False) == _one(0.3, strict=False)


@pytest.mark.parametrize("strict", [False, True])
def test_canon_ignores_column_and_row_order(strict):
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", None, "z"], "c": [0.5, 1.0, 2.25]})
    shuffled = df[["c", "a", "b"]].iloc[[2, 0, 1]].reset_index(drop=True)
    assert canon(df, strict=strict) == canon(shuffled, strict=strict)
    assert canon(df, strict=strict)[1] == ["a", "b", "c"]


@pytest.mark.parametrize(
    "name",
    sorted(
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(SCRIPTS, "*.py"))
    ),
)
def test_script_imports(name):
    importlib.import_module(f"scripts.{name}")
