"""build_verdicts parity against frozen rows.

``tests/data/verdicts_frozen.json`` holds the verdict rows of the earlier
union-of-per-check-plans ``build_verdicts`` (one Spark plan per check, drift
in an ``applyInPandas`` stage) for every combination of the optional inputs
``ref_stats`` / ``allowed_sources`` / ``ref_digests``, on the drifted
fixture, on the edge-case table of ``conftest.edge_sequences`` and on an
empty input. The driver-side build must reproduce them exactly.

``python tests/test_verdict_parity.py OUT.json WORKDIR`` generates the
fixtures under WORKDIR and writes the rows the importable ``build_verdicts``
produces; that is how the file was made.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import sys

import pytest

from conftest import PARTS, ROWS, edge_sequences
from data_drift_monitoring_spark.operators.invariants import token_digests
from data_drift_monitoring_spark.plans.pipeline import build_verdicts
from data_drift_monitoring_spark.plans.reference import build_ref_stats
from data_drift_monitoring_spark.schema import SEQUENCES_SCHEMA

FROZEN = os.path.join(os.path.dirname(__file__), "data", "verdicts_frozen.json")
OPTIONS = ("ref_stats", "allowed_sources", "ref_digests")


def _specs() -> dict[str, tuple[str, tuple]]:
    """case name → (input table name, options passed)."""
    specs = {}
    for name in ("cur_drifted", "edge"):
        for mask in itertools.product((False, True), repeat=len(OPTIONS)):
            kw = tuple(k for k, on in zip(OPTIONS, mask) if on)
            specs[f"{name}:{'+'.join(kw) or 'none'}"] = (name, kw)
    specs["ref_corrupted:all"] = ("ref_corrupted", OPTIONS)
    specs["empty:none"] = ("empty", ())
    specs["empty:all"] = ("empty", OPTIONS)
    return specs


CASES = _specs()


def verdict_cases(spark, ref_df, cur_drifted_df, ref_corrupted_df, allowed_df):
    """case name → (input table, build_verdicts keyword arguments)."""
    opts = {
        "ref_stats": build_ref_stats(ref_df).cache(),
        "allowed_sources": allowed_df,
        "ref_digests": token_digests(ref_df).cache(),
    }
    inputs = {
        "cur_drifted": cur_drifted_df,
        "edge": edge_sequences(spark, ref_df),
        "ref_corrupted": ref_corrupted_df,
        "empty": spark.createDataFrame([], SEQUENCES_SCHEMA),
    }
    return {
        name: (inputs[table], {k: opts[k] for k in kw})
        for name, (table, kw) in CASES.items()
    }


def canonical(rows) -> list[list]:
    """Sorted verdict rows as JSON-safe lists (NaN as a string)."""

    def v(x):
        return "NaN" if isinstance(x, float) and math.isnan(x) else x

    out = [
        [v(r[c]) for c in ("part_id", "check", "column", "value", "pct",
                           "severity", "recommendation", "passed")]
        for r in rows
    ]
    return sorted(out, key=lambda r: [json.dumps(x) for x in r])


def _frozen() -> dict:
    with open(FROZEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def cases(spark, ref_df, cur_drifted_df, ref_corrupted_df, allowed_sources_df):
    return verdict_cases(
        spark, ref_df, cur_drifted_df, ref_corrupted_df, allowed_sources_df
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_verdicts_match_frozen(cases, case):
    df, kw = cases[case]
    got = canonical(build_verdicts(df, **kw).collect())
    assert got == _frozen()["cases"][case]


def test_frozen_edge_cases_are_covered():
    """The frozen edge rows pin the cases they are there for."""
    rows = _frozen()["cases"]["edge:ref_stats+allowed_sources+ref_digests"]
    by_part: dict[int, set] = {}
    for part, check, column, *_ in rows:
        by_part.setdefault(part, set()).add((check, column))
    # all-NULL doc_ids: no uniqueness or token-equality row
    assert ("uniqueness", "doc_id") not in by_part[1]
    assert ("token_equality", "tokens") not in by_part[1]
    # all-NULL sources: no source drift, but a referential row counting them
    assert ("drift_psi", "source") not in by_part[2]
    assert ("drift_ks", "source") not in by_part[2]
    ref2 = [r for r in rows if r[0] == 2 and r[1] == "referential"]
    assert ref2 and ref2[0][3] == 3.0
    # every family fails on part 0
    failing = {r[1] for r in rows if r[0] == 0 and r[7] is False}
    assert {"missing_values", "length_consistency", "uniqueness",
            "referential", "token_equality"} <= failing
    assert _frozen()["cases"]["empty:all"] == []


if __name__ == "__main__":
    from data_drift_monitoring_spark.generator import (
        generate_allowed_sources,
        generate_sequences,
    )
    from data_drift_monitoring_spark.session import get_spark

    out, work = sys.argv[1], sys.argv[2]
    for variant in ("ref", "ref_corrupted", "cur_drifted"):
        generate_sequences(
            os.path.join(work, variant), variant, rows=ROWS, num_partitions=PARTS
        )
    generate_allowed_sources(work)
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    read = lambda name: spark.read.parquet(os.path.join(work, name))  # noqa: E731
    frozen = {
        name: canonical(build_verdicts(df, **kw).collect())
        for name, (df, kw) in verdict_cases(
            spark, read("ref"), read("cur_drifted"), read("ref_corrupted"),
            read("allowed_sources.parquet"),
        ).items()
    }
    with open(out, "w") as f:  # one row per line
        f.write('{"cases": {\n')
        f.write(",\n".join(
            json.dumps(name) + ": [\n" + ",\n".join(map(json.dumps, rows)) + "]"
            for name, rows in frozen.items()
        ))
        f.write("\n}}\n")
    spark.stop()
