"""Token-level duplicated-span removal vs a pure-Python mirror.

Planted corpus: a shared boilerplate span across docs, an internal
repeat inside one doc, a doc shorter than k, and clean docs — every
duplication mode the operator distinguishes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.operators import span_dedup as SD

K = 3

# fmt: off
DOCS = {
    # "a" holds the canonical copy of the shared span 10,11,12,13,14
    "a": [10, 11, 12, 13, 14, 99, 98, 97],
    # "b" repeats the shared span mid-doc
    "c": [55, 10, 11, 12, 13, 14],
    # internal repeat: 7,8,9 appears twice inside the same doc
    "d": [7, 8, 9, 1, 2, 7, 8, 9],
    # shorter than k: contributes no grams even though it matches a span
    "e": [10, 11],
    # clean
    "f": [42, 43, 44, 45],
}
# fmt: on


def _mirror(docs: dict[str, list[int]], k: int):
    """Reference implementation: dup census, canonical = min (id, pos),
    covered = union of non-canonical k-windows."""
    occ = []  # (gram, doc, pos)
    for doc_id, toks in docs.items():
        for p in range(len(toks) - k + 1):
            occ.append((tuple(toks[p : p + k]), doc_id, p))
    from collections import Counter, defaultdict

    counts = Counter(g for g, _, _ in occ)
    canon = {}
    for g, d, p in sorted(occ, key=lambda t: (t[1], t[2])):
        if counts[g] >= 2 and g not in canon:
            canon[g] = (d, p)
    removed = defaultdict(list)
    for g, d, p in occ:
        if counts[g] >= 2 and canon[g] != (d, p):
            removed[d].append(p)
    out = {}
    for doc_id, toks in docs.items():
        cov = sorted({i for p in removed[doc_id] for i in range(p, p + k)})
        kept = [t for i, t in enumerate(toks) if i not in cov]
        out[doc_id] = {
            "removed_occurrences": len(removed[doc_id]),
            "covered_tokens": len(cov),
            "kept": kept,
        }
    return out


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in DOCS.items()], "doc_id string, tokens array<int>"
    ).repartition(4)


@pytest.mark.parametrize("portable", [False, True])
def test_stats_match_mirror(spark, planted, portable):
    mirror = _mirror(DOCS, K)
    rows = {
        r["doc_id"]: r
        for r in SD.span_dedup_stats(planted, k=K, portable=portable).collect()
    }
    assert set(rows) == set(DOCS)
    for doc_id, toks in DOCS.items():
        m, r = mirror[doc_id], rows[doc_id]
        assert r["n_tok"] == len(toks)
        assert r["removed_occurrences"] == m["removed_occurrences"], doc_id
        assert r["covered_tokens"] == m["covered_tokens"], doc_id
        assert r["kept_n_tok"] == len(m["kept"]), doc_id
        assert r["kept_token_sum"] == sum(m["kept"]), doc_id


def test_removed_arrays_match_mirror(spark, planted):
    mirror = _mirror(DOCS, K)
    rows = {
        r["doc_id"]: r["tokens"]
        for r in SD.remove_duplicate_spans(planted, k=K).collect()
    }
    for doc_id in DOCS:
        assert rows[doc_id] == mirror[doc_id]["kept"], doc_id


def test_semantics_specifics(spark, planted):
    stats = {
        r["doc_id"]: r for r in SD.span_dedup_stats(planted, k=K).collect()
    }
    # canonical copy (first occurrence corpus-wide, doc "a") is untouched
    assert stats["a"]["covered_tokens"] == 0
    # doc "c"'s copy of the shared span is fully removed (positions 1-5)
    assert stats["c"]["covered_tokens"] == 5
    assert stats["c"]["kept_n_tok"] == 1
    # internal repeat: second 7,8,9 inside "d" removed, first kept
    assert stats["d"]["covered_tokens"] == 3
    assert stats["d"]["kept_n_tok"] == 5
    # shorter-than-k and clean docs pass through
    assert stats["e"]["covered_tokens"] == 0
    assert stats["f"]["covered_tokens"] == 0


def test_summary_and_conservation(spark, planted):
    s = SD.span_dedup_summary(planted, k=K).collect()[0]
    assert s["docs_total"] == len(DOCS)
    assert s["tokens_total"] == sum(len(t) for t in DOCS.values())
    kept_total = (
        SD.remove_duplicate_spans(planted, k=K)
        .agg(F.sum(F.size("tokens")))
        .collect()[0][0]
    )
    assert s["tokens_total"] - s["tokens_removed"] == kept_total
    mirror = _mirror(DOCS, K)
    assert s["docs_affected"] == sum(
        1 for m in mirror.values() if m["covered_tokens"]
    )


def test_arrow_and_expression_paths_agree(spark):
    """The default Arrow gram combiner and the portable md5 expression
    hash differently but must produce IDENTICAL dedup output on data with
    real duplicate structure."""
    import random

    rng = random.Random(7)
    span = [rng.randrange(1 << 20) for _ in range(12)]
    docs = []
    for i in range(120):
        toks = [rng.randrange(1 << 20) for _ in range(rng.randrange(2, 40))]
        if i % 5 == 0:
            p = rng.randrange(0, len(toks) + 1)
            toks = toks[:p] + span + toks[p:]
        docs.append((f"d{i:03d}", toks))
    df = spark.createDataFrame(docs, "doc_id string, tokens array<int>").repartition(5)
    a = {r["doc_id"]: tuple(r)[1:] for r in SD.span_dedup_stats(df, k=5).collect()}
    b = {r["doc_id"]: tuple(r)[1:] for r in SD.span_dedup_stats(df, k=5, portable=True).collect()}
    assert a == b
    assert sum(r[2] for r in a.values()) > 0  # covered_tokens: real work


def test_portable_plan_has_no_python(spark, planted):
    plan = (
        SD.span_dedup_stats(planted, k=K, portable=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # the default path's only Python is the vectorized Arrow gram pass
    dplan = (
        SD.span_dedup_stats(planted, k=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in dplan


def test_against_index_cross_side_only(spark):
    """Incremental path: new-batch spans matching the index are removed;
    duplicates purely WITHIN the new batch are untouched."""
    index = spark.createDataFrame(
        [("i1", [10, 11, 12, 13, 14, 1, 2])], "doc_id string, tokens array<int>"
    )
    new = spark.createDataFrame(
        [
            ("n1", [7, 10, 11, 12, 13, 14, 8]),   # carries the indexed span
            ("n2", [20, 21, 22, 30, 31]),          # within-batch dup pair...
            ("n3", [20, 21, 22, 40, 41]),          # ...shares 20,21,22 with n2
            ("n4", [50, 51]),                       # clean + short
        ],
        "doc_id string, tokens array<int>",
    )
    rows = {
        r["doc_id"]: r
        for r in SD.span_dedup_stats_against(index, new, k=3).collect()
    }
    assert set(rows) == {"n1", "n2", "n3", "n4"}
    # n1: indexed grams 10..14 -> covered positions 1..5
    assert rows["n1"]["covered_tokens"] == 5
    assert rows["n1"]["kept_n_tok"] == 2
    assert rows["n1"]["kept_token_sum"] == 7 + 8
    # within-batch-only dup is NOT the incremental operator's job
    assert rows["n2"]["covered_tokens"] == 0
    assert rows["n3"]["covered_tokens"] == 0
    assert rows["n4"]["covered_tokens"] == 0


def test_against_index_portable_matches_arrow(spark):
    import random

    rng = random.Random(3)
    span = [rng.randrange(1 << 20) for _ in range(9)]
    mk = lambda i, plant: (
        f"x{i:03d}",
        [rng.randrange(1 << 20) for _ in range(rng.randrange(4, 25))]
        + (span if plant else []),
    )
    index = spark.createDataFrame(
        [mk(i, i % 4 == 0) for i in range(40)], "doc_id string, tokens array<int>"
    )
    new = spark.createDataFrame(
        [mk(100 + i, i % 3 == 0) for i in range(40)],
        "doc_id string, tokens array<int>",
    )
    a = {
        r["doc_id"]: tuple(r)[1:]
        for r in SD.span_dedup_stats_against(index, new, k=4).collect()
    }
    b = {
        r["doc_id"]: tuple(r)[1:]
        for r in SD.span_dedup_stats_against(
            index, new, k=4, portable=True
        ).collect()
    }
    assert a == b
    assert sum(r[2] for r in a.values()) > 0
