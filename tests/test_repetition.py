"""Repetition signals vs a pure-Python mirror + threshold flag logic."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from data_drift_monitoring_spark.operators.repetition import (
    DEFAULT_THRESHOLDS,
    repetition_flags,
    repetition_summary,
    with_repetition_signals,
)

DOCS = [
    (0, "a a a a a", "s0"),  # single repeated word
    (1, "a b a b a b", "s0"),  # repeated bigrams
    (2, "the quick brown fox jumps over dogs", "s0"),  # all distinct
    (3, "", "s1"),  # empty (split convention: one empty word)
    (4, None, "s1"),  # null text
    (5, "x", "s1"),  # single word
    (6, "a b c a b c a b c", "s1"),  # repeated trigrams
    (7, "  Mixed   CASE \t words mixed case WORDS  ", "s1"),  # normalize
    (8, "w1 w2 w3 w1 w2 w4 w1 w5", "s0"),  # partial overlap
    # edge whitespace (round-3 ADVICE): trailing '\n'/'\t' must yield a
    # trailing empty word (trim strips spaces only; Java \s collapses
    # the rest to ' '), and NBSP is NOT whitespace under Java \s.
    (9, "hello\n", "s1"),
    (10, "tab\tsep\t", "s0"),
    (11, "nbsp\xa0joined word nbsp\xa0joined", "s1"),
    (12, " lead\n mid\x0bend \r", "s0"),
]


def _mirror(text):
    # expression convention: trim spaces only, then collapse the ASCII
    # \s class (Java/RE2) — NOT Python's Unicode-aware strip()/\s.
    words = re.sub(
        r"[ \t\n\x0b\f\r]+", " ", (text or "").strip(" ").lower()
    ).split(" ")
    n = len(words)

    def grams(k):
        if n < k:
            return []
        return [" ".join(words[i : i + k]) for i in range(n - k + 1)]

    def dup(g):
        return 1.0 - len(set(g)) / len(g) if g else 0.0

    top = Counter(words).most_common(1)[0][1] / n if n else 0.0
    return {
        "n_words": n,
        "dup_word_frac": dup(words),
        "dup_bigram_frac": dup(grams(2)),
        "dup_trigram_frac": dup(grams(3)),
        "top_word_frac": top,
    }


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, source string"
    )


def test_signals_match_python_mirror(docs_df):
    got = {
        r["doc_id"]: r.asDict() for r in with_repetition_signals(docs_df).collect()
    }
    for doc_id, text, _ in DOCS:
        exp = _mirror(text)
        for k, v in exp.items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-12), (
                doc_id,
                k,
            )


def test_arrow_path_matches_mirror_on_random_corpus(spark):
    """The Arrow path equals the collision-free pure-Python mirror exactly
    on a larger random corpus — a word-hash collision would surface here."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]
    # edge whitespace mixed in (round-3 ADVICE): trailing/leading
    # '\n'/'\t'/NBSP must tokenize as the mirror does.
    suffixes = ["", "\n", "\t", " \r", "\xa0tail", "\x0b"]
    rows = [
        (
            i,
            " ".join(rng.choices(vocab, k=rng.randint(1, 120)))
            + rng.choice(suffixes),
            "s",
        )
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cols = [
        "doc_id",
        "n_words",
        "dup_word_frac",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "top_word_frac",
    ]
    got = sorted(map(tuple, with_repetition_signals(df).select(cols).collect()))
    exp = sorted(
        (doc_id, *(_mirror(text)[c] for c in cols[1:])) for doc_id, text, _ in rows
    )
    assert got == exp


def test_flags_and_keep(docs_df):
    rows = {
        r["doc_id"]: r.asDict() for r in repetition_flags(docs_df).collect()
    }
    for doc_id, text, _ in DOCS:
        exp = _mirror(text)
        exp_flags = {
            s: exp[s] > lim for s, lim in DEFAULT_THRESHOLDS.items()
        }
        for s, f in exp_flags.items():
            assert rows[doc_id][f"flag_{s}"] == f, (doc_id, s)
        assert rows[doc_id]["repetition_keep"] == (
            not any(exp_flags.values())
        )


def test_summary_counts_and_means(docs_df):
    out = {
        r["source"]: r.asDict()
        for r in repetition_summary(docs_df).collect()
    }
    per_source: dict[str, list[dict]] = {}
    for _, text, src in DOCS:
        per_source.setdefault(src, []).append(_mirror(text))
    for src, sigs in per_source.items():
        row = out[src]
        assert row["n_docs"] == len(sigs)
        n_keep = sum(
            1
            for m in sigs
            if not any(
                m[s] > lim for s, lim in DEFAULT_THRESHOLDS.items()
            )
        )
        assert row["n_keep"] == n_keep
        for s, lim in DEFAULT_THRESHOLDS.items():
            assert row[f"n_flag_{s}"] == sum(1 for m in sigs if m[s] > lim)
            mean = sum(m[s] for m in sigs) / len(sigs)
            assert row[f"mean_{s}"] == pytest.approx(mean, abs=1e-6)


def test_no_shuffle_in_per_row_signals(docs_df):
    """The per-doc signal block must stay a single projection over the
    scan — any Exchange means a groupBy/window crept into what should be
    a pure per-row computation."""
    plan = with_repetition_signals(docs_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
