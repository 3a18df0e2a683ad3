"""Shared fixtures: one SparkSession per test run, deterministic generated
tables (FIXTURES.md) in a session-scoped tmp dir."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_drift_monitoring_spark.generator import (  # noqa: E402
    generate_allowed_sources,
    generate_sequences,
)
from data_drift_monitoring_spark.session import get_spark  # noqa: E402

ROWS = 8000
PARTS = 8


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seqdata"))
    for variant in ("ref", "ref_corrupted", "cur_clean", "cur_drifted", "invalid"):
        generate_sequences(
            os.path.join(d, variant), variant, rows=ROWS, num_partitions=PARTS
        )
    generate_allowed_sources(d)
    return d


@pytest.fixture(scope="session")
def ref_df(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "ref"))


@pytest.fixture(scope="session")
def cur_clean_df(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "cur_clean"))


@pytest.fixture(scope="session")
def cur_drifted_df(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "cur_drifted"))


@pytest.fixture(scope="session")
def ref_corrupted_df(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "ref_corrupted"))


@pytest.fixture(scope="session")
def allowed_sources_df(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "allowed_sources.parquet"))


@pytest.fixture(scope="session")
def mini_df(spark):
    """FIXTURES.md §4 micro-fixture (reference test_file_handler.py:31-39)."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [
            (1, "Alice", 25, 50000.0),
            (2, "Bob", 30, 60000.0),
            (3, "Charlie", 35, None),
            (4, None, 40, 80000.0),
            (5, "Eve", 45, 90000.0),
        ],
        "id long, name string, age long, salary double",
    ).withColumn("part_id", F.lit(0).cast("int"))


def edge_sequences(spark, ref_df):
    """A small sequences table whose parts exercise the verdict edge cases,
    built from the first reference rows of part 0 (so digests can match):

    - part 0 fails every check family: a duplicated doc_id, a token
      mismatch, an n_tok mismatch, NULL tokens, a NULL doc_id, an unknown
      and a NULL source;
    - part 1: every doc_id is NULL (no uniqueness / token-equality row);
    - part 2: every source is NULL (no source histogram), and one doc_id
      repeats a part-0 doc_id (a duplicate across parts, not within one).
    """
    from data_drift_monitoring_spark.schema import SEQUENCES_SCHEMA

    r = [
        (x["doc_id"], list(x["tokens"]), x["source"])
        for x in ref_df.filter("part_id = 0").orderBy("doc_id").limit(8).collect()
    ]

    def row(doc, toks, src, part, n_tok=None):
        n = len(toks) if toks is not None else n_tok
        return (doc, toks, n if n_tok is None else n_tok, src, part)

    rows = [
        row(*r[0], 0),
        row(*r[1], 0),
        row(*r[1], 0),
        row(r[2][0], [r[2][1][0] + 1] + r[2][1][1:], r[2][2], 0),
        row(*r[3], 0, n_tok=len(r[3][1]) + 1),
        row(r[4][0], None, r[4][2], 0, n_tok=7),
        row(None, *r[5][1:], 0),
        row(r[6][0], r[6][1], "unknown_src", 0),
        row(r[7][0], r[7][1], None, 0),
        *(row(None, toks, src, 1) for _, toks, src in r[:3]),
        *(row(doc, toks, None, 2) for doc, toks, _ in (r[0], r[5], r[6])),
    ]
    return spark.createDataFrame(rows, SEQUENCES_SCHEMA)


@pytest.fixture(scope="session")
def edge_df(spark, ref_df):
    return edge_sequences(spark, ref_df)
