"""The three benchmark workloads: one pass each, its output check, and a
traced pass that calls the same layers one by one.

A pass is timed by the caller around ``run_pass``; ``check`` runs outside the
timed region and returns the pass's canonical digest and the planted-truth
assertions it broke.  ``traced_pass`` calls the layers in the order the
pipeline composes them, each under its own job group (see ``Tracer``), so the
event log attributes every task to a layer.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import functions as F

import canon
import inputs
from data_drift_monitoring_spark.config import ALLOWED_SOURCES
from data_drift_monitoring_spark.operators import dedup as D
from data_drift_monitoring_spark.operators.drift import drift_stats_broadcast
from data_drift_monitoring_spark.operators.histogram import (
    categorical_counts,
    value_histogram,
)
from data_drift_monitoring_spark.operators.invariants import (
    uniqueness_and_token_equality,
)
from data_drift_monitoring_spark.operators.stats import sequence_stats_prepared
from data_drift_monitoring_spark.plans import pipeline as P
from data_drift_monitoring_spark.plans import reference as R
from data_drift_monitoring_spark.sources import manifest as M
from data_drift_monitoring_spark.sources.tables import ParquetTableIO

RUN_ID = "bench"
# part 5 of ``ref_corrupted`` carries the generator's planted corruptions
CORRUPT_PART = 5
PLANTED_FAILURES = {
    (CORRUPT_PART, "length_consistency", "tokens"),
    (CORRUPT_PART, "token_equality", "tokens"),
}
# drift checks are statistical tests (KS at alpha 0.05 on ~4,000-row parts):
# which parts they flag depends on the seed, so the planted-truth assertion
# leaves them out; the digest still pins them
CHECKS_PER_PART = 11  # 3 missing + length + uniqueness + referential + 2x2 drift + token
VERDICT_COLS = [
    "part_id", "check", "column", "value", "pct", "severity",
    "recommendation", "passed",
]
SCORE_COLS = [
    "part_id", "missing_pct", "duplicate_pct", "violation_pct",
    "overall_score", "grade",
]
VIOLATION_COLS = ["part_id", "doc_id", "check", "detail"]

NEAR_DUP = {"threshold": 0.5, "num_hashes": 64, "bands": 32}
MIN_RECALL = 0.98
MIN_PRECISION = 0.99

# fixed snapshot time, so both reference tables share one snapshot id
SNAPSHOT_TIME = datetime(2026, 1, 1, tzinfo=timezone.utc)

# canonical digests at seed 42 with the default input sizes
PINNED_SEED = 42
PINNED = {
    "full_pass": "6b4115d3f42c8ae3453e5f201f5366ab"
                 "6bf09244edc9c1d80e985ca419c81064",
    "resume_one_part": "59cbc35c3c3da6297477a7b13bcaade9"
                       "a76fd1e83abbcc8f585ed5190cc36267"
                       "d141825174851bc30b6c18125aab874d",
    "near_dup": "a06ebe5ca74121d47b54c112f2f8c04a"
                "b64773b219a9879f5f9c791c594af24c",
}


class Tracer:
    """Runs each layer under job group ``<tag>:<layer>`` and keeps its wall
    time; a layer entered twice in one pass accumulates."""

    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.walls: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(f"{self.tag}:{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = (
                self.walls.get(name, 0.0) + time.perf_counter() - t0
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _failing(verdict_rows) -> set:
    return {
        (r["part_id"], r["check"], r["column"])
        for r in verdict_rows
        if r["passed"] is False and not r["check"].startswith("drift_")
    }


def _verdict_problems(verdict_rows, score_rows, parts: list[int]) -> list[str]:
    problems = []
    if len(verdict_rows) != CHECKS_PER_PART * len(parts):
        problems.append(f"{len(verdict_rows)} verdict rows for {len(parts)} parts")
    planted = {f for f in PLANTED_FAILURES if f[0] in parts}
    if _failing(verdict_rows) != planted:
        problems.append(f"failing checks {sorted(_failing(verdict_rows))}")
    if sorted(r["part_id"] for r in score_rows) != parts:
        problems.append("score rows do not cover the validated parts")
    flagged = {r["part_id"] for r in score_rows if r["violation_pct"] > 0}
    if flagged != {p for p in parts if p == CORRUPT_PART}:
        problems.append(f"parts with violations {sorted(flagged)}")
    return problems


def _traced_checks(tr: Tracer, df, ref_stats, ref_digests):
    """The verdict layers below the union, each cached and counted so its
    work is done inside its own job group.  ``build_verdicts`` run after this
    finds the same plans cached.  Returns the current row count."""
    with tr.layer("prepare"):
        prepared = P.prepare_sequences(df).persist(StorageLevel.MEMORY_AND_DISK)
        rows = prepared.count()
    with tr.layer("stats"):
        sequence_stats_prepared(prepared).cache().count()
    with tr.layer("doc_id_join"):
        uniqueness_and_token_equality(prepared, ref_digests).cache().count()
    with tr.layer("histograms"):
        src = categorical_counts(prepared, "source").cache()
        fine = value_histogram(prepared, "n_tok").unionByName(src).cache()
        fine.count()
    with tr.layer("drift"):
        drift_stats_broadcast(fine, ref_stats, numeric_cols={"n_tok"}).cache().count()
    return rows


def build_reference(spark, data_dir: str, warehouse: str) -> None:
    """What a deployment has before a monitoring run: the reference snapshot
    from the engine's ``init_reference`` job, and a manifest in which every
    part but the corrupted one is already ``done`` for ``RUN_ID``."""
    io = ParquetTableIO(spark, warehouse)
    ref = spark.read.parquet(os.path.join(data_dir, "ref"))
    snapshot = R.init_reference(
        spark, io, ref, persist_sequences=False, now=SNAPSHOT_TIME
    )
    done = [p for p in range(inputs.SEQ_PARTS) if p != CORRUPT_PART]
    M.record_partitions(spark, io, RUN_ID, done, "done", snapshot)


class Workload:
    """``load_refs`` + ``run_pass`` is the timed set-up; ``before_pass`` runs
    untimed before every later pass, so each pass redoes all of its work."""

    def __init__(self, spark, data_dir: str, scratch: str):
        self.spark = spark
        self.data_dir = data_dir

    def before_pass(self) -> None:
        self.spark.catalog.clearCache()


class _VerdictWorkload(Workload):
    """Shared by full_pass and resume_one_part.  ``load_refs`` first writes
    the warehouse ``build_reference`` makes (the reference snapshot and the
    manifest), so the reference job is part of the timed set-up."""

    def __init__(self, spark, data_dir: str, scratch: str):
        super().__init__(spark, data_dir, scratch)
        self.template = os.path.join(scratch, "reference")

    def _build(self) -> None:
        build_reference(self.spark, self.data_dir, self.template)
        self.snapshot = ParquetTableIO(self.spark, self.template).latest_snapshot(
            R.REF_STATS_TABLE
        )

    def _load(self, io: ParquetTableIO) -> None:
        self.ref_stats = R.load_ref_stats(io, self.snapshot)
        self.ref_digests = R.load_ref_digests(io, self.snapshot)
        self.dim = self.spark.createDataFrame(
            [(s,) for s in ALLOWED_SOURCES], "source string"
        )
        self.cur = self.spark.read.parquet(os.path.join(self.data_dir, "cur"))


class FullPass(_VerdictWorkload):
    rows = inputs.SEQ_ROWS

    def load_refs(self) -> None:
        self._build()
        self._load(ParquetTableIO(self.spark, self.template))

    def run_pass(self):
        v = P.build_verdicts(
            self.cur, ref_stats=self.ref_stats, allowed_sources=self.dim,
            ref_digests=self.ref_digests,
        ).persist()
        verdicts = v.collect()
        score = P.score_partitions(v).collect()
        P.release_cached(v)
        v.unpersist()
        return verdicts, score

    def check(self, result):
        verdicts, score = result
        problems = _verdict_problems(verdicts, score, list(range(inputs.SEQ_PARTS)))
        d = canon.digest(verdicts, VERDICT_COLS) + canon.digest(score, SCORE_COLS)
        return d, problems

    def traced_pass(self, tr: Tracer):
        rows = _traced_checks(tr, self.cur, self.ref_stats, self.ref_digests)
        with tr.layer("verdicts"):
            v = P.build_verdicts(
                self.cur, ref_stats=self.ref_stats, allowed_sources=self.dim,
                ref_digests=self.ref_digests,
            ).persist()
            verdicts = v.collect()
        with tr.layer("score"):
            result = verdicts, P.score_partitions(v).collect()
        P.release_cached(v)
        self.spark.catalog.clearCache()
        return result, rows


class ResumeOnePart(_VerdictWorkload):
    """``run_checks`` into a warehouse whose manifest marks every part but
    the corrupted one ``done``."""

    rows = inputs.SEQ_ROWS // inputs.SEQ_PARTS

    def __init__(self, spark, data_dir: str, scratch: str):
        super().__init__(spark, data_dir, scratch)
        self.warehouse = os.path.join(scratch, "warehouse")

    def load_refs(self) -> None:
        self._build()
        inputs.reset_tree(self.template, self.warehouse)
        self.io = ParquetTableIO(self.spark, self.warehouse)
        self._load(self.io)

    def before_pass(self) -> None:
        super().before_pass()
        inputs.reset_tree(self.template, self.warehouse)

    def run_pass(self):
        return P.run_checks(
            self.spark, self.cur, io=self.io, run_id=RUN_ID,
            ref_stats=self.ref_stats, allowed_sources=self.dim,
            ref_digests=self.ref_digests, snapshot_id=self.snapshot,
        )

    def check(self, result):
        io = self.io
        verdicts = io.read_appended(P.RESULTS_TABLE).filter(
            F.col("run_id") == RUN_ID).collect()
        score = io.read_appended(P.RESULTS_TABLE + "_score").filter(
            F.col("run_id") == RUN_ID).collect()
        viol = io.read_appended(P.VIOLATIONS_TABLE).filter(
            F.col("run_id") == RUN_ID).collect()
        problems = _verdict_problems(verdicts, score, [CORRUPT_PART])
        if len(result.pruned_partitions) != inputs.SEQ_PARTS - 1:
            problems.append(f"pruned {len(result.pruned_partitions)} parts")
        if M.completed_partitions(io, RUN_ID) != list(range(inputs.SEQ_PARTS)):
            problems.append("manifest lacks a done row for some part")
        # every violation row belongs to a failing check, and their counts
        # match the verdict values
        expected = {
            r["check"]: int(r["value"])
            for r in verdicts
            if (r["part_id"], r["check"], r["column"]) in PLANTED_FAILURES
        }
        got: dict[str, int] = {}
        for r in viol:
            got[r["check"]] = got.get(r["check"], 0) + 1
            if r["part_id"] != CORRUPT_PART:
                problems.append(f"violation row in part {r['part_id']}")
                break
        if got != expected:
            problems.append(f"violations {got} != failing verdicts {expected}")
        d = (
            canon.digest(verdicts, VERDICT_COLS)
            + canon.digest(score, SCORE_COLS)
            + canon.digest(viol, VIOLATION_COLS)
        )
        return d, problems

    def traced_pass(self, tr: Tracer):
        """``run_checks``' steps, in its order, one layer each."""
        spark, io = self.spark, self.io
        with tr.layer("manifest"):
            df, pruned = M.prune_completed(self.cur, io, RUN_ID)
            todo = [r["part_id"] for r in df.select("part_id").distinct().collect()]
            M.record_partitions(spark, io, RUN_ID, todo, "started", self.snapshot)
        rows = _traced_checks(tr, df, self.ref_stats, self.ref_digests)
        with tr.layer("verdicts"):
            built = P.build_verdicts(
                df, self.ref_stats, self.dim, ref_digests=self.ref_digests
            )
            verdicts = built.withColumn("run_id", F.lit(RUN_ID)).persist()
            verdicts.count()
        with tr.layer("score"):
            score = P.score_partitions(verdicts.drop("run_id")).withColumn(
                "run_id", F.lit(RUN_ID)).cache()
            score.count()
        with tr.layer("violations"):
            viol = P.build_violations(df, self.dim, self.ref_digests).withColumn(
                "run_id", F.lit(RUN_ID)).cache()
            viol.count()
        with tr.layer("write"):
            io.append(verdicts, P.RESULTS_TABLE)
            io.append(score, P.RESULTS_TABLE + "_score")
            io.append(viol, P.VIOLATIONS_TABLE)
        with tr.layer("manifest"):
            digests = M.stats_digests(
                io.read_appended(P.RESULTS_TABLE).filter(F.col("run_id") == RUN_ID)
            )
            M.record_partitions(
                spark, io, RUN_ID, sorted(digests), "done", self.snapshot,
                digests=digests,
            )
        P.release_cached(built)
        spark.catalog.clearCache()
        return P.RunResult(RUN_ID, verdicts, score, pruned), rows


class NearDup(Workload):
    """MinHash LSH pair mining with exact verification, then clustering."""

    def __init__(self, spark, data_dir: str, scratch: str):
        import pyarrow.parquet as pq

        super().__init__(spark, data_dir, scratch)
        truth = pq.read_table(os.path.join(data_dir, "truth.parquet")).to_pydict()
        self.truth = {
            (a, b)
            for a, b, j in zip(truth["a"], truth["b"], truth["jaccard"])
            if j >= NEAR_DUP["threshold"]
        }
        self.rows = pq.ParquetDataset(os.path.join(data_dir, "docs")).read(
            columns=["doc_id"]).num_rows

    def load_refs(self) -> None:
        self.docs = self.spark.read.parquet(os.path.join(self.data_dir, "docs"))

    def run_pass(self):
        pairs = D.minhash_verified_duplicates(
            self.docs, "doc_id", **NEAR_DUP
        ).persist()
        pair_rows = pairs.collect()
        clusters = D.duplicate_clusters(pairs)
        cluster_rows = clusters.collect()
        D.release_cached(clusters)
        D.release_cached(pairs)
        pairs.unpersist()
        return pair_rows, cluster_rows

    def check(self, result):
        pair_rows, cluster_rows = result
        found = {(r["a"], r["b"]) for r in pair_rows}
        hit = len(found & self.truth)
        recall = hit / len(self.truth) if self.truth else 1.0
        precision = hit / len(found) if found else 0.0
        self.info = {"pairs": len(found), "recall": recall, "precision": precision}
        problems = []
        if recall < MIN_RECALL or precision < MIN_PRECISION:
            problems.append(f"recall {recall:.4f} precision {precision:.4f}")
        cluster = {r["k"]: r["cluster"] for r in cluster_rows}
        if any(cluster.get(a) != cluster.get(b) or cluster.get(a) is None
               for a, b in found):
            problems.append("a near-dup pair spans two clusters")
        if any(c > k for k, c in cluster.items()):
            problems.append("a cluster id is not its component's minimum key")
        d = canon.digest(pair_rows, ["a", "b", "jaccard"]) + canon.digest(
            cluster_rows, ["k", "cluster"])
        return d, problems

    def traced_pass(self, tr: Tracer):
        """``minhash_verified_duplicates``' stages, then clustering."""
        p = NEAR_DUP
        with tr.layer("minhash"):
            sigs = D.minhash_signature_table(
                self.docs, "doc_id", num_hashes=p["num_hashes"]).persist()
            sigs.count()
        with tr.layer("lsh"):
            cand = D.lsh_candidate_pairs(
                sigs, "doc_id", p["num_hashes"], p["bands"], estimate=False
            ).persist()
            cand.count()
        with tr.layer("verify"):
            pairs = D.ngram_jaccard(self.docs, cand, "doc_id").filter(
                F.col("jaccard") >= p["threshold"]).persist()
            pair_rows = pairs.collect()
        with tr.layer("clusters"):
            clusters = D.duplicate_clusters(pairs)
            cluster_rows = clusters.collect()
        for df in (clusters, cand):
            D.release_cached(df)
        self.spark.catalog.clearCache()
        return (pair_rows, cluster_rows), self.rows


WORKLOADS = {
    "full_pass": FullPass,
    "resume_one_part": ResumeOnePart,
    "near_dup": NearDup,
}
