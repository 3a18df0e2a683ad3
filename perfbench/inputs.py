"""Seeded benchmark inputs, generated once per seed and cached on disk.

Generation goes through the engine's own generators and is never timed.  A
cache entry is written to a temporary directory and renamed into place, so a
run that dies mid-generation leaves nothing a later run would trust.  Only the
newest few seeds per input kind are kept.
"""

from __future__ import annotations

import os
import shutil

# sequences table shared by full_pass and resume_one_part
SEQ_ROWS = 32_000
SEQ_PARTS = 32
# near-dup corpus base size (the generator adds ~2% planted variants)
DEDUP_DOCS = 10_000
DEDUP_PARTS = 32
KEEP_SEEDS = 6


def _evict(cache: str, prefix: str, keep: int) -> None:
    entries = [
        os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(prefix)
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


def _cached(cache: str, prefix: str, name: str, build) -> str:
    os.makedirs(cache, exist_ok=True)
    final = os.path.join(cache, name)
    if os.path.isdir(final):
        os.utime(final)
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, final)
    _evict(cache, prefix, KEEP_SEEDS)
    return final


def sequences(cache: str, seed: int) -> str:
    """``ref`` and ``ref_corrupted`` (``cur``) tables for one seed: identical
    except part 5's planted length and token corruptions."""
    from data_drift_monitoring_spark.generator import generate_sequences

    def build(d: str) -> None:
        for sub, variant in (("ref", "ref"), ("cur", "ref_corrupted")):
            generate_sequences(
                os.path.join(d, sub), variant=variant, rows=SEQ_ROWS,
                num_partitions=SEQ_PARTS, seed=seed,
            )

    return _cached(cache, "seq-", f"seq-{SEQ_ROWS}x{SEQ_PARTS}-s{seed}", build)


def dedup_corpus(cache: str, seed: int) -> str:
    """Near-dup corpus (``docs/``) with its planted ``truth.parquet``."""
    from data_drift_monitoring_spark.generator import generate_dedup_corpus

    def build(d: str) -> None:
        generate_dedup_corpus(
            d, n_docs=DEDUP_DOCS, seed=seed, num_partitions=DEDUP_PARTS
        )

    return _cached(
        cache, "dedup-", f"dedup-{DEDUP_DOCS}x{DEDUP_PARTS}-s{seed}", build
    )


def reset_tree(template: str, target: str) -> None:
    """Make ``target`` an exact copy of ``template`` (the resume warehouse
    before each pass)."""
    shutil.rmtree(target, ignore_errors=True)
    shutil.copytree(template, target)
