"""Canonical schemas.

The reference infers schema from whatever pandas reads
(``backend/app/utils/file_handler.py:102-134``, dtype strings at ``:271``) and
only *warns* on mismatch (``:206-235``). This engine declares and enforces an
explicit ``StructType``; schema validation is a driver-side structural
comparison (schemas are tiny — no data job needed).

Target table shape (BASELINE.json ``input_hint``)::

    doc_id : string        -- unique document id
    tokens : array<int>    -- pre-tokenized sequence
    n_tok  : int           -- declared token count (invariant: size(tokens))
    source : string        -- provenance tag, checked against a dimension
    part_id: int           -- partition key (derived at ingest)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("part_id", T.IntegerType(), False),
    ]
)

ALLOWED_SOURCES_SCHEMA = T.StructType(
    [T.StructField("source", T.StringType(), False)]
)

# Reference-snapshot histogram rows (what init_reference produces and drift
# checks broadcast) — FIXTURES.md §5.
REF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("col", T.StringType(), False),
        T.StructField("bin", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
    ]
)

# Manifest rows: per-partition lineage for resumable runs (SURVEY.md §7.1).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("snapshot_id", T.StringType(), True),
        T.StructField("stats_digest", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.StringType(), True),
        T.StructField("finished_at", T.StringType(), True),
        T.StructField("attempt_id", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class SchemaValidationResult:
    """Structural comparison outcome (reference: file_handler.py:136-245 —
    7 checks producing errors for min-rows/min-cols/empty and warnings for
    missing/extra columns and dtype mismatches)."""

    is_valid: bool
    errors: tuple[str, ...]
    warnings: tuple[str, ...]


def validate_schema(
    actual: T.StructType,
    expected: T.StructType = SEQUENCES_SCHEMA,
    strict: bool = False,
) -> SchemaValidationResult:
    """Driver-side schema diff (set algebra on names + dtype equi-compare,
    the Spark analogue of file_handler.py:206-235 / versioning.py:331-361).
    """
    act = {f.name: f.dataType.simpleString() for f in actual.fields}
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    missing = sorted(set(exp) - set(act))
    extra = sorted(set(act) - set(exp))
    mismatched = sorted(
        n for n in set(exp) & set(act) if exp[n] != act[n]
    )

    errors: list[str] = []
    warnings: list[str] = []
    for n in missing:
        msg = f"missing column: {n} (expected {exp[n]})"
        (errors if strict else warnings).append(msg)
    for n in extra:
        warnings.append(f"unexpected column: {n} ({act[n]})")
    for n in mismatched:
        msg = f"dtype mismatch: {n} expected {exp[n]} got {act[n]}"
        (errors if strict else warnings).append(msg)
    return SchemaValidationResult(not errors, tuple(errors), tuple(warnings))
