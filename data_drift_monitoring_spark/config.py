"""Engine thresholds and constants, one module-level name per value, as in
the reference's ``config/settings.py``.

Values mirror the reference's published semantics so verdict rows match:

- missing-value warn/error thresholds 10/50:
  reference ``config/settings.py:60-62`` (``WARN_MISSING_PERCENTAGE = 50``)
  and ``backend/app/core/quality/missing_values.py:21`` (warn 10, error 50).
- duplicate severity breaks 0 / 1 / 5 and recommendation breaks 0/1/5/20:
  ``backend/app/core/quality/duplicates.py:146-184``.
- outlier IQR multiplier 1.5, z-threshold 3.0, severity breaks 0/1/5,
  recommendation breaks 0/1/5/10: ``backend/app/core/quality/outliers.py:21-37,279-322``.
- quality-score weights 30/25/25/20 and grade bands 90/80/70/60/50:
  ``backend/app/utils/quality_scorer.py:19-44,145-166``.
- PSI thresholds 0.1 / 0.25 (none / moderate / large drift): ``README.md:49``.
- dataset minimums MIN_ROWS=10, MIN_COLUMNS=1: ``config/settings.py:58-59``.
"""

from __future__ import annotations

# missing values (percent)
MISSING_WARN_PCT = 10.0
MISSING_ERROR_PCT = 50.0
# duplicates (percent) — severity: 0 none, <1 low, <5 medium, else high
DUP_LOW_PCT = 1.0
DUP_MEDIUM_PCT = 5.0
DUP_MAJOR_PCT = 20.0
# outliers
IQR_MULTIPLIER = 1.5
Z_SCORE_THRESHOLD = 3.0
OUTLIER_LOW_PCT = 1.0
OUTLIER_MEDIUM_PCT = 5.0
OUTLIER_CLIP_PCT = 10.0
SKEW_TRANSFORM_THRESHOLD = 1.0
# drift
PSI_MODERATE = 0.10
PSI_LARGE = 0.25
KS_ALPHA = 0.05
CHI2_ALPHA = 0.05
# validation gates
MIN_ROWS = 10
MIN_COLUMNS = 1
# scoring weights; they sum to 100
MISSING_WEIGHT = 30.0
DUPLICATE_WEIGHT = 25.0
OUTLIER_WEIGHT = 25.0
SCHEMA_WEIGHT = 20.0
# score → grade, first band whose floor the score reaches; below all:
# "Critical"
GRADE_BANDS = (
    (90, "Excellent"), (80, "Very Good"), (70, "Good"), (60, "Fair"),
    (50, "Poor"),
)

# distributed-engine constants (no reference analogue — the reference is
# single-threaded pandas)
# salt fan-out for skewed groupBy keys (two-level aggregation)
SKEW_SALT_BUCKETS = 16
# histogram binning for drift on numeric columns
DRIFT_BINS = 32
# top-k caps, mirroring the reference's sampling caps
TOPK_VALUES = 5            # file_handler.py:307
SAMPLE_DUP_GROUPS = 5      # duplicates.py:92-123
SAMPLE_ROWS_PER_GROUP = 3  # duplicates.py:119

ALLOWED_SOURCES = ("web", "books", "code", "wiki", "news")
TOKEN_VOCAB_SIZE = 50257
