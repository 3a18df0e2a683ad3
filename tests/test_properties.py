"""Property-based cross-checks of vectorized kernels against deliberately
naive per-element references that share no code with them:

- ``drift._drift_from_counts`` (numpy, the one drift kernel) vs a per-bin
  pure-Python loop. Same universe/clamp/dof conventions by spec —
  hypothesis hunts the corners (singleton histograms, all-mass-in-one-bin,
  cur-only / ref-only bins). The DuckDB oracles of the drift gate queries
  are the second reference.
- ``dedup._simhash64`` (vectorized segment sum) vs a per-row bit vote."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from data_drift_monitoring_spark.operators.drift import _drift_from_counts

# bin label universe: zero-padded ints so lexical sort == numeric sort,
# matching the engine's histogram bin convention
_BINS = [f"{i:06d}" for i in range(6)]


def _hist(draw_counts):
    return {b: c for b, c in zip(_BINS, draw_counts) if c > 0}


def _drift_perbin_blank(cur: dict, ref: dict) -> dict:
    """Independent per-bin reference of PSI / JS / chi² / KS (kept
    deliberately naive): one Python loop over the sorted bin universe.
    Proportions are clamped at 1e-6 inside the PSI log only; JS uses
    0·log(0) = 0; chi² skips bins empty on both sides, dof = bins - 1."""
    n_cur, n_ref = sum(cur.values()), sum(ref.values())
    psi = js = chi2 = ks = 0.0
    cum_c = cum_r = nonzero = 0
    for b in sorted(set(cur) | set(ref)):
        c, r = cur.get(b, 0), ref.get(b, 0)
        p, q = c / n_cur, r / n_ref
        psi += (p - q) * math.log(max(p, 1e-6) / max(q, 1e-6))
        m = (p + q) / 2
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
        if c + r > 0:
            nonzero += 1
            e_c = n_cur * (c + r) / (n_cur + n_ref)
            e_r = n_ref * (c + r) / (n_cur + n_ref)
            chi2 += (c - e_c) ** 2 / e_c + (r - e_r) ** 2 / e_r
        cum_c, cum_r = cum_c + c, cum_r + r
        ks = max(ks, abs(cum_c / n_cur - cum_r / n_ref))
    return {"n_cur": n_cur, "n_ref": n_ref, "psi": psi, "js_divergence": js,
            "chi2_stat": chi2, "chi2_dof": nonzero - 1, "ks_stat": ks}


counts = st.lists(
    st.integers(min_value=0, max_value=50), min_size=6, max_size=6
)


@settings(max_examples=200, deadline=None)
@given(cur_counts=counts, ref_counts=counts)
def test_sql_and_numpy_drift_agree(cur_counts, ref_counts):
    cur, ref = _hist(cur_counts), _hist(ref_counts)
    if sum(cur.values()) == 0 or sum(ref.values()) == 0:
        return  # degenerate: no distribution to compare
    np_out = _drift_from_counts(cur, ref, numeric=False, bins=32)
    row = _drift_perbin_blank(cur, ref)

    assert row["n_cur"] == np_out["n_cur"]
    assert row["n_ref"] == np_out["n_ref"]
    assert row["chi2_dof"] == np_out["chi2_dof"]
    for f in ("psi", "js_divergence", "ks_stat", "chi2_stat"):
        a, b = float(row[f]), float(np_out[f])
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (f, a, b)


# -- SimHash: vectorized segment-sum vs the straightforward per-row blank --

import numpy as np
import pandas as pd


def _simhash_perrow_blank(words_hashes):
    """Independent per-row reference implementation of the Charikar
    bit-vote (kept deliberately naive)."""
    out = np.zeros(len(words_hashes), dtype=np.int64)
    for i, hs in enumerate(words_hashes):
        if hs is None or len(hs) == 0:
            continue
        h = np.asarray(hs, dtype=np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int32
        )
        v = bits.sum(axis=0) * 2 - len(h)
        sig = np.uint64(0)
        for b in range(64):
            if v[b] > 0:
                sig |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


ragged = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=0, max_size=40,
        ),
    ),
    min_size=0, max_size=30,
)


@settings(max_examples=200, deadline=None)
@given(rows=ragged)
def test_vectorized_simhash_matches_perrow(rows):
    from data_drift_monitoring_spark.operators.dedup import _simhash64

    series = pd.Series(
        [None if r is None else np.array(r, dtype=np.int64) for r in rows],
        dtype=object,
    )
    a = _simhash_perrow_blank(series)
    b = _simhash64.func(series)
    assert (a == b).all()
