"""Tail probabilities in pure numpy (no scipy in the runtime — SURVEY.md
§7.4.7). Classic published algorithms:

- regularized incomplete gamma P/Q via series / continued fraction
  (Numerical Recipes §6.2 style) → chi-square survival function.
- Kolmogorov distribution survival function via its alternating series
  Q_KS(λ) = 2 Σ_{j≥1} (-1)^{j-1} exp(-2 j² λ²), with the small-λ
  Jacobi-theta form for accuracy (Marsaglia, Tsang & Wang 2003).

Used by the driver-side drift kernel (``operators/drift._drift_from_counts``)
once per (partition, column) group — never over raw data.
"""

from __future__ import annotations

import numpy as np


def _gamma_series(a: float, x: float, itmax: int = 200, eps: float = 3e-12):
    """P(a,x) by series expansion (x < a+1)."""
    ap = a
    s = 1.0 / a
    delta = s
    for _ in range(itmax):
        ap += 1.0
        delta *= x / ap
        s += delta
        if abs(delta) < abs(s) * eps:
            break
    from math import exp, lgamma, log

    return s * exp(-x + a * log(x) - lgamma(a))


def _gamma_cf(a: float, x: float, itmax: int = 200, eps: float = 3e-12):
    """Q(a,x) by continued fraction (x >= a+1), modified Lentz."""
    from math import exp, lgamma, log

    fpmin = 1e-300
    b = x + 1.0 - a
    c = 1.0 / fpmin
    d = 1.0 / b
    h = d
    for i in range(1, itmax + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < fpmin:
            d = fpmin
        c = b + an / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return exp(-x + a * log(x) - lgamma(a)) * h


def gammainc_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) = 1 - P(a, x)."""
    if x < 0 or a <= 0:
        return float("nan")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_series(a, x)
    return _gamma_cf(a, x)


def chi2_sf(stat: float, dof: float) -> float:
    """P[X² >= stat] for X² ~ chi-square(dof)."""
    if dof <= 0 or not np.isfinite(stat):
        return float("nan")
    if stat <= 0:
        return 1.0
    return float(min(1.0, max(0.0, gammainc_q(dof / 2.0, stat / 2.0))))


def kolmogorov_sf(lam: float) -> float:
    """Q_KS(λ): survival function of the Kolmogorov distribution."""
    if lam <= 0:
        return 1.0
    if lam < 1.18:  # theta-function form converges fast for small λ
        t = np.exp(-np.pi**2 / (8 * lam**2))
        w = np.sqrt(2 * np.pi) / lam
        cdf = w * (t + t**9 + t**25 + t**49)
        return float(min(1.0, max(0.0, 1.0 - cdf)))
    total = 0.0
    for j in range(1, 101):
        term = 2.0 * (-1.0) ** (j - 1) * np.exp(-2.0 * j * j * lam * lam)
        total += term
        if abs(term) < 1e-12:
            break
    return float(min(1.0, max(0.0, total)))


def ks_2samp_pvalue(d: float, n1: float, n2: float) -> float:
    """Asymptotic two-sample KS p-value: λ = (√nₑ + 0.12 + 0.11/√nₑ)·D with
    nₑ = n1·n2/(n1+n2) (Numerical Recipes §14.3 / Stephens 1970)."""
    if n1 <= 0 or n2 <= 0:
        return float("nan")
    ne = n1 * n2 / (n1 + n2)
    sq = np.sqrt(ne)
    return kolmogorov_sf((sq + 0.12 + 0.11 / sq) * d)
