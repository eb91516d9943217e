"""Output checks. Each takes the library's result and the exact answer
(computed with DuckDB or numpy, outside the timed window) and returns an
``Outcome``: one attempted check, failed if the result breaks the
property. ``failures`` keeps the first few offending elements.

Deterministic properties (pair sets, bytes, CMS never underestimating)
allow no miss. A bound a sketch keeps per item with a stated confidence
allows as many misses as that confidence explains, and no more than a
correct sketch would show once in ``1 / FALSE_ALARM`` runs."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

# DataSketches' published normalized rank error for KLL at k=200 (single
# quantile query, 99% confidence).
KLL_RANK_EPS = {200: 0.0165}
KLL_DELTA = 0.01
# 4 sigma, not 3: at 3 sigma a correct HLL fails one run in ~370, which a
# comparison of dozens of runs would trip on
HLL_SIGMAS = 4.0
# a check may wrongly fail a correct sketch at most this often per run
FALSE_ALARM = 1e-6
MAX_REPORTED = 5


@dataclass
class Outcome:
    name: str
    failures: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failures


def _outcome(name: str, bad: list) -> Outcome:
    return Outcome(name, bad[:MAX_REPORTED] + ([f"... {len(bad)} in all"] if len(bad) > MAX_REPORTED else []))


def allowed_misses(n: int, delta: float, alpha: float = FALSE_ALARM) -> int:
    """Largest number of items that may break a bound each one keeps with
    probability 1 - ``delta``: the smallest k with P[Binomial(n, delta) > k]
    <= ``alpha``."""
    if n == 0 or delta <= 0.0:
        return 0
    log_pmf = n * math.log1p(-delta)  # P[X = 0]
    cdf, k = math.exp(log_pmf), 0
    while 1.0 - cdf > alpha and k < n:
        log_pmf += math.log((n - k) / (k + 1)) + math.log(delta / (1.0 - delta))
        k += 1
        cdf += math.exp(log_pmf)
    return k


def frequency_bound(name: str, est, exact, eps: float, total, delta: float) -> Outcome:
    """Count-min guarantee: f <= f_hat always, and f_hat <= f + eps * N for
    each item with probability 1 - ``delta`` (the sketch's configured
    confidence), so at most ``allowed_misses`` items may break it.

    ``est``/``exact`` are aligned arrays; ``total`` is N, a scalar or an
    array aligned with them (per-group sketches)."""
    est = np.asarray(est, dtype=np.float64)
    exact = np.asarray(exact, dtype=np.float64)
    if len(est) == 0:
        return Outcome(name, ["no estimates to check"])
    slack = eps * np.broadcast_to(np.asarray(total, dtype=np.float64), est.shape)
    under = np.flatnonzero(est < exact)
    over = np.flatnonzero(est > exact + slack)
    bad = [f"item #{i}: f={exact[i]:.0f} > f_hat={est[i]:.0f}" for i in under]
    limit = allowed_misses(len(est), delta)
    if len(over) > limit:
        bad += [f"{len(over)} of {len(est)} items above f + eps*N (at most {limit} allowed)"]
        bad += [f"item #{i}: f={exact[i]:.0f} f_hat={est[i]:.0f} eps*N={slack[i]:.1f}" for i in over]
    return _outcome(name, bad)


def hll_bound(name: str, est: float, exact: int, p: int) -> Outcome:
    sigma = 1.04 / np.sqrt(2**p)
    if abs(est - exact) > HLL_SIGMAS * sigma * exact:
        return Outcome(name, [f"estimate {est} vs exact {exact} beyond {HLL_SIGMAS} sigma ({sigma:.4f})"])
    return Outcome(name)


def kll_rank_bound(name: str, q, lo, hi, n, k: int) -> Outcome:
    """Rank error of returned quantiles.

    For each estimate, ``lo``/``hi`` count the group's values strictly
    below / at most the estimate and ``n`` is the group size. The target
    0-based rank is t = q*(n-1) (linear interpolation, as quantile_cont);
    the estimate passes when the rank interval it occupies lies within
    eps*n of t, with one rank of slack for the interpolation. The published
    eps holds with 99% confidence per query, so up to ``allowed_misses``
    quantiles may exceed it."""
    eps = KLL_RANK_EPS[k]
    q, lo, hi, n = (np.asarray(a, dtype=np.float64) for a in (q, lo, hi, n))
    if len(q) == 0:
        return Outcome(name, ["no quantiles to check"])
    t = q * (n - 1)
    err = np.maximum(np.maximum(lo - (t + 1.0), t - hi), 0.0) / n
    bad_idx = np.flatnonzero(err > eps)
    limit = allowed_misses(len(q), KLL_DELTA)
    if len(bad_idx) <= limit:
        return Outcome(name)
    bad = [f"{len(bad_idx)} of {len(q)} quantiles beyond rank error {eps} (at most {limit} allowed)"]
    bad += [f"row #{i}: q={q[i]} n={n[i]:.0f} rank error {err[i]:.4f}" for i in bad_idx]
    return _outcome(name, bad)


def same_pairs(name: str, got, expected) -> Outcome:
    got, expected = set(map(tuple, got)), set(map(tuple, expected))
    if not expected:
        return Outcome(name, ["oracle found no pairs: the input plants none"])
    bad = [f"missing {p}" for p in sorted(expected - got)]
    bad += [f"spurious {p}" for p in sorted(got - expected)]
    return _outcome(name, bad)


def disjoint_ids(name: str, a, b) -> Outcome:
    both = sorted(set(a) & set(b))
    return _outcome(name, [f"id {i} in both" for i in both])


def same_bytes(name: str, got: bytes | None, expected: bytes | None) -> Outcome:
    if got is None or expected is None or got != expected:
        where = next(
            (i for i, (x, y) in enumerate(zip(got or b"", expected or b"")) if x != y),
            min(len(got or b""), len(expected or b"")),
        )
        return Outcome(
            name,
            [f"bytes differ (lengths {len(got or b'')} vs {len(expected or b'')}, first at {where})"],
        )
    return Outcome(name)
