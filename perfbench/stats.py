"""Timing summaries and the checks every job's estimates go through.

Each check compares an estimate against the exact answer and the bound
the sketch publishes. Checks come in families; a family records how
many checks ran, how many landed outside the bound, and the published
probability that one check lands outside (0 for guarantees that hold
always, such as a Count-Min estimate never undercounting). A family
passes when its misses stay within what that probability allows at a
one-in-a-million tail, so a correct sketch never fails a job by chance
while a biased or broken one fails it at once.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np

# HLL's published interval is 3 standard errors, probability 0.9972
# (HLL.approximate_size); KLL's rank error and t-digest's quantile
# bounds are 99% bounds.
HLL_SIGMAS = 3.0
HLL_MISS_P = 0.0028
HLL_GROSS_SIGMAS = 6.0
QUANTILE_MISS_P = 0.01
TAIL = 1e-6


def summarize(samples: Sequence[float]) -> dict:
    """Median with its sample count (plus the extremes, for reading a
    record by eye)."""
    if not samples:
        raise ValueError("no samples to summarize")
    return {"median": statistics.median(samples), "n": len(samples),
            "min": min(samples), "max": max(samples)}


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def binomial_allowance(n: int, p: float, tail: float = TAIL) -> int:
    """Smallest a with P(Binomial(n, p) > a) <= tail."""
    if n <= 0 or p <= 0.0:
        return 0
    if p >= 1.0:
        return n
    log_q = math.log1p(-p)
    ratio = p / (1.0 - p)
    pmf = math.exp(n * log_q)
    cdf = pmf
    a = 0
    while 1.0 - cdf > tail and a < n:
        pmf *= (n - a) / (a + 1) * ratio
        a += 1
        cdf += pmf
    return a


@dataclass
class Family:
    name: str
    checked: int
    outside: int
    p_miss: float

    @property
    def allowed(self) -> int:
        return binomial_allowance(self.checked, self.p_miss)

    @property
    def ok(self) -> bool:
        return self.outside <= self.allowed


def combine(families: Iterable[Family]) -> dict[str, Family]:
    """Sum families of the same name (one job's checks over all keys)."""
    out: dict[str, Family] = {}
    for f in families:
        if f.name in out:
            g = out[f.name]
            out[f.name] = Family(f.name, g.checked + f.checked,
                                 g.outside + f.outside, f.p_miss)
        else:
            out[f.name] = f
    return out


class KeyHist:
    """Exact token histogram of one group key."""

    def __init__(self, values: np.ndarray, counts: np.ndarray):
        order = np.argsort(values, kind="stable")
        self.values = np.asarray(values, dtype=np.int64)[order]
        self.counts = np.asarray(counts, dtype=np.int64)[order]
        self.cum = np.cumsum(self.counts)

    @property
    def n(self) -> int:
        return int(self.cum[-1]) if len(self.cum) else 0

    @property
    def distinct(self) -> int:
        return len(self.values)

    def counts_of(self, tokens: np.ndarray) -> np.ndarray:
        tokens = np.asarray(tokens, dtype=np.int64)
        i = np.searchsorted(self.values, tokens)
        i_c = np.minimum(i, len(self.values) - 1)
        hit = (i < len(self.values)) & (self.values[i_c] == tokens)
        return np.where(hit, self.counts[i_c], 0)

    def quantile(self, p: float) -> int:
        """Smallest value whose cumulative count reaches p * n."""
        if p <= 0.0:
            return int(self.values[0])
        i = int(np.searchsorted(self.cum, p * self.n, side="left"))
        return int(self.values[min(i, len(self.values) - 1)])


def check_hll(estimates: Sequence[float], exact: Sequence[int],
              m: int) -> list[Family]:
    est = np.asarray(estimates, dtype=np.float64)
    ex = np.asarray(exact, dtype=np.float64)
    rel = np.abs(est - ex) / np.maximum(ex, 1.0)
    se = 1.04 / math.sqrt(m)
    return [Family("hll.3sigma", len(rel),
                   int(np.sum(rel > HLL_SIGMAS * se)), HLL_MISS_P),
            Family("hll.6sigma", len(rel),
                   int(np.sum(rel > HLL_GROSS_SIGMAS * se)), 0.0)]


def check_cms(estimates: Sequence[int], exact: Sequence[int], eps: float,
              total: int, delta: float) -> list[Family]:
    est = np.asarray(estimates, dtype=np.int64)
    ex = np.asarray(exact, dtype=np.int64)
    return [Family("cms.under", len(est), int(np.sum(est < ex)), 0.0),
            Family("cms.over", len(est),
                   int(np.sum(est > ex + eps * total)), delta)]


def check_heavy_hitters(hh: dict, hist: KeyHist, pct: float, eps: float,
                        delta: float) -> list[Family]:
    """Every token with exact count >= pct*N is reported; every reported
    token has exact count >= (pct - eps)*N."""
    n = hist.n
    heavy = hist.values[hist.counts >= pct * n]
    reported = np.array(sorted(int(k) for k in hh), dtype=np.int64)
    missing = np.setdiff1d(heavy, reported)
    bad = int(np.sum(hist.counts_of(reported) < (pct - eps) * n))
    return [Family("cms.hh_recall", len(heavy), len(missing), 0.0),
            Family("cms.hh_precision", len(reported), bad, delta)]


def check_quantiles(name: str, ps: Sequence[float], q: Sequence[float],
                    bounds: Sequence[Sequence[float]], hist: KeyHist,
                    rank_eps: float | None) -> list[Family]:
    """The exact p-quantile lies inside the sketch's (lower, upper)
    bounds; with ``rank_eps``, the estimate's rank is within rank_eps of
    p, i.e. q lies between the exact (p - eps)- and (p + eps)-quantiles."""
    out_b = 0
    out_r = 0
    for p, qv, (lo, hi) in zip(ps, q, bounds):
        v = hist.quantile(p)
        out_b += not (lo <= v <= hi)
        if rank_eps is not None:
            out_r += not (hist.quantile(p - rank_eps) <= qv
                          <= hist.quantile(min(1.0, p + rank_eps)))
    fams = [Family(f"{name}.bounds", len(ps), out_b, QUANTILE_MISS_P)]
    if rank_eps is not None:
        fams.append(Family(f"{name}.rank", len(ps), out_r, QUANTILE_MISS_P))
    return fams


def check_bloom(false_negatives: int, n_present: int, false_positives: int,
                n_absent: int, fpp: float) -> list[Family]:
    return [Family("bloom.false_negative", n_present, false_negatives, 0.0),
            Family("bloom.fpp", n_absent, false_positives, fpp)]
