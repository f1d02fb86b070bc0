"""Time-indexed mergeable states: DecayedValue, ExpHist, HLLSeries.

* ``DecayedValue`` — exponentially decayed sum: ``plus`` rescales the
  older side by 2^((t_old - t_new)/half_life) (algebird-core
  .../DecayedValue.scala:31-58, with half-life instead of ln2 factors).
  For batch SQL the expression form in operators/exact.py is preferred;
  this state exists for streaming/stateful use.
* ``ExpHist`` — sliding-window counter with bounded relative error
  (Datar–Gionis–Indyk–Motwani exponential histograms; algebird-core
  .../ExpHist.scala:38-161): buckets of sizes 1,1,2,2,4,4,... with
  timestamps; expiring the window drops old buckets; the oldest
  surviving bucket contributes half on average -> relative error <=
  1/(2k) with k = ceil(1/eps) buckets per size.
* ``HLLSeries`` — HLL whose registers remember the max timestamp at
  which each (index, rho) was set; ``since(t)`` reconstructs the HLL of
  only the elements seen after t (algebird-core
  .../HyperLogLogSeries.scala:35-165).
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.hashing import DEFAULT_SEED
from .base import (KIND_DECAYED, KIND_DECAYEDVECTOR, KIND_EXPHIST,
                   KIND_HLLSERIES, Sketch, register)
from .hll import HLL, idx_rho


class DecayedValue(Sketch):
    KIND = KIND_DECAYED

    def __init__(self, half_life: float = 86_400.0):
        self.half_life = float(half_life)
        self.value = 0.0
        self.ts = -math.inf  # timestamp the value is normalized to

    def _params(self) -> dict:
        return {"half_life": self.half_life}

    def add(self, value: float, ts: float) -> None:
        if ts >= self.ts:
            self.value = self.value * self._decay(self.ts, ts) + value
            self.ts = ts
        else:  # late data decays itself — commutative
            self.value += value * self._decay(ts, self.ts)

    def _decay(self, old: float, new: float) -> float:
        if old == -math.inf:
            return 0.0
        return 2.0 ** ((old - new) / self.half_life)

    def update_batch(self, values, timestamps=None) -> None:
        """Either aligned (values, timestamps) columns — the
        multi-column ``sketch_by_key`` calling convention — or a single
        (n, 2) array of [value, ts] pairs."""
        if timestamps is None:
            arr = np.asarray(values, dtype=np.float64)
            if arr.size == 0:
                return
            if arr.ndim == 1:
                arr = arr.reshape(-1, 2)
            vals, ts = arr[:, 0], arr[:, 1]
        else:
            vals = np.asarray(values, dtype=np.float64)
            ts = np.asarray(timestamps, dtype=np.float64)
            if vals.size == 0:
                return
        t_max = float(ts.max())
        scaled = vals * np.exp2((ts - t_max) / self.half_life)
        self.add(float(scaled.sum()), t_max)

    def merge_in_place(self, other: "DecayedValue") -> "DecayedValue":
        self.merge_check(other)
        if other.ts != -math.inf:
            self.add(other.value, other.ts)
        return self

    def value_at(self, ts: float) -> float:
        return self.value * self._decay(self.ts, ts)

    def present(self) -> float:
        return self.value

    def _payload(self) -> bytes:
        return np.array([self.value, self.ts], dtype=np.float64).tobytes()


@register(KIND_DECAYED)
def _decode_decayed(params: dict, payload: bytes) -> DecayedValue:
    out = DecayedValue(params["half_life"])
    out.value, out.ts = np.frombuffer(payload, dtype=np.float64)
    return out


def _canonical_counts(total: int, k: int) -> np.ndarray:
    """Bucket counts per size 2^j (j ascending) of the l-canonical form:
    every filled size below the top has k or k+1 buckets, the top size
    has 1..k+1 — the representation the reference computes directly
    (ExpHist.scala:287-434, Canonical.fromLong). O(log total)."""
    if total <= 0:
        return np.zeros(0, dtype=np.int64)
    j_top = 0
    while k * ((1 << (j_top + 1)) - 1) + (1 << (j_top + 1)) <= total:
        j_top += 1
    rem = total - k * ((1 << j_top) - 1)
    n_top = rem >> j_top
    bits = rem & ((1 << j_top) - 1)
    counts = np.empty(j_top + 1, dtype=np.int64)
    for j in range(j_top):
        counts[j] = k + ((bits >> j) & 1)
    counts[j_top] = n_top
    return counts


class ExpHist(Sketch):
    """Sliding-window count, relative error <= epsilon.

    Buckets: list of (size, newest_ts), sizes are powers of two, at most
    ``k+1`` buckets per size with k = ceil(1/epsilon) (DGIM). Updates
    and merges rebuild the l-canonical form wholesale from the combined
    (size, ts) events — fully vectorized (one argsort + two cumsums +
    one searchsorted per batch), replacing the earlier per-event
    ``buckets.insert(0, ...)`` loop that was O(n^2) in batch size."""

    KIND = KIND_EXPHIST

    def __init__(self, epsilon: float = 0.1, window: float = 3600.0):
        self.epsilon = float(epsilon)
        self.window = float(window)
        self.k = max(1, math.ceil(1.0 / epsilon))
        self.buckets: list[tuple[int, float]] = []  # (size, ts) newest first
        self.now = -math.inf

    def _params(self) -> dict:
        return {"epsilon": self.epsilon, "window": self.window}

    def add(self, ts: float, count: int = 1) -> None:
        if count <= 0:
            return
        # a pre-aggregated (count, ts) event is just a ready-made bucket
        self._ingest(np.array([count], dtype=np.int64),
                     np.array([ts], dtype=np.float64))

    def update_batch(self, values) -> None:
        """values: timestamps (counts of 1 each)."""
        ts = np.asarray(values, dtype=np.float64)
        if ts.size == 0:
            return
        self.now = max(self.now, float(ts.max()))
        ts = ts[ts >= self.now - self.window]  # expired-on-arrival events
        self._ingest(np.ones(len(ts), dtype=np.int64), ts)

    def _ingest(self, new_sizes: np.ndarray, new_tss: np.ndarray) -> None:
        """Combine new (size, ts) events with the existing buckets and
        rebuild the canonical form. Each canonical bucket's timestamp is
        the newest event it covers (the DGIM invariant)."""
        if len(new_tss):
            self.now = max(self.now, float(new_tss.max()))
        n_old = len(self.buckets)
        sizes = np.concatenate([
            new_sizes,
            np.fromiter((s for s, _ in self.buckets), dtype=np.int64,
                        count=n_old)])
        tss = np.concatenate([
            new_tss,
            np.fromiter((t for _, t in self.buckets), dtype=np.float64,
                        count=n_old)])
        if sizes.size == 0:
            self.buckets = []
            return
        order = np.argsort(-tss, kind="stable")  # newest first
        sizes, tss = sizes[order], tss[order]
        total = int(sizes.sum())
        counts = _canonical_counts(total, self.k)
        bucket_sizes = np.repeat(
            np.left_shift(np.int64(1), np.arange(len(counts), dtype=np.int64)),
            counts)
        ends = np.cumsum(bucket_sizes)
        starts = ends - bucket_sizes
        event_cum = np.cumsum(sizes)
        # newest event covering position start+1 (1-indexed, newest first)
        idx = np.searchsorted(event_cum, starts + 1, side="left")
        bucket_ts = tss[idx]
        self.buckets = list(zip(bucket_sizes.tolist(), bucket_ts.tolist()))
        self._expire()

    def _expire(self) -> None:
        cutoff = self.now - self.window
        self.buckets = [(s, t) for s, t in self.buckets if t >= cutoff]

    def merge_in_place(self, other: "ExpHist") -> "ExpHist":
        self.merge_check(other)
        self.now = max(self.now, other.now)
        n = len(other.buckets)
        self._ingest(
            np.fromiter((s for s, _ in other.buckets), dtype=np.int64, count=n),
            np.fromiter((t for _, t in other.buckets), dtype=np.float64, count=n))
        return self

    def guess(self) -> float:
        """Approximate count within the window: all but half the oldest
        bucket (ExpHist.scala guess/approximateSum analog)."""
        if not self.buckets:
            return 0.0
        total = sum(s for s, _ in self.buckets)
        oldest = self.buckets[-1][0]
        return total - oldest / 2.0

    def present(self) -> float:
        return self.guess()

    def _payload(self) -> bytes:
        n = len(self.buckets)
        sizes = np.array([s for s, _ in self.buckets], dtype=np.int64)
        tss = np.array([t for _, t in self.buckets], dtype=np.float64)
        return (np.array([n], dtype=np.int64).tobytes()
                + np.array([self.now], dtype=np.float64).tobytes()
                + sizes.tobytes() + tss.tobytes())


@register(KIND_EXPHIST)
def _decode_exphist(params: dict, payload: bytes) -> ExpHist:
    out = ExpHist(params["epsilon"], params["window"])
    n = int(np.frombuffer(payload[:8], dtype=np.int64)[0])
    out.now = float(np.frombuffer(payload[8:16], dtype=np.float64)[0])
    sizes = np.frombuffer(payload[16 : 16 + 8 * n], dtype=np.int64)
    tss = np.frombuffer(payload[16 + 8 * n :], dtype=np.float64)
    if len(sizes) != n or len(tss) != n:
        raise ValueError("truncated ExpHist payload")
    out.buckets = [(int(s), float(t)) for s, t in zip(sizes, tss)]
    return out


class HLLSeries(Sketch):
    """HLL with per-register max-timestamp: ``since(t)`` gives the HLL of
    elements seen at/after t. State: {(idx) : [(rho, max_ts)]} kept as,
    per register index, the pareto frontier of (rho, ts) — higher rho
    with older ts coexists with lower rho + newer ts."""

    KIND = KIND_HLLSERIES

    def __init__(self, p: int = 12, seed: int = DEFAULT_SEED):
        self.p = p
        self.seed = seed
        self.m = 1 << p
        self.rows: dict[int, dict[int, float]] = {}  # idx -> {rho: max_ts}

    def _params(self) -> dict:
        return {"p": self.p, "seed": self.seed}

    def update_batch(self, values, timestamps=None) -> None:
        values = np.asarray(values)
        if values.size == 0:
            return
        if timestamps is None:
            timestamps = np.zeros(values.shape[0])
        ts = np.asarray(timestamps, dtype=np.float64)
        idx, rho = idx_rho(values, self.p, self.m, self.seed)
        # reduce the batch to max-ts per (register, rho) first — the
        # Python dict update then touches only distinct pairs (bounded
        # by state size), never one iteration per event
        key = idx * np.int64(64) + rho  # rho <= 64 - p + 1 < 64
        order = np.lexsort((ts, key))
        k_s, t_s = key[order], ts[order]
        last = np.flatnonzero(np.diff(np.append(k_s, np.int64(-1))) != 0)
        for k, t in zip(k_s[last].tolist(), t_s[last].tolist()):
            i, r = divmod(k, 64)
            reg = self.rows.setdefault(i, {})
            if t > reg.get(r, -math.inf):
                reg[r] = t
        self._prune()

    def _prune(self) -> None:
        # keep only pareto-optimal (rho, ts): drop rho whose ts <= the ts
        # of any higher rho (it can never matter for any since(t))
        for i, reg in self.rows.items():
            best = -math.inf
            keep = {}
            for r in sorted(reg, reverse=True):
                if reg[r] > best:
                    keep[r] = reg[r]
                    best = reg[r]
            self.rows[i] = keep

    def merge_in_place(self, other: "HLLSeries") -> "HLLSeries":
        self.merge_check(other)
        for i, reg in other.rows.items():
            mine = self.rows.setdefault(i, {})
            for r, t in reg.items():
                if t > mine.get(r, -math.inf):
                    mine[r] = t
        self._prune()
        return self

    def since(self, t: float) -> HLL:
        idx, rho = [], []
        for i in sorted(self.rows):
            best = max((r for r, ts in self.rows[i].items() if ts >= t),
                       default=0)
            if best:
                idx.append(i)
                rho.append(best)
        return HLL(self.p, self.seed)._set_sparse(
            np.array(idx, dtype=np.int32), np.array(rho, dtype=np.uint8))

    def present(self) -> float:
        return self.since(-math.inf).estimate()

    def _payload(self) -> bytes:
        idxs, rhos, tss = [], [], []
        # canonical (idx, rho) order: serialization must not depend on
        # dict insertion history, or equal states built through
        # different merge orders hash differently (caught by the
        # commutativity byte-law in test_timeseries_properties)
        for i in sorted(self.rows):
            reg = self.rows[i]
            for r in sorted(reg):
                idxs.append(i)
                rhos.append(r)
                tss.append(reg[r])
        return (np.array([len(idxs)], dtype=np.int64).tobytes()
                + np.array(idxs, dtype=np.int32).tobytes()
                + np.array(rhos, dtype=np.uint8).tobytes()
                + np.array(tss, dtype=np.float64).tobytes())


@register(KIND_HLLSERIES)
def _decode_hllseries(params: dict, payload: bytes) -> HLLSeries:
    out = HLLSeries(params["p"], params["seed"])
    n = int(np.frombuffer(payload[:8], dtype=np.int64)[0])
    off = 8
    idxs = np.frombuffer(payload[off : off + 4 * n], dtype=np.int32)
    off += 4 * n
    rhos = np.frombuffer(payload[off : off + n], dtype=np.uint8)
    off += n
    tss = np.frombuffer(payload[off :], dtype=np.float64)
    if len(idxs) != n or len(rhos) != n or len(tss) != n:
        raise ValueError("truncated HLLSeries payload")
    for i, r, t in zip(idxs.tolist(), rhos.tolist(), tss.tolist()):
        out.rows.setdefault(i, {})[r] = t
    return out


class DecayedVector(Sketch):
    """DecayedValue for vectors (algebird-core .../DecayedVector.scala):
    element-wise exponentially decayed sum, all elements normalized to
    one timestamp."""

    KIND = KIND_DECAYEDVECTOR

    def __init__(self, dim: int, half_life: float = 86_400.0):
        self.dim = dim
        self.half_life = float(half_life)
        self.vec = np.zeros(dim, dtype=np.float64)
        self.ts = -math.inf

    def _params(self) -> dict:
        return {"dim": self.dim, "half_life": self.half_life}

    def add(self, vec: np.ndarray, ts: float) -> None:
        vec = np.asarray(vec, dtype=np.float64)
        if ts >= self.ts:
            if self.ts != -math.inf:
                self.vec *= 2.0 ** ((self.ts - ts) / self.half_life)
            else:
                self.vec = np.zeros(self.dim)
            self.vec += vec
            self.ts = ts
        else:
            self.vec += vec * 2.0 ** ((ts - self.ts) / self.half_life)

    def update_batch(self, values, timestamps=None) -> None:
        """values: (n, dim) matrix — or an object array of per-row
        vectors, the shape an Arrow array<double> column arrives in
        through the multi-column harness; timestamps: (n,)"""
        arr = np.asarray(values)
        if arr.dtype == object:
            arr = (np.array(arr.tolist(), dtype=np.float64)
                   if arr.size else np.zeros((0, self.dim)))
        else:
            arr = arr.astype(np.float64, copy=False).reshape(-1, self.dim)
        if arr.size == 0:
            return
        arr = arr.reshape(-1, self.dim)
        ts = (np.zeros(arr.shape[0]) if timestamps is None
              else np.asarray(timestamps, dtype=np.float64))
        t_max = float(ts.max())
        scaled = arr * np.exp2((ts - t_max) / self.half_life)[:, None]
        self.add(scaled.sum(axis=0), t_max)

    def merge_in_place(self, other: "DecayedVector") -> "DecayedVector":
        self.merge_check(other)
        if other.ts != -math.inf:
            self.add(other.vec, other.ts)
        return self

    def value_at(self, ts: float) -> np.ndarray:
        return self.vec * 2.0 ** (min(0.0, (self.ts - ts)) / self.half_life)

    def present(self) -> list:
        return self.vec.tolist()

    def _payload(self) -> bytes:
        return (np.array([self.ts], dtype=np.float64).tobytes()
                + self.vec.tobytes())


@register(KIND_DECAYEDVECTOR)
def _decode_decayedvector(params: dict, payload: bytes) -> DecayedVector:
    out = DecayedVector(params["dim"], params["half_life"])
    out.ts = float(np.frombuffer(payload[:8], dtype=np.float64)[0])
    out.vec = np.frombuffer(payload[8:], dtype=np.float64).copy()
    return out
