"""Mergeable sketch state protocol + versioned binary envelope.

This is algebird's ``MonoidAggregator`` contract
(algebird-core .../Aggregator.scala:545-632) re-expressed in
Arrow-batch form (SURVEY.md §2.9):

    empty(params)  -> state            (Monoid.zero)
    update_batch(state, np.ndarray)    (prepare + sumOption, vectorized)
    merge_in_place(state, other)       (Semigroup.plus; validates params)
    present(state) -> result           (Aggregator.present)
    to_bytes / from_bytes              (the serialized middle type B)

Every serialized state carries a header
``(magic, version, kind, params-json)`` so incompatible merges fail
loudly — mirroring ``CMSMonoid.plus`` requiring equal hash families
(algebird-core .../CountMinSketch.scala:117-120) and ``DenseHLL``
asserting equal sizes (HyperLogLog.scala:408,417).

Estimates are returned as ``Approximate`` intervals, mirroring
algebird-core .../Approximate.scala:25-174: the probability is a lower
bound that the true value lies in [low, high].
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass
from typing import Any, Callable, ClassVar

MAGIC = b"ASK1"
# v2 (round 3): integer murmur dispatch became dtype-stable (all ints
# hash as int64), changing hash values for int32-keyed HLL/Bloom/
# MinHash states. Bump so states persisted under v1 fail loudly at
# decode instead of merging into silently-wrong estimates.
VERSION = 2

# kind-byte registry (stable across versions; append only)
KIND_HLL = 1
KIND_CMS = 2
KIND_BLOOM = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_MINHASH = 6
KIND_QTREE = 7
KIND_SPACESAVER = 8
KIND_MOMENTS = 9
KIND_EXPHIST = 10
KIND_SETSIZE = 11
KIND_DECAYED = 12
KIND_MULTI = 20
KIND_HLLSERIES = 21
KIND_SKETCHMAP = 22
KIND_DECAYINGCMS = 23
KIND_SCOPEDTOPN = 24
KIND_DECAYEDVECTOR = 25
KIND_EVENTUALLY = 26
KIND_SKETCHMAP_HLL = 27
KIND_SKETCHMAP_SET = 28
KIND_FREQDIR = 29

_DECODERS: dict[int, Callable[[dict, bytes], "Sketch"]] = {}


@dataclass(frozen=True)
class ApproximateBoolean:
    """Boolean answer correct w.p. >= prob
    (Approximate.scala ApproximateBoolean:26-66). Combine with &, |, ^
    (Python can't overload ``and``/``or``)."""

    is_true: bool
    prob: float

    def not_(self) -> "ApproximateBoolean":
        return ApproximateBoolean(not self.is_true, self.prob)

    __invert__ = not_

    def __and__(self, that: "ApproximateBoolean") -> "ApproximateBoolean":
        if self.is_true and that.is_true:
            # need both to be correct
            return ApproximateBoolean(True, self.prob * that.prob)
        # confidence is the max confidence of the false cases
        return ApproximateBoolean(
            False, max(p.prob for p in (self, that) if not p.is_true))

    def __or__(self, that: "ApproximateBoolean") -> "ApproximateBoolean":
        if self.is_true or that.is_true:
            return ApproximateBoolean(
                True, max(p.prob for p in (self, that) if p.is_true))
        # need both to be correct to believe it is false
        return ApproximateBoolean(False, self.prob * that.prob)

    def __xor__(self, that: "ApproximateBoolean") -> "ApproximateBoolean":
        return ApproximateBoolean(self.is_true ^ that.is_true,
                                  self.prob * that.prob)

    @staticmethod
    def exact(b: bool) -> "ApproximateBoolean":
        return ApproximateBoolean(bool(b), 1.0)


@dataclass(frozen=True)
class Approximate:
    """Interval answer: true value in [low, high] w.p. >= prob — a LOWER
    bound, like the reference (Approximate.scala:74-174). Supports the
    same algebra: +, -, * (interval arithmetic, probabilities multiply;
    a monoid, not a ring — negate(x) + x != exact 0 and * does not
    distribute, because bound probabilities compose per operation)."""

    low: float
    estimate: float
    high: float
    prob: float

    def contains(self, true_value: float) -> bool:
        return self.low <= true_value <= self.high

    def contains_approx(self, true_value: float) -> ApproximateBoolean:
        """Approximate.scala `contains`: the membership verdict carries
        the interval's own confidence."""
        return ApproximateBoolean(self.contains(true_value), self.prob)

    # -- algebra (Approximate.scala:96-160) -----------------------------
    @staticmethod
    def exact(v: float) -> "Approximate":
        return Approximate(float(v), float(v), float(v), 1.0)

    @staticmethod
    def zero() -> "Approximate":
        return Approximate.exact(0.0)

    @staticmethod
    def one() -> "Approximate":
        return Approximate.exact(1.0)

    @property
    def is_exact(self) -> bool:
        return self.prob == 1.0 and self.low == self.high

    @property
    def is_zero(self) -> bool:
        return self.is_exact and self.estimate == 0.0

    @property
    def is_one(self) -> bool:
        return self.is_exact and self.estimate == 1.0

    @staticmethod
    def _coerce(v) -> "Approximate":
        return v if isinstance(v, Approximate) else Approximate.exact(v)

    def __add__(self, right) -> "Approximate":
        r = Approximate._coerce(right)
        return Approximate(self.low + r.low, self.estimate + r.estimate,
                           self.high + r.high, self.prob * r.prob)

    __radd__ = __add__

    def negate(self) -> "Approximate":
        return self * Approximate.exact(-1.0)

    def __sub__(self, right) -> "Approximate":
        return self + Approximate._coerce(right).negate()

    def __mul__(self, right) -> "Approximate":
        r = Approximate._coerce(right)
        if r.is_zero or self.is_one:
            return r
        if self.is_zero or r.is_one:
            return self
        ends = [self.low * r.low, self.low * r.high,
                self.high * r.low, self.high * r.high]
        return Approximate(min(ends), self.estimate * r.estimate,
                           max(ends), self.prob * r.prob)

    __rmul__ = __mul__

    def with_min(self, m: float) -> "Approximate":
        """Assert the true value is known to be >= m
        (Approximate.scala withMin)."""
        if m > self.high:
            raise ValueError(f"with_min({m}) above high={self.high}")
        if m <= self.low:
            return self
        return Approximate(m, max(m, self.estimate), self.high, self.prob)

    def with_max(self, m: float) -> "Approximate":
        if m < self.low:
            raise ValueError(f"with_max({m}) below low={self.low}")
        if m >= self.high:
            return self
        return Approximate(self.low, min(m, self.estimate), m, self.prob)


class IncompatibleSketchError(ValueError):
    """Raised when merging states with different kind/params/seed."""


class Sketch:
    """Base class: subclasses set KIND and implement the protocol."""

    KIND: ClassVar[int] = 0

    # -- protocol -----------------------------------------------------
    def update_batch(self, values) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def merge_in_place(self, other: "Sketch") -> "Sketch":  # pragma: no cover
        raise NotImplementedError

    def present(self) -> Any:  # pragma: no cover - abstract
        raise NotImplementedError

    def _params(self) -> dict:  # pragma: no cover - abstract
        raise NotImplementedError

    def _payload(self) -> bytes:  # pragma: no cover - abstract
        raise NotImplementedError

    # -- envelope -----------------------------------------------------
    def to_bytes(self) -> bytes:
        params = json.dumps(self._params(), separators=(",", ":"), sort_keys=True)
        pb = params.encode("utf-8")
        header = MAGIC + struct.pack("<BBI", VERSION, self.KIND, len(pb)) + pb
        return header + self._payload()

    def merge_check(self, other: "Sketch") -> None:
        if type(other) is not type(self):
            raise IncompatibleSketchError(
                f"cannot merge {type(self).__name__} with {type(other).__name__}")
        if self._params() != other._params():
            raise IncompatibleSketchError(
                f"{type(self).__name__} params mismatch: "
                f"{self._params()} != {other._params()}")

    def __add__(self, other: "Sketch") -> "Sketch":
        out = from_bytes(self.to_bytes())  # immutable-style plus via copy
        out.merge_in_place(other)
        return out


def register(kind: int):
    def deco(fn):
        prev = _DECODERS.get(kind)
        if prev is not None and prev is not fn:
            # a silent overwrite would decode every persisted state of
            # the EARLIER kind with the later decoder (observed once in
            # development: two sketches claiming one kind byte turn
            # from_bytes into garbage-in) — fail at import time instead
            raise ValueError(
                f"sketch kind byte {kind} already registered to "
                f"{prev.__module__}.{prev.__qualname__}; pick the next "
                f"free byte (registry is append-only)")
        _DECODERS[kind] = fn
        return fn
    return deco


def from_bytes(data: bytes) -> Sketch:
    if data[:4] != MAGIC:
        raise ValueError(f"bad sketch magic {data[:4]!r}")
    version, kind, plen = struct.unpack_from("<BBI", data, 4)
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    try:
        params = json.loads(data[10 : 10 + plen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"corrupt sketch params header: {e}") from None
    payload = data[10 + plen :]
    try:
        decoder = _DECODERS[kind]
    except KeyError:
        raise ValueError(f"unknown sketch kind {kind}") from None
    return decoder(params, payload)


def merge_all(states: list[bytes]) -> Sketch:
    """Fold a list of serialized states into one (associative merge)."""
    if not states:
        raise ValueError("merge_all of empty list (monoid zero is per-kind)")
    acc = from_bytes(states[0])
    for b in states[1:]:
        acc.merge_in_place(from_bytes(b))
    return acc
