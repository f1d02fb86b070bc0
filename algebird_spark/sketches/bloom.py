"""Bloom filter with optimal sizing and mergeable bit-array state.

Semantics follow algebird-core .../immutable/BloomFilter.scala:
  * sizing: m = ceil(-n * ln p / ln^2 2), k = round((m/n) * ln 2)
    (optimalWidth/optimalNumHashes, BloomFilter.scala:27-51).
  * ``contains`` returns ApproximateBoolean with the standard
    (1 - e^{-kn/m})^k false-positive bound (:190-211); zero false
    negatives by construction.
  * cardinality estimate from bit density (Papapetrou et al.):
    n ~= -(m/k) * ln(1 - t/m) where t = #set bits (:53-105).
  * Hamming distance between two filters (:228-238).
  * monoid = bitwise OR of bit arrays (:342-377).

Hashing: one murmur3_x64_128 per key -> (h1, h2); slot_i =
(h1 + i*h2) mod m (Kirsch–Mitzenmacher double hashing, standard public
construction — same guarantees, vectorizes over whole batches).
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.hashing import DEFAULT_SEED, murmur128_any
from .base import KIND_BLOOM, Approximate, Sketch, register


def optimal_width(num_entries: int, fp_prob: float) -> int:
    return max(8, int(math.ceil(-num_entries * math.log(fp_prob) / (math.log(2) ** 2))))


def optimal_num_hashes(num_entries: int, width: int) -> int:
    return max(1, int(round(width / num_entries * math.log(2))))


class BloomFilter(Sketch):
    KIND = KIND_BLOOM

    def __init__(self, num_entries: int = 10000, fp_prob: float = 0.01,
                 seed: int = DEFAULT_SEED):
        self.num_entries = num_entries
        self.fp_prob = fp_prob
        self.seed = seed
        self.m = optimal_width(num_entries, fp_prob)
        self.k = optimal_num_hashes(num_entries, self.m)
        self._bits = np.zeros((self.m + 7) // 8, dtype=np.uint8)
        self._mark = None  # lazy scatter map (r8); packed by _sync()
        self.n_inserted = 0  # distinct inserts not tracked; count of updates

    def _params(self) -> dict:
        return {"num_entries": self.num_entries, "fp_prob": self.fp_prob,
                "seed": self.seed}

    # ------------------------------------------------------------------
    def _slots(self, values: np.ndarray) -> np.ndarray:
        """(len(values), k) int64 slot matrix. All dtypes vectorized:
        strings/bytes go through the Arrow-layout murmur kernel
        (murmur128_bytes) — no per-row Python on any path."""
        h1, h2 = murmur128_any(np.asarray(values), self.seed)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        slots = (h1[:, None] + i * h2[:, None]) % np.uint64(self.m)
        return slots.astype(np.int64)

    _CHUNK = 1 << 15  # keep the (chunk, k) slot matrix cache-resident

    def update_batch(self, values) -> None:
        values = np.asarray(values)
        self.update_prepared(values, None, values.size)

    def update_prepared(self, uniq, counts, n_raw: int) -> None:
        """The prepared-chunk hook (``MultiSketch.update_batch``): a chunk
        of ``n_raw`` values given as its distinct values ``uniq``. Each
        distinct value sets its bits once; ``n_inserted`` counts all
        ``n_raw`` values, as ``update_batch`` does."""
        values = np.asarray(uniq)
        if values.size == 0:
            return
        # r8: scatter into a lazy bool bitmap instead of
        # np.bitwise_or.at (ufunc.at was the dominant update cost —
        # 1.19 s per 6M values; scatter assignment is ~4x faster). The
        # map packs into `bits` once, on the first read/merge/
        # serialize (_sync), with the identical bit layout:
        # mask 1 << (slot & 7) == packbits bitorder='little'.
        if self._mark is None:
            self._mark = np.zeros(self.m, dtype=bool)
        for lo in range(0, values.shape[0], self._CHUNK):
            self._mark[self._slots(values[lo:lo + self._CHUNK]).ravel()] = True
        self.n_inserted += int(n_raw)

    def _sync(self) -> None:
        """Fold the lazy scatter map into the packed bit array."""
        if self._mark is None:
            return
        np.bitwise_or(
            self._bits,
            np.packbits(self._mark, bitorder="little")[:len(self._bits)],
            out=self._bits)
        self._mark = None

    @property
    def bits(self) -> np.ndarray:
        """Packed bit array — syncing accessor, so external readers
        (tests, hamming, serialization) always see update_batch's
        writes regardless of the lazy scatter map."""
        self._sync()
        return self._bits

    @bits.setter
    def bits(self, value: np.ndarray) -> None:
        self._mark = None
        self._bits = value

    def contains_batch(self, values) -> np.ndarray:
        self._sync()
        values = np.asarray(values)
        if values.size == 0:
            return np.zeros(0, dtype=bool)
        slots = self._slots(values)
        byte_idx = slots >> 3
        masks = np.left_shift(np.uint8(1), (slots & 7).astype(np.uint8))
        hit = (self.bits[byte_idx] & masks) != 0
        return hit.all(axis=1)

    def contains(self, value) -> tuple[bool, float]:
        """ApproximateBoolean analog: (maybe_present, prob_correct)."""
        present = bool(self.contains_batch(np.array([value]))[0])
        if not present:
            return False, 1.0  # no false negatives
        fpp = self.measured_fpp()
        return True, 1.0 - fpp

    def measured_fpp(self) -> float:
        """FPP from the actual bit density: (t/m)^k."""
        t = self.set_bits()
        return (t / self.m) ** self.k

    def set_bits(self) -> int:
        self._sync()
        return int(np.unpackbits(self.bits).sum())

    def size_estimate(self) -> Approximate:
        """Cardinality from bit density (BloomFilter.scala:53-105)."""
        t = self.set_bits()
        if t == 0:
            return Approximate(0.0, 0.0, 0.0, 1.0)
        if t >= self.m:
            est = float(self.m)  # saturated
        else:
            est = -(self.m / self.k) * math.log(1.0 - t / self.m)
        d = max(1.0, 0.1 * est)
        return Approximate(max(0.0, est - d), est, est + d, 0.9)

    def hamming_distance(self, other: "BloomFilter") -> int:
        self._sync()
        other._sync()
        self.merge_check(other)
        return int(np.unpackbits(np.bitwise_xor(self.bits, other.bits)).sum())

    def merge_in_place(self, other: "BloomFilter") -> "BloomFilter":
        self._sync()
        other._sync()
        self.merge_check(other)
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_inserted += other.n_inserted
        return self

    def present(self) -> float:
        return self.size_estimate().estimate

    def _payload(self) -> bytes:
        self._sync()
        return np.array([self.n_inserted], dtype=np.int64).tobytes() + self.bits.tobytes()


@register(KIND_BLOOM)
def _decode_bloom(params: dict, payload: bytes) -> BloomFilter:
    out = BloomFilter(params["num_entries"], params["fp_prob"], params["seed"])
    out.n_inserted = int(np.frombuffer(payload[:8], dtype=np.int64)[0])
    bits = np.frombuffer(payload[8:], dtype=np.uint8)
    if len(bits) != len(out.bits):
        raise ValueError("bloom payload size mismatch")
    out.bits = bits.copy()
    return out
