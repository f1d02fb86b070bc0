"""HyperLogLog with sparse/dense register states.

Semantics follow algebird-core .../HyperLogLog.scala:
  * register index = low ``p`` bits of a 64-bit murmur hash, rho =
    (trailing-zero count of the remaining bits) + 1 — algebird reads the
    128-bit hash in little-endian bit order (HyperLogLog.scala:94-146);
    low-bits indexing preserves its key property: ``downsize`` to fewer
    bits is exact (HyperLogLog.scala:361-390).
  * sparse storage: sorted unique int32 register indexes and their
    uint8 ranks, the reference's register map merged by per-register
    max (SparseHLL.+, HyperLogLog.scala:404-431) kept as two arrays;
    promotion to dense uint8[2^p] registers when ``nonzero * 16 > 2^p``.
  * estimator: raw HLL harmonic mean with small-range linear counting
    only (initialEstimate, HyperLogLog.scala:253-267).
  * error = 1.04 / sqrt(2^p) (HyperLogLog.scala:240); approximateSize
    returns a +/-3-sigma interval at prob 0.9972 like algebird's
    ``asApproximate``.
  * intersection via inclusion-exclusion (HyperLogLog.scala:626-644) —
    accurate only for small numbers of sets.
  * serialization: sparse states stay sparse on the wire (tag byte like
    toBytes type 2=dense / 3=sparse, HyperLogLog.scala:158-216). Tag 3's
    payload is the two sparse arrays as stored, so encoding is a
    concatenation and decoding two ``frombuffer`` calls, checked strictly
    (indexes strictly increasing and in range, ranks in [1, 65 - p]).

Vectorization: ``update_batch`` hashes whole int32/int64 numpy batches
with the murmur kernel and applies a sort-based grouped-max into the
registers — no per-row Python (SURVEY.md §4.1). Sparse ∪ sparse (an
update or a merge) is one grouped-max over the concatenated arrays.
``update_grouped`` builds the states of every group key of an Arrow
batch in one pass: one hash and one sort of ``(code, idx, rho)`` for
the whole batch, then a ``searchsorted`` split hands each group its run
(the grouped combine in ``agg._combine``).
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.hashing import DEFAULT_SEED, murmur64_any, trailing_zeros64
from .base import KIND_HLL, Approximate, Sketch, register


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def idx_rho(values: np.ndarray, p: int, m: int,
            seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(register index, rank) derivation shared by HLL and the
    HLL-celled SketchMap (one definition so the estimators cannot
    drift; HyperLogLog.scala:93-122 j/rhoW split)."""
    h = murmur64_any(values, seed)
    idx = (h & np.uint64(m - 1)).astype(np.int64)
    w = h >> np.uint64(p)
    rho = trailing_zeros64(w).astype(np.int64) + 1
    np.minimum(rho, 64 - p + 1, out=rho)
    return idx, rho.astype(np.uint8)


def bits_for_error(err: float) -> int:
    """Smallest p with 1.04/sqrt(2^p) <= err (HyperLogLog.scala:245-251)."""
    if not 0.0 < err < 1.0:
        raise ValueError(f"relative error must be in (0, 1), got {err}")
    p = int(math.ceil(2.0 * math.log(1.04 / err) / math.log(2.0)))
    return max(p, 4)


class HLL(Sketch):
    KIND = KIND_HLL
    SPARSE_FACTOR = 16  # promote when nonzero*16 > m (HyperLogLog.scala:410)

    def __init__(self, p: int = 14, seed: int = DEFAULT_SEED):
        if not 4 <= p <= 24:
            raise ValueError(f"p must be in [4, 24], got {p}")
        self.p = p
        self.m = 1 << p
        self.seed = seed
        # sparse: sorted unique register indexes and their ranks (tag 3's
        # payload layout); replaced, never written in place; None once dense
        self._idx: np.ndarray | None = np.empty(0, dtype=np.int32)
        self._rho: np.ndarray | None = np.empty(0, dtype=np.uint8)
        self.registers: np.ndarray | None = None  # uint8[m] once dense

    # ------------------------------------------------------------------
    def _params(self) -> dict:
        return {"p": self.p, "seed": self.seed}

    @property
    def is_sparse(self) -> bool:
        return self.registers is None

    def _set_sparse(self, idx: np.ndarray, rho: np.ndarray) -> "HLL":
        """The one way sparse registers are set: ``idx`` sorted unique
        register indexes, ``rho`` their ranks; promotes to dense past
        ``m / SPARSE_FACTOR`` registers. ``HLL(p, seed)._set_sparse(...)``
        is the constructor from arrays."""
        self._idx = idx.astype(np.int32, copy=False)
        self._rho = rho.astype(np.uint8, copy=False)
        self.registers = None
        self._maybe_promote()
        return self

    def _to_dense(self) -> None:
        if self.registers is not None:
            return
        regs = np.zeros(self.m, dtype=np.uint8)
        regs[self._idx] = self._rho
        self.registers = regs
        self._idx = self._rho = None

    def _maybe_promote(self) -> None:
        if self.is_sparse and len(self._idx) * self.SPARSE_FACTOR > self.m:
            self._to_dense()

    def _fold_pairs(self, idx: np.ndarray, rho: np.ndarray,
                    unique: bool = False) -> None:
        """Fold (idx, rho) pairs into this state's registers; ``unique``:
        ``idx`` holds no index twice."""
        if len(idx) == 0:
            return
        if self.is_sparse:
            self._set_sparse(*self._grouped_max(
                np.concatenate([self._idx, idx]),
                np.concatenate([self._rho, rho])))
            return
        if not unique:
            idx, rho = self._grouped_max(idx, rho)
        regs = self.registers
        regs[idx] = np.maximum(regs[idx], rho)

    # ------------------------------------------------------------------
    def _idx_rho(self, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return idx_rho(values, self.p, self.m, self.seed)

    @staticmethod
    def _grouped_max(idx: np.ndarray, rho: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(unique idx, max rho per idx) via one sort — faster than
        np.maximum.at for large batches."""
        key = (idx.astype(np.int64, copy=False) << 7) | rho  # rho <= 61 < 128
        key.sort()
        uidx = key >> 7
        last = np.empty(len(key), dtype=bool)
        last[-1] = True
        np.not_equal(uidx[1:], uidx[:-1], out=last[:-1])
        return uidx[last], (key[last] & 127).astype(np.uint8)

    _CHUNK = 1 << 16  # hash + rho + sort working set stays in cache

    def update_batch(self, values) -> None:
        values = np.asarray(values)
        for lo in range(0, values.shape[0], self._CHUNK):
            self._fold_pairs(*self._idx_rho(values[lo:lo + self._CHUNK]))

    def update_prepared(self, uniq, counts, n_raw: int) -> None:
        """The prepared-chunk hook (``MultiSketch.update_batch``): a chunk
        given as its distinct values. The registers, and so the state,
        depend only on the set of values seen, so the distinct values
        alone build the same bytes."""
        self.update_batch(uniq)

    @staticmethod
    def update_grouped(states: list["HLL"], codes: np.ndarray,
                       values) -> None:
        """Fold ``values[codes == g]`` into ``states[g]`` for every g,
        all states from one factory (same p and seed). The batch is
        hashed once (in cache-sized chunks) into ``code << p | idx``
        cells, one ``_grouped_max`` sort leaves each cell's max rho, and
        a ``searchsorted`` split on the code hands each group its sorted
        run. An empty sparse state takes its run as is (promoted past
        m/16 registers, like ``update_batch``). Equal, byte for byte,
        to ``states[g].update_batch(values[codes == g])``."""
        values = np.asarray(values)
        if values.size == 0:
            return
        p, m, seed = states[0].p, states[0].m, states[0].seed
        cell = np.asarray(codes, dtype=np.int64) << p
        rho = np.empty(len(values), dtype=np.uint8)
        for lo in range(0, len(values), HLL._CHUNK):
            hi = lo + HLL._CHUNK
            idx, rho[lo:hi] = idx_rho(values[lo:hi], p, m, seed)
            cell[lo:hi] |= idx
        cell, run_rho = HLL._grouped_max(cell, rho)
        run_idx = (cell & (m - 1)).astype(np.int32)
        bounds = np.searchsorted(cell >> p, np.arange(len(states) + 1))
        for g, (lo, hi) in enumerate(zip(bounds[:-1].tolist(),
                                         bounds[1:].tolist())):
            if lo == hi:
                continue
            st, gi, gr = states[g], run_idx[lo:hi], run_rho[lo:hi]
            if st.is_sparse and len(st._idx) == 0:
                # copies: a slice would pin the whole batch's arrays
                st._set_sparse(gi.copy(), gr.copy())
            else:
                st._fold_pairs(gi, gr, unique=True)

    # ------------------------------------------------------------------
    def merge_in_place(self, other: "HLL") -> "HLL":
        self.merge_check(other)
        if other.is_sparse:
            self._fold_pairs(other._idx, other._rho, unique=True)
        else:
            self._to_dense()
            np.maximum(self.registers, other.registers, out=self.registers)
        return self

    # ------------------------------------------------------------------
    def _sum_and_zeros(self) -> tuple[float, int]:
        if self.is_sparse:
            nz = len(self._rho)
            s = float(np.sum(np.exp2(-self._rho.astype(np.float64)))) if nz else 0.0
            zeros = self.m - nz
            return s + zeros, zeros
        regs = self.registers
        s = float(np.sum(np.exp2(-regs.astype(np.float64))))
        zeros = int(np.count_nonzero(regs == 0))
        return s, zeros

    def estimate(self) -> float:
        s, zeros = self._sum_and_zeros()
        e = _alpha(self.m) * self.m * self.m / s
        if e <= 2.5 * self.m and zeros > 0:
            return self.m * math.log(self.m / zeros)  # linear counting
        return e

    @property
    def error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def approximate_size(self) -> Approximate:
        est = self.estimate()
        d = 3.0 * self.error  # 3-sigma interval, prob 0.9972 like algebird
        return Approximate(max(0.0, est * (1 - d)), est, est * (1 + d), 0.9972)

    def present(self) -> float:
        return self.estimate()

    def cardinality(self) -> int:
        return int(round(self.estimate()))

    # ------------------------------------------------------------------
    def downsize(self, new_p: int) -> "HLL":
        """Exact reduction to fewer bits (HyperLogLog.scala:361-390).

        With low-bit indexing, old idx = new_idx | (extra << new_p); the
        dropped index bits are the bits directly above the new index, so
        the new rho is either the position of the lowest set dropped bit
        + 1, or (p - new_p) + old_rho when all dropped bits are zero.
        """
        if new_p > self.p:
            raise ValueError("can only downsize to fewer bits")
        if new_p == self.p:
            out = HLL(self.p, self.seed)
            return out.merge_in_place(self)
        out = HLL(new_p, self.seed)
        if self.is_sparse:
            idx, rho = self._idx.astype(np.int64), self._rho.astype(np.int64)
        else:
            idx = np.nonzero(self.registers)[0].astype(np.int64)
            rho = self.registers[idx].astype(np.int64)
        if len(idx) == 0:
            return out
        new_idx = idx & ((1 << new_p) - 1)
        extra = (idx >> new_p).astype(np.uint64)  # (p - new_p) dropped bits
        tz = trailing_zeros64(extra).astype(np.int64)
        drop = self.p - new_p
        new_rho = np.where(extra == 0, drop + rho, np.minimum(tz, drop - 1) + 1)
        return out._set_sparse(*self._grouped_max(new_idx,
                                                  new_rho.astype(np.uint8)))

    @staticmethod
    def intersection_size(hlls: list["HLL"]) -> Approximate:
        """Inclusion-exclusion intersection (HyperLogLog.scala:626-644)."""
        if not hlls:
            return Approximate(0.0, 0.0, 0.0, 1.0)
        if len(hlls) == 1:
            return hlls[0].approximate_size()
        head, tail = hlls[0], hlls[1:]
        tail_int = HLL.intersection_size(tail)
        merged_tail = [h + head for h in tail]  # ∩(t_i ∪ head) == (∩ t_i) ∪ head
        inter_union = HLL.intersection_size(merged_tail)
        # inclusion-exclusion through the Approximate algebra: interval
        # subtraction takes low - right.high / high - right.low and the
        # probabilities multiply (Approximate.scala:96-118)
        raw = head.approximate_size() + tail_int - inter_union
        if raw.high < 0.0:  # bounds entirely negative: size is 0
            return Approximate(0.0, 0.0, 0.0, raw.prob)
        return raw.with_min(0.0)

    # ------------------------------------------------------------------
    def _payload(self) -> bytes:
        if self.is_sparse:  # tag 3 = sorted int32 idx, then uint8 rho
            return b"\x03" + self._idx.tobytes() + self._rho.tobytes()
        return b"\x02" + self.registers.tobytes()  # tag 2 = dense


@register(KIND_HLL)
def _decode_hll(params: dict, payload: bytes) -> HLL:
    out = HLL(params["p"], params["seed"])
    tag, body = payload[0], payload[1:]
    if tag == 2:
        out.registers = np.frombuffer(body, dtype=np.uint8).copy()
        if len(out.registers) != out.m:
            raise ValueError("dense HLL payload size mismatch")
        out._idx = out._rho = None
    elif tag == 3:
        # strict layout check: a truncated sparse payload must fail
        # loudly, not silently decode a subset of the registers
        if len(body) % 5:
            raise ValueError("sparse HLL payload size not a multiple "
                             "of the 5-byte (idx, rho) record")
        n = len(body) // 5
        idx = np.frombuffer(body, dtype=np.int32, count=n)
        rho = np.frombuffer(body, dtype=np.uint8, offset=4 * n)
        # the arrays are the state, so a payload (maybe read back from
        # a checkpoint on disk) must hold exactly what _set_sparse keeps
        if (idx[1:] <= idx[:-1]).any():
            raise ValueError("sparse HLL register indexes not strictly "
                             "increasing")
        if n and (int(idx[0]) < 0 or int(idx[-1]) >= out.m):
            raise ValueError("sparse HLL register index out of range")
        if n and (int(rho.min()) < 1 or int(rho.max()) > 65 - out.p):
            raise ValueError("sparse HLL rank outside [1, 65 - p]")
        out._set_sparse(idx, rho)
    else:
        raise ValueError(f"bad HLL payload tag {tag}")
    return out
