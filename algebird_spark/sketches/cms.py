"""Count-Min Sketch with sparse-exact mode and TopPct heavy hitters.

Semantics follow algebird-core .../CountMinSketch.scala:
  * depth d = ceil(ln 1/delta), width w = ceil(e / eps)
    (CMSFunctions.depth/width, CountMinSketch.scala:293-302).
  * point query: est = min_i table[i][h_i(x)]; guarantee
    ``true <= est <= true + eps * N`` w.p. >= 1 - delta
    (CountMinSketch.scala:418-425,721-733); returned as an Approximate
    interval like ``makeApprox``.
  * exact sparse mode until ``maxExactCount = max(w*d/100, 50)``
    (SparseCMS, CountMinSketch.scala:307-308,633-659).
  * hash family h_i(x) = ((a_i * x) mod 2^31-1) mod w, seeded
    (generateHashes :338-352; fold trick CMSHasher.scala:68-92).
  * innerProduct = min_i dot(rowA_i, rowB_i) (:740-755); f2 = <a, a>.
  * TopPct heavy hitters: keep items with est >= pct * totalCount;
    associativity-safe because the threshold is re-evaluated against
    the merged sketch then purged (TopPctLogic :1073-1082, sum purge
    :1004-1016). TopN is order-biased (:1084-1106) and intentionally
    NOT the default here.

Storage: the sparse-exact counts and the heavy-hitter candidates are
each one :class:`~.keyed.KeyedValues` (sorted unique int64 keys, int64
values), kept exactly as they go on the wire. Payload tag 1 = total,
candidates, exact counts; tag 2 = total, candidates, dense table.

Vectorization: dense updates are ``np.bincount`` per depth row over the
whole batch. When counts are exact or candidates are tracked, each chunk
is also reduced by one ``np.unique`` to (key, count) pairs: the exact
counts take them as one grouped add, the candidates take the keys as one
upsert (TopPct) or one re-estimate over the key union (TopN).
"""

from __future__ import annotations

import math

import numpy as np

from ..functions.hashing import (cms_hash_limbs, cms_hash_params, cms_limbs,
                                 prepare_keys)
from .base import KIND_CMS, Approximate, IncompatibleSketchError, Sketch, register
from .keyed import KeyedValues

DEFAULT_CMS_SEED = 1


def cms_params_for_groups(n_groups: int, memory_budget_bytes: int,
                          delta: float = 1e-6) -> dict:
    """eps/delta preset for a per-key CMS build with ``n_groups``
    expected groups under a total dense-table memory budget (SCALE.md
    §3/§8: the default eps=1e-3 table is ~300 KB — right for tens of
    groups, catastrophic at 10^6).

    Solves width = budget / (groups * depth * 8) and returns
    ``{"eps": e/width, "delta": delta}`` ready to splat into ``CMS``.
    The error bound follows: estimates overestimate by <= eps * N_g
    (N_g = the GROUP's mass, not the global total — each group owns
    its own table). Width is floored at 32 cells (eps <= ~0.085); if
    the budget cannot fund that at the requested depth, delta is
    relaxed (shallower table) before width shrinks further, since
    heavy-hitter workloads degrade more gracefully in delta than in
    eps."""
    if n_groups <= 0 or memory_budget_bytes <= 0:
        raise ValueError("n_groups and memory_budget_bytes must be > 0")
    depth = int(math.ceil(math.log(1.0 / delta)))
    min_width = 32
    width = memory_budget_bytes // (n_groups * depth * 8)
    while width < min_width and depth > 1:
        depth -= 1
        width = memory_budget_bytes // (n_groups * depth * 8)
    width = max(int(width), min_width)
    return {"eps": math.e / width, "delta": math.exp(-depth)}


class CMS(Sketch):
    KIND = KIND_CMS

    def __init__(self, eps: float = 0.001, delta: float = 1e-6,
                 seed: int = DEFAULT_CMS_SEED,
                 heavy_hitters_pct: float | None = None,
                 heavy_hitters_n: int | None = None):
        if not 0 < eps < 1 or not 0 < delta < 1:
            raise ValueError("eps and delta must be in (0, 1)")
        if heavy_hitters_pct is not None and heavy_hitters_n is not None:
            raise ValueError("choose heavy_hitters_pct OR heavy_hitters_n")
        self.eps = eps
        self.delta = delta
        self.seed = seed
        self.hh_pct = heavy_hitters_pct
        self.hh_n = heavy_hitters_n
        self.depth = int(math.ceil(math.log(1.0 / delta)))
        self.width = int(math.ceil(math.e / eps))
        self.max_exact = max(self.width * self.depth // 100, 50)
        self._a = cms_hash_params(self.depth, seed)
        self.total = 0
        # sparse-exact counts until max_exact keys, then None
        self.exact: KeyedValues | None = KeyedValues.empty(np.int64)
        self.table: np.ndarray | None = None       # int64[depth, width]
        self.hh = KeyedValues.empty(np.int64)      # candidate -> est count

    # ------------------------------------------------------------------
    def _params(self) -> dict:
        # hash_family tags the row-hash generation (round 2 moved from a
        # 31-bit key fold to a full-64-bit two-limb multilinear family).
        # States persisted under a different family decode but estimate
        # wrongly, so the tag makes merge_check and checkpoint manifests
        # mismatch LOUDLY instead.
        return {"eps": self.eps, "delta": self.delta, "seed": self.seed,
                "hh_pct": self.hh_pct, "hh_n": self.hh_n,
                "hash_family": "multilinear64_v2"}

    @property
    def is_sparse(self) -> bool:
        return self.exact is not None

    def _to_dense(self) -> None:
        if self.exact is None:
            return
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self._add_dense(self.exact.keys, self.exact.values)
        self.exact = None

    def _add(self, keys: np.ndarray, counts: np.ndarray) -> None:
        """Add (key, count) pairs: to the exact counts while they hold at
        most ``max_exact`` keys, else to the table."""
        if self.exact is not None:
            self.exact = self.exact.add(keys, counts)
            if len(self.exact) > self.max_exact:
                self._to_dense()
        else:
            self._add_dense(keys, counts)

    def _add_dense(self, keys: np.ndarray, counts: np.ndarray) -> None:
        limbs = cms_limbs(keys)  # hoisted once across all depth rows
        for i in range(self.depth):
            h = cms_hash_limbs(self._a[i], *limbs, self.width)
            self.table[i] += np.bincount(h, weights=counts, minlength=self.width).astype(np.int64)

    # ------------------------------------------------------------------
    _CHUNK = 1 << 16  # chunk stays cache-resident across all depth rows

    def update_batch(self, values, counts=None) -> None:
        """values: any supported key dtype — ints pass through,
        strings/bytes go through the canonical prepare_keys 64-bit hash
        (query methods apply the same prepare, so estimates line up)."""
        values = np.asarray(values)
        if values.size == 0:
            return
        keys = prepare_keys(values)
        if counts is not None:
            cnts = np.asarray(counts).astype(np.int64, copy=False)
            self.total += int(cnts.sum())
            self._add(keys, cnts)
            self._update_hh(keys)
            return
        self.total += int(keys.size)
        for lo in range(0, keys.shape[0], self._CHUNK):
            chunk = keys[lo:lo + self._CHUNK]
            if self.exact is None and not self._tracks_hh:
                # dense fast path: no sort/unique — hash the raw chunk per
                # depth row and bincount into the (cache-resident) row
                self._add_dense_ones(chunk)
                continue
            uniq, cnts = np.unique(chunk, return_counts=True)
            if self.exact is not None:
                self._add(uniq, cnts.astype(np.int64))
            else:
                self._add_dense_ones(chunk)
            self._update_hh(uniq)

    def _add_dense_ones(self, chunk: np.ndarray) -> None:
        limbs = cms_limbs(chunk)  # hoisted once across all depth rows
        for i in range(self.depth):
            h = cms_hash_limbs(self._a[i], *limbs, self.width)
            self.table[i] += np.bincount(h, minlength=self.width)

    @property
    def _tracks_hh(self) -> bool:
        return self.hh_pct is not None or self.hh_n is not None

    def _update_hh(self, keys: np.ndarray) -> None:
        if self.hh_pct is not None:
            # TopPct: keys now at or above pct * total enter with their
            # estimate, then everything below the new threshold leaves
            thresh = self.hh_pct * self.total
            est = self._estimate_many(keys)
            hot = est >= thresh
            self.hh = self.hh.upsert(keys[hot], est[hot]).purge(thresh)
        elif self.hh_n is not None:
            # TopN (TopNLogic, CountMinSketch.scala:1084-1106)
            self.hh = self.hh.reestimate(keys, self._estimate_many) \
                .purge(top=self.hh_n)

    # ------------------------------------------------------------------
    def _estimate_many(self, keys: np.ndarray) -> np.ndarray:
        keys = prepare_keys(np.asarray(keys))
        if self.exact is not None:
            return self.exact.lookup(keys)
        est = np.full(len(keys), np.iinfo(np.int64).max, dtype=np.int64)
        limbs = cms_limbs(keys)
        for i in range(self.depth):
            h = cms_hash_limbs(self._a[i], *limbs, self.width)
            np.minimum(est, self.table[i][h], out=est)
        return est

    def frequency(self, key) -> Approximate:
        est = int(self._estimate_many(np.asarray([key]))[0])
        lower = max(0, est - int(math.ceil(self.eps * self.total)))
        return Approximate(float(lower), float(est), float(est), 1.0 - self.delta)

    def frequencies(self, keys) -> np.ndarray:
        return self._estimate_many(np.asarray(keys))

    def inner_product(self, other: "CMS") -> Approximate:
        self.merge_check(other)
        a, b = self._densified(), other._densified()
        est = int(min(int(np.dot(a[i], b[i])) for i in range(self.depth)))
        lower = max(0, est - int(math.ceil(self.eps * self.total * other.total)))
        return Approximate(float(lower), float(est), float(est), 1.0 - self.delta)

    def f2(self) -> Approximate:
        return self.inner_product(self)

    def _densified(self) -> np.ndarray:
        if self.exact is None:
            return self.table
        tmp = CMS(self.eps, self.delta, self.seed, self.hh_pct, self.hh_n)
        tmp.exact = self.exact
        tmp.total = self.total
        tmp._to_dense()
        return tmp.table

    def heavy_hitters(self) -> dict[int, int]:
        """TopPct: candidates with estimated count >= pct * total.
        TopN: the current top-n candidates by estimated count."""
        if not self._tracks_hh:
            raise ValueError(
                "sketch was built without heavy_hitters_pct/_n")
        return dict(self.hh.ranked())

    # ------------------------------------------------------------------
    def merge_in_place(self, other: "CMS") -> "CMS":
        self.merge_check(other)
        if self._a.tolist() != other._a.tolist():  # same seed => same, but be loud
            raise IncompatibleSketchError("CMS hash families differ")
        self.total += other.total
        if other.exact is not None:
            self._add(other.exact.keys, other.exact.values)
        else:
            self._to_dense()
            self.table += other.table
        if self._tracks_hh:
            # union candidates, re-estimate vs merged sketch, purge
            # (TopCMS sum, CountMinSketch.scala:1004-1016). For TopN
            # this carries the reference's DOCUMENTED merge-order bias
            # (:1084-1106): candidates dropped before the merge cannot
            # come back — prefer TopPct for strict mergeability.
            thresh = None if self.hh_pct is None else self.hh_pct * self.total
            self.hh = self.hh.reestimate(other.hh.keys, self._estimate_many) \
                .purge(thresh, self.hh_n)
        return self

    def present(self) -> dict:
        out = {"total": self.total}
        if self._tracks_hh:
            out["heavy_hitters"] = self.heavy_hitters()
        return out

    # ------------------------------------------------------------------
    def _payload(self) -> bytes:
        head = np.array([self.total], dtype=np.int64).tobytes() + self.hh.encode()
        if self.exact is not None:
            return b"\x01" + head + self.exact.encode()
        return b"\x02" + head + self.table.tobytes()


@register(KIND_CMS)
def _decode_cms(params: dict, payload: bytes) -> CMS:
    out = CMS(params["eps"], params["delta"], params["seed"],
              params["hh_pct"], params["hh_n"])
    tag = payload[0]
    buf = payload[1:]
    out.total = int(np.frombuffer(buf[:8], dtype=np.int64)[0])
    out.hh, off = KeyedValues.decode(buf, 8, np.int64)
    if tag == 1:
        out.exact, off = KeyedValues.decode(buf, off, np.int64)
        if off != len(buf):
            raise ValueError("trailing bytes after CMS exact counts")
    elif tag == 2:
        out.exact = None
        out.table = np.frombuffer(buf[off:], dtype=np.int64).reshape(
            out.depth, out.width).copy()
    else:
        raise ValueError(f"bad CMS payload tag {tag}")
    return out
