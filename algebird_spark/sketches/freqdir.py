"""FrequentDirections matrix sketch — a mergeable low-rank summary of
a tall (n x d) matrix, for embedding covariance / PCA at corpus scale.

Public sources: Liberty 2013 ("Simple and deterministic matrix
sketching", KDD) for the streaming algorithm, Ghashami, Liberty,
Phillips & Woodruff 2016 (SIAM J. Comput. 45(5)) for the refined
bounds and the MERGEABILITY proof that makes it a monoid fit for the
partition-combine / tree-merge harness (``agg.sketch_global``): merge
= stack the two sketches' rows and shrink, and the error bound of the
merged sketch is the sum of the parts' — exactly the Semigroup.plus
shape every other sketch here implements (the reference has no matrix
sketch; this is beyond-reference surface like the ANN family).

Guarantees maintained as class invariants (law-tested):

* shrink-only:  B^T B  <=  A^T A   (PSD order — the sketch never
  overestimates the quadratic form along any direction);
* spectral error:  ||A^T A - B^T B||_2  <=  ||A||_F^2 / ell
  (each shrink subtracts delta = sigma_ell^2 from a 2*ell-row buffer,
  removing >= ell*delta of Frobenius mass, so the deltas telescope to
  at most ||A||_F^2/ell; Ghashami et al. Thm 1.1 tightens this to
  ||A - A_k||_F^2 / (ell - k) for any k < ell);
* exact on low rank: if rank(A) < ell the shrink cutoff is 0 and
  B^T B == A^T A exactly.

``update_batch`` accepts either an (n, d) matrix or the FLAT scalar
stream the Arrow kernel produces for an ``array<float>`` column
(``agg._flatten_values`` flattens list columns), reshaping by the
declared ``d`` — a misaligned stream (NULL elements inside vectors,
ragged rows) fails loudly rather than silently skewing.

Cost: one (2*ell x d) SVD per ell input rows — O(n * ell * d) total,
embarrassingly parallel across partitions; the merge tree moves only
(ell x d) float64 states (8 KB at ell=16, d=64).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_FREQDIR, Sketch, register


class FrequentDirections(Sketch):
    KIND = KIND_FREQDIR

    def __init__(self, d: int, ell: int):
        if d < 1:
            raise ValueError(f"d must be >= 1, got {d}")
        if not 1 <= ell:
            raise ValueError(f"ell must be >= 1, got {ell}")
        if ell > d:
            # _shrink's SVD yields at most d singular values; with
            # ell > d it could never reach ell rows to subtract, the
            # buffer would never shrink and update_batch's fill loop
            # would take 0-row slices forever (confirmed hang at
            # d=4, ell=8). ell = d already stores A^T A exactly.
            raise ValueError(
                f"ell ({ell}) must be <= d ({d}): an ell=d sketch is "
                "already exact, larger ell cannot shrink")
        self.d = int(d)
        self.ell = int(ell)
        self._B = np.zeros((0, self.d), dtype=np.float64)
        self.n = 0            # rows consumed
        self.sq_frob = 0.0    # ||A||_F^2, accumulated exactly

    # -- protocol -------------------------------------------------------
    def _params(self) -> dict:
        return {"d": self.d, "ell": self.ell}

    def update_batch(self, values) -> None:
        arr = np.asarray(values)
        if arr.dtype == object:  # list-of-vectors from a pandas path
            # drop NULL rows, matching the Arrow kernel's SQL-aggregate
            # null semantics (the streaming harness hands raw pandas
            # columns through, so None rows can reach us here)
            rows = [np.asarray(v, dtype=np.float64) for v in values
                    if v is not None]
            arr = np.vstack(rows) if rows else np.zeros((0, self.d))
        arr = arr.astype(np.float64, copy=False)
        if arr.ndim == 1:
            if arr.size % self.d:
                raise ValueError(
                    f"flat value stream of {arr.size} elements is not a "
                    f"multiple of d={self.d} (NULL elements inside "
                    f"vectors or ragged rows?)")
            arr = arr.reshape(-1, self.d)
        if arr.shape[1] != self.d:
            raise ValueError(f"expected {self.d}-dim rows, got {arr.shape}")
        if not np.isfinite(arr).all():
            arr = arr[np.isfinite(arr).all(axis=1)]
        if arr.shape[0] == 0:
            return
        self.n += arr.shape[0]
        self.sq_frob += float(np.einsum("ij,ij->", arr, arr))
        cap = 2 * self.ell
        pos = 0
        while pos < arr.shape[0]:
            take = arr[pos:pos + (cap - self._B.shape[0])]
            pos += take.shape[0]
            self._B = np.vstack([self._B, take])
            if self._B.shape[0] >= cap:
                self._shrink()

    def _shrink(self) -> None:
        """SVD the buffer, subtract delta = sigma_ell^2 from every
        squared singular value, keep the survivors (< ell rows)."""
        try:
            _, s, vt = np.linalg.svd(self._B, full_matrices=False)
        except np.linalg.LinAlgError:  # rare non-convergence: jitter-free
            _, s, vt = np.linalg.svd(
                self._B + 1e-12 * np.sign(self._B), full_matrices=False)
        if s.shape[0] < self.ell:
            return
        delta = s[self.ell - 1] ** 2
        s2 = s * s - delta
        keep = s2 > 0.0
        self._B = np.sqrt(s2[keep])[:, None] * vt[keep]

    def merge_in_place(self, other: "FrequentDirections") -> "FrequentDirections":
        self.merge_check(other)
        self.n += other.n
        self.sq_frob += other.sq_frob
        if other._B.shape[0]:
            self._B = np.vstack([self._B, other._B])
            if self._B.shape[0] >= 2 * self.ell:
                self._shrink()
        return self

    def present(self) -> np.ndarray:
        """The sketch matrix B (<= 2*ell-1 rows, d columns)."""
        return self._B.copy()

    # -- results --------------------------------------------------------
    def gram(self) -> np.ndarray:
        """B^T B — the (d x d) covariance/Gram estimate (uncentered)."""
        return self._B.T @ self._B

    def error_bound(self) -> float:
        """Provable cap on ||A^T A - B^T B||_2 for THIS input mass."""
        return self.sq_frob / self.ell

    def singular_values(self) -> np.ndarray:
        """Singular-value estimates of A (descending, <= 2*ell-1 of them)."""
        return np.sort(np.linalg.svd(self._B, compute_uv=False))[::-1]

    def top_directions(self, r: int) -> np.ndarray:
        """The top-``r`` right singular vectors of the sketch — the
        PCA basis estimate. Rows are orthonormal, shape (r', d) with
        r' = min(r, sketch rows)."""
        if r < 1:
            raise ValueError(f"r must be >= 1, got {r}")
        if self._B.shape[0] == 0:
            return np.zeros((0, self.d))
        _, _, vt = np.linalg.svd(self._B, full_matrices=False)
        return vt[:min(r, vt.shape[0])].copy()

    # -- envelope ---------------------------------------------------------
    def _payload(self) -> bytes:
        head = struct.pack("<qdi", self.n, self.sq_frob, self._B.shape[0])
        return head + np.ascontiguousarray(self._B).tobytes()

    def __repr__(self) -> str:
        return (f"FrequentDirections(d={self.d}, ell={self.ell}, "
                f"n={self.n}, rows={self._B.shape[0]})")


@register(KIND_FREQDIR)
def _decode_freqdir(params: dict, payload: bytes) -> FrequentDirections:
    sk = FrequentDirections(d=params["d"], ell=params["ell"])
    n, sq_frob, rows = struct.unpack_from("<qdi", payload, 0)
    off = struct.calcsize("<qdi")
    need = rows * sk.d * 8
    if len(payload) - off != need:
        raise ValueError(
            f"FrequentDirections payload length {len(payload) - off} != "
            f"expected {need} for {rows} rows x d={sk.d}")
    sk.n, sk.sq_frob = n, sq_frob
    sk._B = np.frombuffer(payload, dtype=np.float64,
                          count=rows * sk.d, offset=off) \
        .reshape(rows, sk.d).copy()
    return sk
