"""Weighted MinHash — Improved Consistent Weighted Sampling (Ioffe,
"Improved Consistent Weighted Sampling" ICDM 2010): near-duplicate
similarity that respects TOKEN FREQUENCIES. Plain MinHash sees only
the token set, so "word word word spam" and "word spam" look
identical; ICWS signature-collision probability equals the weighted
Jaccard  J_w = sum_x min(wA(x), wB(x)) / sum_x max(wA(x), wB(x)).

Not in the reference (algebird stops at set MinHash) — added for the
training-data pipeline, where boilerplate/spam detection needs
frequency awareness.

Vectorization: per Arrow batch, tokens hash in ONE murmur call,
per-doc counts come from one lexsort + run-length encode, and each of
the ``num_perm`` lanes is elementwise numpy over all elements of all
docs with the per-doc argmin taken by ``np.minimum.reduceat`` over a
PACKED key: the top 40 bits carry the ICWS log-score quantized through
the IEEE-754 sortable-bits trick, the low 24 bits a hash of the
element identity (x, t). The packed order is a deterministic total
order shared by every doc, so the sample stays consistent; the
quantization perturbs the argmin only on score ties within 2^-40
relative — far below the 1/sqrt(num_perm) estimator noise.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..agg import _drop_spark_finders
from ..cache import Scope
from ..functions.hashing import _vfmix64, affine_mod_p61

_P61 = np.uint64((1 << 61) - 1)


def _doc_token_weights(texts, seed: int):
    """(token_hash uint64, count float64, doc_starts int64) — distinct
    tokens per doc with their in-doc frequencies, batch-vectorized."""
    from ..functions.hashing import murmur128_any

    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    flat = [w for toks in tok_lists for w in toks]
    if flat:
        th = murmur128_any(pa.array(flat, type=pa.string()), seed)[0]
    else:
        th = np.zeros(0, dtype=np.uint64)
    doc_of = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    # run-length encode (doc, token_hash)
    order = np.lexsort((th, doc_of))
    d_s, h_s = doc_of[order], th[order]
    if len(h_s):
        new = np.empty(len(h_s), dtype=bool)
        new[0] = True
        np.not_equal(h_s[1:], h_s[:-1], out=new[1:])
        new[1:] |= d_s[1:] != d_s[:-1]
        starts_idx = np.flatnonzero(new)
        counts = np.diff(np.append(starts_idx, len(h_s))).astype(np.float64)
        uh, ud = h_s[starts_idx], d_s[starts_idx]
    else:
        counts = np.zeros(0, dtype=np.float64)
        uh = np.zeros(0, dtype=np.uint64)
        ud = np.zeros(0, dtype=np.int64)
    n_per_doc = np.bincount(ud, minlength=len(lens))
    doc_starts = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(n_per_doc, out=doc_starts[1:])
    return uh, counts, doc_starts


def _sortable_bits(x: np.ndarray) -> np.ndarray:
    """Monotone float64 -> uint64 map (IEEE-754 total-order trick)."""
    b = x.view(np.uint64)
    sign = (b >> np.uint64(63)).astype(bool)
    return np.where(sign, ~b, b ^ np.uint64(1 << 63))


def icws_signatures(uh: np.ndarray, w: np.ndarray, doc_starts: np.ndarray,
                    num_perm: int, seed: int) -> np.ndarray:
    """(n_docs, num_perm) int64 ICWS signatures. Empty docs get 0."""
    n_docs = len(doc_starts) - 1
    out = np.zeros((n_docs, num_perm), dtype=np.int64)
    if len(uh) == 0:
        return out
    rng = np.random.default_rng(seed)
    # 5 independent uniforms per (element, lane) via affine lanes over
    # the Mersenne prime (the MinHash lane construction)
    ab = rng.integers(1, int(_P61), size=(num_perm, 5, 2),
                      dtype=np.int64).astype(np.uint64)
    h61 = uh & _P61
    logw = np.log(w)
    nonempty = np.flatnonzero(np.diff(doc_starts) > 0)
    starts_ne = doc_starts[nonempty]
    inv = np.float64(1.0) / np.float64(int(_P61))
    for k in range(num_perm):
        # clamp strictly inside (0,1): 1-1e-18 would round to exactly
        # 1.0 in float64 and make r == 0 (division blow-up below)
        u = [np.clip(affine_mod_p61(ab[k, i, 0], h61, ab[k, i, 1])
                     .astype(np.float64) * inv, 1e-12, 1.0 - 1e-12)
             for i in range(5)]
        r = -np.log(u[0] * u[1])          # Gamma(2,1)
        c = -np.log(u[2] * u[3])          # Gamma(2,1)
        beta = u[4]
        t = np.floor(logw / r + beta)
        # ln a = ln c - r*(t - beta) - r  (argmin target, log space)
        la = np.log(c) - r * (t - beta + 1.0)
        ident = _vfmix64(uh ^ t.astype(np.int64).view(np.uint64)
                         ^ np.uint64(0x9E3779B97F4A7C15 * (k + 1) & (2**64 - 1)))
        packed = ((_sortable_bits(la) >> np.uint64(24)) << np.uint64(24)) \
            | (ident >> np.uint64(40))
        mins = np.minimum.reduceat(packed, starts_ne)
        out[nonempty, k] = mins.view(np.int64)
    return out


def _icws_matrix(texts, num_perm: int, seed: int):
    """(ICWS signatures int64 (n_docs, num_perm), per-doc validity: the
    doc has a token) for a batch of texts."""
    uh, w, starts = _doc_token_weights(texts, seed)
    return (icws_signatures(uh, w, starts, num_perm, seed),
            np.diff(starts) > 0)


def add_weighted_minhash_signature(df: DataFrame, text_col: str = "text",
                                   num_perm: int = 64,
                                   seed: int = 87654321,
                                   alias: str = "wminhash") -> DataFrame:
    """array<long> ICWS signature per doc over word-frequency weights;
    a zero-token doc gets NULL (see ``dedup._signature_udf``)."""
    from .dedup import _signature_udf

    sig = _signature_udf(lambda texts: _icws_matrix(texts, num_perm, seed))
    return df.withColumn(alias, sig(F.col(text_col)))


def add_weighted_minhash_bands(df: DataFrame, text_col: str = "text",
                               num_perm: int = 64, bands: int = 16,
                               seed: int = 87654321,
                               alias: str = "wmh_bands") -> DataFrame:
    """array<long> of LSH band-bucket hashes per doc, computed inside
    the ICWS kernel (same trick as dedup.add_minhash_bands: the
    pipeline only joins on buckets, so ship ``bands`` longs per doc to
    the JVM instead of ``num_perm`` and skip the expression-tree
    banding). Bucket values are shared with the set-MinHash banding
    code path (band_buckets_of_signature)."""
    from .dedup import _signature_udf

    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    bk = _signature_udf(lambda texts: _icws_matrix(texts, num_perm, seed),
                        bands)
    return df.withColumn(alias, bk(F.col(text_col)))


def weighted_jaccard_exact(pairs: DataFrame, docs: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Exact J_w = sum(min)/sum(max) over token-frequency maps, on
    candidate pairs only (Arrow UDF; the candidate set is small)."""
    from collections import Counter

    @F.arrow_udf("double")
    def wj(a: pa.Array, b: pa.Array) -> pa.Array:
        _drop_spark_finders()
        vals = []
        for ta, tb in zip(a.to_pylist(), b.to_pylist()):
            ca = Counter((ta or "").lower().split())
            cb = Counter((tb or "").lower().split())
            num = sum(min(ca[k], cb[k]) for k in ca.keys() & cb.keys())
            den = sum((ca | cb).values())  # elementwise max union
            vals.append(num / den if den else 1.0)
        return pa.array(vals, type=pa.float64())

    a = docs.select(F.col(id_col).alias("id_a"),
                    F.col(text_col).alias("__ta"))
    b = docs.select(F.col(id_col).alias("id_b"),
                    F.col(text_col).alias("__tb"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    wj(F.col("__ta"), F.col("__tb")).alias("wjaccard")))


def near_dup_pairs_weighted(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_perm: int = 64,
                            bands: int = 16, threshold: float = 0.7,
                            seed: int = 87654321) -> DataFrame:
    """Frequency-aware near-dup pairs: ICWS sign+band (one kernel) ->
    LSH bucket-join -> exact weighted-Jaccard verify.
    Returns (id_a, id_b, wjaccard)."""
    # zero-token docs: prefilter (cheap) + the NULL-bands guard in
    # lsh_candidate_pairs_from_bands (authoritative) — see
    # dedup.has_tokens
    from .dedup import has_tokens, lsh_candidate_pairs_from_bands
    nonempty = df.filter(has_tokens(text_col))
    scope = Scope("weighted_minhash")
    banded = scope.persist(
        add_weighted_minhash_bands(nonempty, text_col, num_perm, bands,
                                   seed)
        .select(id_col, "wmh_bands"))
    cands = lsh_candidate_pairs_from_bands(banded, id_col, "wmh_bands")
    scored = weighted_jaccard_exact(cands, nonempty, id_col, text_col)
    return scope.attach(scored.filter(F.col("wjaccard") >= threshold))
