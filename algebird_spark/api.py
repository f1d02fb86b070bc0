"""High-level API — the algebird aggregator-sugar surface
(HyperLogLogAggregator.withBits/withError, CMS.aggregator,
BloomFilterAggregator, QTreeAggregator; core/HyperLogLog.scala:650-713,
core/Aggregator.scala sugar) as one-call DataFrame functions.

Every function runs the scale topology (partition combine -> tree
merge) and returns presented estimate columns; pass ``by=[...]`` for
per-key results.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from . import cache
from .agg import (present_explode, sketch_by_key, sketch_global,
                  sketch_rollup, with_presented)
from .sketches import (CMS, HLL, KLL, BloomFilter, TDigest,
                       bits_for_error)


def distinct_count(df: DataFrame, col: str, by: Sequence[str] = (),
                   error: float = 0.01):
    """Approximate distinct count with relative error <= ``error``
    (HyperLogLogAggregator.withError analog).

    With ``by``: DataFrame of keys + (estimate, low, high) columns.
    Without: the Approximate interval."""
    p = bits_for_error(error)
    factory = lambda: HLL(p=p)  # noqa: E731
    if by:
        states = sketch_by_key(df, by, col, factory)
        return with_presented(
            states,
            lambda sk: {"estimate": sk.estimate(),
                        "low": sk.approximate_size().low,
                        "high": sk.approximate_size().high},
            "estimate double, low double, high double")
    return sketch_global(df, col, factory).approximate_size()


def distinct_rollup(df: DataFrame, col: str, by: Sequence[str],
                    error: float = 0.01, grouping: str = "rollup",
                    sets: Sequence[Sequence[str]] | None = None) -> DataFrame:
    """Approximate distinct count at EVERY ``by`` grouping level from
    one input scan (``agg.sketch_rollup``): the finest HLL states build
    once; coarser levels merge those states — monoid associativity
    makes the extra levels free of corpus passes. Returns ``by...,
    grouping_id, n_values, estimate, low, high`` (``n_values`` = rows
    folded into the level) with SQL ROLLUP/CUBE null semantics
    (``grouping_id`` disambiguates rolled-up NULLs)."""
    p = bits_for_error(error)
    levels = sketch_rollup(df, by, col, lambda: HLL(p=p),
                           grouping=grouping, sets=sets)
    return with_presented(
        levels,
        lambda sk: {"estimate": sk.estimate(),
                    "low": sk.approximate_size().low,
                    "high": sk.approximate_size().high},
        "estimate double, low double, high double")


def quantile_rollup(df: DataFrame, col: str, by: Sequence[str],
                    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
                    k: int = 200, grouping: str = "rollup",
                    sets: Sequence[Sequence[str]] | None = None) -> DataFrame:
    """Approximate quantiles at EVERY ``by`` grouping level from one
    input scan: the finest KLL(k) states build once
    (``agg.sketch_rollup``); coarser levels merge those states — the
    same monoid associativity as ``distinct_rollup``, so the extra
    levels never rescan the corpus. Returns one row per
    (level row, quantile): ``by..., grouping_id, p, estimate, low,
    high`` where [low, high] is the KLL rank-error bound interval and
    ``grouping_id`` carries SQL ROLLUP/CUBE null semantics."""
    ps = [float(q) for q in quantiles]
    levels = sketch_rollup(df, by, col, lambda: KLL(k=k),
                           grouping=grouping, sets=sets)

    def present(sk):
        if sk.n == 0:
            return []  # no quantiles of an empty level (empty input)
        out = []
        for p in ps:
            lo, hi = sk.quantile_bounds(p)
            out.append({"p": p, "estimate": float(sk.quantile(p)),
                        "low": float(lo), "high": float(hi)})
        return out

    return present_explode(
        levels, present, "p double, estimate double, low double, high double")


def topk_rollup(df: DataFrame, col: str, by: Sequence[str], k: int = 5,
                capacity: int = 4096, grouping: str = "rollup",
                sets: Sequence[Sequence[str]] | None = None) -> DataFrame:
    """Top-k heavy hitters at EVERY ``by`` grouping level from one
    input scan: finest SpaceSaver(capacity) states build once
    (``agg.sketch_rollup``); coarser levels merge those states
    (SpaceSaver.scala:124-160 merge semantics). Returns one row per
    (level row, rank): ``by..., grouping_id, rank, item, cnt,
    guaranteed`` — ``guaranteed`` is SpaceSaver's membership certainty
    flag (count - error >= next count); with capacity above the level's
    cardinality the counts are exact."""
    from pyspark.sql.types import IntegerType, LongType, ShortType, StringType

    from .sketches import SpaceSaver
    col_t = df.schema[col].dataType
    if not isinstance(col_t, (StringType, LongType, IntegerType, ShortType)):
        raise ValueError(
            f"topk_rollup needs a string or integer item column; {col} is "
            f"{col_t.simpleString()} (SpaceSaver tracks labels only for "
            "those — other dtypes would surface opaque hashed keys)")
    levels = sketch_rollup(df, by, col,
                           lambda: SpaceSaver(capacity=capacity),
                           grouping=grouping, sets=sets)

    def present(sk):
        return [{"rank": i + 1,
                 "item": item if isinstance(item, str) else int(item),
                 "cnt": int(c), "guaranteed": bool(g)}
                for i, (item, c, _e, g) in enumerate(sk.top_k(k))]

    item_t = "string" if isinstance(col_t, StringType) else "long"
    return present_explode(
        levels, present,
        f"rank long, item {item_t}, cnt long, guaranteed boolean")


def heavy_hitters(df: DataFrame, col: str, by: Sequence[str] = (),
                  pct: float = 0.01, eps: float | None = None,
                  delta: float = 1e-6):
    """Keys with frequency >= pct * total (TopPctCMS semantics: the
    result provably contains every such key and nothing below
    (pct - eps) * total w.p. 1-delta)."""
    eps = eps if eps is not None else pct / 10
    factory = lambda: CMS(eps=eps, delta=delta, heavy_hitters_pct=pct)  # noqa: E731
    if by:
        states = sketch_by_key(df, by, col, factory)
        return with_presented(
            states,
            lambda sk: {"heavy_hitters": [int(k) for k in sk.heavy_hitters()],
                        "total": int(sk.total)},
            "heavy_hitters array<long>, total long")
    return sketch_global(df, col, factory).heavy_hitters()


def estimate_join_size(left: DataFrame, left_key: str,
                       right: DataFrame, right_key: str | None = None,
                       eps: float = 0.0005, delta: float = 1e-6):
    """Approximate inner-join output cardinality WITHOUT running the
    join: two independent CMS passes (one scan each, no shuffle of the
    join itself), then ``innerProduct`` = sum_k fL(k)*fR(k) — the CMS
    join-size estimator (CountMinSketch.scala innerProduct semantics;
    the classic Cormode-Muthukrishnan application). Returns the
    ``Approximate`` interval: never under the true size; over by at
    most ``eps * |L| * |R|`` w.p. 1-delta. Use it to pick a join
    strategy (broadcast vs shuffle vs skew route) before paying for
    the join at 100 TB."""
    right_key = right_key or left_key
    factory = lambda: CMS(eps=eps, delta=delta)  # noqa: E731
    skl = sketch_global(left, left_key, factory)
    skr = sketch_global(right, right_key, factory)
    return skl.inner_product(skr)


def top_k(df: DataFrame, col: str, k: int = 10, by: Sequence[str] = (),
          capacity: int | None = None):
    """Top-k items with SpaceSaver per-item error bounds; string columns
    come back as the ORIGINAL strings (label tracking survives the
    distributed merge). With ``by``: DataFrame of keys + parallel arrays
    (items, counts, errors, guaranteed); without: the
    [(item, count, error, guaranteed)] list."""
    from .sketches import SpaceSaver
    capacity = capacity or max(k * 8, 256)
    factory = lambda: SpaceSaver(capacity=capacity)  # noqa: E731

    def present(sk):
        top = sk.top_k(k)
        return {"items": [str(i) for i, _c, _e, _g in top],
                "counts": [int(c) for _i, c, _e, _g in top],
                "errors": [int(e) for _i, _c, e, _g in top],
                "guaranteed": [bool(g) for _i, _c, _e, g in top]}

    if by:
        states = sketch_by_key(df, by, col, factory)
        return with_presented(
            states, present,
            "items array<string>, counts array<long>, "
            "errors array<long>, guaranteed array<boolean>")
    return sketch_global(df, col, factory).top_k(k)


def quantiles(df: DataFrame, col: str, probs: Sequence[float],
              by: Sequence[str] = (), k: int = 200):
    """Approximate quantiles with KLL rank error eps(k) plus
    (lower, upper) bound columns (QTreeAggregator contract)."""
    factory = lambda: KLL(k=k)  # noqa: E731
    probs = list(probs)

    def present(sk):
        out = {}
        for p in probs:
            lo, hi = sk.quantile_bounds(p)
            out[f"q{str(p).replace('.', '_')}"] = sk.quantile(p)
            out[f"q{str(p).replace('.', '_')}_lo"] = lo
            out[f"q{str(p).replace('.', '_')}_hi"] = hi
        return out

    fields = ", ".join(
        f"q{str(p).replace('.', '_')} double, "
        f"q{str(p).replace('.', '_')}_lo double, "
        f"q{str(p).replace('.', '_')}_hi double" for p in probs)
    if by:
        states = sketch_by_key(df, by, col, factory)
        return with_presented(states, present, fields)
    sk = sketch_global(df, col, factory)
    return {p: sk.quantile_bounds(p) for p in probs}


def tdigest_quantiles(df: DataFrame, col: str, probs: Sequence[float],
                      by: Sequence[str] = (), compression: float = 200.0):
    factory = lambda: TDigest(compression)  # noqa: E731
    probs = list(probs)
    if by:
        states = sketch_by_key(df, by, col, factory)
        return with_presented(
            states,
            lambda sk: {f"q{str(p).replace('.', '_')}": sk.quantile(p)
                        for p in probs},
            ", ".join(f"q{str(p).replace('.', '_')} double" for p in probs))
    sk = sketch_global(df, col, factory)
    return {p: sk.quantile(p) for p in probs}


def membership_filter(df: DataFrame, col: str, expected_items: int,
                      fp_prob: float = 0.01) -> BloomFilter:
    """Global Bloom filter; query with ``.contains_batch(values)``."""
    return sketch_global(
        df, col, lambda: BloomFilter(num_entries=expected_items,
                                     fp_prob=fp_prob))


def dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
          near: str | None = "minhash", threshold: float = 0.7,
          min_chars: int = 0, min_tokens: int = 0,
          approx_rows: int | None = None) -> DataFrame:
    """One-call corpus dedup: optional quality gate -> exact dedup ->
    (optional) near-dup pairs -> connected-component clustering ->
    one survivor (min id) per cluster. Returns the surviving rows.
    ``near``: 'minhash' (shingle-Jaccard >= threshold), 'simhash'
    (Hamming <= 3), 'ngram' (EXACT inverted-index shingle-Jaccard >=
    threshold, recall 1.0), or None for exact-only. ``approx_rows``: cheap
    corpus-size hint (catalog statistic) that sizes simhash banding —
    pass it at >= 2M docs."""
    from .operators.pipeline import dedup_pipeline

    stages = dedup_pipeline(df, text_col, id_col, near=near,
                            threshold=threshold, min_chars=min_chars,
                            min_tokens=min_tokens, approx_rows=approx_rows)
    return stages["exact_kept"] if near is None else stages["survivors"]


def ann_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             method: str = "ivf", **kw) -> DataFrame:
    """Top-k cosine neighbors per query row ((q_id, q_vec) columns).
    method: 'exact' (brute force — the small-scale oracle),
    'exact_kernel' (BLAS-scored brute force, ~10x faster, same
    results), 'ivf'
    (spherical-k-means inverted lists; kw: n_lists=16, nprobe=4,
    n_iter=5, spill_margin=0.0 boundary-spill assignment,
    residual_probes=False), 'ivf_indexed' (over a written
    ``write_ivf_index``; kw: index_path, centroids, nprobe=4), 'lsh'
    (hyperplane LSH, ``lsh_multitable_topk``; kw: n_planes, n_tables,
    multiprobe, dim — ``n_tables=1, multiprobe=False`` is the
    single-table search), or 'pq' / 'ivf_pq' (squared-L2 product
    quantization, see below)."""
    from .operators import similarity as _s
    if method == "exact":
        return _s.cosine_topk(vectors, queries, k, **kw)
    if method == "exact_kernel":
        return _s.cosine_topk_kernel(vectors, queries, k, **kw)
    if method == "ivf":
        cents = _s.train_ivf_centroids(
            vectors, n_lists=kw.pop("n_lists", 16),
            n_iter=kw.pop("n_iter", 5),
            vec_col=kw.get("vec_col", "embedding"),
            id_col=kw.get("id_col", "vec_id"))
        return _s.ivf_topk(vectors, queries, k, cents,
                           nprobe=kw.pop("nprobe", 4), **kw)
    if method == "ivf_indexed":
        # materialized __list-partitioned index: kw must carry
        # index_path (written via operators.similarity.write_ivf_index)
        # and centroids; probes become a static pruning predicate
        path = kw.pop("index_path")
        cents = kw.pop("centroids")
        return _s.ivf_topk_indexed(vectors.sparkSession, path, queries,
                                   k, cents, nprobe=kw.pop("nprobe", 4),
                                   **kw)
    if method == "lsh":
        if "dim" not in kw:
            kw["dim"] = len(vectors.select(
                kw.get("vec_col", "embedding")).first()[0])
        return _s.lsh_multitable_topk(vectors, queries, k, **kw)
    if method in ("pq", "ivf_pq"):
        # NOTE: PQ paths rank by squared L2 (== cosine order only for
        # normalized vectors). kw: m=8, k_sub=256, n_iter=6, rerank=0
        # (exact re-score depth; >= k restores exact ranking over the
        # candidate set), and for ivf_pq: n_lists=64, nprobe=8.
        from .operators import pq as _pq
        vec_col = kw.pop("vec_col", "embedding")
        id_col = kw.pop("id_col", "vec_id")
        m = kw.pop("m", 8)
        k_sub = kw.pop("k_sub", 256)
        n_iter = kw.pop("n_iter", 6)
        rerank = kw.pop("rerank", 0)
        if method == "pq":
            cb = _pq.train_pq_codebook(vectors, m=m, k_sub=k_sub,
                                       n_iter=n_iter, vec_col=vec_col,
                                       id_col=id_col)
            enc = _pq.encode_pq(vectors, cb, vec_col=vec_col)
            return _pq.pq_topk(enc, queries, k, cb, rerank=rerank,
                               vectors=vectors if rerank else None,
                               id_col=id_col, vec_col=vec_col, **kw)
        coarse = _pq.train_coarse_centroids(
            vectors, n_lists=kw.pop("n_lists", 64), n_iter=n_iter,
            vec_col=vec_col, id_col=id_col)
        cb = _pq.train_pq_codebook(
            _pq.residual_vectors(vectors, coarse, vec_col, id_col),
            m=m, k_sub=k_sub, n_iter=n_iter, vec_col=vec_col,
            id_col=id_col)
        enc = _pq.encode_ivf_pq(vectors, coarse, cb, vec_col, id_col)
        return _pq.ivf_pq_topk(enc, queries, k, coarse, cb,
                               nprobe=kw.pop("nprobe", 8), rerank=rerank,
                               vectors=vectors if rerank else None,
                               id_col=id_col, vec_col=vec_col, **kw)
    raise ValueError(f"unknown ANN method {method!r}")


def covariance_sketch(df: DataFrame, col: str = "embedding",
                      ell: int = 16):
    """FrequentDirections matrix sketch of an embedding column — the
    mergeable covariance/PCA summary (one distributed pass; PSD order
    + ||A||_F^2/ell spectral bound; `.gram()`, `.singular_values()`,
    `.top_directions(r)` on the result). Feed `.top_directions(r)` to
    `operators.pq.fd_project` to reduce dimensionality before ANN
    indexing."""
    from pyspark.sql import functions as F

    from .agg import sketch_global
    from .sketches import FrequentDirections
    nn = df.filter(F.col(col).isNotNull())
    head = nn.select(col).first()
    if head is None:
        raise ValueError(
            f"covariance_sketch: no non-null vectors in {col!r}")
    d = len(head[0])
    return sketch_global(nn, col, lambda: FrequentDirections(d, ell))


# unpersist operator intermediates: every live cache Scope, or every
# live Scope of one operator name (see cache.py)
release_dedup_caches = cache.release


def distinct_count_per_key(df: DataFrame, key_col: str, value_col: str,
                           eps: float = 0.01, delta: float = 0.01,
                           p: int = 12, heavy_hitters_count: int = 10):
    """Approximate distinct ``value_col`` count per ``key_col`` in ONE
    fixed-size state (SketchMapHLL — the V=HLL instance of the
    reference's generic SketchMap): ship the returned state anywhere
    and batch-query it with ``.values(keys)``; ``heavy_hitters()``
    gives the top keys by estimated distinct count. Returns the merged
    sketch (driver-side object), built with the scale topology."""
    from .sketches import SketchMapHLL

    return sketch_global(
        df, [key_col, value_col],
        lambda: SketchMapHLL(eps=eps, delta=delta, p=p,
                             heavy_hitters_count=heavy_hitters_count))


def scan_fold(df: DataFrame, keys: Sequence[str], order, step, init,
              output_col: str = "scan_out",
              output_type: str = "double") -> DataFrame:
    """General ``Scan.from(initialState)(fn)``: fold
    ``step(state, row) -> (new_state, output)`` per key in ``order``
    (one shuffle; state never leaves the task). For transitions
    expressible as vectorized group kernels use
    ``operators.scan.GeneralScan.apply_batch`` (per-group) or
    ``apply_stream`` (partition-ordered, one Python call per Arrow
    batch — the right shape at high key cardinality); for running
    aggregates use the window-expression ``operators.scan.Scan``
    (pure JVM)."""
    from .operators.scan import Scan
    return Scan.from_fn(step, init).apply(df, keys, order, output_col,
                                          output_type)


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap: float = 1800.0, order: Sequence[str] | None = None,
               output_col: str = "session") -> DataFrame:
    """Number sessions per user: a new session starts when the time
    since the user's previous event exceeds ``gap`` seconds. Runs as a
    partition-ordered streaming fold (``GeneralScan.apply_stream``:
    one Exchange on ``user_col``, in-partition sort, a single
    ``mapInPandas`` pass, as the kernel takes a pandas frame, with
    carry-over state — flat cost in user cardinality; measured 40x
    over a per-group fold at 500k users).
    ``order`` defaults to ``[ts_col]``; add tie-breaker columns for a
    total order exactly as you would for a window."""
    from .operators.scan import GeneralScan, session_numbers_kernel
    return GeneralScan.apply_stream(
        df, [user_col], list(order) if order else [ts_col],
        session_numbers_kernel(user_col, ts_col, gap),
        output_col, "bigint")


def build_dedup_index(docs: DataFrame, path: str, **kw) -> dict:
    """Persist a MinHash-LSH near-dup index (band buckets + stored
    shingles + config manifest) for incremental corpus dedup
    (sources/lsh_index.py:write_minhash_index); ``mode='append'`` grows
    it with each kept increment."""
    from .sources.lsh_index import write_minhash_index
    return write_minhash_index(docs, path, **kw)


def dedup_incremental(new_docs: DataFrame, index_path: str,
                      threshold: float = 0.7, id_col: str = "doc_id",
                      **kw) -> DataFrame:
    """The daily-increment cycle's filter: drop every new doc that
    near-duplicates (exact shingle Jaccard >= threshold on LSH
    candidates) something already in the index; append the survivors
    with ``build_dedup_index(mode='append')``."""
    from pyspark.sql import functions as F

    from .sources.lsh_index import near_dups_against_index
    pairs = near_dups_against_index(new_docs.sparkSession, index_path,
                                    new_docs, threshold=threshold,
                                    id_col=id_col, **kw)
    dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return new_docs.join(dup_ids, id_col, "left_anti")
