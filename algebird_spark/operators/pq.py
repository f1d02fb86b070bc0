"""Product quantization (PQ) for embedding ANN at corpus scale.

Public source: Jégou, Douze & Schmid 2011, "Product Quantization for
Nearest Neighbor Search" (IEEE TPAMI 33(1)) — the codebook/ADC design
every large-scale vector store uses. The reference engine has no
vector search at all; this extends the beyond-reference ANN family
(brute / LSH / IVF-Flat in ``operators.similarity``) with its
COMPRESSED scale path:

* a d-dim float32 vector (256 B at d=64) encodes to ``m`` uint8 codes
  (8 B at m=8) — 32x less scan bandwidth, the difference between a
  100 TB corpus and a 3 TB code table;
* queries scan CODES, not vectors: per query one (m, k_sub) table of
  subspace distances is precomputed, and each candidate's
  asymmetric-distance (ADC) estimate is ``m`` table lookups — no
  per-candidate float math;
* optional exact re-rank of the top ADC candidates restores
  brute-force quality for the final k (candidates are a broadcast-
  sized set, so the re-rank is one scan-side pass, never a shuffle).

Training mirrors ``similarity.train_ivf_centroids``: every Lloyd
round is ONE scan whose partitions emit (m, k_sub) count/sum partial
statistics for ALL subspaces jointly — only
``partitions x m x k_sub x (sub_dim + 1)`` doubles leave the
executors, never a per-vector row. Composition with IVF (encode
residuals within each inverted list = IVF-PQ) is a straight chain of
these operators over the ``__list``-partitioned layout.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import Scope


def _check_codebook(codebook: np.ndarray) -> tuple[int, int, int]:
    cb = np.asarray(codebook, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError(f"codebook must be (m, k_sub, sub_dim), "
                         f"got shape {cb.shape}")
    m, k_sub, sub_dim = cb.shape
    if k_sub > 256:
        raise ValueError(f"k_sub={k_sub} > 256 does not fit uint8 codes")
    return m, k_sub, sub_dim


def _subspace_views(mat: np.ndarray, m: int, sub_dim: int) -> np.ndarray:
    """(n, d) -> (m, n, sub_dim) without copying rows per subspace."""
    n, d = mat.shape
    if d != m * sub_dim:
        raise ValueError(f"vector dim {d} != m*sub_dim = {m * sub_dim}")
    return np.ascontiguousarray(mat.reshape(n, m, sub_dim).transpose(1, 0, 2))


def _assign_codes(mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, d) float64 -> (n, m) uint8 nearest-sub-centroid codes.
    Squared-L2 argmin via the |x|^2 - 2 x.c + |c|^2 expansion; the
    |x|^2 term is constant per argmin and dropped."""
    m, k_sub, sub_dim = cb.shape
    subs = _subspace_views(mat, m, sub_dim)          # (m, n, sub)
    c_sq = (cb * cb).sum(axis=2)                      # (m, k_sub)
    codes = np.empty((mat.shape[0], m), dtype=np.uint8)
    for j in range(m):
        scores = subs[j] @ cb[j].T * 2.0 - c_sq[j]    # maximize
        codes[:, j] = scores.argmax(axis=1).astype(np.uint8)
    return codes


def train_pq_codebook(vectors: DataFrame, m: int, k_sub: int = 256,
                      n_iter: int = 8, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> np.ndarray:
    """Train the (m, k_sub, d/m) PQ codebook distributively.

    Deterministic init (the ``k_sub`` lowest-id vectors' subvectors,
    like the IVF coarse quantizer); every Lloyd round is ONE scan
    emitting per-partition (m, k_sub) counts + (m, k_sub, sub_dim)
    sums, merged driver-side — KB-scale partials, no per-vector
    shuffle. At warehouse scale train on a sample (a few hundred
    vectors per code word suffice) and persist the codebook."""
    import pyarrow as pa

    if m < 1 or k_sub < 1:
        raise ValueError(f"m={m} and k_sub={k_sub} must be >= 1")
    if k_sub > 256:
        raise ValueError(f"k_sub={k_sub} > 256 does not fit uint8 codes")
    with Scope("pq_train") as scope:
        train = scope.persist(vectors.select(id_col, vec_col)
                              .filter(F.col(vec_col).isNotNull()))
        init = (train.orderBy(id_col).limit(k_sub)
                .select(vec_col).collect())
        if not init:
            raise ValueError("train_pq_codebook: empty vector table")
        sample = np.vstack([np.asarray(r[0], dtype=np.float64)
                            for r in init])
        d = sample.shape[1]
        if d % m:
            raise ValueError(f"vector dim {d} not divisible by m={m}")
        sub_dim = d // m
        k_eff = sample.shape[0]  # fewer vectors than words: exact fit
        cb = np.ascontiguousarray(
            sample.reshape(k_eff, m, sub_dim).transpose(1, 0, 2))

        def partials(batches):
            counts = np.zeros((m, k_eff), dtype=np.int64)
            sums = np.zeros((m, k_eff, sub_dim), dtype=np.float64)
            c_sq = (cb * cb).sum(axis=2)
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                col = tbl.column(vec_col).to_numpy(zero_copy_only=False)
                if len(col) == 0:
                    continue
                mat = np.vstack(col).astype(np.float64)
                subs = _subspace_views(mat, m, sub_dim)
                for j in range(m):
                    scores = subs[j] @ cb[j].T * 2.0 - c_sq[j]
                    assign = scores.argmax(axis=1)
                    order = np.argsort(assign, kind="stable")
                    sa = assign[order]
                    starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
                    sums[j, sa[starts]] += np.add.reduceat(
                        subs[j][order], starts, axis=0)
                    counts[j] += np.bincount(assign, minlength=k_eff)
            yield pa.RecordBatch.from_arrays(
                [pa.array([counts.ravel().tolist()],
                          type=pa.list_(pa.int64())),
                 pa.array([sums.ravel().tolist()],
                          type=pa.list_(pa.float64()))],
                names=["counts", "sums"])

        for _ in range(n_iter):
            counts = np.zeros((m, k_eff), dtype=np.int64)
            sums = np.zeros((m, k_eff, sub_dim), dtype=np.float64)
            for row in train.select(vec_col).mapInArrow(
                    partials, "counts array<long>, sums array<double>") \
                    .collect():
                counts += np.asarray(row["counts"],
                                     dtype=np.int64).reshape(m, k_eff)
                sums += np.asarray(row["sums"],
                                   dtype=np.float64).reshape(m, k_eff,
                                                             sub_dim)
            cb = np.where(counts[:, :, None] > 0,
                          sums / np.maximum(counts[:, :, None], 1),
                          cb)  # empty words keep their previous centroid
        return cb


def encode_pq(vectors: DataFrame, codebook: np.ndarray,
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Add the ``m``-byte PQ code column (binary). Map-only — scales
    with scan bandwidth; at 100 TB write the coded table once and scan
    codes forever after. NULL vectors get NULL codes."""
    cb = np.asarray(codebook, dtype=np.float64)
    _check_codebook(cb)

    @F.pandas_udf("binary")
    def enc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            nulls = s.isna().to_numpy()
            out = np.empty(len(s), dtype=object)
            if (~nulls).any():
                mat = np.vstack(s[~nulls].to_numpy()).astype(np.float64)
                codes = _assign_codes(mat, cb)
                out[~nulls] = [row.tobytes() for row in codes]
            out[nulls] = None
            yield pd.Series(out)

    return vectors.withColumn(out_col, enc(F.col(vec_col)))


def fd_project(vectors: DataFrame, directions: np.ndarray,
               vec_col: str = "embedding",
               out_col: str | None = None) -> DataFrame:
    """Project embeddings onto an (r, d) orthonormal basis — the
    FrequentDirections -> ANN composition: one ``sketch_global`` pass
    estimates the PCA basis (``FrequentDirections.top_directions``),
    then this map-only pass reduces every vector to r dims before
    LSH/IVF/PQ indexing (a d=768 -> r=64 cut is ~12x less index
    bandwidth, and FD bounds how much quadratic-form mass the dropped
    directions carried). NULL vectors stay NULL."""
    V = np.asarray(directions, dtype=np.float64)
    if V.ndim != 2:
        raise ValueError(f"directions must be (r, d), got {V.shape}")
    out_col = out_col or vec_col

    @F.pandas_udf("array<double>")
    def proj(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            nulls = s.isna().to_numpy()
            out = np.empty(len(s), dtype=object)
            if (~nulls).any():
                mat = np.vstack(s[~nulls].to_numpy()).astype(np.float64)
                rows = mat @ V.T
                vals = np.empty(rows.shape[0], dtype=object)
                vals[:] = [r for r in rows]  # keep rows as objects
                out[~nulls] = vals
            out[nulls] = None
            yield pd.Series(out)

    return vectors.withColumn(out_col, proj(F.col(vec_col)))


def train_coarse_centroids(vectors: DataFrame, n_lists: int,
                           n_iter: int = 8, vec_col: str = "embedding",
                           id_col: str = "vec_id") -> np.ndarray:
    """L2 k-means coarse quantizer for IVF-PQ: exactly
    ``train_pq_codebook`` with the whole vector as ONE subspace
    (m=1, k_sub=n_lists) — same deterministic init, same one-scan
    Lloyd rounds with KB-scale partials. Returns (n_lists, d).

    (``similarity.train_ivf_centroids`` is the SPHERICAL variant for
    cosine IVF-Flat; IVF-PQ quantizes residuals, which needs plain L2
    geometry.)"""
    return train_pq_codebook(vectors, m=1, k_sub=n_lists, n_iter=n_iter,
                             vec_col=vec_col, id_col=id_col)[0]


def residual_vectors(vectors: DataFrame, coarse: np.ndarray,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """(id, residual) = x - c(x) for its nearest L2 coarse centroid —
    the training input for an IVF-PQ codebook (residuals concentrate
    near 0, so the same code budget quantizes them much finer than
    raw vectors). Map-only."""
    cn = np.asarray(coarse, dtype=np.float64)
    c_sq = (cn * cn).sum(axis=1)

    def res(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            lists = (mat @ cn.T * 2.0 - c_sq).argmax(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                vec_col: list(mat - cn[lists])})

    return vectors.select(id_col, vec_col).mapInPandas(
        res, f"{id_col} long, {vec_col} array<double>")


def encode_ivf_pq(vectors: DataFrame, coarse: np.ndarray,
                  codebook: np.ndarray, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ encode (Jegou et al. 2011 §IV): assign each vector to
    its nearest coarse centroid, PQ-encode the RESIDUAL (x - c_list).
    Returns ``id, __list int, pq_code binary`` — at 100 TB write this
    partitioned by ``__list`` so probes prune partitions exactly like
    IVF-Flat (`similarity.write_ivf_index`), while each row costs
    4 + m bytes instead of 4*d. Map-only. The PQ codebook must be
    trained on residuals (see `train_coarse_centroids` + a residual
    pass, or the `q_ivf_pq_topk` catalog query for the full chain)."""
    cn = np.asarray(coarse, dtype=np.float64)
    cb = np.asarray(codebook, dtype=np.float64)
    _check_codebook(cb)
    c_sq = (cn * cn).sum(axis=1)

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            lists = (mat @ cn.T * 2.0 - c_sq).argmax(axis=1)
            codes = _assign_codes(mat - cn[lists], cb)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "__list": lists.astype(np.int32),
                "pq_code": [row.tobytes() for row in codes]})

    return vectors.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, __list int, pq_code binary")


def ivf_pq_topk(encoded: DataFrame, queries: DataFrame, k: int,
                coarse: np.ndarray, codebook: np.ndarray, nprobe: int,
                rerank: int = 0, vectors: DataFrame | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id",
                q_vec_col: str = "q_vec") -> DataFrame:
    """IVF-PQ top-k: each query probes its ``nprobe`` nearest coarse
    lists and ADC-scores ONLY rows in those lists, with per-(query,
    list) residual distance tables — expected work
    O(N * nprobe / n_lists) table lookups per query on an m-byte
    code table. ``rerank`` as in :func:`pq_topk` (exact re-score of
    the broadcast-sized candidate set). Returns
    ``q_id, vec_id, dist, rank`` (squared L2)."""
    cn = np.asarray(coarse, dtype=np.float64)
    cb = np.asarray(codebook, dtype=np.float64)
    m, k_sub, sub_dim = _check_codebook(cb)
    if k < 1 or nprobe < 1:
        raise ValueError(f"k={k} and nprobe={nprobe} must be >= 1")
    if rerank and rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    if rerank and vectors is None:
        raise ValueError("rerank needs the original `vectors` table")
    q_rows = queries.select(q_id_col, q_vec_col).collect()
    if not q_rows:
        raise ValueError("ivf_pq_topk: empty query set")
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    nq = len(q_ids)
    np_eff = min(nprobe, cn.shape[0])
    d2c = ((q_mat[:, None, :] - cn[None, :, :]) ** 2).sum(axis=2)
    probed = np.argpartition(d2c, np_eff - 1, axis=1)[:, :np_eff]  # (nq, p)
    # tables[(qi, list)] = (m, k_sub) residual subspace distances
    tables: dict[tuple[int, int], np.ndarray] = {}
    for qi in range(nq):
        for li in probed[qi]:
            r = (q_mat[qi] - cn[li]).reshape(m, sub_dim)
            tables[(qi, int(li))] = \
                ((r[:, None, :] - cb) ** 2).sum(axis=2)
    keep = max(k, rerank)
    gather_cols = np.arange(m)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["pq_code"].notna()]
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf["pq_code"].tolist()),
                dtype=np.uint8).reshape(len(pdf), m)
            lists = pdf["__list"].to_numpy()
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_d = [], [], []
            for qi in range(nq):
                for li in probed[qi]:
                    sel = lists == li
                    if not sel.any():
                        continue
                    d = tables[(qi, int(li))][gather_cols,
                                              codes[sel]].sum(axis=1)
                    if len(d) > keep:
                        # (dist, id) lexsort, NOT argpartition: ADC
                        # ties are common (cluster-mates share codes),
                        # and an arbitrary tied survivor set would make
                        # results depend on physical partitioning
                        cand = np.lexsort((ids[sel], d))[:keep]
                    else:
                        cand = np.arange(len(d))
                    out_q.append(np.full(len(cand), q_ids[qi]))
                    out_id.append(ids[sel][cand])
                    out_d.append(d[cand])
            if not out_q:
                continue
            yield pd.DataFrame({q_id_col: np.concatenate(out_q),
                                id_col: np.concatenate(out_id),
                                "dist": np.concatenate(out_d)})

    cand = encoded.select(id_col, "__list", "pq_code").mapInPandas(
        scan, f"{q_id_col} long, {id_col} long, dist double")
    from pyspark.sql import Window
    w = (Window.partitionBy(q_id_col)
         .orderBy(F.col("dist").asc(), F.col(id_col).asc()))
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= keep))
    if not rerank:
        return top.filter(F.col("rank") <= k)
    cand_ids = top.select(id_col).distinct()
    exact_side = vectors.join(F.broadcast(cand_ids), id_col, "left_semi") \
        .select(id_col, vec_col)

    def rescore(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                d = ((mat - q_mat[qi]) ** 2).sum(axis=1)
                yield pd.DataFrame({q_id_col: np.full(len(ids), q_ids[qi]),
                                    id_col: ids, "exact_dist": d})

    scored = exact_side.mapInPandas(
        rescore, f"{q_id_col} long, {id_col} long, exact_dist double")
    pairs = top.select(q_id_col, id_col).join(scored, [q_id_col, id_col])
    w2 = (Window.partitionBy(q_id_col)
          .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc()))
    return (pairs.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .withColumnRenamed("exact_dist", "dist"))


def write_ivf_pq_index(vectors: DataFrame, coarse: np.ndarray,
                       codebook: np.ndarray, path: str,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> None:
    """Materialize the IVF-PQ code table PARTITIONED BY ``__list`` —
    the 100 TB layout: each inverted list is its own parquet partition
    directory of (id, m-byte code) rows, so a probed query reads
    ``nprobe / n_lists`` of a table that is already ~26.9x smaller
    than the vectors (BENCH/pq_rehearsal.json). Same layout contract
    as `similarity.write_ivf_index`, same static partition pruning
    (plan-gated in tests)."""
    encode_ivf_pq(vectors, coarse, codebook, vec_col, id_col) \
        .write.partitionBy("__list").mode("overwrite").parquet(path)


def ivf_pq_topk_indexed(spark, index_path: str, queries: DataFrame,
                        k: int, coarse: np.ndarray, codebook: np.ndarray,
                        nprobe: int, rerank: int = 0,
                        vectors: DataFrame | None = None,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        q_id_col: str = "q_id",
                        q_vec_col: str = "q_vec") -> DataFrame:
    """:func:`ivf_pq_topk` over a materialized ``__list``-partitioned
    code index: the probed-list union becomes a STATIC ``isin``
    predicate, so Catalyst prunes unprobed partition directories at
    planning time and the scan reads only nprobe/n_lists of the
    (already PQ-compressed) bytes. Results are identical to the
    in-memory operator over the same encode (verified in tests)."""
    cn = np.asarray(coarse, dtype=np.float64)
    q_rows = queries.select(q_id_col, q_vec_col).collect()
    if not q_rows:
        raise ValueError("ivf_pq_topk_indexed: empty query set")
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    np_eff = min(nprobe, cn.shape[0])
    d2c = ((q_mat[:, None, :] - cn[None, :, :]) ** 2).sum(axis=2)
    probed = np.argpartition(d2c, np_eff - 1, axis=1)[:, :np_eff]
    union = sorted({int(li) for row in probed for li in row})
    idx = spark.read.parquet(index_path).filter(F.col("__list").isin(union))
    return ivf_pq_topk(idx, queries, k, coarse, codebook, nprobe,
                       rerank=rerank, vectors=vectors, id_col=id_col,
                       vec_col=vec_col, q_id_col=q_id_col,
                       q_vec_col=q_vec_col)


def pq_topk(encoded: DataFrame, queries: DataFrame, k: int,
            codebook: np.ndarray, rerank: int = 0,
            vectors: DataFrame | None = None,
            id_col: str = "vec_id", code_col: str = "pq_code",
            vec_col: str = "embedding",
            q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Top-k by asymmetric PQ distance (ADC), optionally exact-reranked.

    The query set is collected and broadcast with its per-query
    (m, k_sub) subspace distance tables (queries are the tiny side by
    construction — same contract as ``cosine_topk``); each code batch
    scores as ``m`` uint8-indexed table gathers, keeps its local top
    candidates, and only ``partitions x k'`` candidate rows reach the
    per-query top-k window (k' = max(k, rerank)).

    ``rerank > 0``: the top-``rerank`` ADC candidates per query are
    re-scored EXACTLY against ``vectors`` (broadcast semi-join on the
    candidate ids — a KB-scale set — then one scan-side pass), and the
    final top-k is exact over that candidate set. Returns
    ``q_id, vec_id, dist, rank`` (squared L2; ADC estimate, or exact
    after re-rank).

    NOTE: unlike ``similarity.cosine_topk`` (which drops rows where
    ``id == q_id``), the code scan has no id-equality filter — a query
    vector that also lives in the corpus IS returned (dist ~0). The
    planted-copy catalog verdicts rely on this; filter
    ``vec_id != q_id`` downstream for the other convention. Applies to
    :func:`ivf_pq_topk` too."""
    cb = np.asarray(codebook, dtype=np.float64)
    m, k_sub, sub_dim = _check_codebook(cb)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rerank and rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    if rerank and vectors is None:
        raise ValueError("rerank needs the original `vectors` table")
    q_rows = queries.select(q_id_col, q_vec_col).collect()
    if not q_rows:
        raise ValueError("pq_topk: empty query set")
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_subs = _subspace_views(q_mat, m, sub_dim)       # (m, nq, sub)
    # tables[j][q][c] = ||q_sub_j - cb[j][c]||^2  -> (nq, m, k_sub)
    tables = np.stack([
        ((q_subs[j][:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
        for j in range(m)], axis=1)
    keep = max(k, rerank)
    nq = len(q_ids)

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf[code_col].notna()]
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf[code_col].tolist()),
                dtype=np.uint8).reshape(len(pdf), m)
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_d = [], [], []
            gather_cols = np.arange(m)
            for qi in range(nq):
                d = tables[qi][gather_cols, codes].sum(axis=1)
                if len(d) > keep:
                    # (dist, id) lexsort, NOT argpartition: ADC ties
                    # are common (duplicate codes), and an arbitrary
                    # tied survivor set would make results depend on
                    # physical partitioning
                    cand = np.lexsort((ids, d))[:keep]
                else:
                    cand = np.arange(len(d))
                out_q.append(np.full(len(cand), q_ids[qi]))
                out_id.append(ids[cand])
                out_d.append(d[cand])
            yield pd.DataFrame({q_id_col: np.concatenate(out_q),
                                id_col: np.concatenate(out_id),
                                "dist": np.concatenate(out_d)})

    cand = encoded.select(id_col, code_col).mapInPandas(
        scan, f"{q_id_col} long, {id_col} long, dist double")
    from pyspark.sql import Window
    w = (Window.partitionBy(q_id_col)
         .orderBy(F.col("dist").asc(), F.col(id_col).asc()))
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= keep))
    if not rerank:
        return top.filter(F.col("rank") <= k)

    # exact re-rank: broadcast the candidate ids, one scan-side pass
    cand_ids = top.select(id_col).distinct()
    exact_side = vectors.join(F.broadcast(cand_ids), id_col, "left_semi") \
        .select(id_col, vec_col)

    def rescore(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                d = ((mat - q_mat[qi]) ** 2).sum(axis=1)
                yield pd.DataFrame({q_id_col: np.full(len(ids), q_ids[qi]),
                                    id_col: ids, "exact_dist": d})

    scored = exact_side.mapInPandas(
        rescore, f"{q_id_col} long, {id_col} long, exact_dist double")
    pairs = top.select(q_id_col, id_col).join(scored, [q_id_col, id_col])
    w2 = (Window.partitionBy(q_id_col)
          .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc()))
    return (pairs.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .withColumnRenamed("exact_dist", "dist"))
