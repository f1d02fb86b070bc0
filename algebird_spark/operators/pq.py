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

Training is ``similarity._lloyd``, the one Lloyd trainer the IVF
coarse quantizers use too (L2 here, spherical for IVF-Flat): every
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
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..agg import _drop_spark_finders, _list_array, _matrix
from .similarity import _lloyd, _query_matrix, _subspace_views


def _check_codebook(codebook: np.ndarray) -> tuple[int, int, int]:
    cb = np.asarray(codebook, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError(f"codebook must be (m, k_sub, sub_dim), "
                         f"got shape {cb.shape}")
    m, k_sub, sub_dim = cb.shape
    if k_sub > 256:
        raise ValueError(f"k_sub={k_sub} > 256 does not fit uint8 codes")
    return m, k_sub, sub_dim


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


def _code_column(codes: np.ndarray) -> pa.Array:
    """(n, m) uint8 codes as a ``binary`` column of m-byte values."""
    n, m = codes.shape
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(m), n, [None, pa.py_buffer(np.ascontiguousarray(codes))]
    ).cast(pa.binary())


def _code_matrix(col: pa.Array, m: int) -> np.ndarray:
    """A NULL-free ``binary`` column of m-byte codes as an (n, m) uint8
    matrix; a code of another length raises."""
    fixed = col.cast(pa.binary(m))
    return np.frombuffer(fixed.buffers()[1], dtype=np.uint8)[
        fixed.offset * m:(fixed.offset + len(fixed)) * m].reshape(-1, m)


def train_pq_codebook(vectors: DataFrame, m: int, k_sub: int = 256,
                      n_iter: int = 8, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> np.ndarray:
    """Train the (m, k_sub, d/m) PQ codebook distributively: L2
    ``similarity._lloyd`` over ``m`` subspaces. Deterministic init (the
    ``k_sub`` lowest-id non-NULL vectors' subvectors, like the IVF
    coarse quantizer); every Lloyd round is ONE scan emitting
    per-partition (m, k_sub) counts + (m, k_sub, sub_dim) sums, merged
    driver-side — KB-scale partials, no per-vector shuffle. At
    warehouse scale train on a sample (a few hundred vectors per code
    word suffice) and persist the codebook."""
    if m < 1 or k_sub < 1:
        raise ValueError(f"m={m} and k_sub={k_sub} must be >= 1")
    if k_sub > 256:
        raise ValueError(f"k_sub={k_sub} > 256 does not fit uint8 codes")
    return _lloyd(vectors, k_sub, m, n_iter, False, vec_col, id_col,
                  "train_pq_codebook")


def encode_pq(vectors: DataFrame, codebook: np.ndarray,
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Add the ``m``-byte PQ code column (binary). Map-only — scales
    with scan bandwidth; at 100 TB write the coded table once and scan
    codes forever after. NULL vectors get NULL codes."""
    cb = np.asarray(codebook, dtype=np.float64)
    _check_codebook(cb)

    @F.arrow_udf("binary")
    def enc(cols: Iterator[pa.Array]) -> Iterator[pa.Array]:
        _drop_spark_finders()
        for col in cols:
            mat, valid = _matrix(col, cb.shape[0] * cb.shape[2])
            out = _code_column(_assign_codes(mat, cb))
            if valid is not None:
                # a NULL row takes a NULL index, and take() gives NULL
                out = out.take(pa.array(np.cumsum(valid) - 1, mask=~valid))
            yield out

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

    @F.arrow_udf("array<double>")
    def proj(cols: Iterator[pa.Array]) -> Iterator[pa.Array]:
        _drop_spark_finders()
        for col in cols:
            mat, valid = _matrix(col, V.shape[1])
            yield _list_array(mat @ V.T, valid, pa.list_(pa.float64()))

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

    def res(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            mat, valid = _matrix(batch.column(vec_col))
            if len(mat) == 0:
                continue
            lists = (mat @ cn.T * 2.0 - c_sq).argmax(axis=1)
            ids = batch.column(id_col).cast(pa.int64())
            yield pa.RecordBatch.from_pydict({
                id_col: ids if valid is None else ids.filter(valid),
                vec_col: _list_array(mat - cn[lists], None,
                                     pa.list_(pa.float64()))})

    return vectors.select(id_col, vec_col).mapInArrow(
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

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            mat, valid = _matrix(batch.column(vec_col))
            if len(mat) == 0:
                continue
            lists = (mat @ cn.T * 2.0 - c_sq).argmax(axis=1)
            ids = batch.column(id_col).cast(pa.int64())
            yield pa.RecordBatch.from_pydict({
                id_col: ids if valid is None else ids.filter(valid),
                "__list": lists.astype(np.int32),
                "pq_code": _code_column(_assign_codes(mat - cn[lists], cb))})

    return vectors.select(id_col, vec_col).mapInArrow(
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
    code table; ``encoded`` is read filtered to the probed lists.
    ``rerank`` as in :func:`pq_topk` (exact re-score of the
    broadcast-sized candidate set). Returns
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
    q_ids, q_mat = _query_matrix(queries, q_id_col, q_vec_col, m * sub_dim)
    if not len(q_ids):
        raise ValueError("ivf_pq_topk: empty query set")
    nq = len(q_ids)
    np_eff = min(nprobe, cn.shape[0])
    d2c = ((q_mat[:, None, :] - cn[None, :, :]) ** 2).sum(axis=2)
    probed = np.argpartition(d2c, np_eff - 1, axis=1)[:, :np_eff]  # (nq, p)
    union = sorted(set(probed.ravel().tolist()))
    # tables[(qi, list)] = (m, k_sub) residual subspace distances
    tables: dict[tuple[int, int], np.ndarray] = {}
    for qi in range(nq):
        for li in probed[qi]:
            r = (q_mat[qi] - cn[li]).reshape(m, sub_dim)
            tables[(qi, int(li))] = \
                ((r[:, None, :] - cb) ** 2).sum(axis=2)
    keep = max(k, rerank)
    gather_cols = np.arange(m)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            batch = batch.filter(pc.is_valid(batch.column("pq_code")))
            if batch.num_rows == 0:
                continue
            codes = _code_matrix(batch.column("pq_code"), m)
            lists = batch.column("__list").to_numpy(zero_copy_only=False)
            ids = batch.column(id_col).cast(pa.int64()) \
                .to_numpy(zero_copy_only=False)
            best = []
            for qi in range(nq):
                for li in probed[qi]:
                    sel = lists == li
                    if sel.any():
                        best.append(_best(q_ids[qi], ids[sel], tables[
                            (qi, int(li))][gather_cols, codes[sel]]
                            .sum(axis=1), keep))
            if best:
                yield _candidates(best, q_id_col, id_col)

    # only probed lists can score; over a __list-partitioned index this
    # static predicate prunes every unprobed partition directory
    cand = encoded.filter(F.col("__list").isin(union)) \
        .select(id_col, "__list", "pq_code").mapInArrow(
            scan, f"{q_id_col} long, {id_col} long, dist double")
    return _top_k(cand, k, keep, rerank, vectors, q_ids, q_mat,
                  id_col, vec_col, q_id_col)


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
    code index: the operator's probed-list union is a STATIC ``isin``
    predicate, so Catalyst prunes unprobed partition directories at
    planning time and the scan reads only nprobe/n_lists of the
    (already PQ-compressed) bytes. Results are identical to the
    in-memory operator over the same encode (verified in tests)."""
    return ivf_pq_topk(spark.read.parquet(index_path), queries, k, coarse,
                       codebook, nprobe, rerank=rerank, vectors=vectors,
                       id_col=id_col, vec_col=vec_col, q_id_col=q_id_col,
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
    q_ids, q_mat = _query_matrix(queries, q_id_col, q_vec_col, m * sub_dim)
    if not len(q_ids):
        raise ValueError("pq_topk: empty query set")
    q_subs = _subspace_views(q_mat, m, sub_dim)       # (m, nq, sub)
    # tables[j][q][c] = ||q_sub_j - cb[j][c]||^2  -> (nq, m, k_sub)
    tables = np.stack([
        ((q_subs[j][:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
        for j in range(m)], axis=1)
    keep = max(k, rerank)
    nq = len(q_ids)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            batch = batch.filter(pc.is_valid(batch.column(code_col)))
            if batch.num_rows == 0:
                continue
            codes = _code_matrix(batch.column(code_col), m)
            ids = batch.column(id_col).cast(pa.int64()) \
                .to_numpy(zero_copy_only=False)
            gather_cols = np.arange(m)
            yield _candidates([_best(q_ids[qi], ids, tables[qi][
                gather_cols, codes].sum(axis=1), keep) for qi in range(nq)],
                q_id_col, id_col)

    cand = encoded.select(id_col, code_col).mapInArrow(
        scan, f"{q_id_col} long, {id_col} long, dist double")
    return _top_k(cand, k, keep, rerank, vectors, q_ids, q_mat,
                  id_col, vec_col, q_id_col)


def _best(q_id, ids: np.ndarray, d: np.ndarray, keep: int) -> list:
    """One query's ``keep`` best ADC candidates in a batch as [q_ids,
    ids, dists], by (dist, id): a lexsort, NOT argpartition — ADC ties
    are common (cluster-mates share codes), and an arbitrary tied
    survivor set would make results depend on physical partitioning."""
    cand = np.lexsort((ids, d))[:keep]
    return [np.full(len(cand), q_id), ids[cand], d[cand]]


def _candidates(best: list, q_id_col: str, id_col: str) -> pa.RecordBatch:
    """The ``q_id, id, dist`` batch of several ``_best`` results."""
    return pa.RecordBatch.from_pydict({
        name: np.concatenate(cols)
        for name, cols in zip([q_id_col, id_col, "dist"], zip(*best))})


def _top_k(cand: DataFrame, k: int, keep: int, rerank: int,
           vectors: DataFrame | None, q_ids: np.ndarray, q_mat: np.ndarray,
           id_col: str, vec_col: str, q_id_col: str) -> DataFrame:
    """The per-query top-k of ADC candidates ``(q_id, id, dist)``: the
    best ``keep`` by (dist, id), then either the top ``k`` of those or,
    with ``rerank``, the top ``k`` by exact squared L2 over them — the
    candidate ids broadcast into a semi-join with ``vectors`` and one
    scan-side pass scores every query."""
    w = (Window.partitionBy(q_id_col)
         .orderBy(F.col("dist").asc(), F.col(id_col).asc()))
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= keep))
    if not rerank:
        return top.filter(F.col("rank") <= k)
    cand_ids = top.select(id_col).distinct()
    exact_side = vectors.join(F.broadcast(cand_ids), id_col, "left_semi") \
        .select(id_col, vec_col)

    def rescore(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            mat, valid = _matrix(batch.column(vec_col))
            if len(mat) == 0:
                continue
            ids = batch.column(id_col).cast(pa.int64())
            ids = ids if valid is None else ids.filter(valid)
            for qi in range(len(q_ids)):
                yield pa.RecordBatch.from_pydict({
                    q_id_col: np.full(len(ids), q_ids[qi]), id_col: ids,
                    "exact_dist": ((mat - q_mat[qi]) ** 2).sum(axis=1)})

    scored = exact_side.mapInArrow(
        rescore, f"{q_id_col} long, {id_col} long, exact_dist double")
    pairs = top.select(q_id_col, id_col).join(scored, [q_id_col, id_col])
    w2 = (Window.partitionBy(q_id_col)
          .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc()))
    return (pairs.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .withColumnRenamed("exact_dist", "dist"))
