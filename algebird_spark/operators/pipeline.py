"""The canonical corpus-dedup pipeline, shared by ``api.dedup`` and
``jobs/dedup_corpus.py`` so the two surfaces cannot drift: quality
gate -> exact dedup -> (optional) near-dup pairs -> connected-component
clustering -> one survivor (min id) per cluster.

Every stage is one bounded-shuffle pass (fingerprints, signatures, and
(node, long) edges shuffle — never document text). The returned
``clusters`` table is provenance-COMPLETE over the gated set: exact-dup
losers contribute (loser -> keeper) edges, so every gated doc maps to
its surviving component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..cache import Scope
from . import dedup as _d
from . import text as _t
from .graph import dedup_clusters


def dedup_pipeline(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", near: str | None = "minhash",
                   threshold: float = 0.7, num_perm: int = 64,
                   bands: int = 16, max_hamming: int = 3,
                   min_chars: int = 0, min_tokens: int = 0,
                   persist: bool = False,
                   approx_rows: int | None = None) -> dict[str, DataFrame]:
    """Returns the pipeline's stage DataFrames:

    - ``gated``: rows passing the quality gate
    - ``exact_kept``: one doc (min id) per distinct text (NULL texts
      are not comparable, so each survives as its own singleton)
    - ``clusters``: (id, component, keep) for EVERY gated doc —
      exact-dup losers cluster with their keeper, near-dup components
      merge transitively
    - ``survivors``: gated rows with ``keep``

    With ``near=None`` every stage stays LAZY (components are just the
    fingerprint groups — no connected-components rounds run). With a
    near-dup mode, clustering is inherently iterative and executes at
    call time; pass ``persist=True`` (the batch-job mode) to cache
    ``gated``/``exact_kept`` across the signature, verification and
    clustering passes. ``survivors`` carries the invocation's Scope
    as ``_algebird_cache``: release it once the stages are consumed.
    """
    scope = Scope("dedup_pipeline")
    gated = df
    if min_chars:
        gated = gated.filter(F.length(text_col) >= min_chars)
    if min_tokens:
        gated = gated.filter(_t.token_count(F.col(text_col)) >= min_tokens)
    if persist:
        gated = scope.persist(gated)

    # exact losers -> keeper edges, linear in group size (no cliques):
    # every doc links to its fingerprint group's min id. NULL texts
    # get a unique per-row group (SQL windows would lump all NULLs
    # into ONE partition — deleting docs that are merely unreadable)
    fp = F.when(F.col(text_col).isNotNull(),
                _t.fingerprint(F.col(text_col))) \
         .otherwise(F.concat(F.lit("\0null:"), F.col(id_col).cast("string")))
    keeper = (gated.select(F.col(id_col), fp.alias("__fp"))
              .withColumn("__keep",
                          F.min(id_col).over(Window.partitionBy("__fp"))))
    exact_edges = (keeper.filter(F.col(id_col) != F.col("__keep"))
                   .select(F.col(id_col).alias("id_a"),
                           F.col("__keep").alias("id_b")))
    keep_ids = keeper.filter(F.col(id_col) == F.col("__keep")) \
                     .select(id_col)
    exact_kept = gated.join(keep_ids, id_col, "left_semi")
    if persist:
        exact_kept = scope.persist(exact_kept)

    if near is None:
        # components ARE the fingerprint groups — stay lazy, no CC
        clusters = keeper.select(
            F.col(id_col),
            F.col("__keep").alias("component"),
            (F.col(id_col) == F.col("__keep")).alias("keep"))
        return {"gated": gated, "exact_kept": exact_kept,
                "clusters": clusters, "survivors": scope.attach(exact_kept)}

    if near == "minhash":
        pairs = _d.near_dup_pairs_minhash(exact_kept, id_col, text_col,
                                          num_perm=num_perm, bands=bands,
                                          threshold=threshold)
    elif near == "simhash":
        pairs = _d.near_dup_pairs_simhash(exact_kept, id_col, text_col,
                                          max_hamming=max_hamming,
                                          approx_rows=approx_rows)
    elif near == "ngram":
        # exact inverted-index Jaccard: recall 1.0, no signature stage;
        # exact dedup upstream already removed the quadratic clusters
        pairs = _d.near_dup_pairs_ngram(exact_kept, id_col, text_col,
                                        threshold=threshold)
    else:
        raise ValueError(f"unknown near-dup mode {near!r}")

    edges = exact_edges.unionByName(pairs.select("id_a", "id_b"))
    clusters = dedup_clusters(gated, edges, id_col)
    # clustering ran eagerly into local checkpoints, so nothing reads
    # the near-dup operator's caches any more; the final checkpoint,
    # which ``clusters`` still reads, goes with this pipeline's Scope
    pairs._algebird_cache.release()
    scope.adopt(clusters._algebird_cache)
    survivors = gated.join(clusters.filter("keep").select(id_col),
                           id_col, "left_semi")
    return {"gated": gated, "exact_kept": exact_kept,
            "clusters": clusters, "survivors": scope.attach(survivors)}
