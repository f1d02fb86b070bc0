"""Connected components over a DataFrame edge list — the clustering
step of near-duplicate deduplication (pairwise near-dup relations are
not transitive; dedup keeps one doc per *component* of the candidate
graph, cf. reference MapAlgebra.toGraph's adjacency representation,
`core/MapAlgebra.scala`).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
and Beyond", SoCC 2014). Each round is two groupBy-min + join passes;
converges in O(log^2 n) rounds (O(log n) observed). Scale design:

* No ``collect_list`` of neighborhoods — a 10^8-degree hub (e.g. an
  empty-text fingerprint bucket) would OOM an executor. Both star
  operations reduce to ``groupBy(u).min(v)`` followed by a join back
  to the edges, so the widest shuffle value is one long.
* Every round materializes via a local checkpoint
  (``cache.Scope.checkpoint``) to truncate plan lineage — iterative
  DataFrame algorithms otherwise recompile an exponentially growing
  plan. Each superseded round is freed once the next one exists.
* Convergence check is an aggregate signature (count + sum of
  xxhash64 over canonical directed edges), not a set-difference join:
  one extra reduce per round instead of an extra shuffle.

After convergence the edge set is a star forest: every edge points a
node at its component's minimum node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import Scope


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    mins = (sym.groupBy("src").agg(F.min("dst").alias("__m"))
               .select("src", F.least("src", "__m").alias("__m")))
    return (sym.join(mins, "src")
               .filter(F.col("dst") > F.col("src"))
               .select(F.col("dst").alias("src"),
                       F.col("__m").alias("dst"))
               .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges big->small, connect all of N(u) + {u} to the min."""
    o = e.select(F.greatest("src", "dst").alias("src"),
                 F.least("src", "dst").alias("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("__m"))
    relinked = (o.join(mins, "src")
                 .select(F.col("dst").alias("src"),
                         F.col("__m").alias("dst")))
    selfed = mins.select(F.col("src"), F.col("__m").alias("dst"))
    return (relinked.union(selfed)
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _signature(e: DataFrame):
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return row["n"], row["h"]


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         vertices: DataFrame | None = None,
                         vertex_col: str | None = None,
                         max_iter: int = 50) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``edges``: undirected edge list (any orientation, duplicates and
    self-loops tolerated). ``vertices``: optional one-column node
    DataFrame; isolated nodes (no edges) appear in the output labeled
    by themselves. Returns (node, component), carrying the Scope of
    the final round's checkpoint as ``_algebird_cache``.
    """
    scope = Scope("connected_components")
    e = scope.checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
             .distinct())
    sig = _signature(e)
    for _ in range(max_iter):
        e2 = scope.checkpoint(_small_star(_large_star(e)))
        sig2 = _signature(e2)
        scope.free(e)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    else:
        scope.release()
        raise RuntimeError(f"connected_components: no convergence "
                           f"in {max_iter} rounds")
    labels = e.select(F.col("src").alias("node"),
                      F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"),
                     F.col("dst").alias("component")).distinct()
    out = (labels.union(roots)
                 .groupBy("node").agg(F.min("component").alias("component")))
    if vertices is not None:
        vcol = vertex_col or vertices.columns[0]
        v = vertices.select(F.col(vcol).alias("node")).distinct()
        out = (v.join(out, "node", "left")
                .select("node",
                        F.coalesce("component", "node").alias("component")))
    return scope.attach(out)


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Cluster near-duplicate PAIRS into transitive components and pick
    one survivor (min id) per cluster: (doc_id, component, keep).

    Near-dup similarity is not transitive (A~B and B~C does not imply
    A~C above threshold) — keeping "one doc per verified pair" both
    over- and under-deletes. The standard policy (e.g. web-scale
    near-dedup pipelines) is one survivor per connected component of
    the candidate-pair graph, which this computes distributively.
    Docs in no pair form their own singleton cluster and survive.
    """
    cc = connected_components(pairs, "id_a", "id_b",
                              vertices=docs.select(id_col),
                              vertex_col=id_col)
    return cc._algebird_cache.attach(
        cc.select(F.col("node").alias(id_col), "component",
                  (F.col("node") == F.col("component")).alias("keep")))
