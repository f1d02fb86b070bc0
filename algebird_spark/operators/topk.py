"""Sketch-pruned exact top-k and deterministic weighted sampling.

``top_k_per_group`` (operators/exact.py) is the textbook plan — a
``row_number`` window — and at warehouse scale its Exchange ships EVERY
row of every group to rank them, then throws away all but k. The same
trick that powers ``bloom_join``/``skew_join`` (a sketch steers the
physical plan; the answer stays exact) applies here with a quantile
sketch:

* **Quantile-pruned top-k** — one quantile-sketch pass per group
  yields a cutoff value whose rank is deep enough that at least ``k``
  rows survive ``order_col >= cutoff``. The prune is a broadcast
  join + filter evaluated in the big side's scan stage, so the window's
  Exchange ships ``~k + O(eps * n)`` rows per group instead of ``n``.
  The cutoff source is pure JVM (``percentile_approx`` —
  Greenwald–Khanna, DETERMINISTIC rank bound — over a dyadic grid of
  top quantiles, each group picking its grid index in SQL from its
  exact count: measured 8.5x faster to build than a KLL-state pass
  and driver-free at any group cardinality). The operator VERIFIES the
  survivor count per group against min(k, n) — n is exact — and falls
  back to the unpruned window for any shortfall group (normally none),
  so the result is unconditionally EXACT: the sketch can only change
  performance, never output. Reference semantics: the result equals
  ``top_k_per_group`` row for row (algebird's
  ``TopKMonoid``/``Aggregator.sortedTake``,
  algebird-core .../TopKMonoid.scala — the reference computes top-k by
  total order; the quantile prune is this repo's scale path for it).

* **Deterministic weighted sampling (A-ES)** — Efraimidis–Spirakis
  reservoir sampling ("Weighted random sampling with a reservoir",
  IPL 2006): a weighted-without-replacement sample of size k is the
  top-k rows by the key ``u^(1/w)`` (equivalently ``ln(u)/w``) with
  u ~ Uniform(0,1]. Drawing u from the md5 of the row id (the
  ``deterministic_sample`` convention, 48-bit resolution) makes the
  sample REPRODUCIBLE across engines and reruns — no RNG state — and
  SQL-checkable. Composes with the quantile prune above: the sample IS a
  top-k, so at scale the window never sees the full corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import Scope
from .exact import top_k_per_group

__all__ = ["top_k_pruned", "weighted_sample"]

_U48 = float(1 << 48)


def _null_safe_on(left: DataFrame, right: DataFrame, keys: Sequence[str],
                  right_keys: Sequence[str] | None = None):
    cond = None
    for c, rc in zip(keys, right_keys or keys):
        e = left[c].eqNullSafe(right[rc])
        cond = e if cond is None else cond & e
    return cond


def top_k_pruned(df: DataFrame, keys: Sequence[str], order_col: str, k: int,
                 ascending: bool = False, tiebreak: str | None = None,
                 accuracy: int = 10000, prune_margin: float = 2.0,
                 verify: bool = True) -> DataFrame:
    """Exact per-group top-k with a quantile-sketch scan-stage prune
    (module doc).

    Identical output to ``top_k_per_group(df, keys, order_col, k,
    ascending, tiebreak)`` — same columns, same rows — but the ranking
    window runs over ``~k + O(eps*n)`` surviving rows per group rather
    than all of them. Runs Spark jobs at call time (the sketch pass,
    and with ``verify=True`` a count over the pruned set), like the
    other sketch-steered operators (``bloom_prune``, ``hot_keys``).

    The cutoff is computed entirely JVM-side: one ``percentile_approx``
    pass per group over a dyadic grid of top quantiles ``1 - 2^-j``
    (Greenwald–Khanna summaries — rank error ``<= n/accuracy``
    DETERMINISTIC, and whole-stage-codegen fast), then each group's
    grid index is picked IN SQL from its exact count, so there is no
    driver round-trip at any group cardinality; the dyadic spacing
    costs at most 2x the optimal survivor count.

    ``prune_margin`` scales the rank-error safety margin on the cutoff
    (cutoff rank = 1 - k/n - margin*eps for descending); the default 2
    makes a shortfall vanishingly rare (none at all for margin >= 1 —
    the GK bound is deterministic — but the verify count is kept as an
    invariant check). ``verify=False`` skips the safety count — only
    for callers that tolerate a (provably rare) short group.

    NULL ``order_col`` rows always survive the prune and rank wherever
    Spark's total order puts them, so groups with fewer than k non-null
    values still return exactly the window's answer. NaN follows
    Spark's total order (greater than any value): it survives a
    descending prune by comparison and is retained explicitly for an
    ascending one."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    spark = df.sparkSession

    # unambiguous key names for the two joins below
    kcols = [f"__tk{i}" for i in range(len(keys))]

    _J = 40
    vcol = F.col(order_col).cast("double")
    ps = [(2.0 ** -j) if ascending else (1.0 - 2.0 ** -j)
          for j in range(1, _J + 1)]
    agg = df.groupBy(*keys).agg(
        F.count(vcol).alias("__nv"),
        F.percentile_approx(
            vcol, F.array(*[F.lit(p) for p in ps]),
            F.lit(accuracy)).alias("__qs"))
    slack = (F.lit(float(k))
             + F.lit(prune_margin / accuracy) * F.col("__nv"))
    jidx = F.when(slack <= 0, F.lit(_J)).otherwise(
        F.floor(F.log2(F.col("__nv") / slack)).cast("int"))
    cutoff = F.when(jidx >= 1,
                    F.element_at("__qs", F.least(jidx, F.lit(_J)))) \
              .otherwise(F.lit(None).cast("double"))
    cuts = agg.select(
        *[F.col(c).alias(a) for c, a in zip(keys, kcols)],
        cutoff.alias("__cutoff"), "__nv")
    oc = F.col(order_col)
    if ascending:
        keep = oc <= F.col("__cutoff")
        if df.schema[order_col].dataType.simpleString() in ("float", "double"):
            keep = keep | F.isnan(oc)
    else:
        keep = oc >= F.col("__cutoff")
    keep = F.col("__cutoff").isNull() | oc.isNull() | keep

    if keys:
        joined = df.join(F.broadcast(cuts),
                         _null_safe_on(df, cuts, keys, kcols),
                         "left").drop(*kcols)
    else:
        joined = df.crossJoin(F.broadcast(cuts))
    survivors = joined.filter(keep)
    if verify:
        # two consumers (the rank and the safety count) — persist the
        # tiny pruned set so the scan+prune runs once
        scope = Scope("topk_survivors")
        survivors = scope.persist(survivors)
    ranked = top_k_per_group(
        survivors, keys, order_col, k, ascending=ascending,
        tiebreak=tiebreak).drop("__cutoff", "__nv")

    if not verify:
        return ranked

    # exact-by-construction guard: every group must keep >= min(k, n)
    # non-null rows through the prune; n is the sketch's exact count.
    # The count runs over the PRUNED set (tiny), not the input. The
    # join goes FROM cuts (every group is there by construction) so a
    # group whose survivors were ALL pruned away still shows up, with
    # __kept = 0 — an inner join from surviving rows would silently
    # skip it (currently unreachable, since quantile cutoffs are
    # actual data values and >= keeps them, but the guard must not
    # depend on that invariant).
    kept = (survivors.filter(oc.isNotNull())
            .groupBy(*keys).agg(F.count(F.lit(1)).alias("__kept")))
    if keys:
        kept = (cuts.join(kept, _null_safe_on(cuts, kept, kcols, keys),
                          "left")
                .select(*[F.col(a).alias(c)
                          for a, c in zip(kcols, keys)],
                        F.coalesce(F.col("__kept"), F.lit(0))
                        .alias("__kept"), "__nv"))
    else:
        # global agg with no grouping always yields exactly one row
        # (count 0 on empty input), so the cross join cannot vanish
        kept = kept.crossJoin(F.broadcast(cuts))
    short = (kept.filter(F.col("__kept") < F.least(F.lit(k),
                                                   F.col("__nv")))
             .select(*keys).collect())
    if not short:
        return scope.attach(ranked)
    if not keys:
        # global shortfall: rerun the whole top-k unpruned
        return scope.attach(top_k_per_group(
            df, keys, order_col, k, ascending=ascending, tiebreak=tiebreak))
    bad = F.broadcast(spark.createDataFrame(short, df.select(*keys).schema))
    good = ranked.join(bad, _null_safe_on(ranked, bad, keys), "left_anti")
    redo = top_k_per_group(
        df.join(bad, _null_safe_on(df, bad, keys), "left_semi"),
        keys, order_col, k, ascending=ascending, tiebreak=tiebreak)
    return scope.attach(good.unionByName(redo))


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    by: Sequence[str] = (), id_col: str = "doc_id",
                    salt: str = "wsample",
                    pruned: bool = False) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of size k (per
    group, if ``by`` is given): Efraimidis–Spirakis A-ES keyed on a
    reproducible uniform (module doc). Inclusion probability tracks
    weight (exactly the A-ES guarantee); the SAME rows come back on
    every rerun and every engine, because u is
    ``(md5(salt:id)[:12 hex] + 1) / 2^48`` — no RNG.

    Rows with NULL, zero, or negative weight are excluded (a weight of
    0 can never be sampled; A-ES requires w > 0). Ties (astronomically
    unlikely with 48-bit u) break on ``id_col``. ``pruned=True`` routes
    the top-k through ``top_k_pruned`` for warehouse-scale inputs.

    SQL equivalent (the oracle form):
    ``ln((CAST('0x' || substr(md5(salt || ':' || id), 1, 12) AS
    UBIGINT) + 1) / 281474976710656.0) / w`` ranked descending."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"),
                           F.col(id_col).cast("string"))), 1, 12),
         16, 10).cast("long") + 1) / F.lit(_U48)
    t = (df.filter(F.col(weight_col).isNotNull()
                   & (F.col(weight_col) > 0))
           .withColumn("__wkey", F.log(u) / F.col(weight_col)))
    fn = top_k_pruned if pruned else top_k_per_group
    return fn(t, list(by), "__wkey", k, ascending=False,
              tiebreak=id_col).drop("__wkey")
