"""Sketch-accelerated distributed joins.

The reference uses its sketches to *answer* queries; at warehouse scale
the same monoids also make the physical plan cheaper. Two classic
techniques, both EXACT (the sketch only steers the plan — every result
row is identical to the plain join, which is what makes them perfectly
oracle-checkable):

* **Bloom-pruned join** — build a Bloom filter over the small side's
  join keys in one mergeable pass (the reference's
  ``BloomFilter.aggregator``, immutable/BloomFilter.scala:342-377 —
  here ``agg.sketch_global``), broadcast the filter bytes, and drop
  big-side rows whose key cannot match *inside the scan stage*, before
  the join's Exchange. Zero false negatives means no result row is ever
  lost; the join itself removes the (bounded-probability) false
  positives. At 100 TB this is the difference between shuffling the
  full fact table and shuffling only the ~matching fraction: the probe
  is an Arrow-batched kernel in the same stage as the parquet scan, so
  pruned rows never leave the executor that read them.

* **Skew join (sketch-driven hot/cold split)** — find heavy-hitter join
  keys with one SpaceSaver pass (SpaceSaver.scala:166-187 count/error
  bounds: capacity C bounds the error by N/C, so every key with share
  >= 2/C is surfaced), then route hot-key rows through a broadcast join
  (no shuffle, so the hot key's rows stay spread across their input
  partitions instead of hammering one reducer) and the long tail
  through the normal shuffle join. The split is a partition of the
  big side's rows, so hot-set mistakes change PERFORMANCE, never the
  result — misses stay on the (correct) shuffle path, false alarms just
  broadcast a few extra dim rows. Complements AQE's skew-split (which
  splits oversized *partitions* after the shuffle has already moved the
  hot key's rows): here the hot rows never shuffle at all, and the same
  sketch pass works for repeated runs (persist the hot-key list like
  any other sketch state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..agg import probe, sketch_global
from ..sketches import BloomFilter, SpaceSaver

__all__ = ["bloom_prune", "bloom_join", "hot_keys", "skew_join",
           "asof_join"]


def bloom_prune(big: DataFrame, keys: DataFrame, big_key: str, keys_key: str,
                fp_prob: float = 0.01, num_entries: int | None = None,
                max_collect_keys: int = 4_000_000) -> DataFrame:
    """Filter ``big`` to rows whose ``big_key`` *may* appear in
    ``keys[keys_key]``: a superset of the matching rows (no false
    negatives), with the non-matching residue bounded by the Bloom FPP.
    NULL keys match nothing in an equi-join and are dropped by the
    prune (they are not matching rows, so the superset contract holds).

    Sizing: pass ``num_entries`` (e.g. from a checkpoint manifest) to
    build the filter distributed via ``sketch_global`` with zero sizing
    job. When omitted, a LIMIT-probe first checks that the small side
    really is dim-scale: if its distinct non-null key count stays
    within ``max_collect_keys`` (default 4M, ~32 MB of int64 keys —
    the same order as the Bloom bytes the driver must hold and
    broadcast anyway), ONE job collects the distinct keys and the
    driver builds an exactly-sized filter. A keys side that exceeds
    the cap degrades gracefully instead of OOMing the driver: the
    exact distinct count sizes the filter and the build runs
    distributed via ``sketch_global`` (driver only ever sees merged
    filter bytes). ``max_collect_keys=None`` disables the probe and
    always collects (the pre-cap behavior).

    The returned DataFrame's filter is a vectorized Arrow-batch probe
    (``agg.probe``: one murmur128 call per batch) evaluated wherever
    ``big``'s scan runs — upstream of any later join Exchange, so
    pruned rows are never shuffled. The filter bytes ride in the
    probe's closure, which PySpark ships as a broadcast (one copy per
    executor) once it passes 1 MB.
    """
    if num_entries is None:
        kd = (keys.select(keys_key)
              .where(F.col(keys_key).isNotNull())
              .distinct())
        if (max_collect_keys is not None
                and kd.limit(max_collect_keys + 1).count()
                > max_collect_keys):
            num_entries = kd.count()
        else:
            arr = kd.toPandas()[keys_key].to_numpy()
            bf = BloomFilter(num_entries=max(len(arr), 64),
                             fp_prob=fp_prob)
            bf.update_batch(arr)
    if num_entries is not None:
        bf = sketch_global(keys.where(F.col(keys_key).isNotNull()), keys_key,
                           lambda: BloomFilter(num_entries=num_entries,
                                               fp_prob=fp_prob))
    may_match = probe(bf, BloomFilter.contains_batch, "boolean")
    return big.filter(F.col(big_key).isNotNull()).filter(
        may_match(F.col(big_key)))


def bloom_join(big: DataFrame, small: DataFrame, big_key: str,
               small_key: str | None = None, how: str = "inner",
               fp_prob: float = 0.01,
               num_entries: int | None = None) -> DataFrame:
    """Inner/left-semi join of ``big`` with ``small``, with the big side
    Bloom-pruned before the shuffle. Result rows are EXACTLY the plain
    join's (false positives die in the join; false negatives are
    impossible), so at 10x selectivity the shuffle moves ~10x less.

    ``how='semi'`` returns only big-side columns (left_semi)."""
    if how not in ("inner", "semi"):
        raise ValueError("bloom_join supports how='inner' or 'semi'")
    small_key = small_key or big_key
    pruned = bloom_prune(big, small, big_key, small_key,
                         fp_prob=fp_prob, num_entries=num_entries)
    jhow = "left_semi" if how == "semi" else "inner"
    if big_key == small_key:
        return pruned.join(small, on=big_key, how=jhow)
    return pruned.join(small, pruned[big_key] == small[small_key], jhow)


def hot_keys(df: DataFrame, key: str, min_share: float = 0.005,
             capacity: int | None = None,
             sample_fraction: float | None = None) -> list:
    """One SpaceSaver pass over ``df[key]`` returning every key whose
    frequency share may reach ``min_share`` (upper-bound test: count >=
    min_share * N). Capacity defaults to ceil(4/min_share), which
    bounds the per-key error by N*min_share/4 — so no key with true
    share >= min_share is missed, and anything returned has true share
    > min_share*3/4. The result is bounded by capacity, safe to collect
    and broadcast.

    ``sample_fraction`` detects on a Bernoulli sample instead of the
    full table. A key with share s appears ~s*f*N times in the sample
    with relative error ~1/sqrt(s*f*N) — at f*N >= 10^6 rows a 1%-share
    key is measured to ~1%. Sampling turns the guarantee probabilistic,
    which is the right trade for ROUTING decisions (skew_join): a
    missed or spurious hot key changes only performance, never results,
    and the full pass costs a per-unique Python dict step that is the
    dominant cost at billions of mostly-unique rows."""
    if not 0 < min_share < 1:
        raise ValueError("min_share must be in (0, 1)")
    capacity = capacity or int(4.0 / min_share + 1)
    src = df.sample(fraction=sample_fraction, seed=42) \
        if sample_fraction and sample_fraction < 1.0 else df
    ss = sketch_global(src, key, lambda: SpaceSaver(capacity=capacity))
    total = sum(c for _, (c, _) in ss.counters.items())
    # merged totals undercount only when capacity evicts — the threshold
    # uses the sketch's own mass, consistent with its count estimates
    thresh = min_share * max(total, 1)
    return [item for item, c, e, _ in ss.top_k(capacity) if c >= thresh]


def skew_join(big: DataFrame, small: DataFrame, big_key: str,
              small_key: str | None = None, how: str = "inner",
              min_share: float = 0.005, hot: list | None = None,
              detect_sample: float | None = 0.02) -> DataFrame:
    """Join with sketch-driven hot/cold routing (see module docstring).

    ``hot`` overrides detection with a precomputed hot-key list (e.g.
    persisted from a previous run's SpaceSaver state — at warehouse
    scale skew is a property of the DATA, stable across runs, so
    detect once and reuse). Default detection samples 2% of the big
    side (``detect_sample``; None = full pass): sampling error can
    only misroute keys, never change results.

    ``how`` supports 'inner', 'left', 'right', and 'full'. Big-side
    rows partition exactly onto the hot/broadcast or cold/shuffle path,
    so inner/left are exact by construction. For right/full the small
    side's unmatched rows must also appear exactly once: the cold path
    joins only the NON-hot small rows (null-inclusive), and hot small
    rows that match no big row are emitted once, null-extended on the
    big side, via an anti-join against the distinct hot big keys (a
    bounded-size set: <= len(hot))."""
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(
            "skew_join supports how='inner'/'left'/'right'/'full'")
    small_key = small_key or big_key
    same = big_key == small_key

    def plain(b: DataFrame, s: DataFrame, h: str) -> DataFrame:
        # mirror the split path's schema: a shared key name collapses
        # to ONE key column regardless of whether hot keys were found
        return b.join(s, on=big_key, how=h) if same else \
            b.join(s, b[big_key] == s[small_key], h)

    if hot is None:
        hot = hot_keys(big, big_key, min_share=min_share,
                       sample_fraction=detect_sample)
    if not hot:
        return plain(big, small, how)
    is_hot = F.col(big_key).isin(hot)
    # NULL keys match nothing in an equi-join: route them cold so an
    # outer join still emits them (isin(NULL) is NULL -> ~NULL is NULL,
    # filter drops; make the cold predicates null-inclusive explicitly)
    big_hot = big.filter(is_hot)
    big_cold = big.filter(~is_hot | F.col(big_key).isNull())
    s_is_hot = F.col(small_key).isin(hot)
    small_hot = small.filter(s_is_hot)
    small_cold = small.filter(~s_is_hot | F.col(small_key).isNull())
    # hot path: big side outer-ness is preserved ('left'/'full' keep
    # unmatched big rows); unmatched SMALL hot rows are handled below,
    # so 'right'/'full' run the hot join as inner/left respectively
    hot_how = "left" if how in ("left", "full") else "inner"
    if same:
        hot_df = big_hot.join(F.broadcast(small_hot), on=big_key,
                              how=hot_how)
        cold_df = big_cold.join(small_cold, on=big_key, how=how)
    else:
        hot_df = big_hot.join(F.broadcast(small_hot),
                              big_hot[big_key] == small_hot[small_key],
                              hot_how)
        cold_df = big_cold.join(small_cold,
                                big_cold[big_key] == small_cold[small_key],
                                how)
    out = hot_df.unionByName(cold_df)
    if how in ("right", "full"):
        # hot small rows with no hot big match: with detection from the
        # big side these are rare (a detected key exists in big), but a
        # user-supplied hot list makes them possible. distinct() over
        # big_hot collapses map-side to <= len(hot) rows — broadcastable.
        matched = big_hot.select(
            F.col(big_key).alias(small_key)).distinct()
        unmatched = small_hot.join(F.broadcast(matched), on=small_key,
                                   how="left_anti")
        if same:
            ext = ([F.col(small_key).alias(big_key)]
                   + [F.lit(None).cast(big.schema[c].dataType).alias(c)
                      for c in big.columns if c != big_key]
                   + [F.col(c) for c in small.columns if c != small_key])
        else:
            ext = ([F.lit(None).cast(big.schema[c].dataType).alias(c)
                    for c in big.columns]
                   + [F.col(c) for c in small.columns])
        out = out.unionByName(unmatched.select(*ext))
    return out


_MAX_BUCKETED_KEYS = 100_000


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: "list[str] | None" = None,
              suffix: str = "_asof", direction: str = "backward",
              tolerance=None,
              time_buckets: "int | str | None" = "auto") -> DataFrame:
    """Backward as-of join: each left row picks up the right row with
    the GREATEST ``right_ts <= left_ts`` within the same ``key`` — the
    event-to-latest-snapshot join every feature/training pipeline
    needs (DuckDB/kdb ASOF JOIN semantics; a tie at equal timestamps
    matches). Spark has no native ASOF operator; a naive range join
    explodes into a per-key cross product. This implementation is a
    UNION + one window carry-forward: tag both sides, sort each key's
    merged stream by (ts, side) and carry the last non-null snapshot
    forward — ONE shuffle on ``key``, no per-key Python, no range
    blow-up; it scales like any keyed window at 100 TB (each key's
    stream sorts inside its hash partition).

    Returns every left row (left outer semantics) plus
    ``<right_ts><suffix>`` (the matched snapshot time) and
    ``<col><suffix>`` for each of ``right_cols`` (default: all right
    columns except ``key``/``right_ts``) — all NULL when no snapshot
    precedes the row. Multiple right rows at an identical (key, ts)
    are ambiguous under ASOF semantics everywhere — dedupe the right
    side first if that can occur.

    ``direction='forward'`` picks the SMALLEST ``right_ts >= left_ts``
    instead (next snapshot; ties still match). ``tolerance`` (same
    units as the ts columns, e.g. an interval expression or a number)
    rejects matches further than that from the left row — the
    staleness cap pandas ``merge_asof`` users expect; rejected rows
    keep their left columns with NULL snapshot columns.

    Scale note: a keyed window executes each key's merged stream in
    ONE task — right for high-cardinality keys (user/doc/entity ids),
    serial for a handful of keys. ``time_buckets=B`` selects the
    two-phase plan instead: the timeline slices into B QUANTILE
    buckets per key (window parallelism becomes keys x B), a TINY
    per-(key, bucket) snapshot-summary table computes the
    cross-bucket carry, and each row coalesces its within-bucket
    match with the broadcast prior-bucket carry — identical results
    (equivalence fuzz-tested both directions), no single task ever
    walks a whole key. Bucket boundaries come from one JVM
    ``percentile_approx`` pass over the merged timeline (NOT fixed
    min/max slices — a bursty timeline with most rows in one epoch
    would collapse fixed-width buckets back into one task; equi-depth
    quantile cuts keep every slice ~1/B of the ROWS regardless of
    time skew).

    The default ``time_buckets='auto'`` picks the mode from a cheap
    key-cardinality probe (one column-pruned ``approx_count_distinct``
    agg over the union — HLL map-side, no shuffle of data rows):
    >= 4x the cluster parallelism distinct keys runs the plain keyed
    window; fewer buckets the timeline so keys x B covers the
    cluster. Pass ``None`` to force the window plan (skips the probe)
    or an explicit ``B`` to force bucketing. Bucketed mode refuses
    >100k keys loudly (its per-(key, bucket) grid and broadcast carry
    are sized for the low-cardinality premise; the plain window IS
    the scale path at that cardinality).
    """
    from pyspark.sql.window import Window

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    right_cols = list(right_cols if right_cols is not None else
                      [c for c in right.columns
                       if c not in (key, right_ts)])
    snap = F.struct(F.col(right_ts).alias("__rts"),
                    *[F.col(c) for c in right_cols])
    # side codes order equal-ts rows so ties MATCH under the frame:
    # backward (frame ends at current row): right sorts before left;
    # forward (frame starts at current row): right sorts after left.
    r_side, l_side = (0, 1) if direction == "backward" else (1, 0)
    r2 = right.select(F.col(key).alias("__k"),
                      F.col(right_ts).alias("__ts"),
                      snap.alias("__snap"),
                      F.lit(r_side).alias("__side"))
    row = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(F.col(key).alias("__k"),
                     F.col(left_ts).alias("__ts"),
                     F.lit(None).cast(r2.schema["__snap"].dataType)
                     .alias("__snap"),
                     F.lit(l_side).alias("__side"),
                     row.alias("__row"))
    u = l2.unionByName(r2.withColumn(
        "__row", F.lit(None).cast(l2.schema["__row"].dataType)))
    if time_buckets == "auto":
        # mode probe: map-side HLL over the pruned key column; only
        # sketch states shuffle. Exactness is irrelevant here — the
        # estimate only steers the PLAN (either mode is exact), the
        # same contract as hot_keys/bloom_prune. Spark's builtin HLL++
        # keeps the probe in codegen; persisting/merging cardinality
        # state across runs is what this repo's HLL sketch is for.
        par = u.sparkSession.sparkContext.defaultParallelism
        n_keys = u.agg(F.approx_count_distinct("__k")).first()[0]
        if n_keys >= 4 * par:
            time_buckets = None
        else:
            import math
            time_buckets = min(256, max(8, math.ceil(
                4 * par / max(n_keys, 1))))
    if time_buckets:
        carried = _asof_carry_bucketed(u, direction, r_side,
                                       int(time_buckets))
    else:
        base = Window.partitionBy("__k").orderBy("__ts", "__side")
        if direction == "backward":
            w = base.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow)
            pick = F.last("__snap", ignorenulls=True)
        else:
            w = base.rowsBetween(Window.currentRow,
                                 Window.unboundedFollowing)
            pick = F.first("__snap", ignorenulls=True)
        carried = u.withColumn("__last", pick.over(w))
    if tolerance is not None:
        gap = (F.col("__ts") - F.col("__last.__rts")
               if direction == "backward"
               else F.col("__last.__rts") - F.col("__ts"))
        carried = carried.withColumn(
            "__last", F.when(gap <= F.lit(tolerance), F.col("__last")))
    sel = [F.col(f"__row.{c}").alias(c) for c in left.columns]
    sel.append(F.col("__last.__rts").alias(right_ts + suffix))
    sel += [F.col(f"__last.{c}").alias(c + suffix) for c in right_cols]
    return carried.where(F.col("__side") == F.lit(l_side)).select(*sel)


def _asof_carry_bucketed(u: DataFrame, direction: str, r_side: int,
                         n_buckets: int) -> DataFrame:
    """Two-phase as-of carry for LOW-cardinality keys: slice the
    timeline into up to ``n_buckets`` EQUI-DEPTH buckets so the heavy
    window partitions by (key, bucket) — keys x buckets parallel
    tasks instead of one task per key. Boundaries are timeline
    quantiles from one ``percentile_approx`` pass (Greenwald-Khanna,
    JVM-side — replaces the min/max action the fixed-width variant
    ran, so plan-time driver work stays one scalar job): every bucket
    holds ~1/n_buckets of the ROWS no matter how bursty the timeline,
    where fixed-width slices would dump a clustered epoch into one
    bucket and recreate the serial task this mode exists to fix.
    Repeated quantiles (a spike bigger than 1/n_buckets at ONE
    timestamp) collapse into fewer, wider buckets — equal timestamps
    can never split across buckets, which also preserves the
    tie-ordering contract. The cross-bucket hand-off is a per-(key,
    bucket) summary of the right side (at most keys x buckets rows —
    tiny by this mode's premise, and guarded: >_MAX_BUCKETED_KEYS
    keys raises rather than densifying a huge grid), cumulated per
    key and broadcast back; each row coalesces its within-bucket
    match with the prior-bucket carry. Equivalent to the single
    window by the associativity of last-non-null."""
    from pyspark.sql.window import Window

    # TIMESTAMP_NTZ refuses a direct double cast in Spark 4; route
    # timestamps through TIMESTAMP (session tz pinned) -> epoch double
    ts_type = u.schema["__ts"].dataType.simpleString()
    td = (F.col("__ts").cast("timestamp").cast("double")
          if "timestamp" in ts_type else F.col("__ts").cast("double"))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cut_row = u.select(F.percentile_approx(
        td, F.array(*[F.lit(q) for q in qs]), F.lit(10_000))
        .alias("__cuts")).first()
    bounds = sorted({b for b in (cut_row["__cuts"] or []) if b is not None})
    if not bounds:
        bucket, eff_buckets = F.lit(0), 1
    else:
        # equi-depth assignment: bucket = #boundaries at-or-below ts
        # (n_buckets-1 codegen comparisons per row; bounded by the
        # mode's premise of modest B)
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + (td >= F.lit(b)).cast("int")
        eff_buckets = len(bounds) + 1
    n_buckets = eff_buckets
    ub = u.withColumn("__b", bucket)
    wb = Window.partitionBy("__k", "__b").orderBy("__ts", "__side")
    if direction == "backward":
        within = F.last("__snap", ignorenulls=True).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        summary, shift = F.max, (Window.unboundedPreceding, -1)
    else:
        within = F.first("__snap", ignorenulls=True).over(
            wb.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        summary, shift = F.min, (1, Window.unboundedFollowing)
    ub = ub.withColumn("__within", within)
    # per-(key, bucket) right-side boundary snapshot (ties pre-deduped
    # per the asof contract, so the (ts, snap) struct extremum is the
    # bucket's as-of hand-off)
    p = (ub.where(F.col("__side") == F.lit(r_side))
         .groupBy("__k", "__b")
         .agg(summary(F.struct(F.col("__ts"), F.col("__snap")))
              .getField("__snap").alias("__bsnap")))
    # densify over every bucket so rows in snapshot-free buckets still
    # find their carry; keys x n_buckets rows — tiny by premise, and
    # the premise is ENFORCED: misusing bucketed mode on a
    # high-cardinality key would densify a huge grid and broadcast a
    # huge carry, so fail loudly instead (the LIMIT probe caps the
    # count scan; the distinct result is reused by the grid below)
    kdf = u.select("__k").distinct()
    nk = kdf.limit(_MAX_BUCKETED_KEYS + 1).count()
    if nk > _MAX_BUCKETED_KEYS:
        raise ValueError(
            f"asof_join bucketed mode saw more than {_MAX_BUCKETED_KEYS} "
            "distinct keys; the per-(key, bucket) grid/broadcast-carry "
            "design is for LOW key cardinality — use the default keyed "
            "window (time_buckets=None), which parallelizes by key at "
            "this cardinality")
    grid = (kdf.crossJoin(u.sparkSession.range(n_buckets)
                          .select(F.col("id").cast("int").alias("__b"))))
    wp = Window.partitionBy("__k").orderBy("__b").rowsBetween(*shift)
    carry_fn = (F.last("__bsnap", ignorenulls=True)
                if direction == "backward"
                else F.first("__bsnap", ignorenulls=True))
    carry = (grid.join(p, ["__k", "__b"], "left")
             .withColumn("__prior", carry_fn.over(wp))
             .select("__k", "__b", "__prior"))
    out = (ub.join(F.broadcast(carry), ["__k", "__b"], "left")
           .withColumn("__last", F.coalesce(F.col("__within"),
                                            F.col("__prior")))
           .drop("__b", "__within", "__prior"))
    return out
