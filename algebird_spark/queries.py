"""Query catalog: every operator exposed as a (spark, sf_dir) -> DataFrame
callable plus a DuckDB-equivalent oracle SQL string (see __spark_entry__.py).

Design notes for the sketch queries: a sketch estimate is approximate,
so the oracle cannot reproduce it value-for-value. Instead each sketch
query returns (a) exact quantities computed *in Spark* (which the SQL
oracle reproduces — this validates the distributed plumbing), and (b)
boolean verdicts asserting the sketch's published error bound against
those exact values (the oracle asserts literal TRUE — this validates
the bound held). A sketch bug flips the boolean and fails the diff.

The heavy lifting in every sketch query is distributed (partition
combine + tree merge); only the final per-group states (a handful of
rows) are presented driver-side.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .agg import (STATE_COL, _drop_spark_finders, _matrix, probe,
                  sketch_by_key, sketch_global, sketch_rollup, spread,
                  with_presented)
from .cache import Scope
from .operators import dedup, exact, multimodal, similarity, text
from .sketches import CMS, HLL, KLL, BloomFilter, MinHash, TDigest, from_bytes

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# sketch queries (estimate-bound validation pattern)
# ===========================================================================

def q_hll_distinct_per_group(spark, sf):
    """Distinct l_partkey per l_returnflag via HLL(p=14) vs exact."""
    li = _t(spark, sf, "lineitem")
    p = 14
    # r8 (late): HLL insertion is idempotent (register = max(rho)), so
    # the build is fed by the JVM-side DISTINCT (flag, partkey) pairs —
    # the Python boundary shrinks from |lineitem| rows to the ~10x
    # smaller distinct pair set, and the cached pairs ALSO supply the
    # exact side (count over distinct pairs == count_distinct over the
    # table). Estimates and exact counts are value-identical (A/B'd
    # equal at sf0.1 and a 6M-row fixture, 1.44x/3.55x faster;
    # scripts/ab_r08_hll_distinct.py). The same trick was REJECTED for
    # the rollup sketch queries: their declared output carries the
    # n_values row count, which dedup would change.
    scope = Scope("hll_distinct_pairs")
    dk = scope.persist(li.select("l_returnflag", "l_partkey").distinct())
    dk.count()  # materialize once; both sides below read the cache
    states = sketch_by_key(dk, ["l_returnflag"], "l_partkey", lambda: HLL(p=p))
    est = with_presented(states, lambda sk: {"est": sk.estimate()}, "est double")
    exact_df = dk.groupBy("l_returnflag").agg(
        F.count("l_partkey").alias("exact_distinct"))
    bound = 3.5 * 1.04 / math.sqrt(2 ** p)
    return scope.attach(
        exact_df.join(est.select("l_returnflag", "est"), "l_returnflag")
        .select("l_returnflag", "exact_distinct",
                (F.abs(F.col("est") - F.col("exact_distinct"))
                 / F.col("exact_distinct") <= bound).alias("hll_ok")))


def q_hll_global_distinct(spark, sf):
    """Global distinct o_custkey via HLL(p=14)."""
    od = _t(spark, sf, "orders")
    sk = sketch_global(od, "o_custkey", lambda: HLL(p=14))
    exact = od.agg(F.count_distinct("o_custkey")).collect()[0][0]
    ok = abs(sk.estimate() - exact) / exact <= 3.5 * 1.04 / math.sqrt(2 ** 14)
    return spark.createDataFrame(
        [Row(exact_distinct=int(exact), hll_ok=bool(ok))],
        StructType([StructField("exact_distinct", LongType(), False),
                    StructField("hll_ok", BooleanType(), False)]))


def q_hll_intersection(spark, sf):
    """|partkeys(A) ∩ partkeys(R)| via HLL inclusion-exclusion vs exact."""
    li = _t(spark, sf, "lineitem")
    p = 14
    states = sketch_by_key(li.filter(F.col("l_returnflag").isin("A", "R")),
                           ["l_returnflag"], "l_partkey", lambda: HLL(p=p))
    by_flag = {r["l_returnflag"]: from_bytes(bytes(r[STATE_COL]))
               for r in states.collect()}
    approx = HLL.intersection_size([by_flag["A"], by_flag["R"]])
    a = li.filter("l_returnflag = 'A'").select("l_partkey")
    r = li.filter("l_returnflag = 'R'").select("l_partkey")
    exact = a.intersect(r).count()
    union = a.union(r).distinct().count()
    ok = abs(approx.estimate - exact) <= 5 * (1.04 / math.sqrt(2 ** p)) * union
    return spark.createDataFrame(
        [Row(exact_intersection=int(exact), hll_ok=bool(ok))],
        StructType([StructField("exact_intersection", LongType(), False),
                    StructField("hll_ok", BooleanType(), False)]))


def q_hll_rollup(spark, sf):
    """Distinct l_partkey over ROLLUP(l_returnflag, l_linestatus), all
    levels from ONE scan: ``sketch_rollup`` builds the finest HLL
    states once, then derives the coarser levels by merging STATES
    (monoid associativity — algebird Monoid.scala:41-76), never
    rescanning lineitem. Exact rollup joined per (keys, grouping_id)
    for the 3.5σ bound verdict; at 100 TB the coarse levels cost one
    merge of a KB-scale state table instead of extra corpus passes."""
    from concurrent.futures import ThreadPoolExecutor

    li = _t(spark, sf, "lineitem")
    p = 14

    # both sides scan lineitem independently — submit as concurrent
    # Spark jobs (the _quantile_query pattern: measured 2.79 -> 1.56 s
    # there); each side is a handful of rows, so the verdict join is
    # driver-side on tiny collections, not a plan join
    def sketch_side():
        states = sketch_rollup(li, ["l_returnflag", "l_linestatus"],
                               "l_partkey", lambda: HLL(p=p))
        est = with_presented(states, lambda sk: {"est": sk.estimate()},
                             "est double")
        return est.collect()

    def exact_side():
        return (li.rollup("l_returnflag", "l_linestatus")
                .agg(F.count_distinct("l_partkey").alias("exact_distinct"),
                     F.grouping_id().alias("grouping_id"))).collect()

    with ThreadPoolExecutor(2) as pool:
        f_sk, f_ex = pool.submit(sketch_side), pool.submit(exact_side)
        est_rows, exact_rows = f_sk.result(), f_ex.result()
    exact = {(r["l_returnflag"], r["l_linestatus"], r["grouping_id"]): r
             for r in exact_rows}
    bound = 3.5 * 1.04 / math.sqrt(2 ** p)
    rows = []
    for r in est_rows:
        key = (r["l_returnflag"], r["l_linestatus"], r["grouping_id"])
        ex = exact[key]["exact_distinct"]
        rows.append(Row(l_returnflag=key[0], l_linestatus=key[1],
                        grouping_id=int(key[2]), exact_distinct=int(ex),
                        hll_ok=bool(abs(r["est"] - ex) / ex <= bound)))
    return spark.createDataFrame(rows, StructType([
        StructField("l_returnflag", StringType(), True),
        StructField("l_linestatus", StringType(), True),
        StructField("grouping_id", LongType(), False),
        StructField("exact_distinct", LongType(), False),
        StructField("hll_ok", BooleanType(), False)]))


def q_hll_rollup_sketch(spark, sf):
    """Bench-only: the SKETCH side of ``q_hll_rollup`` alone — one
    lineitem scan builds the finest HLL states, coarse rollup levels
    derive by merging states. This is the production operator cost; the
    exact count_distinct ROLLUP in ``q_hll_rollup`` is an in-query
    oracle for the correctness gate, timed separately as
    ``q_hll_rollup_exact`` so the headline doesn't conflate them."""
    li = _t(spark, sf, "lineitem")
    states = sketch_rollup(li, ["l_returnflag", "l_linestatus"],
                           "l_partkey", lambda: HLL(p=14))
    return with_presented(states, lambda sk: {"est": sk.estimate()},
                          "est double")


def q_hll_rollup_exact(spark, sf):
    """Bench-only: the exact-oracle side of ``q_hll_rollup`` alone
    (Spark's native count_distinct over ROLLUP — the comparison cost,
    not the engine's)."""
    li = _t(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count_distinct("l_partkey").alias("exact_distinct"),
                 F.grouping_id().alias("grouping_id")))


def q_kll_rollup(spark, sf):
    """Quantiles of l_extendedprice over ROLLUP(l_returnflag,
    l_linestatus), every level from ONE scan: ``api.quantile_rollup``
    builds the finest KLL(k=200) states once and derives the coarser
    levels by merging STATES (KLL merge preserves the rank-error
    contract — Karnin/Lang/Liberty 2016 §3; algebird's QTree offers the
    same quantile-monoid shape, QTree.scala:63-122). The exact rollup
    percentiles join per (keys, grouping_id, p) and each KLL bound
    interval must contain its exact percentile. At 100 TB the coarse
    levels cost a merge of a KB-scale state table, not extra passes."""
    from .api import quantile_rollup
    li = _t(spark, sf, "lineitem")
    ps = [0.25, 0.5, 0.75, 0.95]
    est = quantile_rollup(li, "l_extendedprice",
                          by=["l_returnflag", "l_linestatus"],
                          quantiles=ps, k=200)
    ps_sql = ",".join(map(str, ps))
    exact_df = (li.rollup("l_returnflag", "l_linestatus")
                .agg(F.expr(f"percentile(l_extendedprice, array({ps_sql}))")
                     .alias("qs"),
                     F.grouping_id().alias("grouping_id"))
                .select("l_returnflag", "l_linestatus", "grouping_id",
                        F.posexplode("qs").alias("pos", "exact_pct"))
                .withColumn("p", F.element_at(
                    F.array(*[F.lit(p) for p in ps]), F.col("pos") + 1))
                .drop("pos"))
    on = (est["l_returnflag"].eqNullSafe(exact_df["l_returnflag"])
          & est["l_linestatus"].eqNullSafe(exact_df["l_linestatus"])
          & (est["grouping_id"] == exact_df["grouping_id"])
          & (est["p"] == exact_df["p"]))
    return (est.join(exact_df, on)
            .select(est["l_returnflag"], est["l_linestatus"],
                    est["grouping_id"], est["p"],
                    # interpolated percentiles of 2-decimal prices have
                    # 5e-4 granularity: round(4) is boundary-safe
                    F.round(exact_df["exact_pct"], 4).alias("exact_pct"),
                    ((F.col("low") <= exact_df["exact_pct"])
                     & (exact_df["exact_pct"] <= F.col("high")))
                    .alias("kll_ok")))


def q_topk_rollup(spark, sf):
    """Top-5 l_suppkey by row count at every level of
    ROLLUP(l_returnflag, l_linestatus) from ONE scan:
    ``api.topk_rollup`` builds the finest SpaceSaver states once and
    merges STATES for the coarser levels (SpaceSaver.scala:124-160
    merge). The exactness gate needs capacity > supplier cardinality
    (a SpaceSaver that never evicts holds exact counts), so capacity
    is DERIVED from the fixture — 4x the supplier table's row count
    (one tiny-dim count job) with a 4096 floor — instead of a magic
    constant that would silently go eviction-lossy (and oracle-red
    with no hint why) on a bigger fixture. The oracle reproduces the
    full (level, rank, item, cnt) table with SpaceSaver's tie rule
    (count desc, key asc)."""
    from .api import topk_rollup
    li = _t(spark, sf, "lineitem")
    n_supp = _t(spark, sf, "supplier").count()
    out = topk_rollup(li, "l_suppkey",
                      by=["l_returnflag", "l_linestatus"],
                      k=5, capacity=max(4096, 4 * n_supp))
    return out.withColumnRenamed("item", "l_suppkey")


def q_asof_join(spark, sf):
    """Backward as-of join: every event picks up the user's LATEST
    purchase at-or-before its timestamp (operators/joins.py::asof_join
    — union + one window carry-forward, one shuffle, no range
    blow-up). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — two
    entirely different algorithms must agree row-for-row. Timestamps
    return as epoch micros (engine-portable)."""
    from .operators.joins import asof_join
    ev = _t(spark, sf, "events")
    snaps = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", F.col("value").alias("snap_value")))
    joined = asof_join(ev, snaps, key="user_id",
                       left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp"))
        .alias("snap_ts_us"),
        F.round(F.col("snap_value_asof"), 6).alias("snap_value"))


def q_asof_rollup(spark, sf):
    """Operator COMPOSITION under one hash (r6 VERDICT #6): the
    feature-store shape — asof_join enriches every event with whether
    the user had a purchase snapshot at-or-before it, then
    ``sketch_rollup`` counts distinct users per (event_type,
    has_snap) level, (event_type), and grand total from ONE scan of
    the joined stream. Two engines compose two entirely different
    algorithms (union+window carry + HLL state merges vs DuckDB's
    native ASOF JOIN + GROUPING SETS) and must agree on every exact
    count, with the HLL estimate inside its 3.5-sigma bound at every
    level. The joined stream persists once (two consumers: sketch
    side + exact side, submitted concurrently)."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.joins import asof_join

    ev = _t(spark, sf, "events")
    snaps = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", F.col("value").alias("snap_value")))
    joined = asof_join(ev, snaps, key="user_id",
                       left_ts="ts", right_ts="ts")
    enriched = joined.select(
        "user_id", "event_type",
        F.col("ts_asof").isNotNull().alias("has_snap"))
    # both sides collect, so the cache is dead once they return
    scope = Scope("asof_rollup_enriched")
    enriched = scope.persist(enriched)
    enriched.count()
    p = 14

    def sketch_side():
        states = sketch_rollup(enriched, ["event_type", "has_snap"],
                               "user_id", lambda: HLL(p=p))
        est = with_presented(states, lambda sk: {"est": sk.estimate()},
                             "est double")
        return est.collect()

    def exact_side():
        return (enriched.rollup("event_type", "has_snap")
                .agg(F.count_distinct("user_id").alias("exact_distinct"),
                     F.grouping_id().alias("grouping_id"))).collect()

    with scope, ThreadPoolExecutor(2) as pool:
        f_sk, f_ex = pool.submit(sketch_side), pool.submit(exact_side)
        est_rows, exact_rows = f_sk.result(), f_ex.result()
    exact = {(r["event_type"], r["has_snap"], r["grouping_id"]): r
             for r in exact_rows}
    bound = 3.5 * 1.04 / math.sqrt(2 ** p)
    rows = []
    for r in est_rows:
        key = (r["event_type"], r["has_snap"], r["grouping_id"])
        ex = exact[key]["exact_distinct"]
        # NULL booleans round-trip as NaN through the DuckDB->pandas
        # hash path; encode the rolled-up level as the string 'all'
        hs = "all" if key[1] is None else ("true" if key[1] else "false")
        rows.append(Row(event_type=key[0], has_snap=hs,
                        grouping_id=int(key[2]), exact_distinct=int(ex),
                        hll_ok=bool(abs(r["est"] - ex) / ex <= bound)))
    return spark.createDataFrame(rows, StructType([
        StructField("event_type", StringType(), True),
        StructField("has_snap", StringType(), False),
        StructField("grouping_id", LongType(), False),
        StructField("exact_distinct", LongType(), False),
        StructField("hll_ok", BooleanType(), False)]))


def q_time_rollup(spark, sf):
    """Distinct active users at every grain of the time hierarchy —
    (day, hour), (day), grand total — from ONE scan of events:
    ``sketch_rollup`` over timestamp-derived keys. This is the
    dashboard cube every analytics store maintains (hourly/daily/all
    uniques); at 100 TB the daily and global uniques are free state
    merges of the hourly HLLs instead of two more corpus passes.
    Exact rollup joined per (keys, grouping_id) for the 3.5σ bound
    with a ONE-count absolute floor: hourly cells hold only tens of
    users, where the relative bound dips below the integer granularity
    of any cardinality estimate (measured max |est-exact| over all 751
    sf0.01 cells: 0.996 — sparse-mode estimates are within one count
    everywhere; a pure relative gate would flag sub-one deviations)."""
    ev = _t(spark, sf, "events")
    keyed = (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
             .withColumn("hour", F.hour("ts").cast("long")))
    p = 14
    states = sketch_rollup(keyed, ["day", "hour"], "user_id",
                           lambda: HLL(p=p))
    est = with_presented(states, lambda sk: {"est": sk.estimate()},
                         "est double")
    exact_df = (keyed.rollup("day", "hour")
                .agg(F.count_distinct("user_id").alias("exact_distinct"),
                     F.grouping_id().alias("grouping_id")))
    bound = 3.5 * 1.04 / math.sqrt(2 ** p)
    on = (est["day"].eqNullSafe(exact_df["day"])
          & est["hour"].eqNullSafe(exact_df["hour"])
          & (est["grouping_id"] == exact_df["grouping_id"]))
    return (est.join(exact_df, on)
            .select(est["day"], est["hour"], est["grouping_id"],
                    exact_df["exact_distinct"],
                    (F.abs(F.col("est") - F.col("exact_distinct"))
                     <= F.greatest(bound * F.col("exact_distinct"),
                                   F.lit(1.0))).alias("hll_ok")))


def q_cms_point_queries(spark, sf):
    """CMS frequency of every distinct l_partkey: never underestimates,
    overestimate <= eps*N. The probe runs IN-PLAN: the final sketch
    state (one ~600 KB blob — the only thing the driver ever holds)
    ships to executors inside ``agg.probe``, which scores the exact
    groupBy counts; the bound verdicts fold with bool_and. No full key
    set is ever collected — stays runnable at sf10+."""
    li = _t(spark, sf, "lineitem")
    eps, delta = 0.0005, 1e-6
    # (r8 late: overlapping the exact groupBy with the build via the
    # thread pattern was MEASURED NEUTRAL at sf0.1 AND at a 6M-row
    # fixture — the Python build already saturates all cores, so the
    # concurrent JVM job just waits for slots; OPTIMIZATION_r08.md.
    # Kept sequential.)
    sk = sketch_global(li, "l_partkey", lambda: CMS(eps=eps, delta=delta))
    cms_est = probe(sk, CMS.frequencies, "long")
    total = sk.total
    probed = (li.groupBy("l_partkey").count()
              .withColumn("est", cms_est(F.col("l_partkey"))))
    return probed.agg(
        F.count("*").alias("n_queried"),
        F.bool_and(F.col("est") >= F.col("count")).alias("never_under"),
        F.bool_and(F.col("est") <= F.col("count") + eps * total)
         .alias("within_eps"))


def q_cms_heavy_hitters(spark, sf):
    """TopPct heavy hitters of l_suppkey: contains every key with
    count >= pct*N, nothing below (pct-eps)*N
    (CountMinSketchTest.scala:560-561 semantics)."""
    li = _t(spark, sf, "lineitem")
    pct, eps = 0.005, 0.0005
    sk = sketch_global(li, "l_suppkey",
                       lambda: CMS(eps=eps, delta=1e-6, heavy_hitters_pct=pct))
    # the heavy-hitter set is tiny by construction (<= 1/pct keys) — it
    # broadcasts into the plan; exact counts stay distributed and the
    # verdicts fold with aggregates (no per-key collect)
    hh = list(sk.heavy_hitters().keys())
    n = sk.total
    in_hh = F.col("l_suppkey").isin(hh) if hh else F.lit(False)
    is_true_hh = F.col("count") >= pct * n
    return (li.groupBy("l_suppkey").count().agg(
        F.sum(is_true_hh.cast("long")).alias("n_true_hh"),
        F.bool_and(~is_true_hh | in_hh).alias("contains_all"),
        F.bool_and(F.when(in_hh, F.col("count") >= (pct - eps) * n)
                    .otherwise(F.lit(True))).alias("within_relaxed")))


def q_bloom_membership(spark, sf):
    """Bloom over o_custkey; probe every c_custkey IN-PLAN: zero false
    negatives, FPP on a guaranteed-absent id range <= 2x target. The
    filter state ships to executors inside ``agg.probe``;
    presence truth comes from a join against distinct order keys; all
    verdicts fold with aggregates — no key set is ever collected."""
    od = _t(spark, sf, "orders")
    cu = _t(spark, sf, "customer")
    # r8: the distinct key set feeds BOTH the sizing count and the
    # presence-truth join — persist it so the distinct aggregation
    # runs once (was one count job + a second distinct inside the
    # probe plan)
    scope = Scope("bloom_membership_keys")
    dk = scope.persist(
        od.select(F.col("o_custkey").alias("c_custkey")).distinct())
    n_keys = dk.count()
    fpp = 0.01
    # r8 (late): build from the CACHED distinct key set, not a second
    # orders scan — Bloom insertion is idempotent (bit-OR), so the BIT
    # ARRAY (all contains_batch reads; all this query's output depends
    # on) is identical whether each key is inserted once or
    # |orders|/|keys| times (tests/test_api.py::
    # test_bloom_from_distinct_keys_bit_identical; only the untouched
    # n_inserted header differs), and the build pass now reads ~n_keys
    # cached rows instead of re-scanning the table through the Python
    # boundary
    bf = sketch_global(dk, "c_custkey",
                       lambda: BloomFilter(num_entries=max(n_keys, 64),
                                           fp_prob=fpp))
    bf_hit = probe(bf, BloomFilter.contains_batch, "boolean")
    present = dk.withColumn("__present", F.lit(True))
    probed = (cu.select("c_custkey")
              .join(present, "c_custkey", "left")
              .select(bf_hit(F.col("c_custkey")).alias("hit"),
                      F.coalesce("__present", F.lit(False)).alias("present")))
    stats = probed.agg(
        F.count("*").alias("n_probed"),
        F.sum(F.col("present").cast("long")).alias("n_present_exact"),
        F.sum((F.col("present") & ~F.col("hit")).cast("long"))
         .alias("false_negatives"))
    # guaranteed-absent probe range: measured FPP folds in-plan too
    absent = spark.range(10**9, 10**9 + 50_000) \
        .select(bf_hit(F.col("id").cast("long")).alias("hit"))
    fpp_df = absent.agg(
        (F.avg(F.col("hit").cast("double")) <= 2 * fpp + 1e-4).alias("fpp_ok"))
    return scope.attach(stats.crossJoin(fpp_df))


_QUANTILE_PS = [0.05, 0.25, 0.5, 0.75, 0.95]


def _percentile_interp(position: float, lo: int, hi: int, v_lo: float,
                       v_hi: float) -> float:
    """Replicates Spark Percentile.getPercentile's interpolation
    EXACTLY (same IEEE ops in the same order, including both
    short-circuits), so callers that replaced the `percentile(...)`
    aggregate with an order-statistics plan return bit-identical
    doubles. ``lo``/``hi`` are the 0-based floor/ceil ranks."""
    if hi == lo or v_hi == v_lo:
        return v_lo
    return (hi - position) * v_lo + (position - lo) * v_hi


def _exact_percentiles(df, key_col: str, value_col: str,
                       ps: list[float], accuracy: int = 10_000) -> dict:
    """EXACT per-group percentiles of ``value_col`` (same values as
    ``percentile(value_col, array(ps))``, bit-for-bit) without the
    aggregate's per-group counts map, which on near-distinct columns
    holds ~n entries and dominated the quantile queries (10.1 s
    measured alone at sf1.0 vs ~1.7 s for this plan).

    Three codegen jobs (guide §1.2 — fix the distributed algorithm):

    1. ``percentile_approx`` at deterministic GK ``accuracy`` brackets
       every needed rank inside a narrow value window (rank error
       <= n/accuracy per side, Greenwald-Khanna bound);
    2. one conditional aggregate counts the EXACT number of rows below
       each window start (plus the group count n);
    3. the window rows — a ~6*len(ps)/accuracy fraction of the input —
       are collected and sorted driver-side; the needed order
       statistics are picked by exact rank.

    The GK bound makes a window miss impossible in theory; a
    containment check still guards it, falling back to a row_number
    window plan (also exact) on any shortfall. Interpolation
    replicates Percentile.getPercentile via ``_percentile_interp``."""
    from pyspark.sql import Window

    spark = df.sparkSession
    margin = 3.0 / accuracy
    src = (df.select(F.col(key_col).alias("k"),
                     F.col(value_col).cast("double").alias("v"))
           .filter(F.col("v").isNotNull()))
    qs = []
    for p in ps:
        qs += [max(0.0, p - margin), min(1.0, p + margin)]
    cuts = {r["k"]: list(r["c"]) for r in src.groupBy("k").agg(
        F.percentile_approx("v", F.array(*[F.lit(q) for q in qs]),
                            F.lit(accuracy)).alias("c")).collect()}
    names = [x for i in range(len(ps)) for x in (f"vlo{i}", f"vhi{i}")]
    cut_df = spark.createDataFrame(
        [(k, *vals) for k, vals in cuts.items()],
        ", ".join([f"k {src.schema['k'].dataType.simpleString()}"]
                  + [f"{n} double" for n in names]))
    j = src.join(F.broadcast(cut_df), "k")

    def rank_counts():
        return {r["k"]: r for r in j.groupBy("k").agg(
            F.count("*").alias("n"),
            *[F.sum((F.col("v") < F.col(f"vlo{i}")).cast("long"))
              .alias(f"below{i}") for i in range(len(ps))]).collect()}

    def window_rows():
        cond = None
        for i in range(len(ps)):
            c = ((F.col("v") >= F.col(f"vlo{i}"))
                 & (F.col("v") <= F.col(f"vhi{i}")))
            cond = c if cond is None else cond | c
        return j.filter(cond).select("k", "v").collect()

    # jobs 2 and 3 both depend only on the cuts — submit concurrently
    # (the _quantile_query thread pattern)
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(2) as pool:
        f_s, f_w = pool.submit(rank_counts), pool.submit(window_rows)
        stats, win = f_s.result(), f_w.result()
    by_key: dict = {}
    for r in win:
        by_key.setdefault(r["k"], []).append(r["v"])
    out = {}
    fallback = []
    for key, st in stats.items():
        n = st["n"]
        allv = by_key.get(key, [])
        got = []
        for i, p in enumerate(ps):
            position = (n - 1) * p
            lo = int(math.floor(position))
            hi = int(math.ceil(position))
            vlo_c, vhi_c = cuts[key][2 * i], cuts[key][2 * i + 1]
            wv = sorted(v for v in allv if vlo_c <= v <= vhi_c)
            below = st[f"below{i}"]
            if not (below <= lo and hi <= below + len(wv) - 1):
                fallback.append(key)
                break
            got.append(_percentile_interp(position, lo, hi,
                                          wv[lo - below], wv[hi - below]))
        else:
            out[key] = got
    if fallback:
        # GK bound violated (should be impossible): exact row_number
        # window pick for the affected groups — slower, still exact.
        need_rows = []
        pos_by_key = {}
        for key in fallback:
            n = stats[key]["n"]
            trip = []
            for p in ps:
                position = (n - 1) * p
                lo = int(math.floor(position)) + 1
                hi = int(math.ceil(position)) + 1
                trip.append((position, lo, hi))
                need_rows += [(key, lo), (key, hi)]
            pos_by_key[key] = trip
        need_df = spark.createDataFrame(
            sorted(set(need_rows)),
            f"k {src.schema['k'].dataType.simpleString()}, rn long")
        w = Window.partitionBy("k").orderBy("v")
        picked = {(r["k"], r["rn"]): r["v"] for r in
                  src.join(F.broadcast(need_df.select("k").distinct()),
                           "k", "left_semi")
                  .withColumn("rn", F.row_number().over(w).cast("long"))
                  .join(F.broadcast(need_df), ["k", "rn"]).collect()}
        for key in fallback:
            out[key] = [
                _percentile_interp(position, lo - 1, hi - 1,
                                   picked[(key, lo)], picked[(key, hi)])
                for position, lo, hi in pos_by_key[key]]
    return out


def _quantile_query(spark, sf, factory, ok_fn, sketch_name):
    from concurrent.futures import ThreadPoolExecutor

    li = _t(spark, sf, "lineitem")

    def sketch_side():
        states = sketch_by_key(li, ["l_returnflag"], "l_extendedprice",
                               factory)
        return {r["l_returnflag"]: from_bytes(bytes(r[STATE_COL]))
                for r in states.collect()}

    # exact side (r8): `percentile(...)` built a ~5.5M-entry counts
    # map per group (l_extendedprice is 76% distinct at sf1.0) and
    # cost 10.1 s measured alone. Replaced by the GK-pruned exact
    # pick (_exact_percentiles below): deterministic percentile_approx
    # bounds shrink each needed rank to a ~6/A-fraction value window,
    # codegen aggregates count exact ranks below each window, and the
    # exact order statistics come from sorting only the collected
    # window rows. Measured 10.1 -> ~1.7 s; values bit-identical (the
    # interpolation REPLICATES Percentile.getPercentile: position =
    # (n-1)*p, floor/ceil, the equal-key and whole-position
    # short-circuits, (higher-position)*v_lo + (position-lower)*v_hi).
    def exact_side():
        return _exact_percentiles(li, "l_returnflag", "l_extendedprice",
                                  _QUANTILE_PS)

    # the two sides are independent Spark jobs over the same scan —
    # submit concurrently (Spark's scheduler interleaves them; measured
    # 2.79 -> 1.56 s warm at sf0.1)
    with ThreadPoolExecutor(2) as pool:
        f_sk, f_ex = pool.submit(sketch_side), pool.submit(exact_side)
        sketches, exact = f_sk.result(), f_ex.result()
    rows = []
    for flag in sorted(sketches):
        for p, ex in zip(_QUANTILE_PS, exact[flag]):
            # interpolated percentiles of 2-decimal prices have 5e-4
            # granularity: round(4) is boundary-safe, round(2) is not
            rows.append(Row(l_returnflag=flag, p=float(p),
                            exact_pct=float(round(ex, 4)),
                            **{f"{sketch_name}_ok": bool(ok_fn(sketches[flag], p, ex))}))
    return spark.createDataFrame(rows, StructType([
        StructField("l_returnflag", StringType(), False),
        StructField("p", DoubleType(), False),
        StructField("exact_pct", DoubleType(), False),
        StructField(f"{sketch_name}_ok", BooleanType(), False)]))


def q_kll_quantiles(spark, sf):
    """KLL(k=200) quantile bounds contain the exact percentile."""
    def ok(sk, p, ex):
        lo, hi = sk.quantile_bounds(p)
        return lo <= ex <= hi
    return _quantile_query(spark, sf, lambda: KLL(k=200), ok, "kll")


def q_tdigest_quantiles(spark, sf):
    """t-digest(200): rank error of the estimated quantile <= 0.02."""
    def ok(sk, p, ex):
        est = sk.quantile(p)
        return abs(sk.rank(est) - sk.rank(ex)) <= 0.02 or abs(est - ex) / max(abs(ex), 1e-9) <= 0.02
    return _quantile_query(spark, sf, lambda: TDigest(200), ok, "tdigest")


def q_eventually_quantiles(spark, sf):
    """Generic ``Eventually`` combinator (Eventually.scala:1-221) over
    KLL in ``list`` mode, one build per l_returnflag at TWO thresholds:

    * threshold 1,000 — every group crosses it, so the state must have
      CONVERTED and the KLL bounds must contain the exact percentile;
    * threshold 10^9 — every group stays EXACT, so the zero-error
      quantile (with one-rank slack for interpolation) must bracket
      the exact percentile.

    The is_exact flags are asserted inside the booleans, so a broken
    transition (converting too early, failing to convert, or losing
    values across the hand-off) fails the value hash."""
    from .sketches import Eventually

    from concurrent.futures import ThreadPoolExecutor

    li = _t(spark, sf, "lineitem")

    def states_at(threshold):
        df = sketch_by_key(li, ["l_returnflag"], "l_extendedprice",
                           lambda: Eventually(KLL(k=200), threshold,
                                              "list"))
        return {r["l_returnflag"]: from_bytes(bytes(r[STATE_COL]))
                for r in df.collect()}

    def exact_pcts():
        return {r["l_returnflag"]: r["q"] for r in li
                .select("l_returnflag", "l_extendedprice")
                .groupBy("l_returnflag").agg(
            F.expr(f"percentile(l_extendedprice, array({','.join(map(str, _QUANTILE_PS))}))")
            .alias("q")).collect()}

    # three independent jobs over one scan — submit concurrently
    with ThreadPoolExecutor(3) as pool:
        f_c = pool.submit(states_at, 1_000)
        f_e = pool.submit(states_at, 10**9)
        f_x = pool.submit(exact_pcts)
        conv, exact_sk, exact = f_c.result(), f_e.result(), f_x.result()
    rows = []
    for flag in sorted(conv):
        c, e = conv[flag], exact_sk[flag]
        n = max(e.estimate(), 1.0)
        for p, ex in zip(_QUANTILE_PS, exact[flag]):
            lo, hi = c.quantile_bounds(p)
            conv_ok = (not c.is_exact) and lo <= ex <= hi
            # exact state: one-rank slack absorbs SQL interpolation
            elo = e.quantile(max(0.0, p - 1.0 / n))
            ehi = e.quantile(min(1.0, p + 1.0 / n))
            exact_ok = e.is_exact and elo <= ex <= ehi
            rows.append(Row(l_returnflag=flag, p=float(p),
                            exact_pct=float(round(ex, 4)),
                            conv_ok=bool(conv_ok),
                            exact_ok=bool(exact_ok)))
    return spark.createDataFrame(rows, StructType([
        StructField("l_returnflag", StringType(), False),
        StructField("p", DoubleType(), False),
        StructField("exact_pct", DoubleType(), False),
        StructField("conv_ok", BooleanType(), False),
        StructField("exact_ok", BooleanType(), False)]))


def q_minhash_jaccard(spark, sf):
    """Jaccard(partkeys of flag A, partkeys of flag R) via MinHash(256)."""
    li = _t(spark, sf, "lineitem")
    states = sketch_by_key(li.filter(F.col("l_returnflag").isin("A", "R")),
                           ["l_returnflag"], "l_partkey",
                           lambda: MinHash(num_lanes=256))
    by_flag = {r["l_returnflag"]: from_bytes(bytes(r[STATE_COL]))
               for r in states.collect()}
    est = by_flag["A"].similarity(by_flag["R"])
    a = li.filter("l_returnflag = 'A'").select("l_partkey")
    r = li.filter("l_returnflag = 'R'").select("l_partkey")
    inter = a.intersect(r).count()
    union = a.union(r).distinct().count()
    exact = inter / union
    return spark.createDataFrame(
        [Row(jaccard_exact=float(round(exact, 2)),
             minhash_ok=bool(abs(est - exact) < 0.15))],
        StructType([StructField("jaccard_exact", DoubleType(), False),
                    StructField("minhash_ok", BooleanType(), False)]))


# ===========================================================================
# exact-parity queries (straight SQL equality with the oracle)
# ===========================================================================

def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape (multi-aggregate composition = Aggregator.join)."""
    li = _t(spark, sf, "lineitem")
    # rounding note: true sums have <= 4 decimal digits (prices 2dp x
    # discounts 2dp), so round(4) is never on a rounding boundary while
    # cross-engine float-sum drift is ~1e-7 — round(2) would sit exactly
    # on .xx5 boundaries and flap
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
         .alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order")))


def q_moments(spark, sf):
    """Moments parity: population variance/stddev (MomentsGroup)."""
    li = _t(spark, sf, "lineitem")
    out = exact.moments(li, "l_extendedprice", ["l_returnflag"])
    return out.select(
        "l_returnflag", "n",
        F.round("mean", 2).alias("mean"),
        F.round("variance", 0).alias("variance"),
        F.round("stddev", 2).alias("stddev"),
        F.round("skewness", 4).alias("skewness"),
        F.round("kurtosis", 4).alias("kurtosis"))


def q_correlation(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = exact.correlation(li, "l_quantity", "l_extendedprice", ["l_returnflag"])
    return out.select("l_returnflag",
                      F.round("pearson", 4).alias("pearson"),
                      F.round("covariance", 2).alias("covariance"))


def q_topk_parts(spark, sf):
    pt = _t(spark, sf, "part")
    return exact.top_k(pt, "p_retailprice", 10, tiebreak="p_partkey") \
        .select("p_partkey", "p_name", "p_retailprice")


def q_topk_per_nation(spark, sf):
    su = _t(spark, sf, "supplier")
    return exact.top_k_per_group(su, ["s_nationkey"], "s_acctbal", 3,
                                 tiebreak="s_suppkey") \
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")


def q_cube_orders(spark, sf):
    od = _t(spark, sf, "orders")
    return exact.cube_agg(od, ["o_orderstatus", "o_orderpriority"],
                          [F.round(F.sum("o_totalprice"), 2).alias("total"),
                           F.count("*").alias("n")])


def q_rollup_orders(spark, sf):
    od = _t(spark, sf, "orders")
    return exact.rollup_agg(od, ["o_orderstatus", "o_orderpriority"],
                            [F.round(F.sum("o_totalprice"), 2).alias("total"),
                             F.count("*").alias("n")])


def q_sum_by_key(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = exact.sum_by_key(
        li.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        ["l_orderkey"], {"revenue": "revenue", "l_quantity": "total_qty"})
    return out.select("l_orderkey", F.round("revenue", 4).alias("revenue"),
                      F.round("total_qty", 4).alias("total_qty"))


def q_map_outer_join(spark, sf):
    """MapAlgebra.join: per-customer order stats FULL OUTER customer table."""
    od = _t(spark, sf, "orders")
    cu = _t(spark, sf, "customer")
    lhs = od.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spent"))
    rhs = cu.select(F.col("c_custkey").alias("custkey"),
                    F.round("c_acctbal", 2).alias("acctbal"))
    return exact.map_join(lhs, rhs, "custkey")


def q_exists_forall(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_or(F.col("l_discount") > 0.05).alias("exists_big_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("forall_positive_qty"))


def q_max_min_by(spark, sf):
    su = _t(spark, sf, "supplier")
    out = exact.max_min_by(su, ["s_nationkey"], "s_acctbal", "s_name")
    return out.select("s_nationkey", "argmax", "argmin",
                      F.round("max_val", 2).alias("max_val"),
                      F.round("min_val", 2).alias("min_val"))


def q_deterministic_sample(spark, sf):
    od = _t(spark, sf, "orders")
    return exact.deterministic_sample(od, "o_orderkey", 0.1) \
        .select("o_orderkey", "o_custkey")


def q_running_sum(spark, sf):
    od = _t(spark, sf, "orders")
    out = exact.running_agg(od, ["o_custkey"], "o_orderkey", "o_totalprice",
                            "running_total")
    return out.select("o_custkey", "o_orderkey",
                      F.round("running_total", 2).alias("running_total"))


def q_last_n_window(spark, sf):
    li = _t(spark, sf, "lineitem")
    from pyspark.sql import Window
    # (l_orderkey, l_linenumber) is NOT unique per suppkey in the fixture;
    # ordering additionally by the aggregated value makes remaining ties
    # permutation-invariant for the frame sums
    w = Window.partitionBy("l_suppkey") \
        .orderBy("l_orderkey", "l_linenumber", "l_quantity") \
        .rowsBetween(-2, Window.currentRow)
    return (li.withColumn("last3_qty", F.round(F.sum("l_quantity").over(w), 2))
              .select("l_suppkey", "l_orderkey", "l_linenumber", "last3_qty"))


def q_decayed_value(spark, sf):
    ev = _t(spark, sf, "events")
    out = exact.decayed_sum(ev, ["user_id"], "ts", "value",
                            half_life_seconds=7 * 86400.0)
    return out.select("user_id", F.round("decayed", 2).alias("decayed"))


def q_head_last(spark, sf):
    """head/last aggregators with an explicit unique ordering
    (Aggregator.head/last; fold order made deterministic)."""
    li = _t(spark, sf, "lineitem")
    # unique compound order: (orderkey, linenumber) repeats in the
    # fixture, suppkey disambiguates
    ord_expr = ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 100_000
                + F.col("l_suppkey"))
    out = exact.head_last(li.withColumn("__ord", ord_expr),
                          ["l_returnflag"], "__ord", "l_extendedprice")
    return out.select("l_returnflag",
                      F.round("head", 2).alias("head_price"),
                      F.round("last", 2).alias("last_price"))


def q_either_split(spark, sf):
    """either combinator: route small-quantity rows to the left sum
    (extended price) and the rest to the right sum (quantity)."""
    li = _t(spark, sf, "lineitem")
    out = exact.either_agg(li, F.col("l_quantity") < 25,
                           F.col("l_extendedprice"), F.col("l_quantity"),
                           ["l_returnflag"])
    return out.select("l_returnflag",
                      F.round("left_sum", 4).alias("left_sum"), "left_n",
                      F.round("right_sum", 4).alias("right_sum"), "right_n")


def q_count_distinct_exact(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count_distinct("l_partkey", "l_suppkey").alias("n_part_supp"))


# ===========================================================================
# training-data pipeline queries (documents / embeddings)
# ===========================================================================

def _docs_with_dups(spark, sf):
    """documents UNION deterministic duplicates: docs whose
    md5(doc_id) hex starts below '2' (~1/8 of rows, engine-portable
    rule) are re-emitted with doc_id + 10^9 and the SAME text. The
    sf0.001/sf0.01 fixtures contain zero natural duplicate texts, which
    made the round-1 dedup correctness checks vacuous; this view plants
    a known duplicate population at every SF, reproducible in the
    DuckDB oracle with the same SQL rule."""
    docs = _t(spark, sf, "documents")
    dups = (docs.filter(F.substring(F.md5(F.col("doc_id").cast("string")),
                                    1, 1) < F.lit("2"))
            .withColumn("doc_id", F.col("doc_id") + F.lit(10**9)))
    return docs.unionByName(dups)


def q_dedup_exact(spark, sf):
    """Exact dedup counts over the planted-duplicate view; the verdict
    columns are exact and SQL-reproducible, and n_dup_groups > 0 at
    every SF (non-vacuous). Aggregated in one pass in-plan."""
    docs = _docs_with_dups(spark, sf)
    groups = dedup.exact_dup_groups(docs, "text", "doc_id")
    counts = docs.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("text").alias("n_unique_texts"))
    return counts.crossJoin(
        groups.agg(F.count("*").alias("n_dup_groups")))


def q_pii_scrub(spark, sf):
    """PII redaction over documents with deterministically PLANTED
    PII (every 3rd doc gets an email + phone + IP appended, built from
    doc_id so both engines inject byte-identical text): counts per
    kind, scrubbed-length total, and a no-residual gate (nothing
    matching any PII pattern survives). All JVM-side regexp expressions
    (operators/text.py::scrub_pii) — the patterns are RE2-safe so the
    DuckDB oracle runs the literal same strings."""
    docs = _t(spark, sf, "documents")
    inject = F.concat(
        F.col("text"), F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +555 123 4567, host 10.0."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".77"))
    injected = docs.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, inject)
        .otherwise(F.col("text")))
    scrubbed = text.scrub_pii(injected)
    any_pat = "|".join(text.PII_PATTERNS[k]
                       for k in ("email", "phone", "ipv4"))
    return scrubbed.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("emails"),
        F.sum("n_phone").cast("bigint").alias("phones"),
        F.sum("n_ipv4").cast("bigint").alias("ips"),
        F.sum(F.length("text_scrubbed")).cast("bigint").alias("clean_len"),
        F.bool_and(~F.col("text_scrubbed").rlike(any_pat))
        .alias("no_residual"))


def q_domain_stats(spark, sf):
    """Domain-level corpus stats with deterministically PLANTED URLs
    (every 2nd doc gets a mixed-case www URL appended, derived from
    doc_id so both engines inject byte-identical text): extract_domain
    (lowercase + www-strip, all-JVM regexp) then per-domain doc counts
    and char sums — the grouping key every domain-quality / domain-mix
    pipeline stage needs. Docs without a URL land in the '' domain
    (regexp_extract no-match contract, identical in DuckDB)."""
    docs = _t(spark, sf, "documents")
    inject = F.concat(
        F.col("text"), F.lit(" via https://www.Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
    injected = docs.withColumn(
        "text", F.when(F.col("doc_id") % 2 == 0, inject)
        .otherwise(F.col("text")))
    return (injected
            .withColumn("domain", text.extract_domain(F.col("text")))
            .groupBy("domain")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("chars")))


def q_doc_chunks(spark, sf):
    """Context-window chunking of every document (max 48 whitespace
    tokens, 8-token overlap): one row per chunk with its exact text
    content hashed (md5 — engine-portable), so the oracle verifies
    CONTENT, boundaries and the trailing-chunk drop rule, not just
    counts. Map-only explode (operators/text.py::chunk_documents) —
    no shuffle before the final order-free aggregate-less projection."""
    docs = _t(spark, sf, "documents")
    chunks = text.chunk_documents(docs, max_tokens=48, overlap=8)
    return chunks.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "n_chunk_tokens", F.md5(F.col("chunk_text")).alias("chunk_md5"))


def q_text_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    prof = docs.select(
        "lang",
        text.token_count(F.col("text")).alias("n_tok"),
        text.punct_ratio(F.col("text")).alias("pr"))
    return prof.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
        F.round(F.avg("pr"), 4).alias("avg_punct_ratio"))


def q_text_quality(spark, sf):
    """Text-analysis operator battery over documents (quality_score,
    detect_language, stopword_ratio, bpe_ish_token_count) with
    oracle-pinned invariant booleans: scores/ratios stay in [0,1],
    the BPE-ish count upper-bounds the whitespace count (it splits
    punctuation into singletons), and language-ID always returns a
    code from the supported set ('und' when no stopwords hit — the
    fixture text is synthetic, so accuracy is asserted in pytest on
    real sentences, not here). n_docs is exact per source."""
    docs = _t(spark, sf, "documents")
    prof = docs.select(
        "source",
        text.quality_score(F.col("text")).alias("q"),
        text.stopword_ratio(F.col("text")).alias("sw"),
        text.detect_language(F.col("text")).alias("lid"),
        text.token_count(F.col("text")).alias("ws"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe"))
    return prof.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.bool_and((F.col("q") >= 0) & (F.col("q") <= 1))
         .alias("quality_in_unit"),
        F.bool_and((F.col("sw") >= 0) & (F.col("sw") <= 1))
         .alias("stopword_in_unit"),
        F.bool_and(F.col("lid").isin("en", "de", "fr", "es", "und"))
         .alias("lang_code_valid"),
        F.bool_and(F.col("bpe") >= F.col("ws")).alias("bpe_upper_bounds_ws"))


def q_text_repetition(spark, sf):
    """Gopher-style intra-document repetition filter signals
    (operators/text.py:repetition_stats — zero-shuffle mapInArrow;
    tokens never leave their scan task). Per-source: exact flag counts
    at the paper-shaped thresholds (top-2-gram frac > 0.2, duplicate-
    3-gram frac > 0.1) plus the per-source maxima — all integers or
    identical int-ratio doubles, so the oracle reproduces them
    value-for-value."""
    docs = (_t(spark, sf, "documents")
            .filter(F.trim(F.col("text")) != "")
            .select("doc_id", "source", "text"))
    # the per-doc Counter kernel is CPU-bound: spread it across cores
    # (r8: 1.8 s -> 0.65 s at sf1.0 for a ~0.1 s round-robin shuffle
    # of a few MB)
    st = text.repetition_stats(spread(docs))
    return st.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("top2_frac") > 0.2).cast("long"))
         .alias("n_top2_flagged"),
        F.sum((F.col("dup3_frac") > 0.1).cast("long"))
         .alias("n_dup3_flagged"),
        F.round(F.max("top2_frac"), 6).alias("max_top2_frac"),
        F.round(F.max("dup3_frac"), 6).alias("max_dup3_frac"))


def q_budget_sample(spark, sf):
    """Token-budget data mixing (operators/exact.py:
    token_budget_sample): 40% of the corpus token mass split uniformly
    across sources; the md5-prefix Bernoulli keep-set is engine-
    portable, so the oracle reproduces the EXACT kept rows and token
    masses — determinism is the point (reproducible mixtures across
    engines and reruns)."""
    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    grand = docs.select(F.sum(text.token_count(F.col("text")))
                        .alias("g")).collect()[0]["g"]
    out = exact.token_budget_sample(docs, total_budget=0.4 * float(grand),
                                    mix="uniform")
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum(text.token_count(F.col("text"))).cast("long")
         .alias("tokens_kept"))


def q_pack_sequences(spark, sf):
    """GPT-style token-stream packing (operators/text.py:
    pack_sequences — all-JVM two-phase distributed prefix sum): pack
    each source's documents into 512-token training sequences and
    report exact packing facts (doc/bin/boundary-spanning counts) the
    oracle reproduces from a plain window cumsum."""
    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    packed = text.pack_sequences(docs, 512)
    return packed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.floor((F.sum("n_tokens") - 1) / 512) + 1).alias("n_bins"),
        F.sum((F.col("bin_end") > F.col("bin_start")).cast("long"))
         .alias("n_spanning"))


def q_train_splits(spark, sf):
    """Deterministic train/val/test assignment (operators/exact.py:
    assign_splits): one md5-prefix hash cut at cumulative-fraction
    thresholds — disjoint + exhaustive by construction, stable across
    engines/reruns/corpus growth. The oracle recomputes the identical
    assignment, so per-(source, split) counts match exactly."""
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    out = exact.assign_splits(docs, {"train": 0.8, "val": 0.1,
                                     "test": 0.1})
    return out.groupBy("source", "__split").agg(
        F.count("*").alias("n_docs"))


def q_doc_fingerprint(spark, sf):
    """Duplicate fingerprint groups over the planted-duplicate view —
    compares actual md5 fingerprints AND group sizes to the oracle."""
    docs = _docs_with_dups(spark, sf)
    return (docs.select(text.fingerprint(F.col("text")).alias("fp"))
                .groupBy("fp").agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1))


def q_dedup_keep_min_id(spark, sf):
    """dedup_exact operator (keep min doc_id per distinct text) over the
    planted-duplicate view: survivor count == distinct texts and no
    planted id (>= 10^9) survives when its original is present."""
    docs = _docs_with_dups(spark, sf)
    kept = dedup.dedup_exact(docs, "text", "doc_id")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum((F.col("doc_id") >= 10**9).cast("long")).alias("planted_kept"))


def q_minhash_lsh_recall(spark, sf):
    """MinHash-LSH recall against PLANTED near-duplicates: docs selected
    by the md5 rule (and >= 30 tokens) get a copy with one appended
    token — shingle Jaccard (L-2)/(L-1) >= 0.96. The LSH pipeline
    (sign -> band -> bucket-join -> exact-Jaccard verify) must recover
    >= 90% of the planted pairs; at 64 perms / 16 bands the per-pair
    miss probability is ~(1 - 0.96^4)^16 ~ 5e-14, so the boolean is
    stable. n_planted is exact and SQL-reproducible."""
    docs = _t(spark, sf, "documents")
    eligible = docs.filter(
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
         < F.lit("2"))
        & (text.token_count(F.col("text")) >= 30))
    planted = eligible.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))         .withColumn("text", F.concat(F.col("text"), F.lit(" zzqx917")))
    view = docs.unionByName(planted)
    found = dedup.near_dup_pairs_minhash(view, "doc_id", "text",
                                         num_perm=64, bands=16,
                                         threshold=0.7)
    pairs = eligible.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(10**9)).alias("id_b"))
    # ONE aggregation pass: planted-pair count and hit count fold
    # together (the old two-agg + crossJoin shape cost two extra jobs
    # of pure fixed overhead at bench scale)
    hit = pairs.join(
        found.select("id_a", "id_b").withColumn("__f", F.lit(1)),
        ["id_a", "id_b"], "left")
    return hit.agg(
        F.count("*").alias("n_planted"),
        (F.count("__f") >= 0.9 * F.count("*")).alias("recall_ok"))


def q_ngram_jaccard_dedup(spark, sf):
    """EXACT n-gram Jaccard near-dup (inverted shingle index, no
    probabilistic candidate stage) — full pair set value-checked
    against a DuckDB string-shingle inverted index. jaccard_m4 =
    floor(jaccard*10000 + 0.5): the Jaccard doubles are bit-identical
    on both sides (same int inputs, one IEEE division), the fixed
    rounding just gives the hash a stable integer column."""
    docs = _t(spark, sf, "documents")
    out = dedup.near_dup_pairs_ngram(docs, "doc_id", "text",
                                     shingle_n=3, threshold=0.5,
                                     approx_rows=_parquet_rows(sf, "documents"))
    return out.select(
        "id_a", "id_b",
        F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")
        .alias("jaccard_m4"))


def _parquet_rows(sf: str, table: str) -> int | None:
    """Row count of a fixture table from parquet FOOTER metadata only —
    the cheap cardinality hint the banding operators ask their callers
    for (``approx_rows``), with zero Spark jobs. Returns None when the
    path is not plain local parquet (caller then keeps the operator's
    conservative default)."""
    import glob
    import os
    try:
        import pyarrow.parquet as _pq
        path = os.path.join(sf, f"{table}.parquet")
        files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
                 if os.path.isdir(path) else [path])
        if not files:
            return None
        return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def q_simhash_near_dup(spark, sf):
    """SimHash near-dup pairs (hamming <= 3). Non-SQL-expressible
    (murmur64 fingerprint banding) -> rows-only oracle check.

    Rows-only is STRUCTURAL here, not deferred polish (r7 probe,
    /tmp-reproducible): promotion via the minhash_near_dup route
    (exact-Jaccard oracle + once-per-fixture no-miss proof) is
    impossible because the Hamming<=3 set and shingle-Jaccard
    threshold sets do not nest — simhash approximates token-frequency
    COSINE, so on these fixtures hamming<=3 misses pairs up to exact
    bigram Jaccard 0.989 (sf0.1: 65 of 256 j>=0.5 pairs missed, max
    missed j 0.986-0.989 at every SF) while catching others down to
    j=0.889. No Jaccard threshold theta gives {hamming<=3 & j>=theta}
    == {j>=theta}, and DuckDB cannot recompute the murmur64 majority
    vote. The family's oracle-gated check is simhash_planted_recall
    (planted Hamming-0 clones, 100% recall gate)."""
    docs = _t(spark, sf, "documents")
    # footer-metadata row hint (no Spark job): lets the operator pick
    # the wide 8-chunk banding once the fixture outgrows the compact
    # 4-chunk scheme's 16-bit key space (r8; measured at 50k docs:
    # 33.9M raw candidate pairs under 4 chunks — simhash pieces
    # CONCENTRATE, max bucket 2357 — vs 1.15M under 8 chunks; the
    # candidate set and thus the output are identical by pigeonhole +
    # exact Hamming verify)
    return dedup.near_dup_pairs_simhash(docs, "doc_id", "text", max_hamming=3,
                                        approx_rows=_parquet_rows(sf, "documents"))


def q_minhash_near_dup(spark, sf):
    """MinHash-LSH candidates verified with exact shingle Jaccard
    >= 0.7 — VALUE-checked since r7 (the index_dedup argument,
    promoted off the rows-only list per the r6 VERDICT): the output
    is always a SUBSET of the exact pair set (candidates are verified
    with exact Jaccard before the threshold filter — false positives
    cannot survive), and on these fixtures it EQUALS it, because
    every qualifying pair sits at j >= 0.8 where the seed-fixed 16x4
    banding's miss probability is <= 2.2e-4 per pair (1-(1-j^4))^16
    at j=0.8; <= 1.6e-7 at the j >= 0.889 bulk) — and the signatures
    are deterministic murmur mixes, so 'no miss' was checked ONCE per
    fixture (pair sets exactly equal at sf0.001/0.01/0.1) and holds
    on every rerun. The oracle is DuckDB's exact inverted-index
    Jaccard join; jaccard is an exact integer ratio on both sides,
    reported with the stable floor(j*10000+0.5) convention."""
    docs = _t(spark, sf, "documents")
    out = dedup.near_dup_pairs_minhash(docs, "doc_id", "text",
                                       num_perm=64, bands=16, threshold=0.7)
    return out.select(
        "id_a", "id_b",
        F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")
        .alias("jaccard_m4"))


def q_embedding_topk(spark, sf):
    """Exact brute-force cosine top-5 for the 3 lowest vec_ids."""
    emb = _t(spark, sf, "embeddings")
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = similarity.cosine_topk(emb, queries, k=5)
    return out.select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rank")


def q_embedding_lsh_recall(spark, sf):
    """LSH-bucketed ANN vs exact top-5: per-query recall (rows-only —
    recall depends on the LSH seed, validated by the recall column)."""
    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = (emb.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact_k = similarity.cosine_topk(emb, queries, k=5) \
        .select("q_id", F.col("vec_id").alias("nn"))
    # fixture embeddings are near-random (NN cosine ~0.4), so buckets
    # must be coarse: 4 planes x 8 tables + 1-bit probes gives ~0.95
    # expected recall at that cosine; with real high-cosine corpora use
    # 8+ planes for tighter buckets
    approx_k = similarity.lsh_multitable_topk(emb, queries, k=5, dim=dim,
                                              n_planes=4, n_tables=8,
                                              multiprobe=True) \
        .select("q_id", F.col("vec_id").alias("nn"))
    hit = exact_k.join(approx_k, ["q_id", "nn"]).groupBy("q_id") \
        .agg(F.count("*").alias("hits"))
    return (exact_k.groupBy("q_id").agg(F.count("*").alias("k"))
            .join(hit, "q_id", "left")
            .select("q_id", F.round(F.coalesce(F.col("hits"), F.lit(0))
                                    / F.col("k"), 2).alias("recall")))


def q_multimodal_features(spark, sf):
    """Media pipeline VALUE check (round 4 — was rows-only): synthetic
    blobs -> batched feature extraction -> per-kind stats. The exact
    columns (n, avg_bytes) reproduce in SQL from the generator's
    definition (kind = i%3, bytes = 128 + (i%5)*64 — the payload
    CONTENT is opaque but its shape is specified); the verdict
    booleans assert codec-invariants the oracle pins TRUE:

    * feat_dim_ok    — every feature has the declared dimension;
    * feat_range_ok  — every component in [0, 1) (both the fake codec
      and a real normalized-pixel decode guarantee this);
    * feat_batch_invariant — a second extraction with a DIFFERENT
      Arrow batch size yields byte-identical features per media_id
      (determinism + batching-independence of the mapInArrow plumbing).
    """
    media = multimodal.synthetic_media(spark, n=96)
    feats = multimodal.extract_features(media)
    again = (multimodal.extract_features(media, batch_rows=7)
             .select(F.col("media_id"), F.col("feature").alias("feature2")))
    joined = feats.join(again, "media_id")
    in_range = F.forall("feature",
                        lambda x: (x >= 0.0) & (x < 1.0))
    return joined.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
        F.bool_and(F.size("feature") == 16).alias("feat_dim_ok"),
        F.bool_and(in_range).alias("feat_range_ok"),
        F.bool_and(F.col("feature") == F.col("feature2"))
         .alias("feat_batch_invariant"))


def q_wav_features(spark, sf):
    """REAL audio decode, value-checked (round 7 — closes the 'codec
    reality' brief item without new dependencies): 60 deterministic
    PCM16 WAV clips (stdlib ``wave`` writer — sine at
    200+40*(i%5) Hz, 250+50*(i%4) ms at 8 kHz, back half silenced)
    flow through the same ``extract_features`` mapInArrow plumbing
    with :class:`multimodal.WaveAudioCodec` (stdlib ``wave`` reader +
    numpy PCM parse). The exact column reproduces in SQL from the WAV
    FORMAT itself — ``n_bytes = 44 + 2*samples`` (RIFF header + PCM16
    framing) — and the verdicts pin decode SEMANTICS no payload-hash
    fake can fake: the planted silent half must come back as exact
    zero bins and the sine half as near-peak bins."""
    from .operators.multimodal import WaveAudioCodec, synth_wav_bytes
    rows = [(f"w{i:05d}", "audio",
             bytearray(synth_wav_bytes(200.0 + 40 * (i % 5),
                                       250 + 50 * (i % 4), rate=8000,
                                       silence_tail=0.5)))
            for i in range(60)]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary")
    feats = multimodal.extract_features(media, WaveAudioCodec(16))
    head = F.slice("feature", 1, 8)
    tail = F.slice("feature", 9, 8)
    return feats.select(
        "media_id", "n_bytes",
        (F.size("feature") == 16).alias("feat_dim_ok"),
        (F.forall("feature", lambda x: (x >= 0.0) & (x < 1.0)))
        .alias("feat_range_ok"),
        ((F.array_min(head) > 0.5)
         & (F.array_max(tail) == F.lit(0.0).cast("float")))
        .alias("silence_split_ok"))


# ===========================================================================
# round-1b: QTree / SpaceSaver / SetSize / time-indexed sketch queries
# ===========================================================================

def q_qtree_quantile_bounds(spark, sf):
    """QTree HARD bounds contain the exact percentile (QTree.scala:285-315).

    The bounds cover the order statistic at rank p*n; the oracle's
    percentile INTERPOLATES between ranks floor(p*(n-1)) and
    ceil(p*(n-1)), so the containment check spans that +-1-rank
    interval — still a hard-bounds guarantee, rank-aligned."""
    from .sketches import QTree

    def ok(sk, p, ex):
        dr = 1.5 / max(sk.total, 1)
        lo, _ = sk.quantile_bounds(max(0.0, p - dr))
        _, hi = sk.quantile_bounds(min(1.0, p + dr))
        return lo <= ex <= hi
    return _quantile_query(spark, sf, lambda: QTree(k=10, base_level=-2),
                           ok, "qtree")


def q_spacesaver_topk(spark, sf):
    """SpaceSaver top-5 l_suppkey: capacity > cardinality -> exact counts."""
    from .sketches import SpaceSaver
    li = _t(spark, sf, "lineitem")
    sk = sketch_global(li, "l_suppkey", lambda: SpaceSaver(capacity=4096))
    rows = [Row(l_suppkey=int(item), cnt=int(count))
            for item, count, _err, _g in sk.top_k(5)]
    return spark.createDataFrame(rows, StructType([
        StructField("l_suppkey", LongType(), False),
        StructField("cnt", LongType(), False)]))


def q_setsize_distinct(spark, sf):
    """SetSize in exact mode == COUNT(DISTINCT) — EventuallyMonoid's
    exact phase (HyperLogLog.scala:718-745)."""
    from .sketches import SetSize
    od = _t(spark, sf, "orders")
    states = sketch_by_key(od, ["o_orderstatus"], "o_custkey",
                           lambda: SetSize(max_set_size=1_000_000, p=14))
    est = with_presented(states, lambda sk: {"n_custkeys": int(sk.size())},
                         "n_custkeys long")
    return est.select("o_orderstatus", "n_custkeys")


def q_hllseries_since(spark, sf):
    """HLLSeries: distinct user_id over the trailing half of event time,
    reconstructed from one time-indexed state, vs exact. Built through
    the distributed multi-column harness (partition combine -> state
    merge); only the window midpoint (2 scalars) touches the driver —
    the state itself is presented in-plan."""
    from .sketches.timeseries import HLLSeries
    ev = _t(spark, sf, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp")).cast("double"))
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    mid_us = (float(lo) + float(hi)) / 2
    states = sketch_by_key(ev, [], ["user_id", "us"],
                           lambda: HLLSeries(p=14))
    est = with_presented(
        states, lambda sk: {"est": float(sk.since(mid_us).estimate())},
        "est double")
    exact_df = ev.filter(F.col("us") >= mid_us).agg(
        F.count_distinct("user_id").alias("exact_recent_users"))
    bound = 3.5 * 1.04 / math.sqrt(2 ** 14)
    return (exact_df.crossJoin(est.select("est"))
            .select("exact_recent_users",
                    (F.abs(F.col("est") - F.col("exact_recent_users"))
                     / F.greatest(F.col("exact_recent_users"), F.lit(1))
                     <= bound).alias("hllseries_ok")))


def q_decayed_value_sketch(spark, sf):
    """Per-user DecayedValue mergeable states, built through the
    distributed multi-column harness, agree with the SQL decay
    expression to 1e-9 relative (DecayedValue.scala:31-58 semantics).
    The comparison itself runs in-plan: states join the exact SQL
    answer per user and only the folded (n_users, bool) pair returns."""
    from .sketches.timeseries import DecayedValue
    half = 7 * 86400.0
    ev = _t(spark, sf, "events").withColumn(
        "sec", F.col("ts").cast("timestamp").cast("double"))
    states = sketch_by_key(ev, ["user_id"], ["value", "sec"],
                           lambda: DecayedValue(half_life=half))
    est = with_presented(states, lambda sk: {"est": float(sk.present())},
                         "est double")
    exact_df = exact.decayed_sum(ev, ["user_id"], "ts", "value",
                                 half_life_seconds=half)
    joined = est.select("user_id", "est").join(exact_df, "user_id")
    ok = (F.abs(F.col("est") - F.col("decayed"))
          <= 1e-9 * F.greatest(F.abs(F.col("decayed")), F.lit(1e-9)))
    return joined.agg(F.count("*").alias("n_users"),
                      F.bool_and(ok).alias("decayed_ok"))


def q_exphist_window_count(spark, sf):
    """ExpHist trailing-window count within its epsilon bound vs exact.
    The state is built through the distributed harness (partition
    combine -> keyless tree merge) and presented in-plan; only the
    window parameter (2 scalars) touches the driver."""
    from .sketches.timeseries import ExpHist
    ev = _t(spark, sf, "events").withColumn(
        "sec", F.col("ts").cast("timestamp").cast("double"))
    lo, hi = ev.agg(F.min("sec"), F.max("sec")).collect()[0]
    window = (float(hi) - float(lo)) / 4
    states = sketch_by_key(ev, [], "sec",
                           lambda: ExpHist(epsilon=0.05, window=window))
    est = with_presented(states, lambda sk: {"est": float(sk.guess())},
                         "est double")
    exact_df = ev.filter(F.col("sec") > float(hi) - window).agg(
        F.count("*").alias("exact_window_count"))
    return (exact_df.crossJoin(est.select("est"))
            .select("exact_window_count",
                    (F.abs(F.col("est") - F.col("exact_window_count"))
                     / F.greatest(F.col("exact_window_count"), F.lit(1))
                     <= 0.08).alias("exphist_ok")))


def q_map_invert(spark, sf):
    """MapAlgebra.invert: nationkey -> sorted supplier keys."""
    from .operators.mapalgebra import invert
    su = _t(spark, sf, "supplier")
    out = invert(su.select(F.col("s_suppkey").alias("k"),
                           F.col("s_nationkey").alias("v")), "k", "v")
    # string-join the array: array cells hash differently across engines
    return out.select(F.col("v").alias("s_nationkey"),
                      F.array_join(F.col("keys"), ",").alias("suppkeys"))


def q_to_graph(spark, sf):
    """MapAlgebra.toGraph on (custkey -> distinct order priorities)."""
    from .operators.mapalgebra import to_graph
    od = _t(spark, sf, "orders")
    out = to_graph(od, "o_custkey", "o_orderpriority")
    return out.select("o_custkey", "degree")


def q_sparse_dot(spark, sf):
    """MapAlgebra.dot: <qty-vector, price-vector> keyed by partkey."""
    from .operators.mapalgebra import sparse_dot
    li = _t(spark, sf, "lineitem")
    qty = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("q"))
    price = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_retailprice"))
    out = sparse_dot(qty, price, "l_partkey", "q", "p_retailprice")
    return out.select(F.round("dot", 2).alias("dot"))


def q_gaussian_sum(spark, sf):
    """Gaussian monoid: sum of per-group (mean, variance) pairs."""
    from .operators.mapalgebra import gaussian_sum
    li = _t(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("mu"),
        F.var_pop("l_quantity").alias("var"))
    out = gaussian_sum(per_part.fillna(0.0, ["var"]), "mu", "var")
    return out.select(F.round("mean_sum", 2).alias("mean_sum"),
                      F.round("variance_sum", 2).alias("variance_sum"), "n")


def q_reservoir_sample(spark, sf):
    """Seeded reservoir sample of 5 rows per l_returnflag: the sample
    itself is engine-specific (xxhash64 ranking), but its size contract
    is exact: min(5, group size)."""
    li = _t(spark, sf, "lineitem")
    keyed = li.withColumn(
        "__rk", F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"),
                            F.col("l_suppkey")))
    sampled = exact.reservoir_sample(keyed, "__rk", 5, seed=42,
                                     keys=["l_returnflag"])
    return sampled.groupBy("l_returnflag").agg(
        F.count("*").alias("n_sampled"))


def q_scoped_topn(spark, sf):
    """ScopedTopN: top-2 l_suppkey per l_returnflag scope; capacity >
    scope cardinality -> exact counts (ScopedTopNLogic semantics).
    Built through the distributed multi-column harness; the merged
    state explodes to (scope, rank, item, count) rows in-plan and joins
    back to the flag names with a broadcast join — only the tiny
    scope-code dictionary (3 rows) touches the driver."""
    from .agg import present_explode
    from .sketches.spacesaver import ScopedTopN
    li = _t(spark, sf, "lineitem")
    flags = sorted(r[0] for r in li.select("l_returnflag").distinct().collect())
    scope_of = {f: i for i, f in enumerate(flags)}
    code_expr = F.create_map(
        *[x for f, c in scope_of.items() for x in (F.lit(f), F.lit(c))]
    )[F.col("l_returnflag")]
    coded = li.withColumn("scope", code_expr.cast("long"))
    states = sketch_by_key(coded, [], ["l_suppkey", "scope"],
                           lambda: ScopedTopN(n=2, capacity=4096))

    def top_rows(sk):
        return [{"scope": int(scope), "rank": rank, "l_suppkey": int(item),
                 "cnt": int(count)}
                for scope in sorted(sk.scopes)
                for rank, (item, count, _e, _g) in enumerate(sk.top_n(scope), 1)]

    exploded = present_explode(
        states, top_rows, "scope long, rank long, l_suppkey long, cnt long")
    flag_df = spark.createDataFrame(
        [Row(scope=c, l_returnflag=f) for f, c in scope_of.items()],
        "scope long, l_returnflag string")
    return (exploded.join(F.broadcast(flag_df), "scope")
            .select("l_returnflag", "rank", "l_suppkey", "cnt"))


def q_sketchmap_sums(spark, sf):
    """SketchMap: approximate Map[suppkey -> sum(quantity)] built
    distributed (multi-column harness); estimates never underestimate
    and overestimate <= eps * total-mass. Validation runs IN-PLAN like
    q_cms_point_queries: the final state (one small blob — the only
    thing the driver holds) ships into ``agg.probe``, scoring the exact
    distributed groupBy sums; bound verdicts fold with bool_and. No
    per-key collect — stays runnable at sf10+."""
    from .sketches import SketchMap
    li = _t(spark, sf, "lineitem")
    sk = sketch_global(
        li, ["l_suppkey", "l_quantity"],
        lambda: SketchMap(eps=0.0005, delta=1e-4, heavy_hitters_count=5))
    sm_est = probe(sk, SketchMap.values, "double")
    eps_mass = sk.eps * sk.total
    probed = (li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
              .withColumn("est", sm_est(F.col("l_suppkey"))))
    return probed.agg(
        F.count("*").alias("n_keys"),
        F.bool_and(F.col("est") >= F.col("q") - 1e-6).alias("never_under"),
        F.bool_and(F.col("est") <= F.col("q") + eps_mass + 1e-6)
         .alias("within_eps"))


def q_sketchmap_minmax(spark, sf):
    """SketchMap with V as an ORDERED monoid (SketchMap.scala:40-240 is
    generic in V: Monoid; round-4 closes the non-numeric-V gap):
    approximate Map[suppkey -> max(extendedprice)] and
    Map[suppkey -> min(extendedprice)], built distributed. Bounds are
    the ordered-monoid duals of the CMS guarantee, validated IN-PLAN
    against the exact distributed groupBy for EVERY key:

    * max cells: estimate >= true per-key max, <= global max;
    * min cells: estimate <= true per-key min, >= global min.
    """
    from pyspark.sql import Window

    from .sketches import SketchMap
    li = _t(spark, sf, "lineitem")
    mk = lambda mode: sketch_global(  # noqa: E731
        li, ["l_suppkey", "l_extendedprice"],
        lambda: SketchMap(eps=0.0005, delta=1e-4, heavy_hitters_count=5,
                          combine=mode))
    est = {mode: probe(mk(mode), SketchMap.values, "double")
           for mode in ("max", "min")}
    probed = (li.groupBy("l_suppkey")
              .agg(F.max("l_extendedprice").alias("mx"),
                   F.min("l_extendedprice").alias("mn"))
              .withColumn("est_mx", est["max"](F.col("l_suppkey")))
              .withColumn("est_mn", est["min"](F.col("l_suppkey"))))
    gmax = F.max("mx").over(Window.partitionBy())
    gmin = F.min("mn").over(Window.partitionBy())
    flags = probed.select(
        "l_suppkey",
        (F.col("est_mx") >= F.col("mx") - 1e-6).alias("mx_never_under"),
        (F.col("est_mx") <= gmax + 1e-6).alias("mx_global_bound"),
        (F.col("est_mn") <= F.col("mn") + 1e-6).alias("mn_never_over"),
        (F.col("est_mn") >= gmin - 1e-6).alias("mn_global_bound"))
    return flags.agg(
        F.count("*").alias("n_keys"),
        F.bool_and("mx_never_under").alias("max_never_under"),
        F.bool_and("mx_global_bound").alias("max_globally_bounded"),
        F.bool_and("mn_never_over").alias("min_never_over"),
        F.bool_and("mn_global_bound").alias("min_globally_bounded"))


def q_sketchmap_hll_distinct(spark, sf):
    """SketchMap with V = HLL cells (SketchMap.scala:40-240 is generic
    in V: Monoid; this is the distinct-count-per-key instance —
    approximate Map[suppkey -> |{partkey}|] in ONE fixed-size state,
    the structure you'd ship per source at 100 TB instead of a full
    Map[K, HLL]). Built distributed via the multi-column harness;
    validated IN-PLAN against the exact distributed
    COUNT(DISTINCT) for EVERY key, with the composed bound:

    * never_under: est >= d_k * (1 - 3.5 * err_hll);
    * within_eps: min-over-rows <= (d_k + eps * D_total) * (1 + 3.5 *
      err_hll), D_total = total distinct (key, value) pairs (the CMS
      collision mass, computed in-plan as SUM(d_k)).
    """
    from pyspark.sql import Window

    from concurrent.futures import ThreadPoolExecutor

    from .sketches import SketchMapHLL
    li = _t(spark, sf, "lineitem")
    scope = Scope("sketchmap_hll_exact")

    def build_state():
        # heavy_hitters_count=0: this query probes via values(), so
        # per-partition serialize-time HH estimate flushes (a 5-row x
        # 1024-register gather per pending key per partition state)
        # would be pure waste — measured as the dominant build cost
        def factory():
            return SketchMapHLL(eps=0.01, delta=0.01, p=10,
                                heavy_hitters_count=0)

        return sketch_global(li, ["l_suppkey", "l_partkey"], factory)

    def exact_counts():
        # invocation-scoped persist (newest 2 kept): a bare persist
        # leaked one cached copy per invocation across bench loops
        g = li.groupBy("l_suppkey") \
            .agg(F.count_distinct("l_partkey").alias("d"))
        g = scope.persist(g)
        g.count()  # materialize concurrently with the state build
        return g

    # the sketch build and the exact COUNT(DISTINCT) side are
    # independent jobs over the same scan — submit concurrently
    with ThreadPoolExecutor(2) as pool:
        f_sk, f_g = pool.submit(build_state), pool.submit(exact_counts)
        sk, g = f_sk.result(), f_g.result()
    err, eps = sk.error, sk.eps
    # the 1.4 MB state rides in the probe's closure, which PySpark
    # ships as a broadcast (it is over the 1 MB UDF threshold); the
    # probe side coalesces to one partition (<= a few thousand key
    # rows) so a single python worker decodes the state once
    smh_est = probe(sk, SketchMapHLL.values, "double")
    grouped = g.coalesce(1).withColumn("est", smh_est(F.col("l_suppkey")))
    d_total = F.sum("d").over(Window.partitionBy())
    flags = grouped.select(
        "d",
        (F.col("est") >= F.col("d") * (1 - 3.5 * err) - 1e-6).alias("lo_ok"),
        (F.col("est") <= (F.col("d") + eps * d_total) * (1 + 3.5 * err)
         + 1e-6).alias("hi_ok"))
    return scope.attach(flags.agg(
        F.count("*").alias("n_keys"),
        F.sum("d").cast("long").alias("total_distinct_pairs"),
        F.bool_and("lo_ok").alias("never_under"),
        F.bool_and("hi_ok").alias("within_eps")))


def q_sketchmap_set(spark, sf):
    """SketchMap with V = Set[value] (SketchMap.scala:40-240 generic
    V: Monoid under set-union, composed with Eventually.scala's
    exact-then-approximate cells — the last generic-V instance, r5
    VERDICT #9): approximate Map[suppkey -> {partkey}] in one
    mergeable state. Values land on a sparse slice (partkey % 41 = 0)
    so cells stay below max_exact and the EXACT surface is exercised:
    for every key the recovered set (intersection of its exact row
    cells — a foreign value must collide in ALL depth rows to
    survive) must equal the exact distributed collect_set, value for
    value. Promotion to HLL banks is law-tested in pytest; this query
    pins the exact-recovery contract the HLL variant cannot offer."""
    from concurrent.futures import ThreadPoolExecutor

    from .sketches import SketchMapSet
    li = _t(spark, sf, "lineitem")
    slice_ = (li.filter(F.col("l_partkey") % 41 == 0)
              .select("l_suppkey", "l_partkey"))

    # loud precondition instead of a silent scale-bound: the exactness
    # gate's collision bound (expected foreign-value survivors < 1e-6)
    # was derived for the sf<=0.1 fixtures (~1k suppliers, values held
    # by ~dozens of keys, cells < max_exact=2048). A bigger fixture
    # must re-derive width/depth/max_exact — fail with a message that
    # says so rather than as an inscrutable oracle mismatch.
    n_keys = slice_.select("l_suppkey").distinct().count()
    if n_keys > 4000:
        raise RuntimeError(
            f"q_sketchmap_set: {n_keys} distinct keys exceeds the "
            "sf<=0.1 design point (4000) this query's exactness gate "
            "(max_exact=2048, width 680 x depth 7 collision bound) "
            "was derived for; re-derive the SketchMapSet parameters "
            "before running it on a larger fixture")

    def build_state():
        return sketch_global(
            slice_, ["l_suppkey", "l_partkey"],
            # a value here is held by MANY keys (a partkey ships from
            # ~dozens of suppliers), so a foreign value survives key
            # k's intersection if ANY of its holders collides with k
            # in every row: P ~ (holders/width)^depth. width 680 x
            # depth 7 puts the expected survivor count across all
            # (key, value) pairs below 1e-6 at sf0.1.
            lambda: SketchMapSet(eps=0.004, delta=0.001, max_exact=2048,
                                 p=10))

    scope = Scope("sketchmap_set_exact")

    def exact_sets():
        g = (slice_.groupBy("l_suppkey")
             .agg(F.sort_array(F.collect_set("l_partkey")).alias("pset"),
                  F.count_distinct("l_partkey").alias("d")))
        g = scope.persist(g)
        g.count()
        return g

    with ThreadPoolExecutor(2) as pool:
        f_sk, f_g = pool.submit(build_state), pool.submit(exact_sets)
        sk, g = f_sk.result(), f_g.result()

    # value_sets gives each key's sorted set, NULL once every row cell
    # of the key has promoted: that key fails the check
    rec = probe(sk, SketchMapSet.value_sets, "array<bigint>")
    flags = g.withColumn("ok", F.coalesce(
        rec(F.col("l_suppkey")) == F.col("pset"), F.lit(False)))
    return scope.attach(flags.agg(
        F.count("*").alias("n_keys"),
        F.sum("d").cast("long").alias("total_distinct_pairs"),
        F.bool_and("ok").alias("sets_exact")))


def q_interval_filter(spark, sf):
    """Interval predicate algebra in-plan (Interval.scala:80-125): the
    intersection [5000, 30000] & [10000, +inf) & (-inf, 25000) =
    [10000, 25000) renders as plain comparisons (predicate pushdown
    reaches the scan), and an unsatisfiable intersection collapses to
    Empty -> a constant-false filter (zero rows, no scan work)."""
    from .functions.interval import Interval
    li = _t(spark, sf, "lineitem")
    iv = (Interval.closed(5_000, 30_000)
          & Interval.at_least(10_000) & Interval.below(25_000))
    hit = li.filter(iv.predicate(F.col("l_extendedprice")))
    empty = Interval.above(10.0) & Interval.below(10.0)
    n_empty = li.filter(empty.predicate(F.col("l_quantity"))) \
        .agg(F.count("*").alias("n_empty"))
    agg = hit.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("price_sum"))
    return agg.crossJoin(n_empty)


def q_scan_compose(spark, sf):
    """Scan composition surface (Scan.scala:18-328 combinators):
    running sum of o_totalprice per customer (fromMonoidAggregator),
    COMPOSED into a running max of that running sum (andThen), JOINED
    with the running index (joinWithIndex) — three chained Window
    operators over ONE Exchange+Sort (same window spec throughout)."""
    from .operators.scan import Scan
    orders = _t(spark, sf, "orders")
    scan = (Scan.sum("o_totalprice", "running_total")
            .then_agg(F.max, "running_peak")
            .join_with_index("idx"))
    out = scan.apply(orders, ["o_custkey"], "o_orderkey")
    return out.select(
        "o_custkey", "o_orderkey",
        F.round("running_total", 4).alias("running_total"),
        F.round("running_peak", 4).alias("running_peak"),
        F.col("idx").cast("long").alias("idx"))


def _session_summary(numbered):
    """Scalar summary over session-numbered rows — shared by the batch
    (`scan_state`) and streaming (`streaming_sessions`) forms so the
    session definition can never drift between them."""
    per_session = numbered.groupBy("user_id", "sess") \
        .agg(F.count("*").alias("cnt"))
    return per_session.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").cast("long").alias("total_sessions"),
        F.sum("cnt").cast("long").alias("n_events"),
        F.max("cnt").cast("long").alias("max_session_events"))


def q_scan_state(spark, sf):
    """General ``Scan.from(initialState)(fn)`` (Scan.scala:18-60; the
    last Scan generality gap, VERDICT r4 missing #3): sessionization as
    an ARBITRARY state transition — state = (prev_ts, session_no),
    new session when the gap to the previous event exceeds 1800 s —
    folded per user in (ts, event_id) order inside an applyInPandas
    group (one shuffle on user_id; state never leaves the task).
    Aggregated to per-session counts then a scalar summary so the
    oracle (LAG + windowed running sum in SQL) value-checks the whole
    numbering. Uses the STREAMING form (apply_stream: one Exchange +
    in-partition Sort + a single mapInPandas pass, as GeneralScan's
    kernels take a pandas frame; Python runs once per Arrow batch,
    not once per user group, with fold state carried across batch
    boundaries), law-tested equal to the row-at-a-time
    ``Scan.from_fn(...).apply`` fold, the per-group apply_batch
    kernel, and a Python reference fold in tests/test_scan.py; the
    general fold is the semantics under test, the streaming kernel is
    the scale-right execution for high key cardinality."""
    from .operators.scan import GeneralScan, session_numbers_kernel
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        # NTZ -> timestamp is value-preserving under the session's UTC
        # timezone; -> double yields fractional epoch seconds like
        # DuckDB's epoch()
        F.col("ts").cast("timestamp").cast("double").alias("tsec"))

    numbered = GeneralScan.apply_stream(
        ev, ["user_id"], ["tsec", "event_id"],
        session_numbers_kernel("user_id", "tsec", 1800.0),
        "sess", "bigint")
    return _session_summary(numbered)


def q_streaming_sessions(spark, sf):
    """Streaming general ``Scan.from`` (Scan.scala:18-60 is a STREAM
    transform; this is its Structured Streaming form): the SAME
    session kernel the batch `scan_state` query uses runs via
    ``scan_stream_fold`` with the fold carry persisted as group state
    across 3 time-sliced micro-batches (maxFilesPerTrigger=1, file
    mtimes pin the trigger order). The summary aggregate and the
    DuckDB oracle are identical to `scan_state` — proving
    batch == stream == SQL on the whole numbering."""
    import os
    import shutil
    import tempfile
    import uuid

    from .operators.scan import session_numbers_kernel
    from .streaming.stateful import scan_stream_fold

    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("tsec"))
    cuts = ev.approxQuantile("tsec", [0.33, 0.66], 0.0)
    d = tempfile.mkdtemp(prefix="stream_sessions_")
    try:
        slices = [ev.filter(F.col("tsec") < cuts[0]),
                  ev.filter((F.col("tsec") >= cuts[0])
                            & (F.col("tsec") < cuts[1])),
                  ev.filter(F.col("tsec") >= cuts[1])]
        for i, sl in enumerate(slices):
            p = os.path.join(d, f"slice-{i}")
            sl.coalesce(1).write.parquet(p)
            for f in [p] + [os.path.join(p, x) for x in os.listdir(p)]:
                os.utime(f, (1_000_000 + i, 1_000_000 + i))
        sdf = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(d, "slice-*")))
        out = scan_stream_fold(
            sdf, ["user_id"], ["tsec", "event_id"],
            session_numbers_kernel("user_id", "tsec", 1800.0),
            "sess", "bigint")
        qname = f"q_sessions_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        numbered = spark.sql(f"SELECT user_id, sess FROM {qname}")
        return _session_summary(numbered)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_streaming_kll(spark, sf):
    """Streaming quantiles: KLL(k=200) per event_type updated across 3
    time-sliced micro-batches (maxFilesPerTrigger=1, file mtimes pin
    trigger order) via the serialized-state hand-off
    (sketch_state_stream_by_key) — the same mergeable state a nightly
    batch build would produce, proving the stream/batch equivalence the
    KLL merge guarantees. Final per-type states must bracket the exact
    batch percentiles with their published rank bounds."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming.stateful import sketch_state_stream_by_key

    ev = _t(spark, sf, "events").select("event_type", "value",
                                        F.col("event_id").alias("eid"))
    d = tempfile.mkdtemp(prefix="stream_kll_")
    try:
        n = ev.count()
        slices = [ev.filter(F.col("eid") % 3 == i) for i in range(3)]
        for i, sl in enumerate(slices):
            p = os.path.join(d, f"slice-{i}")
            sl.coalesce(1).write.parquet(p)
            for f in [p] + [os.path.join(p, x) for x in os.listdir(p)]:
                os.utime(f, (1_000_000 + i, 1_000_000 + i))
        sdf = (spark.readStream.schema(ev.schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(d, "slice-*")))
        out = sketch_state_stream_by_key(sdf, ["event_type"], ["value"],
                                         lambda: KLL(k=200))
        qname = f"q_skll_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # final state per key = the emission with the largest n_values
        # (monotone across micro-batches)
        emitted = spark.sql(
            f"SELECT * FROM {qname}").collect()
        final: dict = {}
        seen_n: dict = {}
        for r in emitted:
            if r["n_values"] >= seen_n.get(r["event_type"], -1):
                seen_n[r["event_type"]] = r["n_values"]
                final[r["event_type"]] = from_bytes(bytes(r["state"]))
        # every value must be in some final state (no lost micro-batch)
        assert sum(seen_n.values()) == n, (seen_n, n)
        exact = {r["event_type"]: r["q"] for r in ev
                 .groupBy("event_type").agg(
                     F.expr(f"percentile(value, array({','.join(map(str, _QUANTILE_PS))}))")
                     .alias("q")).collect()}
        rows = []
        for et in sorted(exact):
            sk = final[et]
            for p, ex in zip(_QUANTILE_PS, exact[et]):
                lo, hi = sk.quantile_bounds(p)
                rows.append(Row(event_type=et, p=float(p),
                                exact_pct=float(round(ex, 4)),
                                stream_kll_ok=bool(lo <= ex <= hi)))
        return spark.createDataFrame(rows, StructType([
            StructField("event_type", StringType(), False),
            StructField("p", DoubleType(), False),
            StructField("exact_pct", DoubleType(), False),
            StructField("stream_kll_ok", BooleanType(), False)]))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_hll_scan(spark, sf):
    """Cumulative distinct = HLL scan (SURVEY §2.2; reference
    Scan.fromMonoidAggregator, Scan.scala:61-90): per-(event_type,
    week) HLL states fold cumulatively over weeks via sketch_scan, so
    week W answers 'distinct users seen through W' from state-sized
    work. Exact side uses first-occurrence counting (each user's
    MIN(week) contributes 1 from then on — a running sum, no expanding
    collect_set). Emits exact values + per-row HLL bound verdicts."""
    from pyspark.sql import Window

    from .agg import sketch_by_key
    from .operators.scan import sketch_scan
    from .sketches import HLL

    p = 12
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type",
        (F.floor(F.col("ts").cast("timestamp").cast("double") / 604800)
         * 604800).cast("long").alias("week"))
    states = sketch_by_key(ev, ["event_type", "week"], "user_id",
                           lambda: HLL(p=p))
    est = sketch_scan(states, ["event_type"], "week")
    first = ev.groupBy("event_type", "user_id") \
              .agg(F.min("week").alias("week"))
    new_users = first.groupBy("event_type", "week") \
                     .agg(F.count("*").alias("nu"))
    weeks = ev.select("event_type", "week").distinct()
    w = (Window.partitionBy("event_type").orderBy("week")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    exact = (weeks.join(new_users, ["event_type", "week"], "left")
             .fillna(0, subset=["nu"])
             .withColumn("exact_cum_distinct",
                         F.sum("nu").over(w).cast("long"))
             .drop("nu"))
    tol = 3.5 * 1.04 / (2 ** (p / 2))
    return (est.join(exact, ["event_type", "week"])
            .select("event_type",
                    F.col("week").alias("week_sec"),
                    "exact_cum_distinct",
                    (F.abs(F.col("estimate")
                           - F.col("exact_cum_distinct"))
                     <= F.lit(tol) * F.col("exact_cum_distinct"))
                    .alias("hll_ok")))


def q_bloom_join(spark, sf):
    """Bloom-pruned fact->dim join (operators/joins.py): one mergeable
    Bloom pass over the 3-nation supplier subset (BloomFilter monoid,
    immutable/BloomFilter.scala:342-377), broadcast, then an
    Arrow-batched probe drops non-matching lineitem rows IN the scan
    stage — before the join's Exchange, so at warehouse scale the
    shuffle moves only the ~matching fraction (11x cut at this
    selectivity). Zero false negatives + the join killing false
    positives makes the result EXACTLY the plain join, which the
    oracle runs."""
    from .operators.joins import bloom_join
    li = _t(spark, sf, "lineitem")
    su = _t(spark, sf, "supplier").filter(F.col("s_nationkey") < 9)
    j = bloom_join(li, su, "l_suppkey", "s_suppkey")
    return j.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 4).alias("revenue"))


def q_skew_join(spark, sf):
    """Sketch-driven skew join (operators/joins.py): a derived key
    sends 70% of lineitem rows to ONE hot value; a SpaceSaver pass
    (SpaceSaver.scala:166-187 bounds) surfaces it, and those rows take
    a broadcast path — they never shuffle on the hot key, so no
    reducer receives 70% of the table — while the long tail
    shuffle-joins normally. The hot/cold split partitions the big
    side's rows, so the union is EXACTLY the plain join (the oracle),
    independent of sketch accuracy."""
    from .operators.joins import skew_join
    li = _t(spark, sf, "lineitem")
    pa = _t(spark, sf, "part")
    big = li.withColumn("jk", F.when(F.col("l_orderkey") % 10 < 7,
                                     F.lit(1)).otherwise(F.col("l_partkey")))
    j = skew_join(big, pa, "jk", "p_partkey", min_share=0.01)
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"))


def q_skew_join_outer(spark, sf):
    """skew_join right/full outer (r5 VERDICT #6): the hot/cold row
    partition extends to outer joins — unmatched BIG rows survive on
    whichever path they rode (negative jk values match no part), and
    unmatched SMALL rows are emitted exactly once (the cold path joins
    only non-hot small rows; hot small rows unmatched by hot big rows
    are anti-joined back in, null-extended). The 1/3 orderkey filter
    leaves most parts unreferenced so both unmatched sides are
    non-trivial; result is EXACTLY the plain full join (the oracle)."""
    from .operators.joins import skew_join
    li = _t(spark, sf, "lineitem")
    pa = _t(spark, sf, "part")
    big = (li.filter(F.col("l_orderkey") % 3 == 0)
             .withColumn("jk",
                         F.when(F.col("l_orderkey") % 10 < 7, F.lit(1))
                          .when(F.col("l_orderkey") % 10 == 9,
                                -F.col("l_partkey"))
                          .otherwise(F.col("l_partkey"))))
    j = skew_join(big, pa, "jk", "p_partkey", how="full", min_share=0.01)
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("jk").isNull(), 1).otherwise(0))
         .cast("long").alias("n_small_only"),
        F.sum(F.when(F.col("p_partkey").isNull(), 1).otherwise(0))
         .cast("long").alias("n_big_only"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        F.count("p_brand").alias("n_with_part"))


def q_cdf_normalize(spark, sf):
    """Quantile feature normalization (operators/features.py:
    cdf_normalize — per-group t-digest states broadcast, every row
    ranked in an Arrow batch; no sort/window over the data): the
    approximate CDF must stay within 0.01 rank error of the exact
    percent_rank everywhere (measured ~0.002 at t-digest(200))."""
    from pyspark.sql import Window

    from .operators.features import cdf_normalize
    li = _t(spark, sf, "lineitem")
    out = cdf_normalize(li, "l_extendedprice", ["l_returnflag"])
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    return (out.withColumn("pr", F.percent_rank().over(w))
            .groupBy("l_returnflag").agg(
                F.count("*").alias("n_rows"),
                (F.max(F.abs(F.col("cdf") - F.col("pr"))) <= 0.01)
                .alias("rank_err_ok")))


def q_cdf_normalize_hicard(spark, sf):
    """High-cardinality cdf_normalize (r5 VERDICT wrong #2 fix): the
    broadcast threshold is forced to 1, so ranking runs through the
    co-grouped path — rows meet their group's t-digest state in an
    applyInArrow cogroup with NO driver collect of the states, the
    shape that survives 10^5+ normalization groups. Values are gated
    against the exact per-group percent_rank (groups are ~600 rows at
    every SF, so the midpoint-vs-(rank-1)/(n-1) convention gap is
    well inside the 0.01 bound)."""
    from pyspark.sql import Window

    from .operators.features import cdf_normalize
    li = _t(spark, sf, "lineitem")
    out = cdf_normalize(li, "l_extendedprice", ["l_suppkey"], k=400,
                        max_broadcast_groups=1)
    w = Window.partitionBy("l_suppkey").orderBy("l_extendedprice")
    return (out.withColumn("pr", F.percent_rank().over(w))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("l_suppkey").alias("n_groups"),
                 (F.max(F.abs(F.col("cdf") - F.col("pr"))) <= 0.01)
                 .alias("rank_err_ok")))


def q_range_pruned(spark, sf):
    """KLL-split range layout + Interval partition pruning
    (sources/range_layout.py): one mergeable KLL pass picks balanced
    splits, the table is written partitionBy(__bucket), and a range
    read scans only the overlapping bucket directories (PartitionFilters
    — plan-gated in test_plans.py) with the exact Interval predicate as
    the residual, so the aggregate equals the plain WHERE the oracle
    runs. Aggregates materialize before the temp layout is removed."""
    import shutil
    import tempfile

    from .functions.interval import Interval
    from .sources.range_layout import (read_range_pruned,
                                       write_range_partitioned)
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    d = tempfile.mkdtemp(prefix="range_layout_")
    try:
        write_range_partitioned(li, "l_extendedprice", d, 16)
        got = read_range_pruned(spark, d, Interval.closed(1000.0, 5000.0))
        row = got.agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.round(F.min("l_extendedprice"), 4).alias("min_price"),
            F.round(F.max("l_extendedprice"), 4).alias("max_price")).collect()[0]
        return spark.createDataFrame([row])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_merge_lookup(spark, sf):
    """MapAlgebra.mergeLookup: broadcast-join the supplier dimension,
    sum quantity by the presented nation key (MapAlgebra.scala:183-188).
    The plan gate asserts the broadcast; the oracle checks the values."""
    from .operators.mapalgebra import merge_lookup
    li = _t(spark, sf, "lineitem")
    su = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    out = merge_lookup(li, su, "l_suppkey", "s_nationkey", "l_quantity")
    return out.select("s_nationkey", F.round("total", 2).alias("total_qty"))


def q_set_diff(spark, sf):
    """SetDiff monoid applied per nation: (base ∪ add) \\ remove over
    supplier-key sets partitioned by account balance (SetDiff.scala
    :19-89 semantics; the oracle derives membership independently)."""
    from .operators.mapalgebra import set_diff_apply
    su = _t(spark, sf, "supplier")
    g = su.groupBy("s_nationkey").agg(
        F.collect_set(F.when(F.col("s_acctbal") >= 5000, F.col("s_suppkey")))
         .alias("base"),
        F.collect_set(F.when((F.col("s_acctbal") >= 0)
                             & (F.col("s_acctbal") < 5000),
                             F.col("s_suppkey"))).alias("add"),
        F.collect_set(F.when(F.col("s_acctbal") < 1000, F.col("s_suppkey")))
         .alias("remove"))
    out = g.select(
        "s_nationkey",
        set_diff_apply(F.col("base"), F.col("add"), F.col("remove"))
        .alias("members"))
    return (out.filter(F.size("members") > 0)
            .select("s_nationkey",
                    F.array_join("members", ",").alias("members")))


def q_decaying_cms(spark, sf):
    """DecayingCMS built through the distributed 3-column harness
    (user_id, sec, value): decayed frequency per user, normalized to the
    global max timestamp, never underestimates the SQL decay expression
    and overestimates by <= eps * total decayed mass
    (DecayingCMS.scala:26-651 semantics). Probed in-plan."""
    from .sketches.sketchmap import DecayingCMS
    half = 7 * 86400.0
    eps, delta = 0.005, 1e-4
    ev = _t(spark, sf, "events").withColumn(
        "sec", F.col("ts").cast("timestamp").cast("double"))
    t_max = float(ev.agg(F.max("sec")).collect()[0][0])
    sk = sketch_global(
        ev, ["user_id", "sec", "value"],
        lambda: DecayingCMS(eps=eps, delta=delta, half_life=half))
    dcms_est = probe(sk, lambda sk, v: sk.decayed_frequencies(v, t_max),
                     "double")

    exact_df = (ev.groupBy("user_id")
                .agg(F.sum(F.col("value")
                           * F.pow(F.lit(2.0),
                                   (F.col("sec") - F.lit(t_max)) / half))
                     .alias("exact_decayed")))
    mass = exact_df.agg(F.sum("exact_decayed").alias("__mass"))
    probed = (exact_df.crossJoin(mass)
              .withColumn("est", dcms_est(F.col("user_id"))))
    return probed.agg(
        F.count("*").alias("n_keys"),
        F.bool_and(F.col("est") >= F.col("exact_decayed") - 1e-6)
         .alias("never_under"),
        F.bool_and(F.col("est") <= F.col("exact_decayed")
                   + eps * F.col("__mass") + 1e-6).alias("within_eps"))


def q_decaying_cms_inner(spark, sf):
    """DecayingCMS extended algebra (DecayingCMS.scala:330-400): the
    decayed inner product of two sketches (events split by even/odd
    event_id, unit weights, decayed user-count vectors) never
    underestimates the exact decayed dot product and overestimates by
    <= eps * massA * massB; l2Norm^2 obeys the same one-sided bound
    against the exact squared norm. Exact vectors stay distributed;
    only the two small sketch states reach the driver."""
    from .sketches.sketchmap import DecayingCMS
    half = 7 * 86400.0
    eps, delta = 0.005, 1e-4
    ev = (_t(spark, sf, "events")
          .withColumn("sec", F.col("ts").cast("timestamp").cast("double"))
          .withColumn("one", F.lit(1.0)))
    t_max = float(ev.agg(F.max("sec")).collect()[0][0])
    halves = [ev.filter(F.col("event_id") % 2 == i) for i in (0, 1)]
    sks = [sketch_global(
        h, ["user_id", "sec", "one"],
        lambda: DecayingCMS(eps=eps, delta=delta, half_life=half))
        for h in halves]
    ip = sks[0].inner_product(sks[1], at_ts=t_max)
    l2a_sq = sks[0].l2_norm(at_ts=t_max) ** 2

    decayed = F.sum(F.pow(F.lit(2.0),
                          (F.col("sec") - F.lit(t_max)) / half))
    da, db = [h.groupBy("user_id").agg(decayed.alias(c))
              for h, c in zip(halves, ("fa", "fb"))]
    exact = (da.join(db, "user_id", "inner")
             .agg(F.count("*").alias("n_users"),
                  F.sum(F.col("fa") * F.col("fb")).alias("__dot")))
    norms = (da.agg(F.sum("fa").alias("__ma"),
                    F.sum(F.col("fa") * F.col("fa")).alias("__na")))
    mb = db.agg(F.sum("fb").alias("__mb"))
    return (exact.crossJoin(norms).crossJoin(mb).select(
        "n_users",
        ((F.lit(ip) >= F.col("__dot") - 1e-6)
         & (F.lit(ip) <= F.col("__dot")
            + eps * F.col("__ma") * F.col("__mb") + 1e-6))
        .alias("inner_ok"),
        ((F.lit(l2a_sq) >= F.col("__na") - 1e-6)
         & (F.lit(l2a_sq) <= F.col("__na")
            + eps * F.col("__ma") * F.col("__ma") + 1e-6))
        .alias("l2_ok")))


# ===========================================================================
# string-key sketch queries (CMSHasher[K] surface — vectorized murmur path)
# ===========================================================================

def q_hll_string_distinct(spark, sf):
    """HLL over a STRING column (documents.text — long variable-length
    strings) vs exact: exercises the vectorized variable-length murmur
    kernel through the full distributed harness (no per-row Python on
    the hash path)."""
    docs = _t(spark, sf, "documents")
    states = sketch_by_key(docs, [], "text", lambda: HLL(p=14))
    est = with_presented(states, lambda sk: {"est": sk.estimate()},
                         "est double")
    exact_df = docs.agg(
        F.count_distinct("text").alias("exact_distinct_ids"))
    bound = 3.5 * 1.04 / math.sqrt(2 ** 14)
    return (exact_df.crossJoin(est.select("est"))
            .select("exact_distinct_ids",
                    (F.abs(F.col("est") - F.col("exact_distinct_ids"))
                     / F.greatest(F.col("exact_distinct_ids"), F.lit(1))
                     <= bound).alias("hll_str_ok")))


def q_cms_string_keys(spark, sf):
    """CMS point queries over STRING keys (documents.text, canonical
    prepare_keys 64-bit hash): never underestimates, over <= eps*N.
    Probed in-plan like cms_point_queries."""
    docs = _t(spark, sf, "documents")
    eps, delta = 0.002, 1e-4
    sk = sketch_global(docs, "text", lambda: CMS(eps=eps, delta=delta))
    cms_est = probe(sk, CMS.frequencies, "long")
    total = sk.total
    probed = (docs.groupBy("text").count()
              .withColumn("est", cms_est(F.col("text"))))
    return probed.agg(
        F.count("*").alias("n_queried"),
        F.bool_and(F.col("est") >= F.col("count")).alias("never_under"),
        F.bool_and(F.col("est") <= F.col("count") + eps * total)
         .alias("within_eps"))


def q_spacesaver_string_topk(spark, sf):
    """SpaceSaver over a STRING column (documents.lang) with label
    tracking: capacity > cardinality -> exact per-language counts, and
    the ORIGINAL strings come back from the merged state (the
    heavy-hitter-URLs/user-agents use case). Exploded in-plan."""
    from .agg import present_explode
    from .sketches.spacesaver import SpaceSaver
    docs = _t(spark, sf, "documents")
    states = sketch_by_key(docs, [], "lang",
                           lambda: SpaceSaver(capacity=4096))
    return present_explode(
        states,
        lambda sk: [{"lang": str(item), "cnt": int(c)}
                    for item, c, _e, _g in sk.top_k(100_000)],
        "lang string, cnt long")


def q_decayed_vector(spark, sf):
    """DecayedVector built through the distributed multi-column harness:
    per-user element-wise decayed sums of [value, value^2] agree with
    the SQL decay expressions to 1e-9 relative
    (DecayedVector.scala semantics). Compared in-plan per user."""
    from .sketches.timeseries import DecayedVector
    half = 7 * 86400.0
    ev = (_t(spark, sf, "events")
          .withColumn("sec", F.col("ts").cast("timestamp").cast("double"))
          .withColumn("vec", F.array(F.col("value"),
                                     F.col("value") * F.col("value"))))
    states = sketch_by_key(ev, ["user_id"], ["vec", "sec"],
                           lambda: DecayedVector(dim=2, half_life=half))
    est = with_presented(
        states,
        lambda sk: {"e0": float(sk.vec[0]), "e1": float(sk.vec[1])},
        "e0 double, e1 double")
    from pyspark.sql import Window
    decay = F.pow(F.lit(2.0),
                  (F.col("sec")
                   - F.max("sec").over(Window.partitionBy("user_id")))
                  / half)
    exact_df = (ev.withColumn("__d", decay)
                .groupBy("user_id")
                .agg(F.sum(F.col("value") * F.col("__d")).alias("x0"),
                     F.sum(F.col("value") * F.col("value") * F.col("__d"))
                      .alias("x1")))
    joined = est.select("user_id", "e0", "e1").join(exact_df, "user_id")
    ok = ((F.abs(F.col("e0") - F.col("x0"))
           <= 1e-9 * F.greatest(F.abs(F.col("x0")), F.lit(1e-9)))
          & (F.abs(F.col("e1") - F.col("x1"))
             <= 1e-9 * F.greatest(F.abs(F.col("x1")), F.lit(1e-9))))
    return joined.agg(F.count("*").alias("n_users"),
                      F.bool_and(ok).alias("decayed_vec_ok"))


def q_streaming_windowed_hll(spark, sf):
    """Event-time tumbling-window stateful sketch through a REAL stream
    (applyInPandasWithState + watermark): per (7-day window, event_type)
    distinct users vs the batch exact recount — the stream/batch
    equivalence for windowed state."""
    import shutil
    import tempfile
    import uuid
    from .streaming.stateful import windowed_sketch_stream
    d = tempfile.mkdtemp(prefix="stream_evw_")
    try:
        shutil.copy(f"{sf}/events.parquet", f"{d}/part-0.parquet")
        batch = spark.read.parquet(d)
        sdf = spark.readStream.schema(batch.schema).parquet(d)
        out = windowed_sketch_stream(sdf, "ts", "7 days", ["event_type"],
                                     "user_id", lambda: HLL(p=14))
        qname = f"q_streamw_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # update-mode emits one row per state change per micro-batch;
        # HLL estimates are monotone, so max = the final state's value
        got = (spark.sql(f"SELECT * FROM {qname}")
               .withColumn("window_sec", F.col("window_start")
                           .cast("timestamp").cast("double"))
               .groupBy("window_sec", "event_type")
               .agg(F.max("estimate").alias("estimate")))
        # exact side reads the ORIGINAL parquet: the returned plan is
        # lazy and must not reference the deleted tmp copy
        exact = _t(spark, sf, "events").withColumn(
            "window_sec",
            (F.floor(F.col("ts").cast("timestamp").cast("double")
                     / (7 * 86400)) * (7 * 86400)).cast("double")) \
            .groupBy("window_sec", "event_type") \
            .agg(F.count_distinct("user_id").alias("exact_users"))
        bound = 3.5 * 1.04 / math.sqrt(2 ** 14)
        joined = exact.join(got.select("window_sec", "event_type", "estimate"),
                            ["window_sec", "event_type"], "left")
        return joined.select(
            "window_sec", "event_type", "exact_users",
            (F.abs(F.coalesce(F.col("estimate"), F.lit(-1e18))
                   - F.col("exact_users"))
             / F.greatest(F.col("exact_users"), F.lit(1))
             <= bound).alias("windowed_hll_ok"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_sliding_window_counts(spark, sf):
    """Sliding event-time windows (12h width, 6h slide) through a REAL
    stream — the ExpHist query surface on Structured Streaming. Counts
    are exact, so the oracle reproduces them verbatim: each event lands
    in exactly two windows (w = 2*slide), generated in SQL by a
    two-way union of shifted window starts."""
    import shutil
    import tempfile
    import uuid
    from .streaming.stateful import sliding_counts
    d = tempfile.mkdtemp(prefix="stream_slide_")
    try:
        shutil.copy(f"{sf}/events.parquet", f"{d}/part-0.parquet")
        batch = spark.read.parquet(d)
        sdf = spark.readStream.schema(batch.schema).parquet(d)
        out = sliding_counts(sdf, "ts", "12 hours", "6 hours",
                             ["event_type"])
        qname = f"q_slide_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # update mode re-emits growing counts; the final value per
        # (window, key) is the max
        return (spark.sql(f"SELECT * FROM {qname}")
                .withColumn("window_start_sec",
                            F.col("window_start").cast("double"))
                .groupBy("window_start_sec", "event_type")
                .agg(F.max("n").alias("n")))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_streaming_hll(spark, sf):
    """Structured Streaming stateful HLL (applyInPandasWithState): drive
    the events table through a real stream, then compare the final
    per-event_type distinct-user estimates to the batch exact counts —
    the stream/batch equivalence the commutative merge guarantees."""
    import shutil
    import tempfile
    import uuid
    from .streaming.stateful import sketch_stream_by_key
    d = tempfile.mkdtemp(prefix="stream_events_")
    try:
        shutil.copy(f"{sf}/events.parquet", f"{d}/part-0.parquet")
        batch = spark.read.parquet(d)
        sdf = spark.readStream.schema(batch.schema).parquet(d)
        out = sketch_stream_by_key(sdf, ["event_type"], "user_id",
                                   lambda: HLL(p=14))
        qname = f"q_stream_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["event_type"]: r["estimate"]
               for r in spark.sql(f"SELECT * FROM {qname}").collect()}
        exact = {r[0]: r[1] for r in batch.groupBy("event_type")
                 .agg(F.count_distinct("user_id")).collect()}
        bound = 3.5 * 1.04 / math.sqrt(2 ** 14)
        rows = [Row(event_type=t,
                    exact_users=int(exact[t]),
                    stream_hll_ok=bool(
                        abs(got[t] - exact[t]) / max(exact[t], 1) <= bound))
                for t in sorted(exact)]
        return spark.createDataFrame(rows, StructType([
            StructField("event_type", StringType(), False),
            StructField("exact_users", LongType(), False),
            StructField("stream_hll_ok", BooleanType(), False)]))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_duplicate_passages(spark, sf):
    """Cross-document duplicate-passage detection (the sketch-shaped
    counterpart of training-data substring dedup): a 35-sentinel-token
    passage is appended to every md5-eligible doc; frequent_spans must
    report each of the passage's 6 interior 30-gram spans in EXACTLY
    n_planted docs, and flag_duplicated_passages must flag every
    planted doc. n_planted is SQL-reproducible."""
    from .operators.contamination import (flag_duplicated_passages,
                                          frequent_spans)
    from .operators.dedup import _shingle_hashes_batch
    docs = _t(spark, sf, "documents")
    passage = " ".join(f"zq{i}x" for i in range(35))
    eligible = docs.filter(
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
         < F.lit("2"))
        & (text.token_count(F.col("text")) >= 1))
    planted = (eligible
               .withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" " + passage))))
    view = docs.unionByName(planted)
    hv, _st, _ = _shingle_hashes_batch([passage], 30, 12345678)
    pspans = [int(x) for x in np.unique(hv.view(np.int64))]
    flags = flag_duplicated_passages(view, span_n=30, min_docs=3)
    flagged_planted = (flags
                       .join(planted.select("doc_id"), "doc_id",
                             "left_semi")
                       .filter("has_duplicate_passage"))
    pf = frequent_spans(view, span_n=30, min_docs=3) \
        .filter(F.col("span").isin(pspans))
    return (planted.agg(F.count("*").alias("n_planted"))
            .crossJoin(flagged_planted.agg(F.count("*").alias("__f")))
            .crossJoin(pf.agg(F.count("*").alias("__s"),
                              F.min("n_docs").alias("__lo"),
                              F.max("n_docs").alias("__hi")))
            .select("n_planted",
                    (F.col("__f") == F.col("n_planted"))
                    .alias("all_planted_flagged"),
                    ((F.col("__s") == len(pspans))
                     & (F.col("__lo") == F.col("n_planted"))
                     & (F.col("__hi") == F.col("n_planted")))
                    .alias("span_counts_exact")))


def q_streaming_decayed_state(spark, sf):
    """Streaming DecayingCMS (live trending surface): drive events
    through a real stream via sketch_state_stream_by_key (the
    serialized-state hand-off), decode each event_type's final state,
    and verify the decayed per-user frequency bounds against the exact
    decay expression computed in Spark — never under, over by
    <= eps * decayed mass. Stream == batch by monoid commutativity."""
    import shutil
    import tempfile
    import uuid
    from .sketches.sketchmap import DecayingCMS
    from .streaming.stateful import sketch_state_stream_by_key
    half = 7 * 86400.0
    eps = 0.005
    d = tempfile.mkdtemp(prefix="stream_events_")
    try:
        shutil.copy(f"{sf}/events.parquet", f"{d}/part-0.parquet")
        batch = spark.read.parquet(d)
        prep = lambda df: (df.withColumn(  # noqa: E731
            "sec", F.col("ts").cast("timestamp").cast("double"))
            .withColumn("w", F.lit(1.0)))
        sdf = spark.readStream.schema(batch.schema).parquet(d)
        out = sketch_state_stream_by_key(
            prep(sdf), ["event_type"], ["user_id", "sec", "w"],
            lambda: DecayingCMS(eps=eps, delta=1e-4, half_life=half))
        qname = f"q_stream_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        states = {r["event_type"]: from_bytes(bytes(r["state"]))
                  for r in spark.sql(
                      f"SELECT * FROM {qname}").collect()}
        pb = prep(batch)
        t_max = float(pb.agg(F.max("sec")).collect()[0][0])
        exact = (pb.groupBy("event_type", "user_id")
                 .agg(F.sum(F.pow(F.lit(2.0),
                                  (F.col("sec") - F.lit(t_max)) / half))
                      .alias("f")).collect())
        per_type: dict = {}
        for r in exact:
            per_type.setdefault(r["event_type"], []).append(
                (r["user_id"], r["f"]))
        rows = []
        for t in sorted(per_type):
            sk = states[t]
            users = np.array([u for u, _ in per_type[t]], dtype=np.int64)
            truth = np.array([f for _, f in per_type[t]])
            est = sk.decayed_frequencies(users, at_ts=t_max)
            mass = float(truth.sum())
            rows.append(Row(
                event_type=t, n_users=int(len(users)),
                never_under=bool((est >= truth - 1e-6).all()),
                within_eps=bool((est <= truth + eps * mass + 1e-6).all())))
        return spark.createDataFrame(rows, StructType([
            StructField("event_type", StringType(), False),
            StructField("n_users", LongType(), False),
            StructField("never_under", BooleanType(), False),
            StructField("within_eps", BooleanType(), False)]))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# graph: connected components / dedup clustering
# ---------------------------------------------------------------------------

def q_connected_components(spark, sf):
    """Connected components (alternating large-star/small-star) over a
    deterministic chain graph on documents: edge (d, d-1) whenever
    d % 7 != 0 and both docs exist. Components are id-chains of up to
    7 nodes, so convergence requires genuine multi-round propagation.
    The oracle recomputes the SAME graph's components via a recursive
    transitive-closure CTE — label values AND sizes are compared."""
    from .operators.graph import connected_components
    docs = _t(spark, sf, "documents").select("doc_id")
    a, b = docs.alias("a"), docs.alias("b")
    edges = (a.join(b, F.col("a.doc_id") == F.col("b.doc_id") + 1)
              .filter(F.col("a.doc_id") % 7 != 0)
              .select(F.col("a.doc_id").alias("src"),
                      F.col("b.doc_id").alias("dst")))
    cc = connected_components(edges, vertices=docs, vertex_col="doc_id")
    return (cc.groupBy("component").agg(F.count("*").alias("n_nodes")))


def q_dedup_clusters(spark, sf):
    """Transitive near-dup clustering: plant CHAINS of 3 near-dups
    (orig -> +1 token -> +2 tokens) for every md5-eligible doc, find
    pairs with MinHash-LSH, cluster with connected components, keep
    min-id per cluster. Verdicts are robust to extra genuine near-dup
    pairs in the corpus (clusters may merge; planted members must
    still share their orig's component and never be the survivor)."""
    from .operators.graph import dedup_clusters
    docs = _t(spark, sf, "documents")
    eligible = docs.filter(
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
         < F.lit("2"))
        & (text.token_count(F.col("text")) >= 30))
    c1 = (eligible.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
                  .withColumn("text", F.concat("text", F.lit(" zzqx917"))))
    c2 = (eligible.withColumn("doc_id", F.col("doc_id") + F.lit(2 * 10**9))
                  .withColumn("text", F.concat("text",
                                               F.lit(" zzqx917 qqv84z"))))
    view = docs.unionByName(c1).unionByName(c2)
    pairs = dedup.near_dup_pairs_minhash(view, "doc_id", "text",
                                         num_perm=64, bands=16,
                                         threshold=0.7)
    clusters = dedup_clusters(view, pairs.select("id_a", "id_b"), "doc_id")
    planted = clusters.filter(F.col("doc_id") >= 10**9).select(
        (F.col("doc_id") % 10**9).alias("orig"), "component", "keep")
    orig_comp = (clusters.filter(F.col("doc_id") < 10**9)
                 .select(F.col("doc_id").alias("orig"),
                         F.col("component").alias("orig_component")))
    joined = planted.join(orig_comp, "orig")
    verdict = joined.agg(
        (F.count("*") / F.lit(2)).cast("long").alias("n_planted_docs"),
        F.min((F.col("component") == F.col("orig_component"))
              .cast("int")).cast("boolean").alias("planted_connected_ok"),
        F.sum(F.col("keep").cast("long")).alias("planted_kept"))
    return verdict


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

def q_ivf_topk_exhaustive(spark, sf):
    """IVF-Flat with nprobe == n_lists: every inverted list is probed,
    so the result must EQUAL exact brute-force cosine top-5 — the
    oracle validates the whole IVF machinery (spherical k-means
    training, list assignment, probe routing, candidate scoring)
    value-for-value against SQL."""
    emb = _t(spark, sf, "embeddings")
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cents = similarity.train_ivf_centroids(emb, n_lists=16, n_iter=3)
    out = similarity.ivf_topk(emb, queries, k=5, centroids=cents, nprobe=16)
    return out.select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rank")


def q_ivf_indexed_topk(spark, sf):
    """The MATERIALIZED-index IVF path (round 5: write_ivf_index +
    ivf_topk_indexed), value-checked end-to-end: the assignment table
    is written partitionBy('__list') to parquet, probes are computed
    driver-side into a static ``__list IN (...)`` predicate (partition
    pruning — plan-gated in test_plans.py), and with nprobe == n_lists
    the answer must EQUAL exact brute-force cosine top-5 in SQL. This
    validates the full 100 TB layout: write path, pruned scan with
    precomputed norms, probe routing, scoring."""
    import os
    emb = _t(spark, sf, "embeddings")
    queries = (emb.orderBy("vec_id").limit(3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cents = similarity.train_ivf_centroids(emb, n_lists=16, n_iter=3)
    tag = os.path.basename(sf.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".data", f"ivf_index_{tag}")
    similarity.write_ivf_index(emb, cents, path)
    out = similarity.ivf_topk_indexed(spark, path, queries, k=5,
                                      centroids=cents, nprobe=16)
    return out.select("q_id", "vec_id", F.round("cos", 4).alias("cos"),
                      "rank")


def q_ivf_recall(spark, sf):
    """IVF-Flat at the real operating point (nprobe 4 of 16 lists ->
    ~25% of the data scored per query): top-5 recall vs exact,
    computed in-plan. The pipeline is deterministic (seeded init,
    fixture data), measured recall 0.88-1.0 across SFs; the oracle
    pins n_queries exactly and recall >= 0.8. (0.9+ at 4/16 is not
    reachable on this fixture: the synthetic embeddings are isotropic
    Gaussians whose true-NN cosines sit at the ~0.3 noise floor, so a
    neighbor's list is nearly independent of the query direction —
    measured, the missed neighbors' lists rank 5-11 in ANY probe
    order. q_ivf_planted_recall gates the realistic near-duplicate
    regime at 0.95 instead.)"""
    emb = _t(spark, sf, "embeddings")
    queries = (emb.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cents = similarity.train_ivf_centroids(emb, n_lists=16, n_iter=5)
    exact = similarity.cosine_topk(emb, queries, k=5) \
        .select("q_id", F.col("vec_id").alias("nn"))
    approx = similarity.ivf_topk(emb, queries, k=5,
                                 centroids=cents, nprobe=4) \
        .select("q_id", F.col("vec_id").alias("nn"))
    hits = exact.join(approx, ["q_id", "nn"], "left_semi")
    return exact.agg(F.count_distinct("q_id").alias("n_queries")) \
        .crossJoin(hits.agg(F.count("*").alias("__h"))) \
        .crossJoin(exact.agg(F.count("*").alias("__t"))) \
        .select("n_queries",
                (F.col("__h") >= 0.8 * F.col("__t")).alias("recall_ok"))


def q_ivf_planted_recall(spark, sf):
    """IVF-Flat recall in the regime that matters for corpus dedup:
    PLANTED near-identical vectors (deterministic +-1% multiplicative
    jitter, cos ~0.9999 vs the corpus's ~0.3 NN noise floor). Original
    and copy quantize to the same (or a margin-adjacent) inverted
    list, so at nprobe=4/16 with boundary-spill assignment
    (spill_margin=0.05) the top-1 for every planted query must be its
    original — gated at 0.95. n_planted is SQL-reproducible."""
    emb = _t(spark, sf, "embeddings")
    eligible = emb.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        < F.lit("4"))
    jitter = F.transform(
        "embedding",
        lambda x, i: x * (1.0 + (F.pmod(F.xxhash64(F.col("vec_id"), i),
                                        F.lit(1000)) - 500)
                          .cast("double") / 50000.0))
    planted = (eligible
               .withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
               .withColumn("embedding", jitter.cast("array<float>")))
    view = emb.unionByName(planted.select(*emb.columns))
    queries = planted.select(F.col("vec_id").alias("q_id"),
                             F.col("embedding").alias("q_vec"))
    cents = similarity.train_ivf_centroids(view, n_lists=16, n_iter=5)
    found = similarity.ivf_topk(view, queries, k=1, centroids=cents,
                                nprobe=4, spill_margin=0.05)
    hits = found.filter(
        F.col("vec_id") == F.col("q_id") - F.lit(10**9))
    n_hit = hits.agg(F.count("*").alias("__h"))
    return (eligible.agg(F.count("*").alias("n_planted"))
            .crossJoin(n_hit)
            .select("n_planted",
                    (F.col("__h") >= 0.95 * F.col("n_planted"))
                     .alias("recall_ok")))


def q_streaming_dedup(spark, sf):
    """Exact dedup as a STREAM: fingerprint each arriving doc and keep
    first-seen via dropDuplicatesWithinWatermark — the Structured
    Streaming form of dedup_exact. The watermark (1 hour over a
    synthetic event-time derived from doc_id) bounds dedup state at
    scale: only fingerprints within the watermark horizon stay in the
    store, exactly how a 100 TB ingest pipeline keeps streaming dedup
    feasible. Survivor count == distinct texts (SQL-reproducible);
    survivor identity is arrival-order-dependent, so only counts are
    compared."""
    import shutil
    import tempfile
    import uuid
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        docs = _docs_with_dups(spark, sf).withColumn(
            "ts", (F.lit(1_700_000_000) + F.col("doc_id") % 3600)
                  .cast("timestamp"))
        docs.coalesce(1).write.mode("overwrite").parquet(d)
        batch = spark.read.parquet(d)
        sdf = spark.readStream.schema(batch.schema).parquet(d)
        kept = (sdf.withColumn("fp", text.fingerprint(F.col("text")))
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["fp"]))
        qname = f"q_dedup_{uuid.uuid4().hex[:8]}"
        q = (kept.writeStream.outputMode("append").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(f"SELECT * FROM {qname}")
        return out.agg(
            F.count("*").alias("n_kept"),
            F.count_distinct("fp").alias("n_distinct_fp"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_hashing_trick(spark, sf):
    """HashingTrick feature vectors per source (reference
    HashingTrick.scala:19-38): whitespace tokens hash into a 2^12
    sparse signed vector. Signed bucket values are hash-dependent, so
    the oracle pins the exact token mass (SQL-reproducible) and a
    monoid-law verdict computed in-plan: the vector of all docs must
    equal the bucket-wise sum of the even-doc and odd-doc vectors
    (exact — ±1 weights sum to integer doubles)."""
    from .operators.features import feature_hash_vector
    docs = _t(spark, sf, "documents")
    toks = (docs.select("source", "doc_id",
                        F.explode(F.split(F.trim("text"), r"\s+"))
                         .alias("tok"))
            .filter(F.col("tok") != ""))
    whole = feature_hash_vector(toks, ["source"], "tok", bits=12)
    parts = (feature_hash_vector(toks.filter(F.col("doc_id") % 2 == 0),
                                 ["source"], "tok", bits=12)
             .union(feature_hash_vector(toks.filter(F.col("doc_id") % 2 == 1),
                                        ["source"], "tok", bits=12))
             .groupBy("source", "f_index")
             .agg(F.sum("f_value").alias("f_value"))
             .filter(F.col("f_value") != 0))
    mismatches = (whole.join(parts, ["source", "f_index"], "full_outer")
                  .filter(~(whole["f_value"].eqNullSafe(parts["f_value"])))
                  .groupBy("source").agg(F.count("*").alias("__bad")))
    n_tok = toks.groupBy("source").agg(F.count("*").alias("n_tokens"))
    return (n_tok.join(mismatches, "source", "left")
            .select("source", "n_tokens",
                    F.lit(4096).alias("dim"),
                    F.coalesce(F.col("__bad"), F.lit(0)).eqNullSafe(0)
                     .alias("monoid_ok")))


def q_training_pipeline(spark, sf):
    """End-to-end training-data pipeline composition over the
    planted-duplicate view: quality gate (length + token thresholds)
    -> exact dedup (keep min doc_id) -> per-language corpus stats.
    Every stage is a library operator; every output is exact and
    integer-valued, so the oracle reproduces the full pipeline in SQL."""
    docs = _docs_with_dups(spark, sf)
    filtered = docs.filter((F.col("n_chars") >= 100)
                           & (text.token_count(F.col("text")) >= 20))
    kept = dedup.dedup_exact(filtered, "text", "doc_id")
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.sum(text.token_count(F.col("text")).cast("long"))
                  .alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars")))


def q_cms_inner_product(spark, sf):
    """CMS innerProduct (CountMinSketch.scala innerProduct semantics):
    estimate sum_k fA(k)*fR(k) — the A-vs-R join size on l_partkey —
    from two independently built distributed sketches. Exact inner
    product is SQL-reproducible; verdicts assert the published bound
    (never under; over by <= eps * NA * NR with prob 1-delta)."""
    li = _t(spark, sf, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A")
    r = li.filter(F.col("l_returnflag") == "R")
    eps, delta = 0.0005, 1e-6
    ska = sketch_global(a, "l_partkey", lambda: CMS(eps=eps, delta=delta))
    skr = sketch_global(r, "l_partkey", lambda: CMS(eps=eps, delta=delta))
    approx = ska.inner_product(skr)
    ca = a.groupBy("l_partkey").agg(F.count("*").alias("ca"))
    cr = r.groupBy("l_partkey").agg(F.count("*").alias("cr"))
    exact = (ca.join(cr, "l_partkey")
             .agg(F.sum(F.col("ca") * F.col("cr")).alias("exact_inner")))
    slack = eps * ska.total * skr.total
    return exact.select(
        "exact_inner",
        (F.lit(approx.estimate) >= F.col("exact_inner")).alias("never_under"),
        (F.lit(approx.estimate) <= F.col("exact_inner") + F.lit(slack))
            .alias("within_eps"))


def q_decontamination(spark, sf):
    """Benchmark decontamination (8-gram overlap): eligible docs (md5
    rule, >= 30 tokens) get a known benchmark phrase appended; the
    operator must flag EXACTLY those docs against a 2-phrase benchmark
    set (one planted, one absent). Counts are SQL-reproducible;
    booleans assert no false positives / no misses."""
    from .operators.contamination import ngram_contamination
    phrase = "qv1 qv2 qv3 qv4 qv5 qv6 qv7 qv8"
    docs = _t(spark, sf, "documents")
    elig = ((F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
             < F.lit("2"))
            & (text.token_count(F.col("text")) >= 30))
    view = docs.withColumn(
        "text", F.when(elig, F.concat("text", F.lit(" " + phrase)))
                 .otherwise(F.col("text")))
    bench = spark.createDataFrame(
        [(phrase,), ("zz9a zz9b zz9c zz9d zz9e zz9f zz9g zz9h",)],
        "text string")
    flagged = ngram_contamination(view, bench, shingle_n=8)
    joined = flagged.join(docs.select("doc_id", elig.alias("planted")),
                          "doc_id")
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        F.min((F.col("contaminated") == F.col("planted")).cast("int"))
         .cast("boolean").alias("exact_flagging"))


def q_session_windows(spark, sf):
    """Sessionization: per-user session counts with a 30-minute
    inactivity gap via Spark's native session_window (merging event-
    time sessions — the Structured Streaming-compatible form). The
    oracle recomputes sessions with the gaps-and-islands idiom
    (lag + cumulative new-session markers). Exact integers only."""
    ev = _t(spark, sf, "events")
    sess = (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n")))
    return (sess.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("n").alias("n_events")))


def q_simhash_planted_recall(spark, sf):
    """SimHash banding recall against PLANTED exact duplicates: an
    identical token multiset gives an identical simhash (Hamming 0),
    and the chunk-combination pigeonhole guarantees Hamming <=
    max_hamming pairs are ALWAYS found — so recall on the planted set
    must be exactly 100%, making the probabilistic operator
    oracle-checkable (n_planted exact; all_found pinned TRUE)."""
    docs = _t(spark, sf, "documents")
    eligible = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < F.lit("2"))
    planted = eligible.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    view = docs.unionByName(planted)
    found = dedup.near_dup_pairs_simhash(view, "doc_id", "text",
                                         max_hamming=3)
    expect = eligible.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(10**9)).alias("id_b"))
    n_found = expect.join(found, ["id_a", "id_b"], "left_semi") \
        .agg(F.count("*").alias("__f"))
    return (expect.agg(F.count("*").alias("n_planted"))
            .crossJoin(n_found)
            .select("n_planted",
                    (F.col("__f") == F.col("n_planted")).alias("all_found")))


def q_stratified_sample(spark, sf):
    """Per-stratum deterministic sampling (the training-mix primitive:
    different keep rates per source). The md5-prefix rule is
    engine-portable, so the oracle reproduces the EXACT sampled
    multiset — per-source counts and doc_id sums match value-for-value."""
    docs = _t(spark, sf, "documents")
    fractions = {"src0": 0.75, "src1": 0.25, "src2": 0.05}
    out = exact.stratified_sample(docs, "source", fractions, "doc_id")
    return (out.groupBy("source")
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("doc_id").alias("id_sum")))


def q_weighted_minhash_recall(spark, sf):
    """Weighted (ICWS) MinHash recall on planted FREQUENCY near-dups:
    each eligible doc gets a copy with its own first 10 tokens appended
    — the token SET is unchanged (set-Jaccard 1) but frequencies shift,
    so weighted Jaccard ~ L/(L+10) in [0.75, 1). The pipeline must
    recover >= 90% of planted pairs, and every recovered pair's exact
    weighted Jaccard must be < 1 (proving the estimator sees
    frequencies, not just sets). n_planted is SQL-reproducible."""
    from .operators.weighted_minhash import near_dup_pairs_weighted
    docs = _t(spark, sf, "documents")
    eligible = docs.filter(
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
         < F.lit("2"))
        & (text.token_count(F.col("text")) >= 30))
    head10 = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 10))
    planted = (eligible
               .withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
               .withColumn("text", F.concat(F.lower(F.trim("text")),
                                            F.lit(" "), head10)))
    view = docs.unionByName(planted)
    found = near_dup_pairs_weighted(view, "doc_id", "text",
                                    num_perm=64, bands=16, threshold=0.7)
    expect = eligible.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(10**9)).alias("id_b"))
    hits = expect.join(found, ["id_a", "id_b"]) \
        .agg(F.count("*").alias("__h"),
             F.max("wjaccard").alias("__maxwj"))
    return (expect.agg(F.count("*").alias("n_planted"))
            .crossJoin(hits)
            .select("n_planted",
                    (F.col("__h") >= 0.9 * F.col("n_planted"))
                     .alias("recall_ok"),
                    (F.col("__maxwj") < 1.0).alias("frequency_aware")))


def q_fd_covariance(spark, sf):
    """Embedding covariance via FrequentDirections (NEW r7) — the
    mergeable matrix sketch (Liberty 2013; Ghashami et al. 2016 for
    mergeability) built through the same partition-combine/tree-merge
    harness as every scalar sketch (``sketch_global``), vs the exact
    (d x d) Gram computed by a distributed partial-Gram pass. Verdicts
    assert the two provable invariants: B^T B <= A^T A in the PSD
    order (shrink-only) and ||A^T A - B^T B||_2 <= ||A||_F^2 / ell.
    Exact columns (n_vecs, mean squared norm) are SQL-reproducible;
    at 100 TB the sketch replaces a d x d * n_partitions shuffle of
    exact Grams with 8 KB mergeable states and a provable bound."""
    from .sketches import FrequentDirections

    emb = _t(spark, sf, "embeddings").filter(F.col("embedding").isNotNull())
    d = len(emb.select("embedding").first()[0])
    ell = 16
    sk = sketch_global(emb, "embedding", lambda: FrequentDirections(d, ell))

    def gram_part(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        G = np.zeros((d, d))
        n = 0
        for batch in batches:
            M, _ = _matrix(batch.column("embedding"), d)
            G += M.T @ M
            n += M.shape[0]
        yield pa.RecordBatch.from_pydict({"g": [G.ravel().tobytes()],
                                          "n": [n]})

    parts = emb.select("embedding").mapInArrow(
        gram_part, "g binary, n long").collect()
    G_exact = np.zeros((d, d))
    n_vecs = 0
    for r in parts:
        G_exact += np.frombuffer(bytes(r["g"]), dtype=np.float64) \
            .reshape(d, d)
        n_vecs += r["n"]
    diff_eigs = np.linalg.eigvalsh(G_exact - sk.gram())
    sq_frob = float(np.trace(G_exact))
    psd_tol = 1e-9 * max(sq_frob, 1.0)
    return spark.createDataFrame(
        [Row(n_vecs=int(n_vecs),
             mean_sq_norm=float(round(sq_frob / n_vecs, 4)),
             fd_bound_ok=bool(np.abs(diff_eigs).max()
                              <= sk.error_bound() + psd_tol),
             fd_psd_ok=bool(diff_eigs.min() >= -psd_tol))],
        StructType([StructField("n_vecs", LongType(), False),
                    StructField("mean_sq_norm", DoubleType(), False),
                    StructField("fd_bound_ok", BooleanType(), False),
                    StructField("fd_psd_ok", BooleanType(), False)]))


def q_pq_topk(spark, sf):
    """Product-quantization ANN (NEW r7; Jegou et al. 2011): vectors
    compress to m=8 uint8 codes (32x vs float32 at d=64) and queries
    scan CODES via per-query distance tables. Deterministic planted
    design: the 5 lowest-id vectors get EXACT copies under NEGATIVE
    ids. A copy shares its query's code, and a query's own code
    minimizes every subspace table (it was assigned by that argmin),
    so the copy's ADC distance is the global minimum and the negative
    id wins every tie — pure-ADC top-1 MUST be the copy, seed-free.
    The exact re-rank stage must then place copy at rank 1 and the
    original (exact distance 0 too) at rank 2. Codebook training is
    deterministic (lowest-id init + Lloyd), so all verdicts are
    stable; n_vecs / n_planted are SQL-reproducible."""
    from .operators import pq as pqmod

    emb = _t(spark, sf, "embeddings").filter(F.col("embedding").isNotNull())
    base = emb.select("vec_id", "embedding")
    planted = (base.orderBy("vec_id").limit(5)
               .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding"))
    view = base.unionByName(planted)
    cb = pqmod.train_pq_codebook(view, m=8, k_sub=64, n_iter=4)
    enc = pqmod.encode_pq(view, cb)
    queries = (base.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    adc = pqmod.pq_topk(enc, queries, k=1, codebook=cb).collect()
    adc_ok = all(r["vec_id"] == -r["q_id"] - 1 for r in adc) and len(adc) == 5
    rr = pqmod.pq_topk(enc, queries, k=2, codebook=cb, rerank=32,
                       vectors=view).collect()
    by_q = {}
    for r in rr:
        by_q[(r["q_id"], r["rank"])] = r["vec_id"]
    rerank_ok = all(by_q.get((r["q_id"], 1)) == -r["q_id"] - 1
                    and by_q.get((r["q_id"], 2)) == r["q_id"]
                    for r in adc)
    n_vecs = base.count()
    return spark.createDataFrame(
        [Row(n_vecs=int(n_vecs), n_planted=5,
             adc_top1_is_copy=bool(adc_ok),
             rerank_top2_exact=bool(rerank_ok))],
        StructType([StructField("n_vecs", LongType(), False),
                    StructField("n_planted", LongType(), False),
                    StructField("adc_top1_is_copy", BooleanType(), False),
                    StructField("rerank_top2_exact", BooleanType(), False)]))


def q_ivf_pq_topk(spark, sf):
    """IVF-PQ composition (NEW r7; Jegou et al. 2011 §IV): coarse L2
    quantizer routes each vector to one inverted list, PQ encodes the
    RESIDUAL — queries probe nprobe lists and ADC-score only those
    codes, the 100 TB shape (partition-pruned list scan x 26.9x
    smaller rows, BENCH/pq_rehearsal.json). Same deterministic
    planted design as q_pq_topk: exact copies under negative ids land
    in the same list with the same residual code; after the exact
    re-rank the copy must be rank 1 (distance 0, lower id) and the
    original rank 2. The pure-ADC copy-in-top-2 verdict is
    deterministic per fixture (training is seed-free) and holds at
    all 3 SFs. Every stage is the library operator — no query-local
    math. n_vecs / n_planted are SQL-reproducible."""
    from .operators import pq as pqmod

    emb = _t(spark, sf, "embeddings").filter(F.col("embedding").isNotNull())
    base = emb.select("vec_id", "embedding")
    planted = (base.orderBy("vec_id").limit(5)
               .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding"))
    view = base.unionByName(planted)
    coarse = pqmod.train_coarse_centroids(view, n_lists=16, n_iter=4)
    cb = pqmod.train_pq_codebook(pqmod.residual_vectors(view, coarse),
                                 m=8, k_sub=64, n_iter=4)
    enc = pqmod.encode_ivf_pq(view, coarse, cb)
    queries = (base.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    adc = pqmod.ivf_pq_topk(enc, queries, k=2, coarse=coarse, codebook=cb,
                            nprobe=4).collect()
    by_adc = {}
    for r in adc:
        by_adc.setdefault(r["q_id"], set()).add(r["vec_id"])
    adc_ok = all(-q - 1 in vs for q, vs in by_adc.items()) \
        and len(by_adc) == 5
    rr = pqmod.ivf_pq_topk(enc, queries, k=2, coarse=coarse, codebook=cb,
                           nprobe=4, rerank=32, vectors=view).collect()
    by_q = {(r["q_id"], r["rank"]): r["vec_id"] for r in rr}
    rerank_ok = all(by_q.get((q, 1)) == -q - 1 and by_q.get((q, 2)) == q
                    for q in by_adc)
    n_vecs = base.count()
    return spark.createDataFrame(
        [Row(n_vecs=int(n_vecs), n_planted=5,
             adc_top2_has_copy=bool(adc_ok),
             rerank_top2_exact=bool(rerank_ok))],
        StructType([StructField("n_vecs", LongType(), False),
                    StructField("n_planted", LongType(), False),
                    StructField("adc_top2_has_copy", BooleanType(), False),
                    StructField("rerank_top2_exact", BooleanType(), False)]))


def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-duplicate PAIRS (embedding_cosine_dups):
    md5-eligible vectors get a planted copy scaled by 1.5 — cosine is
    scale-invariant, so the pair's cos == 1.0 EXACTLY and the
    hyperplane bucket signs are identical (dot products scale
    positively), making detection deterministic: every planted pair
    MUST appear above threshold regardless of the LSH seed. The
    verdict also pins that no reported pair falls below the
    threshold (the operator's own postcondition).
    n_planted is SQL-reproducible."""
    emb = _t(spark, sf, "embeddings")
    eligible = emb.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        < F.lit("4"))
    planted = (eligible
               .withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: x * 1.5)
                           .cast("array<float>")))
    view = emb.unionByName(planted.select(*emb.columns))
    dim = len(emb.select("embedding").first()[0])
    pairs = similarity.embedding_cosine_dups(view, threshold=0.98,
                                             dim=dim, n_planes=6)
    want = eligible.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + F.lit(10**9)).alias("id_b"))
    n_found = (want.join(pairs, ["id_a", "id_b"], "left_semi")
               .agg(F.count("*").alias("__f")))
    n_planted = want.agg(F.count("*").alias("n_planted"))
    postcond = pairs.agg(
        F.coalesce(F.bool_and(F.col("cos") >= 0.98), F.lit(True))
         .alias("threshold_respected"))
    return (n_planted.crossJoin(n_found).crossJoin(postcond)
            .select("n_planted",
                    (F.col("__f") == F.col("n_planted"))
                    .alias("all_planted_found"),
                    "threshold_respected"))


def q_lsh_planted_recall(spark, sf):
    """Multi-table hyperplane-LSH recall on PLANTED near-identical
    vectors: md5-eligible vectors get a copy with deterministic symmetric +-1%
    per-dimension multiplicative jitter (cos ~ 0.9999 — far above the
    corpus's ~0.4 NN cosine), and the ANN top-1 for each planted query
    must be its original. At 4 planes x 8 tables + 1-bit multiprobe the
    per-pair miss probability is well under 1e-4, so the 0.95 recall
    gate is stable.
    n_planted is SQL-reproducible."""
    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    eligible = emb.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        < F.lit("4"))
    jitter = F.transform(
        "embedding",
        lambda x, i: x * (1.0 + (F.pmod(F.xxhash64(F.col("vec_id"), i),
                                        F.lit(1000)) - 500)
                          .cast("double") / 50000.0))
    planted = (eligible
               .withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
               .withColumn("embedding", jitter.cast("array<float>")))
    view = emb.unionByName(planted.select(*emb.columns))
    queries = planted.select(F.col("vec_id").alias("q_id"),
                             F.col("embedding").alias("q_vec"))
    found = similarity.lsh_multitable_topk(view, queries, k=1, dim=dim,
                                           n_planes=4, n_tables=8,
                                           multiprobe=True)
    hits = found.filter(
        F.col("vec_id") == F.col("q_id") - F.lit(10**9))
    n_hit = hits.agg(F.count("*").alias("__h"))
    return (eligible.agg(F.count("*").alias("n_planted"))
            .crossJoin(n_hit)
            .select("n_planted",
                    (F.col("__h") >= 0.95 * F.col("n_planted"))
                     .alias("recall_ok")))


def q_outlier_detection(spark, sf):
    """Moments applied: per-event-type z-score anomaly flags. The
    population mean/stddev come from one aggregate pass (the Moments
    monoid surface), broadcast back over the stream; outliers are
    |z| > 3. Counts are exact integers — fully SQL-reproduced."""
    ev = _t(spark, sf, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"),
        F.stddev_pop("value").alias("__sd"))
    flagged = (ev.join(F.broadcast(stats), "event_type")
               .withColumn("__z", (F.col("value") - F.col("__mu"))
                           / F.col("__sd")))
    return (flagged.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum((F.abs("__z") > 3).cast("long")).alias("n_outliers")))


def q_trending_topk(spark, sf):
    """Trending top-3 event types: exponentially decayed event counts
    (half-life 1 day, decayed to the GLOBAL newest timestamp so types
    compare at a common 'now') ranked descending — DecayedValue
    composed with sortedTake. Rank gaps in the fixture are >= 0.5, so
    cross-engine float noise (~1e-9) cannot flip the ordering."""
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    sec = F.col("ts").cast("timestamp").cast("double")
    gmax = ev.agg(F.max(sec).alias("__gmax"))
    dec = (ev.crossJoin(F.broadcast(gmax))
           .groupBy("event_type")
           .agg(F.sum(F.pow(F.lit(2.0),
                            (sec - F.col("__gmax")) / 86400.0))
                .alias("__dv")))
    w = Window.orderBy(F.col("__dv").desc(), F.col("event_type"))
    return (dec.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("event_type", F.round("__dv", 2).alias("decayed_count"),
                    "rank"))


def q_topk_pruned(spark, sf):
    """KLL-pruned EXACT per-group top-k (operators/topk.py — NEW r6):
    one quantile-sketch pass yields a per-group cutoff, the ranking
    window runs over only the ~k + O(eps*n) scan-stage survivors, a
    survivor-count check against the sketch's exact n falls back to
    the plain window on any shortfall — so the result is the oracle's
    ROW_NUMBER answer row for row, and the sketch can only change
    performance. Tiebreak is the unique (orderkey, linenumber) pair."""
    from .operators.topk import top_k_pruned
    li = (_t(spark, sf, "lineitem")
          .withColumn("__tb", F.col("l_orderkey") * 8
                      + F.col("l_linenumber")))
    top = top_k_pruned(li, ["l_returnflag"], "l_extendedprice", 5,
                       tiebreak="__tb")
    return (top.select("l_returnflag", "l_orderkey", "l_linenumber",
                       "l_extendedprice")
            .orderBy("l_returnflag", "l_orderkey", "l_linenumber"))


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement (A-ES,
    Efraimidis-Spirakis 2006; operators/topk.py — NEW r6): top-k per
    source by ln(u)/w with u = (md5(salt:doc_id)[:12 hex] + 1) / 2^48
    — the engine-portable uniform every md5-prefix op here uses, so
    DuckDB reproduces the EXACT sample, row for row. Weight is a
    deterministic function of doc_id so both engines derive it
    identically."""
    from .operators.topk import weighted_sample
    docs = (_t(spark, sf, "documents")
            .withColumn("__w", (F.col("doc_id") % 97 + 1).cast("double")))
    samp = weighted_sample(docs, 3, "__w", by=["source"], id_col="doc_id")
    return (samp.select("source", "doc_id")
            .orderBy("source", "doc_id"))


def q_index_dedup(spark, sf):
    """Incremental dedup against a PERSISTED MinHash-LSH index
    (sources/lsh_index.py — NEW r6): 3/4 of the corpus is indexed once
    (band buckets + stored shingle sets + config manifest), the
    remaining 1/4 arrives as the 'daily increment' and probes it — the
    increment's buckets broadcast so the index side never shuffles,
    then EXACT shingle Jaccard >= 0.85 verifies candidates against the
    index's stored shingles (no corpus text re-read). The full pair
    set + Jaccard values must equal DuckDB's exact inverted-index
    answer between the two splits; at this fixture's pair similarities
    (>= 0.89) the 16x4 banding's miss probability is ~1e-7 and
    seed-fixed, so the equality is deterministic."""
    import os
    from .sources.lsh_index import (near_dups_against_index,
                                    write_minhash_index)
    docs = _t(spark, sf, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    tag = os.path.basename(sf.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".data", f"lsh_index_{tag}")
    write_minhash_index(idx_docs, path, mode="overwrite")
    out = near_dups_against_index(spark, path, new_docs, threshold=0.85)
    return (out.select(
        "index_id", "new_id",
        F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")
        .alias("jaccard_m4"))
        .orderBy("index_id", "new_id"))
