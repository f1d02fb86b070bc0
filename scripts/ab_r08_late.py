"""Interleaved A/B for the round-8 LATE changes (bloom_membership
build-from-distinct, cms_point/cms_heavy exact-count overlap): OLD and
NEW implementations alternate inside ONE Spark session so VM drift
cancels; min-of-N per variant is reported. Not part of the frozen
bench; numbers land in OPTIMIZATION_r08.md.

Usage: python scripts/ab_r08_late.py [sf_dir] [rounds]
"""
import os
import sys
import time
from typing import Iterator

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main():
    from pyspark.sql import SparkSession, functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("ab_r08_late")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from algebird_spark import queries as Q
    from algebird_spark.agg import sketch_global
    from algebird_spark.sketches import CMS, BloomFilter
    from algebird_spark.sketches.base import from_bytes

    sf = SF  # queries take the sf DIR (see queries._t)

    # ---- OLD implementations (pre-late-r8), verbatim structure ----

    def old_bloom(spark, sf):
        od = Q._t(spark, sf, "orders")
        cu = Q._t(spark, sf, "customer")
        from algebird_spark.cache import Scope
        dk = Scope("ab_old_bloom_keys").persist(
            od.select(F.col("o_custkey").alias("c_custkey")).distinct())
        n_keys = dk.count()
        fpp = 0.01
        bf = sketch_global(od, "o_custkey",
                           lambda: BloomFilter(num_entries=max(n_keys, 64),
                                               fp_prob=fpp), fanout=16)
        bf_bytes = bf.to_bytes()

        @F.pandas_udf("boolean")
        def bf_hit(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            local = from_bytes(bf_bytes)
            for s in it:
                yield pd.Series(local.contains_batch(s.to_numpy()))

        present = dk.withColumn("__present", F.lit(True))
        probed = (cu.select("c_custkey")
                  .join(present, "c_custkey", "left")
                  .select(bf_hit(F.col("c_custkey")).alias("hit"),
                          F.coalesce("__present",
                                     F.lit(False)).alias("present")))
        stats = probed.agg(
            F.count("*").alias("n_probed"),
            F.sum(F.col("present").cast("long")).alias("n_present_exact"),
            F.sum((F.col("present") & ~F.col("hit")).cast("long"))
             .alias("false_negatives"))
        absent = spark.range(10**9, 10**9 + 50_000) \
            .select(bf_hit(F.col("id").cast("long")).alias("hit"))
        fpp_df = absent.agg(
            (F.avg(F.col("hit").cast("double")) <= 2 * fpp + 1e-4)
            .alias("fpp_ok"))
        return stats.crossJoin(fpp_df)

    def old_cms_point(spark, sf):
        li = Q._t(spark, sf, "lineitem")
        eps, delta = 0.0005, 1e-6
        sk = sketch_global(li, "l_partkey",
                           lambda: CMS(eps=eps, delta=delta), fanout=16)
        sk_bytes, total = sk.to_bytes(), sk.total

        @F.pandas_udf("long")
        def cms_est(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            local = from_bytes(sk_bytes)
            for s in it:
                yield pd.Series(
                    local.frequencies(s.to_numpy()).astype("int64"))

        probed = (li.groupBy("l_partkey").count()
                  .withColumn("est", cms_est(F.col("l_partkey"))))
        return probed.agg(
            F.count("*").alias("n_queried"),
            F.bool_and(F.col("est") >= F.col("count")).alias("never_under"),
            F.bool_and(F.col("est") <= F.col("count") + eps * total)
             .alias("within_eps"))

    def old_cms_hh(spark, sf):
        li = Q._t(spark, sf, "lineitem")
        pct, eps = 0.005, 0.0005
        sk = sketch_global(
            li, "l_suppkey",
            lambda: CMS(eps=eps, delta=1e-6, heavy_hitters_pct=pct),
            fanout=16)
        hh = list(sk.heavy_hitters().keys())
        n = sk.total
        in_hh = F.col("l_suppkey").isin(hh) if hh else F.lit(False)
        is_true_hh = F.col("count") >= pct * n
        return (li.groupBy("l_suppkey").count().agg(
            F.sum(is_true_hh.cast("long")).alias("n_true_hh"),
            F.bool_and(~is_true_hh | in_hh).alias("contains_all"),
            F.bool_and(F.when(in_hh, F.col("count") >= (pct - eps) * n)
                       .otherwise(F.lit(True))).alias("within_relaxed")))

    pairs = [
        ("bloom_membership", old_bloom, Q.q_bloom_membership),
        ("cms_point_queries", old_cms_point, Q.q_cms_point_queries),
        ("cms_heavy_hitters", old_cms_hh, Q.q_cms_heavy_hitters),
    ]

    # warmup both variants once (untimed)
    spark.read.parquet(f"{SF}/lineitem.parquet").limit(1000) \
        .groupBy("l_returnflag").count().collect()
    for name, old, new in pairs:
        old(spark, sf).collect()
        new(spark, sf).collect()

    results = {}
    for name, old, new in pairs:
        best_old = best_new = float("inf")
        rows_old = rows_new = None
        for r in range(ROUNDS):
            for tag, fn in (("old", old), ("new", new)):
                t0 = time.time()
                rows = fn(spark, sf).collect()
                dt = time.time() - t0
                if tag == "old":
                    best_old = min(best_old, dt)
                    rows_old = rows
                else:
                    best_new = min(best_new, dt)
                    rows_new = rows
                print(f"  {name} {tag} r{r}: {dt:.3f}s", flush=True)
        same = sorted(map(str, rows_old)) == sorted(map(str, rows_new))
        results[name] = (best_old, best_new, same)
        print(f"* {name}: old {best_old:.3f}s  new {best_new:.3f}s  "
              f"ratio {best_old / best_new:.2f}x  rows_equal={same}",
              flush=True)
    if not all(v[2] for v in results.values()):
        sys.exit("ROWS DIFFER — change is NOT output-preserving")


if __name__ == "__main__":
    main()
