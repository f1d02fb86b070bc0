"""Interleaved A/B: HLL builds fed by a JVM-side distinct (HLL insert
is idempotent like Bloom's — register = max(rho)) vs the direct scan.
Old/new alternate in ONE session; estimates are asserted equal.

MEASURED OUTCOME (recorded in OPTIMIZATION_r08.md):
  * hll_distinct_per_group — ADOPTED: rows equal, 1.44x at sf0.1,
    3.55x at the 6M-row sf1x fixture.
  * hll_rollup_sketch — REJECTED: its declared output carries the
    n_values ROW COUNT, which dedup changes (rows_equal=False below is
    the expected, documented refusal), and the variant was also 0.85x
    (slower) at sf0.1.

Usage: python scripts/ab_r08_hll_distinct.py [sf_dir] [rounds]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main():
    from pyspark.sql import SparkSession, functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("ab_r08_hll")
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
    from algebird_spark.agg import sketch_by_key, sketch_rollup, with_presented
    from algebird_spark.sketches import HLL

    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    # --- hll_distinct_per_group: full query old vs new shape ---
    def old_distinct_per_group():
        states = sketch_by_key(li, ["l_returnflag"], "l_partkey",
                               lambda: HLL(p=14))
        est = with_presented(states, lambda sk: {"est": sk.estimate()},
                             "est double")
        exact_df = li.groupBy("l_returnflag").agg(
            F.count_distinct("l_partkey").alias("exact_distinct"))
        return (exact_df.join(est.select("l_returnflag", "est"),
                              "l_returnflag")
                .select("l_returnflag", "exact_distinct", "est")).collect()

    def new_distinct_per_group():
        from algebird_spark.cache import Scope
        dk = Scope("ab_hll_pairs").persist(
            li.select("l_returnflag", "l_partkey").distinct())
        dk.count()
        states = sketch_by_key(dk, ["l_returnflag"], "l_partkey",
                               lambda: HLL(p=14))
        est = with_presented(states, lambda sk: {"est": sk.estimate()},
                             "est double")
        exact_df = dk.groupBy("l_returnflag").agg(
            F.count("l_partkey").alias("exact_distinct"))
        return (exact_df.join(est.select("l_returnflag", "est"),
                              "l_returnflag")
                .select("l_returnflag", "exact_distinct", "est")).collect()

    # --- hll_rollup sketch side: operator-only old vs new shape ---
    def old_rollup():
        states = sketch_rollup(li, ["l_returnflag", "l_linestatus"],
                               "l_partkey", lambda: HLL(p=14))
        return with_presented(states, lambda sk: {"est": sk.estimate()},
                              "est double").collect()

    def new_rollup():
        dk = li.select("l_returnflag", "l_linestatus", "l_partkey").distinct()
        states = sketch_rollup(dk, ["l_returnflag", "l_linestatus"],
                               "l_partkey", lambda: HLL(p=14))
        return with_presented(states, lambda sk: {"est": sk.estimate()},
                              "est double").collect()

    pairs = [("hll_distinct_per_group", old_distinct_per_group,
              new_distinct_per_group),
             ("hll_rollup_sketch", old_rollup, new_rollup)]

    spark.read.parquet(f"{SF}/lineitem.parquet").limit(1000) \
        .groupBy("l_returnflag").count().collect()
    for name, old, new in pairs:
        old(); new()  # warmup untimed

    ok = True
    for name, old, new in pairs:
        best_old = best_new = float("inf")
        rows_old = rows_new = None
        for r in range(ROUNDS):
            for tag, fn in (("old", old), ("new", new)):
                t0 = time.time()
                rows = fn()
                dt = time.time() - t0
                if tag == "old":
                    best_old, rows_old = min(best_old, dt), rows
                else:
                    best_new, rows_new = min(best_new, dt), rows
                print(f"  {name} {tag} r{r}: {dt:.3f}s", flush=True)
        same = sorted(map(str, rows_old)) == sorted(map(str, rows_new))
        ok = ok and same
        print(f"* {name}: old {best_old:.3f}s  new {best_new:.3f}s  "
              f"ratio {best_old / best_new:.2f}x  rows_equal={same}",
              flush=True)
    if not ok:
        sys.exit("ROWS DIFFER — change is NOT output-preserving")


if __name__ == "__main__":
    main()
