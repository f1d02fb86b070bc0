"""A/B rehearsal for the quantile-pruned exact top-k at window-dominated
scale: 50M wide-ish rows, 8 groups, k=100 — the regime where the plain
``row_number`` window shuffles EVERY row (with its payload) to rank
them and throws away all but 800.

Run EXCLUSIVELY (no concurrent Spark jobs — BENCH/BASELINE.md notes).
Writes BENCH/topk_rehearsal.json. Trials alternate plans (window,
pruned, window, pruned) so a drifting VM window cannot favor one side;
wall is best-of-2 per plan. The structural number that does not depend
on the box at all is the survivor count: the pruned plan's window
input, measured exactly, vs N for the plain plan — that ratio is the
shuffle-bytes cut a real cluster would see on its network.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

N = 50_000_000
GROUPS = 8
K = 100
KLL_K = 400


def main():
    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("topk_rehearsal")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from algebird_spark.operators.exact import top_k_per_group
    from algebird_spark.operators.topk import top_k_pruned
    from algebird_spark.sketches import KLL, kll_rank_error
    from algebird_spark.agg import sketch_by_key

    # wide-ish payload so the window Exchange carries real bytes
    df = (spark.range(N)
          .select((F.col("id") % GROUPS).cast("string").alias("g"),
                  F.col("id").alias("rid"),
                  (F.hash(F.col("id")) % 1_000_000_000).cast("double")
                  .alias("v"),
                  F.concat(F.lit("payload-"),
                           F.md5(F.col("id").cast("string"))).alias("pay"))
          .repartition(64).persist())
    df.count()

    def checksum(out):
        r = out.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.crc32(F.col("pay"))).alias("s"),
                    F.sum("v").alias("sv")).collect()[0]
        return {"n": int(r["n"]), "s": int(r["s"]), "sv": float(r["sv"])}

    def run_window():
        return checksum(top_k_per_group(df, ["g"], "v", K, tiebreak="rid"))

    def run_pruned():
        return checksum(top_k_pruned(df, ["g"], "v", K, tiebreak="rid"))

    rec = {"rows": N, "groups": GROUPS, "k": K, "kll_k": KLL_K,
           "cpus": spark.sparkContext.defaultParallelism,
           "protocol": "alternating trials, best-of-2 per plan"}

    walls = {"window": [], "pruned": []}
    results = {}
    for _ in range(2):
        for name, fn in (("window", run_window), ("pruned", run_pruned)):
            t0 = time.time()
            results[name] = fn()
            walls[name].append(round(time.time() - t0, 2))
    rec["wall_s"] = {k: min(v) for k, v in walls.items()}
    rec["trials"] = walls
    rec["checksums"] = results
    rec["checksums_equal"] = results["window"] == results["pruned"]

    # structural: exact survivor count of each prune (the window input)
    def count_survivors(cut: dict) -> int:
        return df.filter(
            F.col("v") >= F.coalesce(
                F.create_map(*[F.lit(x) for kv in cut.items() for x in kv])
                [F.col("g")], F.lit(float("-inf")))).count()

    # grid cutoffs (the operator default): GK summaries on the dyadic
    # top-quantile grid, grid index from the exact count
    import math
    ACC = 10_000
    ps = [1.0 - 2.0 ** -j for j in range(1, 41)]
    gcut = {}
    for r in df.groupBy("g").agg(
            F.count("v").alias("n"),
            F.percentile_approx("v", F.array(*[F.lit(p) for p in ps]),
                                F.lit(ACC)).alias("qs")).collect():
        slack = K + 2.0 / ACC * r["n"]
        j = min(int(math.floor(math.log2(r["n"] / slack))), 40)
        gcut[r["g"]] = r["qs"][j - 1]
    gsurv = count_survivors(gcut)

    # cutoffs from mergeable KLL states, for comparison
    states = sketch_by_key(
        df.select("g", F.col("v").cast("double").alias("__v")),
        ["g"], "__v", lambda: KLL(k=KLL_K))
    from algebird_spark.sketches import from_bytes
    kcut = {}
    for r in states.collect():
        sk = from_bytes(bytes(r["sketch_state"]))
        slack = K + 2.0 * sk.eps * sk.n
        kcut[r["g"]] = sk.quantile(max(0.0, 1.0 - slack / sk.n))
    ksurv = count_survivors(kcut)

    rec["window_input_rows"] = {"plain": N, "grid": int(gsurv),
                                "kll": int(ksurv)}
    rec["exchange_row_cut"] = {"grid": round(N / max(gsurv, 1), 1),
                               "kll": round(N / max(ksurv, 1), 1)}
    rec["eps"] = {"grid": 1.0 / ACC, "kll": kll_rank_error(KLL_K)}
    print(json.dumps(rec, indent=1))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "topk_rehearsal.json"),
            "w") as f:
        json.dump(rec, f, indent=1)


if __name__ == "__main__":
    main()
