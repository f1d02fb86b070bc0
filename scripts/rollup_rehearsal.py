"""A/B rehearsal for sketch_rollup at scan-dominated scale: distinct
ids per (source, day) plus per-source plus grand total over 100M rows.

The naive plan builds each grouping level from the rows — d+1 full
scans and d+1 Python sketch-kernel passes. ``sketch_rollup`` scans
ONCE (the finest build), then derives the coarse levels by merging the
(one-row-per-fine-key) state table: at 100 TB the coarse levels cost a
KB-scale state merge instead of extra corpus passes, so the speedup on
a real cluster is ~(levels)x the scan cost, bounded only by the
finest build.

Run EXCLUSIVELY (no concurrent Spark jobs — BENCH/BASELINE.md notes).
Writes BENCH/rollup_rehearsal.json. Estimates must be IDENTICAL
between the two plans (HLL register-max associativity), checked
per level.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

N = 100_000_000
SOURCES = 10
DAYS = 32
P = 14


def main():
    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("rollup_rehearsal")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from algebird_spark.agg import (STATE_COL, sketch_by_key, sketch_global,
                                    sketch_rollup)
    from algebird_spark.sketches import HLL, from_bytes

    df = (spark.range(N)
          .select((F.pmod(F.hash(F.col("id")), F.lit(SOURCES)))
                  .cast("string").alias("source"),
                  (F.pmod(F.hash(F.col("id") + 7), F.lit(DAYS)))
                  .cast("int").alias("day"),
                  # ~20M distinct ids spread over every (source, day)
                  F.pmod(F.hash(F.col("id") + 13), F.lit(20_000_000))
                  .alias("uid"))
          .repartition(64).persist())
    df.count()

    def ests_rollup():
        out = {}
        lv = sketch_rollup(df, ["source", "day"], "uid", lambda: HLL(p=P))
        for r in lv.collect():
            out[(r["source"], r["day"], r["grouping_id"])] = \
                from_bytes(bytes(r[STATE_COL])).estimate()
        return out

    def ests_direct():
        out = {}
        for r in sketch_by_key(df, ["source", "day"], "uid",
                               lambda: HLL(p=P)).collect():
            out[(r["source"], r["day"], 0)] = \
                from_bytes(bytes(r[STATE_COL])).estimate()
        for r in sketch_by_key(df, ["source"], "uid",
                               lambda: HLL(p=P)).collect():
            out[(r["source"], None, 1)] = \
                from_bytes(bytes(r[STATE_COL])).estimate()
        out[(None, None, 3)] = sketch_global(
            df, "uid", lambda: HLL(p=P)).estimate()
        return out

    rec = {"rows": N, "sources": SOURCES, "days": DAYS, "p": P,
           "cpus": spark.sparkContext.defaultParallelism,
           "protocol": "alternating trials, best-of-2 per plan"}
    walls = {"direct": [], "rollup": []}
    results = {}
    for _ in range(2):
        for name, fn in (("direct", ests_direct), ("rollup", ests_rollup)):
            t0 = time.time()
            results[name] = fn()
            walls[name].append(round(time.time() - t0, 2))
    rec["wall_s"] = {k: min(v) for k, v in walls.items()}
    rec["trials"] = walls
    # back-to-back repeat invocation (sketch_rollup keeps no state
    # cache, so this re-runs the single-pass build)
    ests_rollup()
    t0 = time.time()
    cached = ests_rollup()
    rec["wall_s"]["rollup_cached_reuse"] = round(time.time() - t0, 2)
    rec["levels"] = len(results["rollup"])
    rec["estimates_equal"] = (results["rollup"] == results["direct"]
                              == cached)
    rec["speedup"] = round(rec["wall_s"]["direct"]
                           / rec["wall_s"]["rollup"], 2)
    print(json.dumps(rec, indent=1))
    # enforce the docstring contract, don't just record it
    assert rec["estimates_equal"], \
        "rollup levels diverged from the direct per-level builds"
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "rollup_rehearsal.json"),
            "w") as f:
        json.dump(rec, f, indent=1)


if __name__ == "__main__":
    main()
