"""spark-submit entrypoint: build sketches over a token table, grouped
by key, with checkpointed per-partition state (lineage + metrics) and
estimate output.

Usage (north_rule deployment shape):
  zip -r algebird_spark.zip algebird_spark
  spark-submit --py-files algebird_spark.zip \\
      algebird_spark/jobs/build_sketches.py \\
      --input /path/to/tokens_parquet --value-col tokens --keys source \\
      --sketches hll,cms,kll,tdigest,bloom \\
      --checkpoint /path/to/ckpt --output /path/to/out_parquet

The job is idempotent: rerunning with an unchanged input resumes from
the checkpointed partition states (sources/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def make_factory(names: list[str], args):
    from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter,
                                         MultiSketch, QTree, TDigest)
    builders = {
        "hll": lambda: HLL(p=args.hll_bits),
        "cms": lambda: CMS(eps=args.cms_eps, delta=args.cms_delta,
                           heavy_hitters_pct=args.hh_pct),
        "kll": lambda: KLL(k=args.kll_k),
        "tdigest": lambda: TDigest(args.tdigest_compression),
        "bloom": lambda: BloomFilter(num_entries=args.bloom_entries,
                                     fp_prob=args.bloom_fpp),
        "qtree": lambda: QTree(k=args.qtree_k),
    }
    if len(names) == 1:
        return builders[names[0]]
    return lambda: MultiSketch({n: builders[n]() for n in names})


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--value-col", default="tokens")
    ap.add_argument("--keys", default="source")
    ap.add_argument("--sketches", default="hll,cms,kll,tdigest,bloom")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--snapshot-id", default=None,
                    help="table snapshot/version id (Iceberg snapshot_id, "
                         "Delta version) used as the checkpoint input "
                         "fingerprint — O(1), no file walk or count scan; "
                         "omit to fall back to the file-level fingerprint")
    ap.add_argument("--output", default=None)
    ap.add_argument("--premerge", type=int, default=None,
                    help="shuffle-free coalesce-level state combine before "
                         "the keyed merge; set to ~cluster cores when the "
                         "scan has far more partitions than executors")
    ap.add_argument("--hll-bits", type=int, default=14)
    ap.add_argument("--cms-eps", type=float, default=0.001)
    ap.add_argument("--cms-delta", type=float, default=1e-6)
    ap.add_argument("--hh-pct", type=float, default=0.001)
    ap.add_argument("--kll-k", type=int, default=200)
    ap.add_argument("--tdigest-compression", type=float, default=200.0)
    ap.add_argument("--bloom-entries", type=int, default=1_000_000)
    ap.add_argument("--bloom-fpp", type=float, default=0.01)
    ap.add_argument("--qtree-k", type=int, default=10)
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.appName("algebird_spark_build_sketches")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "4096")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("WARN")

    from algebird_spark.agg import STATE_COL, sketch_by_key, with_presented
    from algebird_spark.sources.checkpoint import build_or_resume

    keys = [k for k in args.keys.split(",") if k]
    names = args.sketches.split(",")
    factory = make_factory(names, args)
    df = spark.read.parquet(args.input)

    t0 = time.time()
    if args.checkpoint:
        states = build_or_resume(spark, df, keys, args.value_col, factory,
                                 args.checkpoint, premerge=args.premerge,
                                 snapshot_id=args.snapshot_id)
    else:
        states = sketch_by_key(df, keys, args.value_col, factory,
                               premerge=args.premerge)

    def presenter(sk):
        p = sk.present()
        return {"presented": json.dumps(p, default=str)}

    if args.output:
        # present from the written states, so the merge runs once
        states.write.mode("overwrite").parquet(args.output + "/states")
        written = spark.read.parquet(args.output + "/states")
        with_presented(written, presenter, "presented string") \
            .write.mode("overwrite").json(args.output + "/estimates")
        n = written.count()
    else:
        n = states.count()
    metrics = {"groups": n, "seconds": round(time.time() - t0, 2),
               "sketches": names, "keys": keys}
    print(json.dumps(metrics), file=sys.stderr)
    if owns_session:
        spark.stop()
    return metrics


if __name__ == "__main__":
    main()
