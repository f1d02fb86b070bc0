"""spark-submit entrypoint: end-to-end corpus hygiene pipeline —
quality gate -> exact dedup -> (optional) MinHash-LSH near-dup ->
connected-component clustering -> one survivor per cluster ->
(optional) benchmark decontamination via ``--benchmark``.

Usage (north_rule deployment shape):
  zip -r algebird_spark.zip algebird_spark
  spark-submit --py-files algebird_spark.zip \\
      algebird_spark/jobs/dedup_corpus.py \\
      --input /path/to/documents_parquet --output /path/to/out \\
      --min-chars 100 --min-tokens 20 --near-dup minhash

Outputs:
  out/survivors  parquet of surviving docs (all input columns)
  out/clusters   parquet of (doc_id, component, keep) for every doc
                 that passed the quality gate
plus a one-line JSON metrics summary on stderr (counts per stage).

At warehouse scale each stage is one bounded-shuffle pass: the quality
gate is a scan-time filter, exact dedup shuffles 128-bit fingerprints
(never text), LSH shuffles (band, bucket) signature slices, and the
star rounds of connected components shuffle only (node, long) edges.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", default=None)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-chars", type=int, default=0)
    ap.add_argument("--min-tokens", type=int, default=0)
    ap.add_argument("--near-dup", choices=["none", "minhash", "simhash"],
                    default="minhash")
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument("--benchmark", default=None,
                    help="parquet of eval/benchmark texts; survivors "
                         "sharing an 8-gram with it are dropped "
                         "(decontamination)")
    ap.add_argument("--benchmark-text-col", default="text")
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.appName("algebird_spark_dedup_corpus")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("WARN")

    from algebird_spark.operators.pipeline import dedup_pipeline

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    n_input = docs.count()

    near = None if args.near_dup == "none" else args.near_dup
    # persist=True caches gated/exact_kept BEFORE the eager LSH +
    # connected-components work inside the pipeline reuses them
    stages = dedup_pipeline(docs, args.text_col, args.id_col, near=near,
                            threshold=args.threshold,
                            num_perm=args.num_perm, bands=args.bands,
                            max_hamming=args.max_hamming,
                            min_chars=args.min_chars,
                            min_tokens=args.min_tokens, persist=True,
                            approx_rows=n_input)
    survivors = stages["survivors"]
    clusters = stages["clusters"]
    # the pipeline's Scope: this job's persists join it, so one
    # release drops every cached stage
    scope = survivors._algebird_cache
    n_decontaminated = 0
    try:
        if args.benchmark:
            from pyspark.sql import functions as F

            from algebird_spark.operators.contamination import decontaminate
            bench = spark.read.parquet(args.benchmark)
            # one materialization serves both the pre-decontamination
            # count and the decontaminate pass
            survivors = scope.persist(survivors)
            n_before = survivors.count()
            survivors = decontaminate(
                survivors, bench, id_col=args.id_col,
                text_col=args.text_col,
                bench_text_col=args.benchmark_text_col)
            # keep the provenance table consistent: decontaminated
            # docs flip to keep=false so clusters and survivors agree
            clean = survivors.select(F.col(args.id_col))
            flag = clean.withColumn("__clean", F.lit(True))
            clusters = (clusters.join(flag, args.id_col, "left")
                        .withColumn("keep",
                                    F.col("keep")
                                    & F.coalesce("__clean", F.lit(False)))
                        .drop("__clean"))
        survivors = scope.persist(survivors)
        n_gated = stages["gated"].count()
        n_exact = stages["exact_kept"].count()
        n_survivors = survivors.count()
        if args.benchmark:
            n_decontaminated = n_before - n_survivors
        if args.output:
            survivors.write.mode("overwrite") \
                .parquet(args.output + "/survivors")
            clusters.write.mode("overwrite") \
                .parquet(args.output + "/clusters")
    finally:
        scope.release()

    metrics = {"n_input": n_input, "n_after_quality": n_gated,
               "n_after_exact_dedup": n_exact, "n_survivors": n_survivors,
               "n_decontaminated": n_decontaminated,
               "near_dup": args.near_dup,
               "seconds": round(time.time() - t0, 2)}
    print(json.dumps(metrics), file=sys.stderr)
    if owns_session:
        spark.stop()
    return metrics


if __name__ == "__main__":
    main()
