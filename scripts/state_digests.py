"""Print the sha256 of every sketch state row the aggregation harness
builds, so two checkouts can be compared for bit-identical states.

Cases: ``sketch_partitions`` (keyed), ``sketch_by_key`` (keyed,
keyless, keyed with ``premerge=2``), ``sketch_global`` and a 2-key cube
(``sketch_rollup``) for HLL (p=8, 12, 14), CMS, CMS with TopPct and
with TopN heavy hitters, a CMS over a 128-value column whose small
states stay sparse-exact, KLL, t-digest, Bloom and MultiSketch, a
MultiSketch over a float column holding ``-0.0``, ``0.0`` and NaN next
to other values, and a MultiSketch of a plain CMS and a TopN CMS;
keyed two-column ``sketch_by_key`` for HLLSeries, SketchMap (sum, max,
min), SketchMapHLL and a weighted CMS (``update_batch(values,
counts)``); and a two-column ``sketch_global`` for SketchMap. All at
``maxRecordsPerBatch`` 10000 and 64. One line per case:
``<batch> <build> <sketch> <sha256 of the sorted row digests> <rows>``.
A ``global`` case digests its one state as the row a keyless
``sketch_by_key`` of the same columns returns, so the two agree.

With ``--embeddings PATH`` (a parquet table of ``vec_id`` and an
``embedding`` array), ``train`` cases add the sha256 of the float64
bytes of each trained ANN model at both batch sizes:
``train_ivf_centroids`` (16 lists), ``train_coarse_centroids`` (16
lists), ``train_pq_codebook`` (m=8, k_sub=64) and the same codebook
trained on the coarse quantizer's residuals.

Usage:
  python scripts/state_digests.py [--checkout DIR] [--embeddings PATH] \
      > digests.txt
  python scripts/state_digests.py --diff old.txt new.txt

``--checkout`` (default: this script's checkout) is put first on
``sys.path`` and on the Spark workers' ``PYTHONPATH``, so one copy of
the script measures any checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import numpy as np

BATCHES = (10_000, 64)


def factories():
    from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter,
                                         MultiSketch, TDigest)
    return {
        "hll8": lambda: HLL(p=8),
        "hll12": lambda: HLL(p=12),
        "hll14": lambda: HLL(p=14),
        "cms": lambda: CMS(eps=0.01, delta=1e-3),
        "cms_hh": lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_pct=0.01),
        "cms_topn": lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_n=10),
        "cms_sparse": lambda: CMS(eps=0.002, delta=1e-3),  # max_exact 95
        "kll": lambda: KLL(k=100),
        "tdigest": lambda: TDigest(100),
        "bloom": lambda: BloomFilter(num_entries=20_000, fp_prob=0.01),
        "multi": lambda: MultiSketch({
            "hll": HLL(p=14), "cms": CMS(eps=0.01, delta=1e-3),
            "kll": KLL(k=100), "tdigest": TDigest(100),
            "bloom": BloomFilter(num_entries=20_000, fp_prob=0.01)}),
        "multi_float": lambda: MultiSketch({
            "hll": HLL(p=12), "cms": CMS(eps=0.01, delta=1e-3,
                                         heavy_hitters_pct=0.01),
            "kll": KLL(k=100),
            "bloom": BloomFilter(num_entries=20_000, fp_prob=0.01)}),
        "multi_topn": lambda: MultiSketch({
            "cms": CMS(eps=0.01, delta=1e-3),
            "topn": CMS(eps=0.01, delta=1e-3, heavy_hitters_n=10)}),
    }


# the array column each factory sketches (default "tokens")
COLUMNS = {"cms_sparse": "few_tokens", "multi_float": "float_tokens"}


def multi_factories():
    from algebird_spark.sketches import CMS, HLLSeries, SketchMap, SketchMapHLL
    return {"hllseries": lambda: HLLSeries(p=10),
            "sketchmap": lambda: SketchMap(eps=0.01, delta=1e-3),
            "sketchmap_max": lambda: SketchMap(eps=0.01, delta=1e-3,
                                               combine="max"),
            "sketchmap_min": lambda: SketchMap(eps=0.01, delta=1e-3,
                                               combine="min"),
            "sketchmap_hll": lambda: SketchMapHLL(eps=0.05, delta=0.05, p=8),
            "cms_weighted": lambda: CMS(eps=0.01, delta=1e-3,
                                        heavy_hitters_pct=0.05)}


def table(spark):
    """Token arrays keyed by source and by a 48-value bucket that is
    NULL on every 97th row; 8 partitions, so each bucket's slice of a
    partition is a few hundred tokens (sparse HLL states next to dense
    ones). ``few_tokens`` folds the tokens onto 128 values (sparse-exact
    CMS states next to dense ones); ``float_tokens`` maps them to
    doubles, every 7th to ``-0.0``, every 11th to ``0.0``, every 13th
    to NaN and every 17th to a negated NaN."""
    from pyspark.sql import functions as F
    from algebird_spark.sources.datagen import token_table
    df = token_table(spark, rows=3_000, n_sources=5, vocab=40_000,
                     median_n_tok=48, seed=7, partitions=8)
    row = F.substring("doc_id", -12, 12).cast("long")
    return (df.withColumn("b", F.when(row % 97 == 0, F.lit(None))
                          .otherwise(row % 48).cast("int"))
              .withColumn("t", (row % 31).cast("double"))
              .withColumn("v", (row * 2654435761 % 4001).cast("long"))
              .withColumn("few_tokens", F.transform("tokens", lambda x: x % 128))
              .withColumn("float_tokens", F.transform("tokens", lambda x: (
                  F.when(x % 7 == 0, F.lit(-0.0))
                  .when(x % 11 == 0, F.lit(0.0))
                  .when(x % 13 == 0, F.lit(float("nan")))
                  .when(x % 17 == 0, -F.lit(float("nan")))
                  .otherwise(x / 8.0))))
              .cache())


def digest_rows(rows, keys) -> tuple[str, int]:
    from algebird_spark.agg import COUNT_COL, STATE_COL
    lines = sorted(
        f"{[r[k] for k in keys]!r} {r[COUNT_COL]} "
        + hashlib.sha256(bytes(r[STATE_COL])).hexdigest() for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(lines)


def global_digest(df, cols, make) -> tuple[str, int]:
    """``sketch_global``'s state, digested as a keyless
    ``sketch_by_key`` row: its ``n_values`` is the count of non-null
    elements of one array column, or of rows under several columns."""
    from pyspark.sql import functions as F
    from algebird_spark import agg
    if len(cols) > 1:
        n = df.count()
    else:
        n = (df.select(F.explode(cols[0]).alias("x"))
             .where(F.col("x").isNotNull()).count())
    blob = agg.sketch_global(df, cols, make).to_bytes()
    return digest_rows([{agg.STATE_COL: blob, agg.COUNT_COL: n}], [])


def cases(spark, df):
    from algebird_spark import agg
    for name, make in factories().items():
        col = COLUMNS.get(name, "tokens")
        builds = {
            "partitions": (["b"], lambda: agg.sketch_partitions(
                df, col, make, ["b"])),
            "by_key": (["b"], lambda: agg.sketch_by_key(
                df, ["b"], col, make)),
            "by_key_keyless": ([], lambda: agg.sketch_by_key(
                df, [], col, make)),
            "premerge": (["b"], lambda: agg.sketch_by_key(
                df, ["b"], col, make, premerge=2)),
            "cube": (["source", "b", "grouping_id"],
                     lambda: agg.sketch_rollup(df, ["source", "b"], col,
                                               make, grouping="cube")),
        }
        for build, (keys, fn) in builds.items():
            yield build, name, digest_rows(fn().collect(), keys)
        yield "global", name, global_digest(df, [col], make)
    for name, make in multi_factories().items():
        rows = agg.sketch_by_key(df, ["b"], ["v", "t"], make).collect()
        yield "by_key_multi", name, digest_rows(rows, ["b"])
    yield "global", "sketchmap", global_digest(
        df, ["v", "t"], multi_factories()["sketchmap"])


def ann_cases(spark, path):
    from algebird_spark.operators import pq, similarity
    emb = spark.read.parquet(path).select("vec_id", "embedding")
    coarse = pq.train_coarse_centroids(emb, n_lists=16, n_iter=4)
    models = {
        "ivf_centroids": lambda: similarity.train_ivf_centroids(
            emb, n_lists=16, n_iter=3),
        "coarse_centroids": lambda: coarse,
        "pq_codebook": lambda: pq.train_pq_codebook(
            emb, m=8, k_sub=64, n_iter=4),
        "residual_codebook": lambda: pq.train_pq_codebook(
            pq.residual_vectors(emb, coarse), m=8, k_sub=64, n_iter=4),
    }
    for name, train in models.items():
        model = np.ascontiguousarray(train(), dtype=np.float64)
        digest = hashlib.sha256(repr(model.shape).encode()
                                + model.tobytes()).hexdigest()
        yield "train", name, (digest, len(model))


def measure(checkout: str, embeddings: str | None) -> None:
    checkout = os.path.abspath(checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [checkout] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .appName("state_digests")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        df = table(spark)
        df.count()
        for batch in BATCHES:
            spark.conf.set(conf, str(batch))
            ann = ann_cases(spark, embeddings) if embeddings else []
            for build, name, (digest, n) in (*cases(spark, df), *ann):
                print(f"{batch} {build} {name} {digest} {n}", flush=True)
    finally:
        spark.stop()


def diff(old: str, new: str) -> int:
    def read(path):
        with open(path) as f:
            return {tuple(line.split()[:3]): line.split()[3:]
                    for line in f if line.strip()}
    a, b = read(old), read(new)
    bad = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    for k in bad:
        print("DIFF", *k, a.get(k), b.get(k))
    print(f"{len(a.keys() | b.keys()) - len(bad)}"
          f"/{len(a.keys() | b.keys())} cases identical")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir))
    ap.add_argument("--embeddings", metavar="PATH",
                    help="embeddings parquet for the ANN training cases")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    measure(args.checkout, args.embeddings)
    return 0


if __name__ == "__main__":
    sys.exit(main())
