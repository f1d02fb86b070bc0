"""Deterministic synthetic token table (FIXTURES.md §1).

Schema (BASELINE.json input_hint):
    doc_id : string   -- "doc_{source}_{i:012d}"
    tokens : array<int32>  -- Zipf(1.1) over vocab V with per-source offset
    n_tok  : int32    -- len(tokens), lognormal(median) clipped [1, 2048]
    source : string   -- Zipf(1.2)-skewed shares over K sources

Determinism without a shared RNG stream: every random draw is a pure
function of (seed, row_id[, position]) via the murmur64 kernel — the
table is identical for any partitioning of the row-id range, which is
what lets the same fixture be generated distributed at any scale
factor. Generated with ``spark.range`` + ``mapInArrow`` (no driver-side
materialization), so the bench table (~2M rows / ~1e9 tokens) streams
straight to parquet.
"""

from __future__ import annotations

import math
import os
from functools import lru_cache
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from ..agg import _drop_spark_finders
from ..functions.hashing import murmur64_int64

TOKEN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])

PROFILES = {
    # name: (rows, n_sources, vocab, median_n_tok)
    "unit": (2_000, 4, 50_000, 64),
    "pilot": (60_000, 8, 250_000, 256),
    "bench": (2_000_000, 16, 1_000_000, 512),
}

MAX_NTOK = 2048
_U64_INV = 1.0 / 2.0 ** 64


def _uniform(ids: np.ndarray, stream: int, seed: int) -> np.ndarray:
    """Deterministic U(0,1) per id: murmur of (id mixed with stream)."""
    key = ids.astype(np.int64) * np.int64(1_000_003) + np.int64(stream)
    h = murmur64_int64(key, seed)
    return (h.astype(np.float64) + 0.5) * _U64_INV


@lru_cache(maxsize=8)
def _zipf_cdf(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), a)
    c = np.cumsum(w)
    return c / c[-1]


def _zipf_sample(u: np.ndarray, n: int, a: float) -> np.ndarray:
    """Inverse-CDF Zipf(a) over ranks 0..n-1."""
    return np.searchsorted(_zipf_cdf(n, a), u, side="left").astype(np.int64)


def _lognormal_ntok(ids: np.ndarray, median: int, seed: int) -> np.ndarray:
    u1 = _uniform(ids, 11, seed)
    u2 = _uniform(ids, 12, seed)
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * math.pi * u2)  # Box-Muller
    n = np.exp(math.log(median) + 0.6 * z)
    return np.clip(np.rint(n), 1, MAX_NTOK).astype(np.int32)


def generate_batch(ids: np.ndarray, n_sources: int, vocab: int,
                   median_n_tok: int, seed: int) -> pa.RecordBatch:
    ids = np.asarray(ids, dtype=np.int64)
    # source: Zipf(1.2) over K
    src_idx = _zipf_sample(_uniform(ids, 1, seed), n_sources, 1.2)
    n_tok = _lognormal_ntok(ids, median_n_tok, seed)
    # tokens: element key = row_id * 2^12 + position (n_tok <= 2048 < 2^12)
    starts = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=starts[1:])
    total = int(starts[-1])
    elem_row = np.repeat(ids, n_tok)
    elem_pos = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], n_tok)
    u = _uniform(elem_row * np.int64(1 << 12) + elem_pos, 2, seed)
    ranks = _zipf_sample(u, vocab, 1.1)
    # per-source vocabulary offset: distinct but overlapping
    offset = np.repeat(src_idx, n_tok) * (vocab // (2 * n_sources))
    tokens = ((ranks + offset) % vocab).astype(np.int32)

    src_names = np.array([f"src_{i:02d}" for i in range(n_sources)])
    sources = src_names[src_idx]
    doc_ids = np.char.add(
        np.char.add("doc_", sources.astype(str)),
        np.char.add("_", np.char.zfill(ids.astype(str), 12)))
    tok_array = pa.ListArray.from_arrays(
        pa.array(starts, type=pa.int32()), pa.array(tokens, type=pa.int32()))
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids), tok_array, pa.array(n_tok, type=pa.int32()),
         pa.array(sources)],
        schema=TOKEN_SCHEMA)


def token_table(spark: SparkSession, rows: int, n_sources: int = 8,
                vocab: int = 250_000, median_n_tok: int = 256,
                seed: int = 42, partitions: int | None = None) -> DataFrame:
    if partitions is None:
        partitions = max(8, min(256, rows // 8_192 or 1))
    base = spark.range(0, rows, numPartitions=partitions)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            ids = batch.column(0).to_numpy()
            # cap token blowup per output batch: split into ~64k-row chunks
            for lo in range(0, len(ids), 65_536):
                yield generate_batch(ids[lo:lo + 65_536], n_sources, vocab,
                                     median_n_tok, seed)

    return base.mapInArrow(
        gen, "doc_id string, tokens array<int>, n_tok int, source string")


def token_table_profile(spark: SparkSession, profile: str, seed: int = 42,
                        partitions: int | None = None) -> DataFrame:
    rows, k, v, med = PROFILES[profile]
    return token_table(spark, rows, k, v, med, seed, partitions)


def materialized_token_table(spark: SparkSession, profile: str,
                             cache_dir: str = "/root/repo/.data") -> DataFrame:
    """Generate-once-then-read parquet cache for repeated benching."""
    path = os.path.join(cache_dir, f"tokens_{profile}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        token_table_profile(spark, profile).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def write_partitioned_token_table(df: DataFrame, path: str,
                                  partition_col: str = "source") -> None:
    """Iceberg-style layout: hive-partitioned parquet by ``partition_col``
    so per-source queries prune at the directory level (the sandbox has
    no Iceberg jars; the partition-pruning behavior — the property the
    engine relies on — is identical and asserted in tests/test_plans.py).
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
