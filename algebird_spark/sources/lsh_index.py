"""Persisted MinHash-LSH near-dup index — incremental corpus dedup.

The production shape of dedup at 100 TB is INCREMENTAL: the corpus was
deduplicated once, and every day a (much smaller) increment must be
checked against it. Re-running the all-corpus near-dup join
(`near_dup_pairs_minhash`) for each increment re-shingles and re-bands
the full 10^11-doc corpus daily; this module writes the banding work
down ONCE and lets each increment probe it:

* ``path/buckets``  — one ``(bucket, doc_id)`` row per (band, doc):
  the LSH join side, laid out by bucket hash.
* ``path/shingles`` — ``(doc_id, sh array<long>)`` distinct word-
  shingle hashes per doc: the exact-verify side (the same
  ``shingle_hashes_udf`` kernel `jaccard_verify` uses), so verification
  against the index needs no access to the original corpus text.
* ``path/_manifest.json`` — banding config + row counts + the list of
  COMMITTED segments, written atomically (os.replace); a probe or
  append validates its config against the manifest, so an index can
  never silently be probed with mismatched signatures (same
  discipline as ``sources/checkpoint.py``).

Every write (initial build or append) stages into its own segment
directory (``buckets/seg-N`` + ``shingles/seg-N``) and only then
publishes the manifest naming it — readers scan ONLY manifest-listed
segments, so a crash anywhere before the manifest publish leaves an
orphan directory that no probe ever reads (no phantom candidates),
and a retried append simply overwrites its own uncommitted segment.

Probing broadcasts the INCREMENT's band buckets (a daily increment is
dim-sized next to the corpus), so the index side never shuffles: scan
buckets -> broadcast-hash-join -> candidate pairs, then exact Jaccard
on candidates only, reading stored shingles for the index side and
shingling only the increment. The reference has no written-index
surface (its sketches are in-memory monoids); this extends its MinHash
monoid (MinHasher.scala similarity contract) the same way
``write_ivf_index`` extends the ANN surface.

Determinism: signatures, band buckets, and shingle hashes are all
seed-fixed murmur mixes, so probe results are identical across runs
and engines — the catalog query value-checks the full pair set + exact
Jaccard values against a DuckDB inverted-index oracle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import Scope
from ..operators.dedup import add_minhash_bands, shingle_hashes_udf

__all__ = ["write_minhash_index", "near_dups_against_index",
           "read_index_manifest"]

_VERSION = 2


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest.json")


def read_index_manifest(path: str) -> dict:
    with open(_manifest_path(path)) as f:
        m = json.load(f)
    if m.get("version") != _VERSION:
        raise ValueError(f"unsupported lsh index version: {m.get('version')}")
    return m


def _write_manifest(path: str, m: dict) -> None:
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, _manifest_path(path))


def _bucket_rows(docs: DataFrame, id_col: str, text_col: str,
                 cfg: dict) -> DataFrame:
    banded = add_minhash_bands(docs, text_col=text_col,
                               num_perm=cfg["num_perm"],
                               bands=cfg["bands"],
                               shingle_n=cfg["shingle_n"],
                               seed=cfg["seed"])
    return (banded.select(F.col(id_col).alias("doc_id"),
                          F.explode("mh_bands").alias("bucket")))


def _shingle_rows(docs: DataFrame, id_col: str, text_col: str,
                  cfg: dict) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes_udf(cfg["shingle_n"])(F.col(text_col)).alias("sh"))


def write_minhash_index(docs: DataFrame, path: str, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        num_perm: int = 64, bands: int = 16,
                        shingle_n: int = 3, seed: int = 12345678,
                        mode: str = "error") -> dict:
    """Build (``mode='error'``/``'overwrite'``) or grow
    (``mode='append'`` — the daily cycle: probe the increment, keep the
    novel docs, append them) the index at ``path``. Returns the
    manifest. An append validates the banding config against the
    stored manifest and refuses a mismatch — appending buckets from a
    different seed or band count would silently break every future
    probe."""
    if mode not in ("error", "overwrite", "append"):
        raise ValueError("mode must be 'error', 'overwrite', or 'append'")
    cfg = {"num_perm": num_perm, "bands": bands,
           "shingle_n": shingle_n, "seed": seed}
    exists = os.path.exists(_manifest_path(path))
    if mode == "error" and exists:
        raise ValueError(f"lsh index already exists at {path}")
    if mode == "append":
        if not exists:
            raise ValueError(f"no lsh index to append to at {path}")
        m = read_index_manifest(path)
        stored = {k: m[k] for k in cfg}
        if stored != cfg:
            raise ValueError(
                f"index config mismatch: stored {stored} vs given {cfg}")
        segments = list(m["segments"])
    else:
        segments = []
    docs = docs.select(F.col(id_col), F.col(text_col))
    # stage into a fresh segment; the index becomes aware of it only
    # at the manifest publish below. A crashed earlier attempt left an
    # UNCOMMITTED dir under this same name — mode 'overwrite' reclaims
    # it. (An overwrite of a shrunk index can likewise strand higher-
    # numbered dirs on disk: harmless, never manifest-listed.)
    seg = f"seg-{len(segments)}"
    _bucket_rows(docs, id_col, text_col, cfg).write.mode("overwrite") \
        .parquet(os.path.join(path, "buckets", seg))
    _shingle_rows(docs, id_col, text_col, cfg).write.mode("overwrite") \
        .parquet(os.path.join(path, "shingles", seg))
    n_new = docs.count()
    n_docs = n_new + (m["n_docs"] if mode == "append" else 0)
    manifest = {"version": _VERSION, **cfg, "n_docs": n_docs,
                "segments": segments + [seg]}
    _write_manifest(path, manifest)
    return manifest


def near_dups_against_index(spark: SparkSession, path: str,
                            new_docs: DataFrame, *,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.7,
                            broadcast_probe: bool = True,
                            exclude_same_id: bool = True) -> DataFrame:
    """(index_id, new_id, jaccard) for every indexed doc a new doc
    near-duplicates: LSH candidates from a bucket join (the increment's
    buckets broadcast, so the index side never shuffles), then EXACT
    word-shingle Jaccard >= ``threshold`` using the index's stored
    shingles — same verification contract as ``jaccard_verify``, no
    corpus text needed. Banding config comes from the manifest, so a
    probe can never run with mismatched signatures.

    ``broadcast_probe=False`` for an increment too large to broadcast
    (the join still only shuffles bucket rows, never text).
    ``exclude_same_id`` drops pairs where both sides carry the same id
    — probing docs that were already appended to the index."""
    cfg = read_index_manifest(path)

    def _committed(kind: str) -> DataFrame:
        # only manifest-listed segments: an orphan dir from a crashed
        # (uncommitted) append is invisible to every probe
        return spark.read.parquet(
            *[os.path.join(path, kind, s) for s in cfg["segments"]])

    idx_b = _committed("buckets") \
        .select(F.col("doc_id").alias("index_id"), "bucket")
    new_b = _bucket_rows(new_docs, id_col, text_col, cfg) \
        .select(F.col("doc_id").alias("new_id"), "bucket")
    if broadcast_probe:
        new_b = F.broadcast(new_b)
    scope = Scope("lsh_index_candidates")
    cand = scope.persist(
        idx_b.join(new_b, "bucket").select("index_id", "new_id").distinct())
    if exclude_same_id:
        cand = cand.filter(F.col("index_id") != F.col("new_id"))

    # dropDuplicates: segment-staged commits rule out crash-retry
    # duplicates, but a caller CAN legitimately append a doc id twice
    # (two committed segments); keep one shingle row per doc. The
    # dedupe runs on the candidate-bounded slice (tiny), never the
    # full index.
    idx_sh = (_committed("shingles")
              .join(cand.select(F.col("index_id").alias("doc_id")),
                    "doc_id", "left_semi")
              .dropDuplicates(["doc_id"])
              .select(F.col("doc_id").alias("index_id"),
                      F.col("sh").alias("sh_i")))
    new_sh = (_shingle_rows(new_docs, id_col, text_col, cfg)
              .join(cand.select(F.col("new_id").alias("doc_id")),
                    "doc_id", "left_semi")
              .select(F.col("doc_id").alias("new_id"),
                      F.col("sh").alias("sh_n")))
    joined = cand.join(idx_sh, "index_id").join(new_sh, "new_id")
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_n")))
    union = F.size(F.array_union(F.col("sh_i"), F.col("sh_n")))
    return scope.attach(joined.select("index_id", "new_id",
                                      (inter / union).alias("jaccard"))
                        .filter(F.col("jaccard") >= threshold))
