"""The one cache lifetime (algebird_spark/cache.py): every persist goes
through an invocation Scope, every persisting operator hands its Scope
to the caller, and releasing it leaves no block behind."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import Row

from algebird_spark import cache

ROOT = pathlib.Path(__file__).resolve().parent.parent
_RETIRED = ("_cache_scoped", "_new_generation", "CacheHandle",
            "_OPERATOR_CACHES", "KEEP_GENERATIONS", "cache_gen")


def test_only_the_cache_module_persists():
    """DataFrame ``.persist(`` / ``.unpersist(`` and checkpoint calls
    appear only in cache.py; everything else persists through
    ``scope.persist(`` and checkpoints through ``scope.checkpoint(``."""
    hits = []
    for path in sorted((ROOT / "algebird_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "unpersist",
                                           "checkpoint", "localCheckpoint")):
                continue
            recv = node.func.value
            via_scope = (node.func.attr in ("persist", "checkpoint")
                         and isinstance(recv, ast.Name)
                         and recv.id == "scope")
            allowed = via_scope or rel == "algebird_spark/cache.py"
            if not allowed:
                hits.append((rel, node.lineno, node.func.attr))
    assert hits == []


def test_retired_cache_names_are_gone():
    me = pathlib.Path(__file__).resolve()
    files = [p for d in ("algebird_spark", "scripts", "tests")
             for p in sorted((ROOT / d).rglob("*"))
             if p.is_file() and p.suffix in (".py", ".sh")
             and p.resolve() != me]
    hits = [(p.relative_to(ROOT).as_posix(), name) for p in files
            for name in _RETIRED if name in p.read_text()]
    assert hits == []


def test_scope_ring_release_and_with_form(spark):
    frames = [spark.range(n).selectExpr("id * 3 AS v") for n in (11, 12, 13)]
    scopes = [cache.Scope("test_ring") for _ in frames]
    for s, df in zip(scopes, frames):
        s.persist(df).count()
    # the third invocation evicted only the oldest
    assert cache.live("test_ring") == scopes[1:]
    assert scopes[0].frames == []
    assert not frames[0].storageLevel.useMemory
    assert all(df.storageLevel.useMemory for df in frames[1:])
    scopes[1].release()
    scopes[1].release()  # a second release is a no-op
    assert cache.live("test_ring") == scopes[2:]
    cache.release("test_ring")
    assert cache.live("test_ring") == []
    assert not any(df.storageLevel.useMemory for df in frames)
    with cache.Scope("test_with") as s:
        df = s.persist(spark.range(14))
        assert cache.live("test_with") == [s]
    assert cache.live("test_with") == []
    assert not df.storageLevel.useMemory


def test_ring_never_evicts_a_checkpoint(spark):
    """Eviction unpersists an old Scope's frames but keeps its local
    checkpoints, which cannot be recomputed once dropped; release()
    drops them."""
    scopes = [cache.Scope("test_cp") for _ in range(3)]
    cp = scopes[0].checkpoint(spark.range(15))
    for n, s in enumerate(scopes):
        s.persist(spark.range(16 + n)).count()
    assert cache.live("test_cp") == scopes[1:]
    assert scopes[0].frames == [] and scopes[0].checkpoints == [cp]
    assert cp.count() == 15
    cache.release("test_cp")
    scopes[0].release()
    assert scopes[0].checkpoints == []
    assert not cp._jdf.queryExecution().analyzed().rdd().getStorageLevel() \
                .useMemory()


def test_ring_holds_under_concurrent_invocations():
    """Threads racing through the ring (queries persist from worker
    threads) leave exactly KEEP_SCOPES live Scopes, and every other
    Scope's frame unpersisted exactly once."""
    import sys
    import threading

    class Frame:  # stands in for a DataFrame: persist returns itself
        def __init__(self):
            self.unpersisted = 0

        def persist(self):
            return self

        def unpersist(self):
            self.unpersisted += 1

    made: list[tuple[cache.Scope, Frame]] = []

    def work():
        for _ in range(300):
            scope, frame = cache.Scope("test_stress"), Frame()
            scope.persist(frame)
            made.append((scope, frame))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    live = cache.live("test_stress")
    assert len(live) == cache.KEEP_SCOPES and len(made) == 8 * 300
    for scope, frame in made:
        assert frame.unpersisted == (0 if scope in live else 1)
    cache.release("test_stress")
    assert all(frame.unpersisted == 1 for _, frame in made)


# ---------------------------------------------------------------------------
# leak check: release() returns the block manager to its pre-call state
# ---------------------------------------------------------------------------

def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs, local checkpoints included."""
    return {int(i) for i in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _docs(spark, tag, n=40):
    # inputs differ per case: Spark's CacheManager keys by logical
    # plan, so an identical plan would share another case's cache
    return spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}",
             text=f"{tag} doc {i % 10} alpha beta gamma delta eps {i % 4}")
         for i in range(n)])


def _values(spark, tag):
    return spark.createDataFrame(
        [Row(g=f"{tag}{i % 3}", x=float((i * 7919) % 101))
         for i in range(300)])


def _minhash(spark, tag, tmp_path):
    from algebird_spark.operators.dedup import near_dup_pairs_minhash
    return near_dup_pairs_minhash(_docs(spark, tag))


def _simhash(spark, tag, tmp_path):
    from algebird_spark.operators.dedup import near_dup_pairs_simhash
    return near_dup_pairs_simhash(_docs(spark, tag), approx_rows=500_000)


def _weighted(spark, tag, tmp_path):
    from algebird_spark.operators.weighted_minhash import (
        near_dup_pairs_weighted)
    return near_dup_pairs_weighted(_docs(spark, tag))


def _ngram(spark, tag, tmp_path):
    from algebird_spark.operators.dedup import near_dup_pairs_ngram
    return near_dup_pairs_ngram(_docs(spark, tag), threshold=0.3,
                                max_df=30, broadcast_max_docs=0)


def _jaccard_verify(spark, tag, tmp_path):
    from algebird_spark.operators.dedup import jaccard_verify
    pairs = spark.createDataFrame([(0, 10), (1, 11), (2, 5)],
                                  "id_a long, id_b long")
    return jaccard_verify(_docs(spark, tag), pairs, threshold=0.0)


def _against_index(spark, tag, tmp_path):
    from algebird_spark.sources.lsh_index import (near_dups_against_index,
                                                  write_minhash_index)
    path = str(tmp_path / "idx")
    write_minhash_index(_docs(spark, tag), path)
    return near_dups_against_index(spark, path, _docs(spark, tag + "n"),
                                   threshold=0.3)


def _cdf_normalize(spark, tag, tmp_path):
    from algebird_spark.operators.features import cdf_normalize
    return cdf_normalize(_values(spark, tag), "x", ["g"])


def _pack_sequences(spark, tag, tmp_path):
    from algebird_spark.operators.text import pack_sequences
    return pack_sequences(_docs(spark, tag), 8)


def _top_k_pruned(spark, tag, tmp_path):
    from algebird_spark.operators.topk import top_k_pruned
    return top_k_pruned(_values(spark, tag), ["g"], "x", 3, verify=True)


def _dedup_pipeline(spark, tag, tmp_path):
    from algebird_spark.operators.pipeline import dedup_pipeline
    stages = dedup_pipeline(_docs(spark, tag), persist=True)
    stages["clusters"].count()
    return stages["survivors"]


def _connected_components(spark, tag, tmp_path):
    from algebird_spark.operators.graph import connected_components
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "src long, dst long")
    return connected_components(edges)


_OPERATORS = {
    "connected_components": _connected_components,
    "near_dup_pairs_minhash": _minhash,
    "near_dup_pairs_simhash": _simhash,
    "near_dup_pairs_weighted": _weighted,
    "near_dup_pairs_ngram": _ngram,
    "jaccard_verify": _jaccard_verify,
    "near_dups_against_index": _against_index,
    "cdf_normalize": _cdf_normalize,
    "pack_sequences": _pack_sequences,
    "top_k_pruned": _top_k_pruned,
    "dedup_pipeline": _dedup_pipeline,
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_release_leaves_no_persisted_block(spark, tmp_path, name):
    before = _persisted(spark)
    out = _OPERATORS[name](spark, f"leak {name}", tmp_path)
    out.count()
    assert _persisted(spark) - before, "nothing was cached"
    out._algebird_cache.release()
    assert _persisted(spark) - before == set()


@pytest.mark.parametrize("train", ["ivf", "pq"])
def test_training_leaves_nothing_persisted(spark, train):
    from algebird_spark.operators.pq import train_pq_codebook
    from algebird_spark.operators.similarity import train_ivf_centroids
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i % 7)])
         for i in range(40)], "vec_id long, embedding array<double>")
    before = _persisted(spark)
    if train == "ivf":
        train_ivf_centroids(vecs, n_lists=4, n_iter=2)
    else:
        train_pq_codebook(vecs, m=2, k_sub=4, n_iter=2)
    assert _persisted(spark) - before == set()
