"""Quantile-pruned exact top-k + deterministic weighted sampling
(operators/topk.py): row-for-row parity with the plain window under
every routing outcome — including a FORCED sketch shortfall — and
engine-portable A-ES keys recomputed independently in Python."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row, functions as F

from algebird_spark.operators.exact import top_k_per_group
from algebird_spark.operators.topk import top_k_pruned, weighted_sample


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(6000):
        g = ["a", "b", "c", None][i % 4]
        # ties on purpose: v collides across ids within a group
        rows.append(Row(g=g, id=i, v=float((i * 37) % 500)))
    # a group with fewer than k rows, null order values, and a group
    # whose EVERY order value is null (cutoff math sees n=0/log2(0))
    rows += [Row(g="tiny", id=10_000 + j, v=float(j)) for j in range(3)]
    rows += [Row(g="a", id=20_000 + j, v=None) for j in range(4)]
    rows += [Row(g="allnull", id=30_000 + j, v=None) for j in range(5)]
    return spark.createDataFrame(rows).repartition(8).persist()


def _key(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("method", ["grid"])
@pytest.mark.parametrize("ascending", [False, True])
def test_pruned_matches_window(corpus, ascending, method):
    want = top_k_per_group(corpus, ["g"], "v", 7, ascending=ascending,
                           tiebreak="id")
    got = top_k_pruned(corpus, ["g"], "v", 7, ascending=ascending,
                       tiebreak="id")
    assert _key(got) == _key(want)


def test_pruned_small_k_large_group(corpus):
    want = top_k_per_group(corpus, ["g"], "v", 1, tiebreak="id")
    got = top_k_pruned(corpus, ["g"], "v", 1, tiebreak="id")
    assert _key(got) == _key(want)


def test_pruned_k_exceeds_group(corpus):
    # 'tiny' has 3 rows, and group 'a' has 4 NULL-v rows that must
    # rank exactly as the window ranks them
    want = top_k_per_group(corpus, ["g"], "v", 1600, tiebreak="id")
    got = top_k_pruned(corpus, ["g"], "v", 1600, tiebreak="id")
    assert _key(got) == _key(want)


@pytest.mark.parametrize("method", ["grid"])
def test_forced_shortfall_falls_back_exactly(corpus, method):
    # a hugely negative margin drives the cutoff to the group max ->
    # almost nothing survives -> the verify count trips and the
    # fallback must reproduce the window answer bit for bit
    want = top_k_per_group(corpus, ["g"], "v", 9, tiebreak="id")
    got = top_k_pruned(corpus, ["g"], "v", 9, tiebreak="id",
                       prune_margin=-1e9)
    assert _key(got) == _key(want)


def test_global_topk(corpus):
    want = top_k_per_group(corpus, [], "v", 11, tiebreak="id")
    got = top_k_pruned(corpus, [], "v", 11, tiebreak="id")
    assert _key(got) == _key(want)
    # global shortfall path
    got2 = top_k_pruned(corpus, [], "v", 11, tiebreak="id",
                        prune_margin=-1e9)
    assert _key(got2) == _key(want)


def test_verify_false_still_exact_at_default_margin(corpus):
    want = top_k_per_group(corpus, ["g"], "v", 5, tiebreak="id")
    got = top_k_pruned(corpus, ["g"], "v", 5, tiebreak="id", verify=False)
    assert _key(got) == _key(want)


# --- weighted_sample -------------------------------------------------------

def _aes_reference(rows, k, salt="wsample"):
    """Independent A-ES: same md5-derived u, pure Python."""
    out = {}
    for g, i, w in rows:
        if w is None or w <= 0:
            continue
        h = hashlib.md5(f"{salt}:{i}".encode()).hexdigest()
        u = (int(h[:12], 16) + 1) / float(1 << 48)
        out.setdefault(g, []).append((math.log(u) / w, -i, g, i, w))
    keep = []
    for g, lst in out.items():
        lst.sort(reverse=True)  # key desc, then id asc (-i desc)
        keep += [(g, i, w) for _, _, g, i, w in lst[:k]]
    return sorted(keep)


@pytest.fixture(scope="module")
def weighted(spark):
    rows = [(["x", "y"][i % 2], i, float(1 + (i * 13) % 40))
            for i in range(3000)]
    rows += [("x", 9001, 0.0), ("x", 9002, -3.0), ("y", 9003, None)]
    return (rows,
            spark.createDataFrame(rows, "g string, doc_id long, w double")
            .repartition(8).persist())


def test_weighted_sample_matches_reference(weighted):
    rows, df = weighted
    got = sorted(tuple(r) for r in
                 weighted_sample(df, 25, "w", by=["g"]).collect())
    assert got == _aes_reference(rows, 25)


def test_weighted_sample_deterministic_and_pruned_equal(weighted):
    _, df = weighted
    a = sorted(map(tuple, weighted_sample(df, 10, "w", by=["g"]).collect()))
    b = sorted(map(tuple, weighted_sample(df, 10, "w", by=["g"]).collect()))
    c = sorted(map(tuple, weighted_sample(df, 10, "w", by=["g"],
                                          pruned=True).collect()))
    assert a == b == c


def test_weighted_sample_weight_bias(spark):
    # one heavy row per group must be included essentially always:
    # P(exclude) = (1 - w_h/W)^... bounded by A-ES; with w=1e6 vs
    # 199 rows of w=1, exclusion odds are negligible across 40 groups
    rows = []
    for g in range(40):
        rows.append((str(g), g * 1000, 1e6))
        rows += [(str(g), g * 1000 + j, 1.0) for j in range(1, 200)]
    df = spark.createDataFrame(rows, "g string, doc_id long, w double")
    got = weighted_sample(df, 5, "w", by=["g"])
    heavy = got.filter(F.col("doc_id") % 1000 == 0).count()
    assert heavy == 40
