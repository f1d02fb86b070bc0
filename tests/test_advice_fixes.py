"""Regression tests for the round-1 ADVICE findings:

1. _flatten_values undercounted when a batch mixes null list elements
   with empty/null rows (reduceat boundary clamping).
2. cms_hash masked keys to 31 bits, making x and x + 2^31 collide in
   every row (deterministic eps*N violation).
3. pd.factorize's -1 null sentinel silently dropped null group keys.
4. MinHash lanes computed (a*h + b) % p with a wrapped uint64 product.
5. checkpoint fingerprint ignored content rewrites that preserve count.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row, functions as F

from algebird_spark.agg import STATE_COL, COUNT_COL, _flatten_values, sketch_by_key
from algebird_spark.functions.hashing import (affine_mod_p61, cms_hash,
                                              cms_hash_params, mulmod_p61, P61)
from algebird_spark.sketches import CMS, HLL, from_bytes


# ---------------------------------------------------------------------------
# 1. _flatten_values null-element / empty-row alignment
# ---------------------------------------------------------------------------

def test_flatten_values_null_elements_with_trailing_empty_rows():
    col = pa.array([[1, None, 2], [3, 4], []], type=pa.list_(pa.int64()))
    values, lengths = _flatten_values(col)
    assert values.tolist() == [1, 2, 3, 4]
    assert lengths.tolist() == [2, 2, 0]


def test_flatten_values_null_rows_and_consecutive_empties():
    col = pa.array([[None], [], [], [5, None], None, [6]],
                   type=pa.list_(pa.int64()))
    values, lengths = _flatten_values(col)
    assert values.tolist() == [5, 6]
    assert lengths.tolist() == [0, 0, 0, 1, 0, 1]
    assert int(np.sum(lengths)) == len(values)


def test_flatten_values_batch_ends_with_null_elements():
    # ADVICE repro shape: last non-empty row must not be undercounted
    col = pa.array([[1, None, 2], [3, 4], [None, None]],
                   type=pa.list_(pa.int64()))
    values, lengths = _flatten_values(col)
    assert values.tolist() == [1, 2, 3, 4]
    assert lengths.tolist() == [2, 2, 0]


# ---------------------------------------------------------------------------
# 2. cms_hash covers the full 64-bit key
# ---------------------------------------------------------------------------

def test_cms_hash_no_mod_2_31_collision():
    width = 8192
    xs = np.array([5, 5 + 2**31, 5 - 2**31, 2**40 + 5], dtype=np.int64)
    a_params = cms_hash_params(10, seed=1)
    collide_all = True
    for a in a_params:
        h = cms_hash(a, xs, width)
        assert ((h >= 0) & (h < width)).all()
        if len(set(h.tolist())) > 1:
            collide_all = False
    assert not collide_all, "keys congruent mod 2^31 collide in every row"


def test_cms_point_query_distinguishes_congruent_keys():
    sk = CMS(eps=0.01, delta=1e-6)
    sk.update_batch(np.full(1000, 5, dtype=np.int64))
    sk._to_dense()
    assert sk.frequency(5).estimate >= 1000
    # old code: frequency(5 + 2^31) == frequency(5) deterministically
    assert sk.frequency(5 + 2**31).estimate < 1000


def test_cms_hash_deterministic_and_nonnegative_for_negative_keys():
    xs = np.array([-1, -2**40, np.iinfo(np.int64).min], dtype=np.int64)
    h1 = cms_hash(12345, xs, 1024)
    h2 = cms_hash(12345, xs, 1024)
    assert (h1 == h2).all()
    assert ((h1 >= 0) & (h1 < 1024)).all()


# ---------------------------------------------------------------------------
# 3. null group keys form their own group (SQL GROUP BY semantics)
# ---------------------------------------------------------------------------

def test_null_key_forms_group(spark):
    df = spark.createDataFrame(
        [Row(k=None, v=1), Row(k=None, v=2), Row(k="a", v=3)],
        "k string, v long")
    states = sketch_by_key(df, ["k"], "v", lambda: HLL(p=10))
    rows = {r["k"]: r for r in states.collect()}
    assert set(rows) == {None, "a"}
    assert rows[None][COUNT_COL] == 2
    assert round(from_bytes(bytes(rows[None][STATE_COL])).estimate()) == 2


def test_null_int_key_multi_column(spark):
    df = spark.createDataFrame(
        [Row(k1=1, k2=None, v=10), Row(k1=1, k2=None, v=11),
         Row(k1=1, k2=2, v=12), Row(k1=None, k2=None, v=13)],
        "k1 long, k2 long, v long")
    states = sketch_by_key(df, ["k1", "k2"], "v", lambda: HLL(p=10))
    rows = {(r["k1"], r["k2"]): r[COUNT_COL] for r in states.collect()}
    assert rows == {(1, None): 2, (1, 2): 1, (None, None): 1}


# ---------------------------------------------------------------------------
# 4. exact Mersenne-61 modular arithmetic
# ---------------------------------------------------------------------------

def test_mulmod_p61_matches_python_ints():
    rng = np.random.default_rng(7)
    p = (1 << 61) - 1
    a = rng.integers(0, p, size=500).astype(np.uint64)
    h = rng.integers(0, p, size=500).astype(np.uint64)
    got = mulmod_p61(a, h)
    want = [(int(x) * int(y)) % p for x, y in zip(a.tolist(), h.tolist())]
    assert got.tolist() == want
    # boundary values
    edge = np.array([0, 1, p - 1, p - 2], dtype=np.uint64)
    got_e = mulmod_p61(edge, np.full(4, p - 1, dtype=np.uint64))
    want_e = [(int(x) * (p - 1)) % p for x in edge.tolist()]
    assert got_e.tolist() == want_e


def test_affine_mod_p61_matches_python_ints():
    rng = np.random.default_rng(11)
    p = (1 << 61) - 1
    a = rng.integers(1, p, size=200).astype(np.uint64)
    h = rng.integers(0, p, size=200).astype(np.uint64)
    b = rng.integers(0, p, size=200).astype(np.uint64)
    got = affine_mod_p61(a, h, b)
    want = [(int(x) * int(y) + int(z)) % p
            for x, y, z in zip(a.tolist(), h.tolist(), b.tolist())]
    assert got.tolist() == want
    assert int(got.max()) < int(P61)


# ---------------------------------------------------------------------------
# 5. checkpoint fingerprint sees same-count rewrites
# ---------------------------------------------------------------------------

def test_fingerprint_changes_on_same_count_rewrite(spark, tmp_path):
    from algebird_spark.sources.checkpoint import input_fingerprint
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(x=1), Row(x=2)], "x long").write.parquet(p)
    fp1 = input_fingerprint(spark.read.parquet(p))
    assert fp1["files"], "file content signal missing"
    spark.createDataFrame([Row(x=7), Row(x=8)], "x long") \
        .write.mode("overwrite").parquet(p)
    fp2 = input_fingerprint(spark.read.parquet(p))
    assert fp1["rows"] == fp2["rows"] == 2
    assert fp1 != fp2
