"""HLL tests: monoid laws, error bound (3.5-sigma deterministic gate as
in algebird-test .../HyperLogLogTest.scala:294-302), sparse/dense,
serialization, pinned wire bytes, downsize, intersection, and the
grouped update against per-group single-shot builds."""

import hashlib

import numpy as np
import pytest

from algebird_spark.sketches import HLL, bits_for_error, from_bytes
from algebird_spark.sketches.hll import idx_rho


def build(p, values, chunks=1, seed_order=0):
    h = HLL(p=p)
    parts = np.array_split(np.asarray(values), chunks)
    if seed_order:
        rng = np.random.default_rng(seed_order)
        parts = [parts[i] for i in rng.permutation(len(parts))]
    for part in parts:
        h.update_batch(part)
    return h


@pytest.mark.parametrize("p", [9, 12, 14])
@pytest.mark.parametrize("n", [100, 5000, 200_000])
def test_error_bound(p, n):
    rng = np.random.default_rng(p * 1000 + n)
    vals = rng.integers(0, 2**31, size=n, dtype=np.int64).astype(np.int32)
    exact = len(np.unique(vals))
    h = build(p, vals)
    err = abs(h.estimate() - exact) / exact
    assert err <= 3.5 * 1.04 / np.sqrt(2**p), f"p={p} n={n} err={err}"


def test_partition_reorder_invariance():
    vals = np.arange(50_000, dtype=np.int32)
    a = build(12, vals, chunks=8, seed_order=1)
    b = build(12, vals, chunks=8, seed_order=2)
    c = build(12, vals, chunks=1)
    assert a.estimate() == b.estimate() == c.estimate()


def test_merge_associative_commutative_zero():
    rng = np.random.default_rng(3)
    xs = [rng.integers(0, 10_000, size=2000, dtype=np.int64).astype(np.int32)
          for _ in range(3)]
    hs = [build(12, x) for x in xs]
    ab_c = (hs[0] + hs[1]) + hs[2]
    a_bc = hs[0] + (hs[1] + hs[2])
    assert ab_c.to_bytes() == a_bc.to_bytes()
    ab = hs[0] + hs[1]
    ba = hs[1] + hs[0]
    assert ab.estimate() == ba.estimate()
    zero = HLL(p=12)
    assert (hs[0] + zero).estimate() == hs[0].estimate()
    assert (zero + hs[0]).estimate() == hs[0].estimate()


def test_sparse_to_dense_promotion_consistency():
    vals = np.arange(20_000, dtype=np.int32)
    h = HLL(p=14)
    assert h.is_sparse
    h.update_batch(vals[:10])
    assert h.is_sparse  # few registers -> stays sparse
    dense = HLL(p=14)
    dense.update_batch(vals)
    assert not dense.is_sparse
    # sparse subset merged into dense equals dense built with all
    h2 = HLL(p=14)
    h2.update_batch(vals[10:])
    merged = h + h2
    assert merged.estimate() == dense.estimate()


def test_serialization_roundtrip():
    for n in (5, 50_000):  # sparse and dense
        h = build(12, np.arange(n, dtype=np.int32))
        h2 = from_bytes(h.to_bytes())
        assert h2.estimate() == h.estimate()
        assert h2.to_bytes() == h.to_bytes()


def test_incompatible_merge_fails():
    from algebird_spark.sketches import IncompatibleSketchError
    a, b = HLL(p=10), HLL(p=12)
    with pytest.raises(IncompatibleSketchError):
        a.merge_in_place(b)


def test_downsize_matches_direct_build():
    vals = np.random.default_rng(5).integers(0, 2**30, size=100_000,
                                             dtype=np.int64).astype(np.int32)
    big = build(14, vals)
    down = big.downsize(10)
    direct = build(10, vals)
    # downsize must be *exact*: identical registers as direct build
    assert down.to_bytes() == direct.to_bytes()


def test_intersection():
    a_vals = np.arange(0, 60_000, dtype=np.int32)
    b_vals = np.arange(40_000, 100_000, dtype=np.int32)
    a, b = build(12, a_vals), build(12, b_vals)
    approx = HLL.intersection_size([a, b])
    true = 20_000
    assert approx.low <= true <= approx.high or abs(approx.estimate - true) / true < 0.15


def test_approximate_contains_exact():
    vals = np.arange(30_000, dtype=np.int32)
    h = build(14, vals)
    ap = h.approximate_size()
    assert ap.contains(30_000)


def test_bits_for_error():
    assert bits_for_error(0.0163) in (12, 13)
    assert 1.04 / np.sqrt(2 ** bits_for_error(0.01)) <= 0.01


def test_three_way_intersection():
    """n=3 exercises the recursive inclusion-exclusion branch
    (HyperLogLog.scala:626-644 is n-way; n=2 alone never recurses).
    Overlap design: A∩B∩C = [40k, 50k) -> true 10k."""
    a = build(12, np.arange(0, 50_000, dtype=np.int32))
    b = build(12, np.arange(40_000, 90_000, dtype=np.int32))
    c = build(12, np.arange(30_000, 60_000, dtype=np.int32))
    ap = HLL.intersection_size([a, b, c])
    true = 10_000
    # inclusion-exclusion at n=3 compounds the per-sketch error; the
    # reference documents accuracy only for small n / large overlap
    assert ap.low <= true <= ap.high or abs(ap.estimate - true) / true < 0.3
    # disjoint third set drives the estimate to ~0 (bounds clamp at 0)
    d = build(12, np.arange(900_000, 950_000, dtype=np.int32))
    ap0 = HLL.intersection_size([a, b, d])
    assert ap0.low == 0.0
    assert ap0.estimate <= 0.05 * 50_000


# sha256 of to_bytes() for seeded states: states persist in checkpoints,
# so no rewrite of the in-memory storage may change the wire format
_PINNED = {
    (4, "sparse"): "7c71f7f2e6ce541033bab077edbb858f8bb169d863bca93f480cb003c2add7f7",
    (4, "dense"): "f36c3d4a62d95aecde48e5aaa8d326867c1915702634acb96b45e0a79e7dc745",
    (12, "sparse"): "3a8bca4fa86bf7a23acb24320654f2d156bc8611596dcfe9923d424cc281539e",
    (12, "dense"): "9b68a667711d8786bd1a994cf3f7987d76d2a955604ee62bca7cb6989871a900",
    (14, "sparse"): "03650fd6a91308fcddda931df169841671be34633f83568cc22a7abc1d3d52f8",
    (14, "dense"): "706c4a5f7c6bc1ab84a0155521c3ba608fe681ff7b04c8fa431c12bce671d2c9",
}


@pytest.mark.parametrize("p,kind", sorted(_PINNED))
def test_wire_bytes_pinned(p, kind):
    n_sparse, n_dense = {4: (1, 5_000), 12: (200, 50_000),
                         14: (900, 50_000)}[p]
    vals = np.random.default_rng(p).integers(
        -2**31, 2**31, n_dense, dtype=np.int64).astype(np.int32)
    h = HLL(p=p)
    h.update_batch(vals[:n_sparse if kind == "sparse" else n_dense])
    assert h.is_sparse == (kind == "sparse")
    blob = h.to_bytes()
    assert hashlib.sha256(blob).hexdigest() == _PINNED[p, kind]
    assert from_bytes(blob).to_bytes() == blob


def _hitting(p, k, rng):
    """int32 values that hit exactly ``k`` distinct registers at ``p``,
    most of them more than once."""
    pool = rng.integers(-2**31, 2**31, 32 << p,
                        dtype=np.int64).astype(np.int32)
    idx, _ = idx_rho(pool, p, 1 << p)
    regs = np.unique(idx)
    assert len(regs) >= k
    hit = np.isin(idx, rng.permutation(regs)[:k])
    first = np.unique(idx[hit], return_index=True)[1]  # one per register
    return np.concatenate([pool[hit][first], pool[hit][:3 * k]])


@pytest.mark.parametrize("p", [4, 12, 14])
def test_update_grouped_matches_per_group_update_batch(p):
    m, rng = 1 << p, np.random.default_rng(p)
    big = rng.integers(0, 2**31, 3 * m, dtype=np.int64).astype(np.int32)

    def state(values):
        h = HLL(p=p)
        h.update_batch(values)
        return h

    groups = [  # (initial state, the group's values in the batch)
        (HLL(p=p), _hitting(p, m // 16, rng)),      # stays sparse
        (HLL(p=p), _hitting(p, m // 16 + 1, rng)),  # promotes
        (HLL(p=p), big[:0]),                        # empty group
        (state(_hitting(p, max(1, m // 64), rng)), big[:3]),
        (state(big), big[:50]),                     # already dense
        (state(big[:1]), big[:0]),                  # sparse, no values
        (HLL(p=p), big),                            # one big run
    ]
    codes = np.concatenate([np.full(len(v), g) for g, (_, v) in
                            enumerate(groups)])
    values = np.concatenate([v for _, v in groups])
    order = rng.permutation(len(values))  # groups interleave in a batch
    expected = []
    for h, v in groups:
        ref = from_bytes(h.to_bytes())
        ref.update_batch(v)
        expected.append(ref)
    states = [h for h, _ in groups]
    HLL.update_grouped(states, codes[order], values[order])
    assert [s.to_bytes() for s in states] == [e.to_bytes() for e in expected]
    assert expected[0].is_sparse and not expected[1].is_sparse
    assert not expected[4].is_sparse and expected[5].is_sparse


def test_update_grouped_empty_batch_leaves_states():
    states = [HLL(p=10), HLL(p=10)]
    states[1].update_batch(np.arange(7, dtype=np.int32))
    before = [s.to_bytes() for s in states]
    HLL.update_grouped(states, np.zeros(0, dtype=np.int64),
                       np.zeros(0, dtype=np.int32))
    assert [s.to_bytes() for s in states] == before
