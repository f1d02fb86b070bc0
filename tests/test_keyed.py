"""KeyedValues (the sorted (key, value) record behind CMS exact counts
and the CMS/SketchMap heavy-hitter candidates): each operation against
a dict reference, strict decode, and pinned wire bytes for the CMS
family."""

import hashlib

import numpy as np
import pytest

from algebird_spark.sketches import CMS, SketchMap, SketchMapHLL, from_bytes
from algebird_spark.sketches.keyed import KeyedValues


def record(d: dict, dtype=np.int64) -> KeyedValues:
    keys = np.array(sorted(d), dtype=np.int64)
    return KeyedValues(keys, np.array([d[k] for k in keys.tolist()],
                                      dtype=dtype))


def as_dict(r: KeyedValues) -> dict:
    assert (np.diff(r.keys) > 0).all()
    return dict(zip(r.keys.tolist(), r.values.tolist()))


def test_add_sums_repeated_and_new_keys():
    r = record({-5: 2, 3: 1, 9: 4})
    keys = np.array([9, 3, 7, 9, -2**63], dtype=np.int64)
    out = r.add(keys, np.array([1, 0, 5, 2, 1], dtype=np.int64))
    assert as_dict(out) == {-2**63: 1, -5: 2, 3: 1, 7: 5, 9: 7}
    assert out.values.dtype == np.int64
    assert r.add(keys[:0], keys[:0]) is r


def test_upsert_replaces_and_inserts():
    r = record({1: 1.5, 4: -2.0}, np.float64)
    out = r.upsert(np.array([4, 2]), np.array([3.0, 0.5]))
    assert as_dict(out) == {1: 1.5, 2: 0.5, 4: 3.0}


def test_lookup_zero_where_absent():
    r = record({2: 7, 10: 3})
    q = np.array([10, 1, 2, 11, 2], dtype=np.int64)
    assert r.lookup(q).tolist() == [3, 0, 7, 0, 7]
    assert KeyedValues.empty(np.int64).lookup(q).tolist() == [0] * 5


def test_reestimate_values_the_key_union():
    r = record({1: 100, 5: 100})
    out = r.reestimate(np.array([5, 3, 3]), lambda k: k * 10)
    assert as_dict(out) == {1: 10, 3: 30, 5: 50}
    empty = KeyedValues.empty(np.int64)
    assert len(empty.reestimate(np.empty(0, np.int64), None)) == 0


def test_purge_threshold_and_top():
    r = record({1: 5, 2: -9, 3: 5, 4: 7}, np.float64)
    assert as_dict(r.purge(5)) == {1: 5, 3: 5, 4: 7}
    assert as_dict(r.purge(top=2)) == {1: 5, 4: 7}  # tie 5/5 -> key 1
    assert as_dict(r.purge(top=2, by_abs=True)) == {2: -9, 4: 7}
    assert r.purge(top=4) is r


def test_ranked_orders_by_value_then_key():
    r = record({1: 5, 2: -9, 3: 5, 4: 7})
    assert r.ranked() == [(4, 7), (1, 5), (3, 5), (2, -9)]
    assert r.ranked(by_abs=True) == [(2, -9), (4, 7), (1, 5), (3, 5)]


@pytest.mark.parametrize("seed", range(5))
def test_ops_match_dict_loop_reference(seed):
    """The dict loops the CMS family used before KeyedValues, as the
    reference: grouped add, last-wins upsert, get-or-0, sorted purge."""
    rng = np.random.default_rng(seed)
    base = dict(zip(rng.integers(-50, 50, 40).tolist(),
                    rng.integers(-9, 9, 40).tolist()))
    r = record(base)
    keys = rng.integers(-60, 60, 30)
    vals = rng.integers(-9, 9, 30)
    ref = dict(base)
    for k, v in zip(keys.tolist(), vals.tolist()):
        ref[k] = ref.get(k, 0) + v
    assert as_dict(r.add(keys, vals)) == ref
    uk = np.unique(keys)
    ref = dict(base)
    ref.update(zip(uk.tolist(), (uk * 3).tolist()))
    assert as_dict(r.upsert(uk, uk * 3)) == ref
    assert r.lookup(keys).tolist() == [base.get(k, 0) for k in keys.tolist()]
    for by_abs in (False, True):
        order = sorted(base.items(), key=lambda kv: (
            -(abs(kv[1]) if by_abs else kv[1]), kv[0]))
        assert r.ranked(by_abs) == order
        assert as_dict(r.purge(top=7, by_abs=by_abs)) == dict(order[:7])
    assert as_dict(r.purge(2)) == {k: v for k, v in base.items() if v >= 2}


def test_encode_decode_roundtrip_at_offset():
    r = record({-3: 1.25, 8: 2.5}, np.float64)
    blob = b"xyz" + r.encode() + b"tail"
    out, end = KeyedValues.decode(blob, 3, np.float64)
    assert as_dict(out) == as_dict(r) and blob[end:] == b"tail"
    assert out.encode() == r.encode()


@pytest.mark.parametrize("keys", [[4, 2, 9], [2, 4, 4]],
                         ids=["unsorted", "repeated"])
def test_decode_rejects_keys_not_strictly_increasing(keys):
    blob = KeyedValues(np.array(keys, dtype=np.int64),
                       np.ones(3, dtype=np.int64)).encode()
    with pytest.raises(ValueError, match="strictly increasing"):
        KeyedValues.decode(blob, 0, np.int64)


def test_decode_rejects_truncation_and_negative_length():
    blob = record({1: 1, 2: 2}).encode()
    for cut in range(len(blob)):
        with pytest.raises(ValueError, match="truncated"):
            KeyedValues.decode(blob[:cut], 0, np.int64)
    neg = np.array([-1], dtype=np.int64).tobytes()
    with pytest.raises(ValueError, match="truncated"):
        KeyedValues.decode(neg, 0, np.int64)


# -- pinned CMS-family wire bytes ------------------------------------------

def _zipf(seed, n, mod=50_000):
    return np.random.default_rng(seed).zipf(1.3, n).astype(np.int64) % mod


def _pinned_state(case):
    if case.startswith("cms"):
        make = {"cms_sparse": lambda: CMS(eps=0.001, delta=1e-3),
                "cms_dense": lambda: CMS(eps=0.01, delta=1e-3),
                "cms_toppct": lambda: CMS(eps=0.01, delta=1e-3,
                                          heavy_hitters_pct=0.01),
                "cms_topn": lambda: CMS(eps=0.01, delta=1e-3,
                                        heavy_hitters_n=8)}[case]
        n = 60 if case == "cms_sparse" else 20_000
        a, b = make(), make()
        a.update_batch(_zipf(1, n))
        b.update_batch(_zipf(2, n), np.arange(n) % 3)  # weighted
    elif case == "sketchmap_hll":
        a, b = (SketchMapHLL(eps=0.05, delta=0.05, p=8) for _ in range(2))
        a.update_batch(_zipf(1, 5_000, 300), _zipf(3, 5_000))
        b.update_batch(_zipf(2, 5_000, 300), _zipf(4, 5_000))
    else:
        combine = case.split("_")[1]
        a, b = (SketchMap(eps=0.01, delta=1e-3, heavy_hitters_count=6,
                          combine=combine) for _ in range(2))
        w = np.random.default_rng(5).normal(3.0, 4.0, 20_000)
        a.update_batch(_zipf(1, 20_000), w)
        b.update_batch(_zipf(2, 20_000), -w)
    return a.merge_in_place(b)


# sha256 of to_bytes(), recorded from the dict-backed implementation
# these classes had before KeyedValues: the payload layout is unchanged
_PINNED = {
    "cms_sparse":
        "57cacd1e6df4ae72810815ab49a79cb6521cac653c14b373b1f564d44457aab3",
    "cms_dense":
        "d6217c10d22b2aaf54b0b97a93a07fd9dace4a30d004ede52c4e664b5bcee85a",
    "cms_toppct":
        "7c1aaead83581bbbecfb0909e34f46fc98e10ee33bada2f895311ce15a398c33",
    "cms_topn":
        "a96ece0f1e33716fd3c213ee3c9b2b7bac68c25af73d7256d2f2203a6a178820",
    "sketchmap_sum":
        "e9567599b064c6aee476ce2d0c2eddac6e5d25fe2cef16c87dd8225beae37ec5",
    "sketchmap_max":
        "6ad5dd43814b7ef737dd8f0a9a3ac3487c0730c21b2a6078fc6ef22d71b8451c",
    "sketchmap_min":
        "316733f42996d6b1f32d05c726b710f0240ac0cb93e4bdc3bc009dad98d9b8d2",
    "sketchmap_hll":
        "bb57307f1e0e126f02dcfe00c15a3a3939e8762c0675d7128c74c240ce2557ee",
}


@pytest.mark.parametrize("case", sorted(_PINNED))
def test_wire_bytes_pinned(case):
    s = _pinned_state(case)
    if case.startswith("cms"):
        assert s.is_sparse == (case == "cms_sparse")
    blob = s.to_bytes()
    assert hashlib.sha256(blob).hexdigest() == _PINNED[case]
    assert from_bytes(blob).to_bytes() == blob
