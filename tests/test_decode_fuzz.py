"""Envelope/decoder robustness: garbage, truncation, and bit-flips
must raise (ValueError family), never silently decode a partial state
— a truncated state that merges is a silently-wrong estimate."""

import numpy as np
import pytest

from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter, Eventually,
                                     ExpHist, FrequentDirections, HLLSeries,
                                     MinHash, Moments, MultiSketch, QTree,
                                     SetSize, SketchMap, SketchMapHLL,
                                     SpaceSaver, TDigest, from_bytes)


def _states():
    rng = np.random.default_rng(0)
    ints = rng.integers(0, 100_000, 500)
    floats = rng.random(500) * 1000
    skewed = rng.zipf(1.5, 2000).astype(np.int64)
    out = []
    for make, vals in [
        (lambda: HLL(p=10), ints),                       # sparse HLL
        (lambda: HLL(p=6), ints),                        # dense HLL
        (lambda: CMS(eps=0.01, delta=1e-3), ints),
        (lambda: BloomFilter(num_entries=1000, fp_prob=0.01), ints),
        (lambda: KLL(k=50), floats),
        (lambda: TDigest(50), floats),
        (lambda: QTree(), floats),
        (lambda: SpaceSaver(10), ints),
        (lambda: MinHash(num_lanes=16), ints),
        (lambda: Moments(), floats),
        (lambda: SetSize(100, 10), ints),
        (lambda: SetSize(10_000, 10), ints),             # exact branch
        (lambda: ExpHist(0.1, 1e6), floats),
        (lambda: HLLSeries(p=6), ints),
        (lambda: SketchMap(eps=0.01, delta=1e-3), ints),
        (lambda: Eventually(KLL(k=50), 10, "list"), floats),
        (lambda: Eventually(HLL(p=8), 10**6, "set"), ints),
        (lambda: MultiSketch({"h": HLL(p=8), "k": KLL(k=50)}), ints),
        (lambda: FrequentDirections(d=10, ell=4), floats),  # 50 rows x 10
        (lambda: CMS(eps=0.001, delta=1e-3), ints % 150),  # sparse-exact
        (lambda: CMS(eps=0.001, delta=1e-3, heavy_hitters_pct=0.02),
         skewed % 150),                                    # sparse TopPct
        (lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_pct=0.02), skewed),
        (lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_n=5), skewed),
    ]:
        s = make()
        s.update_batch(vals)
        out.append(s)
    smh = SketchMapHLL(eps=0.05, delta=0.05, p=8)  # two-array update
    smh.update_batch(ints % 50, ints)
    out.append(smh)
    sm = SketchMap(eps=0.01, delta=1e-3, heavy_hitters_count=5,
                   combine="max")
    sm.update_batch(skewed, floats[skewed % 500])
    out.append(sm)
    return out


def _assert_rejected_or_equal(blob, original):
    """A mutated blob must either raise, or (for mutations that only
    touch semantically-ignored bytes) decode to a state serializing
    back to the SAME bytes it was decoded from."""
    try:
        r = from_bytes(bytes(blob))
    except Exception:
        return
    assert r.to_bytes() == bytes(blob), (
        f"{type(original).__name__}: corrupted blob silently decoded "
        "to a state that does not round-trip")


def test_random_garbage_always_raises():
    rng = np.random.default_rng(1)
    for n in (0, 1, 4, 10, 64, 1024):
        blob = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        with pytest.raises(Exception):
            from_bytes(blob)


def test_truncation_never_silently_decodes():
    for s in _states():
        blob = s.to_bytes()
        for cut in {len(blob) // 3, len(blob) // 2, len(blob) - 8,
                    len(blob) - 3, len(blob) - 1}:
            if cut <= 0:
                continue
            _assert_rejected_or_equal(blob[:cut], s)


def test_bitflip_header_rejected_or_self_consistent():
    """A flipped header byte may land in the params JSON and decode
    as a legitimately DIFFERENT state (undetectable without a
    checksum); the contract is that whatever decodes must itself be
    self-consistent — its own serialization round-trips exactly —
    never a half-parsed object."""
    rng = np.random.default_rng(2)
    for s in _states()[:8]:
        blob = bytearray(s.to_bytes())
        for _ in range(10):
            b = bytearray(blob)
            pos = int(rng.integers(0, min(24, len(b))))
            b[pos] ^= 1 << int(rng.integers(0, 8))
            try:
                r = from_bytes(bytes(b))
            except Exception:
                continue
            again = r.to_bytes()
            assert from_bytes(again).to_bytes() == again, \
                type(s).__name__


def test_valid_states_still_roundtrip():
    for s in _states():
        r = from_bytes(s.to_bytes())
        assert r.to_bytes() == s.to_bytes(), type(s).__name__


def _sparse_hll_blob(idx, rho, p=10):
    """A sparse HLL envelope whose tag-3 payload holds exactly these
    (idx, rho) arrays."""
    h = HLL(p=p)
    h.update_batch(np.arange(5, dtype=np.int32))
    header = h.to_bytes()[:-len(h._payload())]
    return (header + b"\x03" + np.asarray(idx, dtype=np.int32).tobytes()
            + np.asarray(rho, dtype=np.uint8).tobytes())


def test_sparse_hll_accepts_sorted_unique_indexes():
    r = from_bytes(_sparse_hll_blob([3, 17, 900], [1, 55, 2]))
    assert r.is_sparse
    assert r.to_bytes() == _sparse_hll_blob([3, 17, 900], [1, 55, 2])


@pytest.mark.parametrize("idx", [[17, 3, 900], [3, 17, 17]],
                         ids=["unsorted", "repeated"])
def test_sparse_hll_rejects_unsorted_or_repeated_indexes(idx):
    with pytest.raises(ValueError, match="strictly increasing"):
        from_bytes(_sparse_hll_blob(idx, [1, 2, 3]))


@pytest.mark.parametrize("bad_rho", [0, 65 - 10 + 1, 255])
def test_sparse_hll_rejects_rank_out_of_range(bad_rho):
    with pytest.raises(ValueError, match="rank"):
        from_bytes(_sparse_hll_blob([3, 17, 900], [1, bad_rho, 2]))


def _cms_exact_blob(keys, counts, tail=b""):
    """A sparse-exact CMS envelope whose tag-1 payload holds these
    (key, count) arrays and no heavy-hitter candidates."""
    c = CMS(eps=0.01, delta=1e-3)
    c.update_batch(np.arange(3))
    header = c.to_bytes()[:-len(c._payload())]
    n = np.array([len(keys)], dtype=np.int64).tobytes()
    return (header + b"\x01" + np.array([3, 0], dtype=np.int64).tobytes()
            + n + np.asarray(keys, dtype=np.int64).tobytes()
            + np.ones(len(keys), dtype=np.int64).tobytes() + tail)


def test_cms_exact_accepts_sorted_unique_keys():
    blob = _cms_exact_blob([0, 1, 2], [1, 1, 1])
    r = from_bytes(blob)
    assert r.is_sparse and r.frequencies([0, 1, 2, 3]).tolist() == [1, 1, 1, 0]
    assert r.to_bytes() == blob


@pytest.mark.parametrize("keys", [[2, 0, 1], [0, 1, 1]],
                         ids=["unsorted", "repeated"])
def test_cms_exact_rejects_unsorted_or_repeated_keys(keys):
    with pytest.raises(ValueError, match="strictly increasing"):
        from_bytes(_cms_exact_blob(keys, [1, 1, 1]))


def test_cms_exact_rejects_trailing_bytes():
    with pytest.raises(ValueError, match="trailing"):
        from_bytes(_cms_exact_blob([0, 1, 2], [1, 1, 1], tail=b"\0" * 8))


@pytest.mark.parametrize("keys", [[9, 4], [4, 4]],
                         ids=["unsorted", "repeated"])
def test_sketchmap_rejects_unsorted_or_repeated_candidates(keys):
    sm = SketchMap(eps=0.1, delta=0.1, heavy_hitters_count=2)
    sm.update_batch(np.array([4, 9]), np.array([1.0, 2.0]))
    blob = bytearray(sm.to_bytes())
    at = len(blob) - len(sm._payload()) + 16  # after total, n
    blob[at:at + 16] = np.array(keys, dtype=np.int64).tobytes()
    with pytest.raises(ValueError, match="strictly increasing"):
        from_bytes(bytes(blob))
