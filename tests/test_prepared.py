"""The prepared-chunk hook ``update_prepared(uniq, counts, n_raw)`` on
CMS, HLL and Bloom, and ``MultiSketch.update_batch``'s one distinct
reduction per chunk: every state must be byte-equal to the raw-chunk
``update_batch`` it replaces, also where value equality is not bit
equality (``-0.0`` vs ``0.0``, NaN payloads)."""

import numpy as np
import pytest

from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter, MultiSketch,
                                     TDigest)

CHUNK = MultiSketch._CHUNK

COMPONENTS = {
    "cms": lambda: CMS(eps=0.01, delta=1e-3),
    "cms_sparse": lambda: CMS(eps=0.002, delta=1e-3),
    "cms_pct": lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_pct=0.01),
    "cms_topn": lambda: CMS(eps=0.01, delta=1e-3, heavy_hitters_n=10),
    "hll8": lambda: HLL(p=8),
    "hll14": lambda: HLL(p=14),
    "bloom": lambda: BloomFilter(num_entries=5_000, fp_prob=0.01),
}

# quiet NaN, negated quiet NaN, two other payloads, and signed zeros
_SPECIAL = np.array([0x7FF8000000000000, 0xFFF8000000000000,
                     0x7FF8000000000001, 0x7FF0000000000001,
                     0x0000000000000000, 0x8000000000000000],
                    dtype=np.uint64).view(np.float64)


def _values(kind: str, n: int, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    tok = rng.zipf(1.3, n) % 5_000
    if kind == "int32":
        return (tok - 2_500).astype(np.int32)
    if kind == "int64":
        return tok.astype(np.int64) * 1_000_003 - (1 << 40)
    if kind == "float64":
        out = tok / 7.0
        pick = rng.integers(0, len(_SPECIAL), n)
        special = rng.random(n) < 0.3
        out[special] = _SPECIAL[pick[special]]
        return out
    if kind == "float32":
        out = (tok / 7.0).astype(np.float32)
        out[::5] = np.float32(-0.0)
        out[::9] = np.float32(np.nan)
        return out
    if kind == "str":
        return np.array([f"t{t}" for t in tok], dtype=object)
    raise ValueError(kind)


def _distinct(chunk: np.ndarray):
    """The chunk's distinct values by bits, as MultiSketch reduces it."""
    if chunk.dtype.kind == "f":
        bits = chunk.view(f"u{chunk.dtype.itemsize}")
        uniq, cnts = np.unique(bits, return_counts=True)
        return uniq.view(chunk.dtype), cnts
    return np.unique(chunk, return_counts=True)


@pytest.mark.parametrize("kind", ["int32", "int64", "float64", "str"])
@pytest.mark.parametrize("name", sorted(COMPONENTS))
def test_hook_bytes_equal_update_batch(name, kind):
    make = COMPONENTS[name]
    values = _values(kind, 3 * CHUNK + 123)
    raw, prep = make(), make()
    # small chunks first: sparse states that turn dense part way
    for lo, hi in [(0, 40), (40, 2_000), (2_000, 2_000 + CHUNK),
                   (2_000 + CHUNK, len(values))]:
        for c in range(lo, hi, CHUNK):
            chunk = values[c:min(c + CHUNK, hi)]
            raw.update_batch(chunk)
            prep.update_prepared(*_distinct(chunk), len(chunk))
        assert prep.to_bytes() == raw.to_bytes(), (name, kind, hi)


def _multi(kind: str) -> MultiSketch:
    comps = {
        "hll": HLL(p=12),
        "cms": CMS(eps=0.01, delta=1e-3, heavy_hitters_pct=0.01),
        "topn": CMS(eps=0.01, delta=1e-3, heavy_hitters_n=5),
        "bloom": BloomFilter(num_entries=5_000, fp_prob=0.01),
    }
    if kind != "str":  # the quantile sketches take numbers only
        comps["kll"] = KLL(k=100)
    if kind.startswith("int"):  # and t-digest rejects NaN
        comps["tdigest"] = TDigest(100)
    return MultiSketch(comps)


@pytest.mark.parametrize("kind",
                         ["int32", "int64", "float64", "float32", "str"])
def test_multisketch_bytes_equal_per_component_update_batch(kind):
    values = _values(kind, 2 * CHUNK + 777, seed=3)
    multi, ref = _multi(kind), _multi(kind)
    multi.update_batch(values)
    for lo in range(0, len(values), CHUNK):
        for sk in ref.components.values():
            sk.update_batch(values[lo:lo + CHUNK])
    for name, sk in multi.components.items():
        assert sk.to_bytes() == ref.components[name].to_bytes(), name
    assert multi.to_bytes() == ref.to_bytes()


def test_signed_zero_and_nan_payloads_stay_distinct():
    """A value-equality reduction (``np.unique`` over the floats) would
    fold ``-0.0`` into ``0.0`` and merge the NaN payloads, which the
    hashes keep apart: the HLL would count 2 values, not 6."""
    values = np.tile(_SPECIAL, 50)
    multi = MultiSketch({"hll": HLL(p=14)})
    multi.update_batch(values)
    ref = HLL(p=14)
    ref.update_batch(values)
    assert multi["hll"].to_bytes() == ref.to_bytes()
    assert round(ref.estimate()) == len(_SPECIAL)


def test_bloom_n_inserted_counts_raw_values():
    values = np.array([5, 5, 5, 7, 7, 9], dtype=np.int64)
    bf = BloomFilter(num_entries=100, fp_prob=0.01)
    bf.update_prepared(*np.unique(values, return_counts=True), len(values))
    assert bf.n_inserted == 6
    multi = MultiSketch({"bloom": BloomFilter(num_entries=100, fp_prob=0.01)})
    multi.update_batch(np.repeat(values, 1_000))
    assert multi["bloom"].n_inserted == 6_000
    ref = BloomFilter(num_entries=100, fp_prob=0.01)
    ref.update_batch(np.repeat(values, 1_000))
    assert multi["bloom"].to_bytes() == ref.to_bytes()
