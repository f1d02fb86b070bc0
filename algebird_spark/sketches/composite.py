"""MultiSketch: run N sketches over one pass — the analog of
``Aggregator.join`` / ``GeneratedTupleAggregator.fromN``
(algebird-core .../Aggregator.scala:468-485, generated tuple semigroups
in GeneratedAbstractAlgebra.scala:11-22).

At scale this is the difference between one scan of 100 TB and five:
a single partition-combine pass updates every component sketch from the
same Arrow batch.

Prepared chunks: the components that only count or mark values (CMS,
HLL, Bloom) have an ``update_prepared(uniq, counts, n_raw)`` hook, and
``update_batch`` reduces each 64 Ki chunk ONCE to its distinct values
and their counts for all of them — algebird's ``prepare`` step shared
across the tuple instead of run per component. The reduction is over
the values' bits (integers directly, floats through a same-width
unsigned view), so ``-0.0`` and ``0.0``, or two NaN payloads, stay
apart exactly as the hashes keep them apart, and the hooks' states are
byte-equal to ``update_batch(chunk)``. Other dtypes (strings, objects)
and the order-sensitive components (KLL, t-digest) get the raw chunk.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_MULTI, Sketch, from_bytes, register


def _bits(values: np.ndarray) -> np.ndarray | None:
    """``values`` as an array whose equality is bit equality (integers
    as they are, floats viewed as same-width unsigned ints), or None
    for a dtype with no such view."""
    if values.dtype.kind in "biu":
        return values
    if values.dtype.kind == "f" and values.dtype.itemsize in (2, 4, 8):
        return values.view(f"u{values.dtype.itemsize}")
    return None


class MultiSketch(Sketch):
    KIND = KIND_MULTI

    def __init__(self, components: dict[str, Sketch]):
        self.components = dict(components)

    def _params(self) -> dict:
        return {"names": sorted(self.components)}

    _CHUNK = 1 << 16

    def update_batch(self, values) -> None:
        values = np.asarray(values)
        bits = _bits(values)
        prepared, raw = [], []
        for sk in self.components.values():
            (prepared if bits is not None and hasattr(sk, "update_prepared")
             else raw).append(sk)
        # chunk HERE so the input streams from DRAM once per chunk and
        # every component updates while the chunk is cache-resident —
        # N components cost ~one input read, not N
        for lo in range(0, values.shape[0], self._CHUNK):
            chunk = values[lo:lo + self._CHUNK]
            for sk in raw:
                sk.update_batch(chunk)
            if prepared:
                uniq, cnts = np.unique(bits[lo:lo + self._CHUNK],
                                       return_counts=True)
                uniq = uniq.view(values.dtype)
                for sk in prepared:
                    sk.update_prepared(uniq, cnts, len(chunk))

    def merge_in_place(self, other: "MultiSketch") -> "MultiSketch":
        self.merge_check(other)
        for name, sk in self.components.items():
            sk.merge_in_place(other.components[name])
        return self

    def present(self) -> dict:
        return {name: sk.present() for name, sk in self.components.items()}

    def __getitem__(self, name: str) -> Sketch:
        return self.components[name]

    def _payload(self) -> bytes:
        parts = []
        for name in sorted(self.components):
            nb = name.encode("utf-8")
            blob = self.components[name].to_bytes()
            parts.append(struct.pack("<HI", len(nb), len(blob)))
            parts.append(nb)
            parts.append(blob)
        return b"".join(parts)


@register(KIND_MULTI)
def _decode_multi(params: dict, payload: bytes) -> MultiSketch:
    comps: dict[str, Sketch] = {}
    off = 0
    while off < len(payload):
        nlen, blen = struct.unpack_from("<HI", payload, off)
        off += 6
        name = payload[off : off + nlen].decode("utf-8")
        off += nlen
        comps[name] = from_bytes(payload[off : off + blen])
        off += blen
    if sorted(comps) != params["names"]:
        raise ValueError("MultiSketch component names mismatch")
    return MultiSketch(comps)
