"""MultiSketch: run N sketches over one pass — the analog of
``Aggregator.join`` / ``GeneratedTupleAggregator.fromN``
(algebird-core .../Aggregator.scala:468-485, generated tuple semigroups
in GeneratedAbstractAlgebra.scala:11-22).

At scale this is the difference between one scan of 100 TB and five:
a single partition-combine pass updates every component sketch from the
same Arrow batch.
"""

from __future__ import annotations

import struct

from .base import KIND_MULTI, Sketch, from_bytes, register


class MultiSketch(Sketch):
    KIND = KIND_MULTI

    def __init__(self, components: dict[str, Sketch]):
        self.components = dict(components)

    def _params(self) -> dict:
        return {"names": sorted(self.components)}

    _CHUNK = 1 << 16

    def update_batch(self, values) -> None:
        import numpy as np
        values = np.asarray(values)
        # chunk HERE so the input streams from DRAM once per chunk and
        # every component updates while the chunk is cache-resident —
        # N components cost ~one input read, not N
        for lo in range(0, values.shape[0], self._CHUNK):
            chunk = values[lo:lo + self._CHUNK]
            for sk in self.components.values():
                sk.update_batch(chunk)

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
