"""SpaceSaver / StreamSummary heavy hitters with per-item error bounds
(algebird-core .../SpaceSaver.scala:133-292).

State: capacity-m map item -> (count, error). New item when full evicts
the current minimum and inherits its count as error (``loseOne``,
SpaceSaver.scala:243-260). Merge sums counts+errors pairwise and keeps
the top-capacity items (:274-286). ``top_k`` flags which entries are
*guaranteed* (count - error strictly above the next-best upper bound,
:166-187).

Caveat carried over from the reference (:125-131): distributed merge is
heuristic — order-dependent at the margins. TopPct CMS is the
mergeable-by-construction default; SpaceSaver is provided for parity.
"""

from __future__ import annotations

import json

import numpy as np

from ..functions.hashing import prepare_keys
from .base import (KIND_SCOPEDTOPN, KIND_SPACESAVER, Sketch, from_bytes,
                   register)


class SpaceSaver(Sketch):
    """Counters are keyed by the canonical prepare_keys int64 (ints pass
    through; strings/bytes hash). For non-int items the original label
    is tracked alongside the TRACKED counters only (bounded by
    capacity), so ``top_k`` returns the real string back — the
    CMSHasher[String] use case (CMSHasher.scala:121-150)."""

    KIND = KIND_SPACESAVER

    def __init__(self, capacity: int = 100):
        if capacity < 1:
            raise ValueError("capacity must be >= 1")
        self.capacity = capacity
        self.counters: dict[int, tuple[int, int]] = {}  # key -> (count, err)
        self.labels: dict[int, str] = {}  # key -> original label (non-int)

    def _params(self) -> dict:
        return {"capacity": self.capacity}

    def update_batch(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        keys = prepare_keys(arr)
        labeled = keys is not arr and arr.dtype.kind not in ("i", "u", "f")
        uniq, first, cnts = np.unique(keys, return_index=True,
                                      return_counts=True)
        c = self.counters
        for j, (item, n) in enumerate(zip(uniq.tolist(), cnts.tolist())):
            if item in c:
                cc, ee = c[item]
                c[item] = (cc + n, ee)
            elif len(c) < self.capacity:
                c[item] = (n, 0)
            else:
                min_item = min(c, key=lambda k: c[k][0])
                mc, _ = c.pop(min_item)
                self.labels.pop(min_item, None)
                c[item] = (mc + n, mc)
            if labeled and item in c and item not in self.labels:
                v = arr[first[j]]
                self.labels[item] = (v.decode("utf-8", "replace")
                                     if isinstance(v, bytes) else str(v))

    def merge_in_place(self, other: "SpaceSaver") -> "SpaceSaver":
        self.merge_check(other)
        a, b = self.counters, other.counters
        merged: dict[int, tuple[int, int]] = {}
        min_a = min((v[0] for v in a.values()), default=0) if len(a) >= self.capacity else 0
        min_b = min((v[0] for v in b.values()), default=0) if len(b) >= other.capacity else 0
        for item in set(a) | set(b):
            ca, ea = a.get(item, (min_a, min_a))
            cb, eb = b.get(item, (min_b, min_b))
            merged[item] = (ca + cb, ea + eb)
        top = sorted(merged.items(), key=lambda kv: (-kv[1][0], kv[0]))[: self.capacity]
        self.counters = dict(top)
        if self.labels or other.labels:
            lab = {**other.labels, **self.labels}
            self.labels = {k: lab[k] for k in self.counters if k in lab}
        return self

    def _label(self, item: int):
        return self.labels.get(item, item)

    def top_k(self, k: int) -> list[tuple[object, int, int, bool]]:
        """[(item, count, error, guaranteed)] sorted by count desc
        (SpaceSaver.scala:166-187). ``item`` is the original label for
        string inputs, the int key otherwise."""
        items = sorted(self.counters.items(), key=lambda kv: (-kv[1][0], kv[0]))
        out = []
        for i, (item, (c, e)) in enumerate(items[:k]):
            nxt = items[i + 1][1][0] if i + 1 < len(items) else 0
            out.append((self._label(item), c, e, c - e >= nxt))
        return out

    def most_frequent(self, threshold: int) -> list[tuple[object, int, int, bool]]:
        return [(i, c, e, g) for i, c, e, g in self.top_k(len(self.counters))
                if c >= threshold]

    def present(self) -> dict:
        return {"top": self.top_k(10)}

    def _payload(self) -> bytes:
        # canonical item order (serialization independent of dict order)
        n = len(self.counters)
        items = np.fromiter(self.counters.keys(), dtype=np.int64, count=n)
        cnts = np.fromiter((v[0] for v in self.counters.values()), dtype=np.int64, count=n)
        errs = np.fromiter((v[1] for v in self.counters.values()), dtype=np.int64, count=n)
        o = np.argsort(items, kind="stable")
        lab = json.dumps([[k, self.labels[k]] for k in sorted(self.labels)],
                         ensure_ascii=False).encode("utf-8")
        return (np.array([n], dtype=np.int64).tobytes()
                + items[o].tobytes() + cnts[o].tobytes() + errs[o].tobytes()
                + lab)


@register(KIND_SPACESAVER)
def _decode_spacesaver(params: dict, payload: bytes) -> SpaceSaver:
    out = SpaceSaver(params["capacity"])
    n = int(np.frombuffer(payload[:8], dtype=np.int64)[0])
    if len(payload) < 8 + 24 * n:
        raise ValueError("truncated SpaceSaver payload")
    items = np.frombuffer(payload[8 : 8 + 8 * n], dtype=np.int64)
    cnts = np.frombuffer(payload[8 + 8 * n : 8 + 16 * n], dtype=np.int64)
    errs = np.frombuffer(payload[8 + 16 * n : 8 + 24 * n], dtype=np.int64)
    out.counters = {int(i): (int(c), int(e))
                    for i, c, e in zip(items, cnts, errs)}
    tail = payload[8 + 24 * n :]
    if tail:
        out.labels = {int(k): v for k, v in json.loads(tail.decode("utf-8"))}
    return out


class ScopedTopN(Sketch):
    """Top-N per key-prefix scope (ScopedTopNLogic,
    algebird-core .../CountMinSketch.scala:1301-1343): one bounded
    SpaceSaver per scope. Same merge-order caveat as TopN — prefer
    TopPct CMS when strict mergeability matters."""

    KIND = KIND_SCOPEDTOPN

    def __init__(self, n: int = 10, max_scopes: int = 1024,
                 capacity: int | None = None):
        self.n = n
        self.max_scopes = max_scopes
        self.capacity = capacity or max(n * 4, 16)
        self.scopes: dict[int, SpaceSaver] = {}

    def _params(self) -> dict:
        return {"n": self.n, "max_scopes": self.max_scopes,
                "capacity": self.capacity}

    def update_batch(self, values, scopes=None) -> None:
        """values: items (any dtype the nested SpaceSaver prepares);
        scopes: int64 scope id per item."""
        items = np.asarray(values)
        if items.size == 0:
            return
        sc = (np.zeros(len(items), dtype=np.int64) if scopes is None
              else np.asarray(scopes).astype(np.int64, copy=False))
        order = np.argsort(sc, kind="stable")
        sc_s, it_s = sc[order], items[order]
        uniq, starts = np.unique(sc_s, return_index=True)
        bounds = np.append(starts, len(sc_s))
        for i, scope in enumerate(uniq.tolist()):
            ss = self.scopes.get(scope)
            if ss is None:
                if len(self.scopes) >= self.max_scopes:
                    continue  # state bound: overflow scopes are not tracked
                ss = self.scopes[scope] = SpaceSaver(capacity=self.capacity)
            ss.update_batch(it_s[bounds[i]:bounds[i + 1]])

    def merge_in_place(self, other: "ScopedTopN") -> "ScopedTopN":
        self.merge_check(other)
        for scope, ss in other.scopes.items():
            mine = self.scopes.get(scope)
            if mine is None:
                self.scopes[scope] = from_bytes(ss.to_bytes())
            else:
                mine.merge_in_place(ss)
        return self

    def top_n(self, scope: int) -> list[tuple[int, int, int, bool]]:
        ss = self.scopes.get(scope)
        return ss.top_k(self.n) if ss else []

    def present(self) -> dict:
        return {int(s): [t[0] for t in self.top_n(s)]
                for s in sorted(self.scopes)}

    def _payload(self) -> bytes:
        import struct
        parts = [np.array([len(self.scopes)], dtype=np.int64).tobytes()]
        for scope in sorted(self.scopes):
            blob = self.scopes[scope].to_bytes()
            parts.append(struct.pack("<qI", scope, len(blob)))
            parts.append(blob)
        return b"".join(parts)


@register(KIND_SCOPEDTOPN)
def _decode_scopedtopn(params: dict, payload: bytes) -> "ScopedTopN":
    import struct
    out = ScopedTopN(params["n"], params["max_scopes"], params["capacity"])
    n = int(np.frombuffer(payload[:8], dtype=np.int64)[0])
    off = 8
    for _ in range(n):
        scope, blen = struct.unpack_from("<qI", payload, off)
        off += 12
        out.scopes[scope] = from_bytes(payload[off : off + blen])
        off += blen
    return out
