"""Sorted keyed values: the one in-memory and wire format for the CMS
family's (key, value) sets — CMS sparse-exact counts, CMS TopPct/TopN
heavy-hitter candidates and the SketchMap/SketchMapHLL top keys.

A :class:`KeyedValues` is a sorted, unique ``int64`` key array plus one
aligned value column (``int64`` counts or ``float64`` estimates), kept
exactly as it is on the wire: ``n int64, keys[n], values[n]``. Every
operation returns a new record and never writes in place.

The heavy-hitter merge is the reference's single ``HeavyHittersLogic``
shape (CountMinSketch.scala:1004-1016, 1073-1106): take the union of the
candidate keys, re-estimate it against the merged sketch
(:meth:`reestimate`), then purge by a threshold (TopPct) or to the top
``n`` (TopN, SketchMap) with :meth:`purge`.
"""

from __future__ import annotations

import numpy as np


class KeyedValues:
    __slots__ = ("keys", "values")

    def __init__(self, keys: np.ndarray, values: np.ndarray):
        self.keys = keys
        self.values = values

    @classmethod
    def empty(cls, dtype) -> "KeyedValues":
        return cls(np.empty(0, dtype=np.int64), np.empty(0, dtype=dtype))

    def __len__(self) -> int:
        return len(self.keys)

    def add(self, keys: np.ndarray, values: np.ndarray) -> "KeyedValues":
        """Grouped add: ``values`` summed into their keys (any order,
        repeats allowed); new keys are inserted."""
        if not len(keys):
            return self
        k = np.concatenate([self.keys, keys])
        v = np.concatenate([self.values, values])
        order = np.argsort(k, kind="stable")
        k, v = k[order], v[order]
        start = np.flatnonzero(np.concatenate([[True], k[1:] != k[:-1]]))
        return KeyedValues(k[start], np.add.reduceat(v, start))

    def upsert(self, keys: np.ndarray, values: np.ndarray) -> "KeyedValues":
        """Set ``values`` at ``keys``, replacing the values held there; a
        key given twice must carry one value."""
        u, first = np.unique(np.concatenate([keys, self.keys]),
                             return_index=True)  # first = the new value
        return KeyedValues(u, np.concatenate([values, self.values])[first])

    def lookup(self, keys: np.ndarray) -> np.ndarray:
        """The value held at each of ``keys``; 0 where absent."""
        pos = np.searchsorted(self.keys, keys)
        hit = pos < len(self.keys)
        hit[hit] = self.keys[pos[hit]] == keys[hit]
        out = np.zeros(len(keys), dtype=self.values.dtype)
        out[hit] = self.values[pos[hit]]
        return out

    def reestimate(self, keys: np.ndarray, estimate) -> "KeyedValues":
        """The union of these keys and ``keys``, each valued by
        ``estimate(sorted unique keys)``."""
        u = np.union1d(self.keys, keys)
        return KeyedValues(u, estimate(u)) if len(u) else self

    def _ranking(self, by_abs: bool) -> np.ndarray:
        # order by (-value, key), or (-|value|, key)
        v = np.abs(self.values) if by_abs else self.values
        return np.lexsort((self.keys, -v))

    def purge(self, threshold=None, top: int | None = None,
              by_abs: bool = False) -> "KeyedValues":
        """Keep the keys valued ``>= threshold`` (TopPct), or the ``top``
        keys by (-value, key), by ``|value|`` when ``by_abs``."""
        if threshold is not None:
            keep = self.values >= threshold
            return KeyedValues(self.keys[keep], self.values[keep])
        if top is None or len(self) <= top:
            return self
        keep = np.sort(self._ranking(by_abs)[:top])
        return KeyedValues(self.keys[keep], self.values[keep])

    def ranked(self, by_abs: bool = False) -> list[tuple]:
        """``(key, value)`` pairs ordered by (-value, key), by
        ``|value|`` when ``by_abs``."""
        o = self._ranking(by_abs)
        return list(zip(self.keys[o].tolist(), self.values[o].tolist()))

    def encode(self) -> bytes:
        return (np.array([len(self)], dtype=np.int64).tobytes()
                + self.keys.tobytes() + self.values.tobytes())

    @classmethod
    def decode(cls, buf: bytes, offset: int,
               dtype) -> tuple["KeyedValues", int]:
        """The record at ``buf[offset:]`` and the offset just past it.
        Raises ValueError on a truncated record or keys that are not
        strictly increasing."""
        if len(buf) < offset + 8:
            raise ValueError("truncated keyed record")
        n = int(np.frombuffer(buf, dtype=np.int64, count=1, offset=offset)[0])
        end = offset + 8 + 16 * n
        if n < 0 or len(buf) < end:
            raise ValueError("truncated keyed record")
        keys = np.frombuffer(buf, dtype=np.int64, count=n, offset=offset + 8)
        if (keys[1:] <= keys[:-1]).any():
            raise ValueError("keyed record keys not strictly increasing")
        values = np.frombuffer(buf, dtype=dtype, count=n,
                               offset=offset + 8 + 8 * n)
        return cls(keys.copy(), values.copy()), end
