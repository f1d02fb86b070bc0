"""algebird_spark — a PySpark-native distributed sketch / approximate
aggregation library with the capabilities of twitter/algebird, built
Spark-first (DataFrame + Arrow-vectorized UDAF states), not a port.

Layers:
  * ``sketches`` — pure numpy mergeable sketch states (HLL, CMS+HH,
    Bloom, KLL, t-digest, MinHash) with versioned binary envelopes.
  * ``agg`` — the distributed harness: map-side partition combine via
    ``mapInArrow`` over the input partitions as given (a build never
    moves raw rows; only (key, state) rows cross the merge shuffle),
    one sorted streaming merge, present() into estimate columns.
  * ``operators`` — exact-parity layer (algebird ops that map 1:1 to
    Spark built-ins) + training-data pipeline ops (dedup, similarity,
    text analysis, multimodal plumbing).
  * ``sources`` — token-table generator + checkpointed sketch store
    with lineage/metrics.
"""

__version__ = "0.1.0"

from . import sketches  # noqa: F401
