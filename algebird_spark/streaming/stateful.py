"""Structured Streaming sketch operators (SURVEY.md §2.8, §3.4).

The reference's streaming pattern is Summingbird-style: per-event
``prepare`` -> buffered ``StatefulSummer`` -> periodic flush
(algebird-core .../SummingQueue.scala:17-79). Spark-native equivalents:

* ``sketch_stream_by_key`` — ``applyInPandasWithState``: group state is
  the serialized sketch; each micro-batch folds its Arrow rows in and
  emits the refreshed estimate (``sketch_state_stream_by_key`` emits
  the state itself; both run one update, ``_keyed_stream``).
  Commutative merges mean late/reordered events are folded losslessly
  — the property the reference gets from monoid commutativity (no
  watermark needed for correctness, only for state bounding).

The ``applyInPandasWithState`` functions stay on pandas, as
``GeneralScan``'s passes do: ``scan_stream_fold`` hands its kernel the
pandas frame ``GeneralScan.apply_stream`` does.
* ``windowed_sketch_stream`` — event-time tumbling windows: group by
  (window(ts), keys) and keep one sketch state per window; the
  watermark expires state like ExpHist ``step`` eviction
  (algebird-core .../ExpHist.scala:38-161 analog).
* ``sliding_counts`` — ExpHist's query surface (approximate count over
  a trailing window) via built-in windowed count, exact in Spark.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                               StructField, StructType)

from ..agg import _drop_spark_finders, _flatten_values, _update_columns
from ..sketches import Sketch, from_bytes

SketchFactory = Callable[[], Sketch]


def _estimate_of(sk: Sketch) -> float:
    p = sk.present()
    if isinstance(p, (int, float)):
        return float(p)
    if isinstance(p, dict):
        for key in ("total", "n"):
            if key in p:
                return float(p[key])
    return float("nan")


def _stream_array(col: pd.Series, arrow_type: pa.DataType) -> pa.Array:
    """One micro-batch's pandas column back in Arrow, in its declared
    type, so the stream reads it as the batch combine reads its Arrow
    column: a NULL (NaN in pandas) is a NULL, not a value, and an
    integer stays an integer. One NULL makes pandas hand an integer
    column (or the elements of an integer array column) over as
    float64, which holds an integer exactly only below 2^53; a larger
    one is already lost, so it raises. A double column's NaN reads as
    NULL, as pandas cannot tell the two apart."""
    arr = pa.array(col, type=arrow_type, from_pandas=True)
    values, _ = _flatten_values(arr)
    if (values.dtype.kind in "iu" and values.size
            and (values.max() >= 2 ** 53 or values.min() <= -2 ** 53)
            and (col.dtype.kind == "f" or col.dtype == object and any(
                getattr(c, "dtype", np.dtype(object)).kind == "f"
                for c in col))):
        raise ValueError(
            f"integer column {col.name!r} reached the stream as float64 "
            "with values beyond 2**53; the float round trip has already "
            "changed them")
    return arr


def _keyed_stream(sdf: DataFrame, keys: Sequence[str],
                  value_cols: str | Sequence[str], factory: SketchFactory,
                  out_fields: list[StructField],
                  emit: Callable[[Sketch, int], tuple]) -> DataFrame:
    """The one per-key stream update: a key's sketch and value count
    live in its ``GroupState``, each micro-batch's values fold in, and
    one row ``keys..., *emit(sketch, n_values)`` of ``out_fields`` is
    emitted. Values are read as the batch build (``agg._combine``)
    reads them: one column (scalar or array, named or a one-element
    list) through ``_flatten_values``, each element a value; several
    columns positionally through ``_update_columns``, each row without
    a NULL a value."""
    from pyspark.sql.pandas.types import to_arrow_type
    keys = list(keys)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    flat = len(cols) == 1
    types = [to_arrow_type(sdf.schema[c].dataType) for c in cols]
    out_schema = StructType([sdf.schema[k] for k in keys] + out_fields)
    names = [f.name for f in out_schema.fields]
    state_schema = StructType([
        StructField("blob", BinaryType(), True),
        StructField("n", LongType(), True)])

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        _drop_spark_finders()
        if state.exists:
            blob, n = state.get
            sk = from_bytes(bytes(blob))
        else:
            sk, n = factory(), 0
        for pdf in pdfs:
            arrays = [_stream_array(pdf[c], t) for c, t in zip(cols, types)]
            args = ([_flatten_values(arrays[0])[0]] if flat
                    else _update_columns(arrays)[0])
            if len(args[0]):
                sk.update_batch(*args)
                n += len(args[0])
        state.update((sk.to_bytes(), n))
        yield pd.DataFrame([dict(zip(names, (*key, *emit(sk, n))))])

    return sdf.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def sketch_stream_by_key(sdf: DataFrame, keys: Sequence[str], value_col: str,
                         factory: SketchFactory) -> DataFrame:
    """Streaming per-key sketch with persistent state.

    Output rows per micro-batch: keys..., estimate double, n_values long.
    State: one serialized sketch per key (bounded size by construction).
    The value column (scalar or array) is read as the batch build reads
    it (``_stream_array``): NULLs are not values, so a stream and
    ``agg.sketch_by_key`` over the same rows build the same state.
    """
    return _keyed_stream(
        sdf, keys, value_col, factory,
        [StructField("estimate", DoubleType(), True),
         StructField("n_values", LongType(), False)],
        lambda sk, n: (_estimate_of(sk), n))


def windowed_sketch_stream(sdf: DataFrame, ts_col: str, window: str,
                           keys: Sequence[str], value_col: str,
                           factory: SketchFactory,
                           watermark: str = "10 minutes") -> DataFrame:
    """Event-time tumbling-window sketch: one state per (window, keys);
    watermark bounds state like ExpHist bucket expiry."""
    keys = list(keys)
    sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    with_window = (sdf.withWatermark(ts_col, watermark)
                      .withColumn("__ws", F.window(ts_col, window).start
                                  .cast("string")))
    return sketch_stream_by_key(with_window, ["__ws"] + keys, value_col,
                                factory).withColumnRenamed("__ws", "window_start")


def sliding_counts(sdf: DataFrame, ts_col: str, window: str, slide: str,
                   keys: Sequence[str], watermark: str = "10 minutes") -> DataFrame:
    """ExpHist query surface: count + sum over sliding event-time windows
    (exact — Spark keeps per-window state; ExpHist's epsilon-approximate
    buckets are only needed when a single bounded state must answer any
    trailing window)."""
    keys = list(keys)
    # event time must be TIMESTAMP; parquet NTZ columns need a cast
    # (session tz should be pinned UTC)
    sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (sdf.withWatermark(ts_col, watermark)
               .groupBy(F.window(ts_col, window, slide), *keys)
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("window_start"),
                       F.col("window.end").alias("window_end"), *keys, "n"))


def sketch_state_stream_by_key(sdf: DataFrame, keys: Sequence[str],
                               update_cols: Sequence[str],
                               factory: SketchFactory) -> DataFrame:
    """Streaming analog of multi-column ``agg.sketch_by_key``: one
    sketch per key group, updated each micro-batch with
    ``update_batch(col0, col1, ...)`` (positional — e.g. DecayingCMS
    takes (values, timestamps, weights)), emitting the SERIALIZED
    state alongside the running value count.

    Emitting the state rather than a fixed estimate is the mergeable
    hand-off between a live stream and everything else: probe it with
    ``from_bytes`` (decayed frequencies, heavy hitters), or merge it
    into a nightly batch build — the same monoid that makes partition
    states combinable makes stream and batch states combinable.

    The update columns are read as the batch build reads them
    (``_stream_array``, then ``agg._combine``'s conversion): one column
    (scalar or array) is flattened, each non-NULL element a value, as
    ``sketch_by_key(df, keys, [col], factory)`` counts them; with
    several, a row with a NULL in any of them is skipped and not
    counted. An integer column stays an integer.

    Output per micro-batch: keys..., state binary, n_values long."""
    return _keyed_stream(
        sdf, keys, update_cols, factory,
        [StructField("state", BinaryType(), False),
         StructField("n_values", LongType(), False)],
        lambda sk, n: (sk.to_bytes(), n))


def scan_stream_fold(sdf: DataFrame, keys: Sequence[str],
                     order: Sequence[str] | str, batch_kernel: Callable,
                     output_col: str = "scan_out",
                     output_type: str = "bigint",
                     watermark_col: str | None = None) -> DataFrame:
    """Streaming general ``Scan.from`` — the reference ``Scan`` is a
    stream transform (Scan.scala:18-60); this is its Structured
    Streaming form, sharing the EXACT kernel contract of
    ``GeneralScan.apply_stream``: ``batch_kernel(pdf, carry) ->
    (values, carry)``. The carry (arbitrary picklable fold state) is
    the per-key ``GroupState``, persisted across micro-batches, so a
    kernel law-tested in batch (split-invariance) runs unchanged on a
    stream and produces identical numbering — batch==stream
    equivalence is tested with the session kernel.

    Every micro-batch emits its own rows with the fold output
    appended (append mode). Ordering contract: rows sort by ``order``
    WITHIN a micro-batch; ACROSS batches the source must deliver each
    key's rows in fold order (the same append-order requirement every
    streaming running fold has — the reference Scan likewise consumes
    an ordered stream). State per key is O(carry), independent of
    stream length.

    **Out-of-order sources** (r5 VERDICT #8): pass ``watermark_col``
    (an event-time timestamp column the caller has declared with
    ``withWatermark``) to turn on the reorder buffer — each key holds
    its rows in state until the watermark passes their event time,
    then folds them in ``order``; an event-time timeout flushes
    buffered rows whose key receives no further data. Rows disordered
    by at most the watermark delay fold in exactly the batch order
    (rows later than the delay are dropped by Spark's late-record
    filter upstream, the standard watermark contract). The first
    ``order`` column should be consistent with event time, and output
    latency becomes the watermark delay. Buffered state per key is
    bounded by one delay-window of that key's rows."""
    import pickle

    from pyspark.sql.types import _parse_datatype_string

    keys = list(keys)
    order_cols = [order] if isinstance(order, str) else list(order)
    out_schema = StructType(
        list(sdf.schema.fields)
        + [StructField(output_col, _parse_datatype_string(output_type))])
    state_schema = StructType([StructField("carry", BinaryType(), True)])

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        _drop_spark_finders()
        carry = (pickle.loads(bytes(state.get[0]))
                 if state.exists else None)
        # the group's micro-batch rows arrive as an ITERATOR of
        # Arrow-sized chunks in shuffle order — sorting each chunk
        # independently would fold across-chunk rows out of order, so
        # materialize the whole (key, micro-batch) slice and sort ONCE;
        # its size is bounded by one key's one-trigger data
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) \
                .sort_values(order_cols, kind="mergesort") \
                .reset_index(drop=True)
            vals, carry = batch_kernel(pdf, carry)
            pdf[output_col] = vals
            yield pdf
        state.update((pickle.dumps(carry),))

    def update_reorder(key, pdfs: Iterable[pd.DataFrame],
                       state: GroupState):
        _drop_spark_finders()
        carry, buf = (pickle.loads(bytes(state.get[0]))
                      if state.exists else (None, None))
        parts = [p for p in pdfs if len(p)]
        if buf is not None and len(buf):
            parts.append(buf)
        full = pd.concat(parts, ignore_index=True) if parts else None
        rest = None
        wm_ms = state.getCurrentWatermarkMs()
        if full is not None and len(full):
            ts_ms = (full[watermark_col].to_numpy()
                     .astype("datetime64[ms]").astype("int64"))
            ready_mask = ts_ms <= wm_ms
            if ready_mask.any():
                ready = (full[ready_mask]
                         .sort_values(order_cols, kind="mergesort")
                         .reset_index(drop=True))
                vals, carry = batch_kernel(ready, carry)
                ready[output_col] = vals
                yield ready
            rest = full[~ready_mask].reset_index(drop=True)
            if len(rest):
                # re-invoke this key once the watermark passes its
                # oldest buffered row, even if no new data arrives
                nxt = int(ts_ms[~ready_mask].min())
                state.setTimeoutTimestamp(max(nxt, wm_ms + 1))
            else:
                rest = None
        state.update((pickle.dumps((carry, rest)),))

    if watermark_col is None:
        return sdf.groupBy(*keys).applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)
    return sdf.groupBy(*keys).applyInPandasWithState(
        update_reorder, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout)
