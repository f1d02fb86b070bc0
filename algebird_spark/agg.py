"""Distributed aggregation harness: the Spark-native replacement for
algebird's ``AlgebirdRDD.aggregate / aggregateByKey / sumByKey``
(algebird-spark .../AlgebirdRDD.scala:18-101), redesigned for
DataFrames + Arrow per SURVEY.md §3.2-3.3:

  1. **Map-side partition combine** (``mapInArrow``): every input
     partition folds its Arrow batches into one sketch state per group
     key — the analog of Spark's partial HashAggregate, which Catalyst
     cannot do for Python UDAFs. Only ``(key, state)`` rows cross the
     merge shuffle; a build never moves raw rows (a CPU-heavy per-row
     kernel over an under-split input calls ``spread`` itself).
  2. **Merge**: one hash Exchange on the keys (keyless: onto one
     partition) co-locates each key's states, a per-partition sort
     makes them adjacent, and one ``mapInArrow`` fold streams the
     sorted batches, merging each run of equal keys — one open state
     per worker at any fan-in, no per-group Python call. Every build,
     keyed or keyless, goes through this one merge. The one fan-in
     lever is ``premerge``: a shuffle-free coalesce-level fold before
     the Exchange, for scans with far more partitions than cores
     (``premerge_local``).
  3. **present()** where the reduce ends, as algebird's Aggregator
     does (Aggregator.scala:367-507): on a frame fresh from the merge,
     ``with_presented`` / ``present_explode`` rebuild the merge's fold
     with the presenter as its finisher, so each final state becomes
     its estimate columns in the task that finished it. Any other
     states frame (cached, filtered, joined, read back from a
     checkpoint) is presented by one ``mapInArrow`` pass over its state
     rows.
  4. **probe()**: algebird's point queries of one merged value
     (``CMS.frequency``, ``BloomFilter.contains``) asked of every row of
     a key column, in-plan: one Arrow UDF decodes the state once per
     task and answers a batch per call.

Each of these Python passes starts with ``_drop_spark_finders``:
PySpark begins every task with ``importlib.invalidate_caches()``, which
on CPython 3.10-3.12 re-reads the central directory of every Spark
archive whose import finder the worker still caches, a fixed ~0.1 s of
CPU per task that no kernel work can win back. Every Python pass of
the package does the same and converts its Arrow through this module.

Requires a commutative merge, exactly like the reference
(AlgebirdRDD.scala:17,37,47) — guaranteed by the sketch monoid laws
(tests/test_laws via each sketch's test module).
"""

from __future__ import annotations

import math
import sys
import zipimport
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from .sketches import Sketch, from_bytes

STATE_COL = "sketch_state"
COUNT_COL = "n_values"

# The combine coalesces each group's values across Arrow batches to
# this many elements per update_batch call — small maxRecordsPerBatch
# settings otherwise turn a billion-row scan into ~500k fixed-cost
# kernel invocations. 64K keeps each call's working set cache-sized
# (the same chunk the kernels use internally).
_COALESCE_ELEMS = 65_536

SketchFactory = Callable[[], Sketch]


def _drop_spark_finders() -> None:
    """Drop from ``sys.path_importer_cache`` every ``zipimporter`` whose
    archive Spark put on the Python worker's path: the zips the
    worker's ``pyspark`` and ``py4j`` packages load from, and any
    ``.jar`` (spark-core's, added by ``PythonUtils.sparkPythonPath``).

    PySpark starts each task with ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``); on CPython 3.10-3.12 that makes
    every cached ``zipimporter`` re-read its archive's central
    directory, 0.11-0.13 s of CPU per task for pyspark.zip (1,328
    entries), py4j's zip and spark-core's jar (5,359 entries). The
    cache is only a cache: an import that needs a dropped finder gets a
    new one from ``zipimport._zip_directory_cache`` without reading the
    archive, and Spark's archives do not change while a worker lives,
    so the next task's ``invalidate_caches()`` has nothing to re-read.
    A user's ``--py-files`` archive keeps its finder."""
    loaders = [getattr(sys.modules.get(m), "__loader__", None)
               for m in ("pyspark", "py4j")]
    spark = {ld.archive for ld in loaders
             if isinstance(ld, zipimport.zipimporter)}
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
                finder.archive in spark or finder.archive.endswith(".jar")):
            del sys.path_importer_cache[path]


# ---------------------------------------------------------------------------
# element extraction: flatten value column (scalar or array<T>) per arrow batch
# ---------------------------------------------------------------------------

def _flatten_values(col: pa.Array) -> tuple[np.ndarray, np.ndarray | None]:
    """Return (element_values, per_row_lengths|None). Lengths are None for
    scalar columns (1 element per row). List offsets are handled zero-copy.

    Nulls follow SQL aggregate semantics (count_distinct etc. ignore
    them): null list elements are dropped from the flattened values; a
    scalar column with nulls would otherwise coerce to float NaN and be
    sketched as a value."""
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        lengths = col.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
        flat = col.flatten()
        if flat.null_count:
            # exact per-row non-null counts: prefix-sum of the valid mask
            # sampled at row boundaries (np.add.reduceat mis-counts
            # when empty rows repeat a boundary or end the batch)
            import pyarrow.compute as pc
            valid = pc.is_valid(flat).to_numpy(zero_copy_only=False)
            starts = np.zeros(len(lengths) + 1, dtype=np.int64)
            np.cumsum(lengths, out=starts[1:])
            csum = np.zeros(len(valid) + 1, dtype=np.int64)
            np.cumsum(valid, out=csum[1:])
            lengths = csum[starts[1:]] - csum[starts[:-1]]
            flat = flat.drop_null()
        values = flat.to_numpy(zero_copy_only=False)
        return values, lengths
    if col.null_count:
        # scalar with nulls: keep alignment with per-row key codes by
        # reporting 0/1 elements per row
        import pyarrow.compute as pc
        valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
        return (col.drop_null().to_numpy(zero_copy_only=False),
                valid.astype(np.int64))
    return col.to_numpy(zero_copy_only=False), None


def _update_columns(cols: Sequence[pa.Array]
                    ) -> tuple[list[np.ndarray], np.ndarray | None]:
    """Aligned scalar update columns as (per-column values, per-row
    lengths|None), each converted in its own Arrow type. A row with a
    NULL in any column is skipped, as SQL aggregates skip NULL inputs:
    its lengths entry is 0, every other row's 1, as ``_flatten_values``
    reports one scalar column with NULLs. A NULL would otherwise turn
    an integer column into float64 and be sketched as NaN."""
    if not any(c.null_count for c in cols):
        return [c.to_numpy(zero_copy_only=False) for c in cols], None
    import pyarrow.compute as pc
    keep = pc.is_valid(cols[0])
    for c in cols[1:]:
        keep = pc.and_(keep, pc.is_valid(c))
    return ([c.filter(keep).to_numpy(zero_copy_only=False) for c in cols],
            keep.to_numpy(zero_copy_only=False).astype(np.int64))


def _matrix(col: pa.Array, dim: int | None = None
            ) -> tuple[np.ndarray, np.ndarray | None]:
    """A column of equal-length numeric arrays (vectors) as (a float64
    ``(rows, dim)`` matrix of its non-NULL rows, per-row validity|None):
    ``col.flatten()`` reshaped, with no copy for ``double`` elements.
    Rows of unequal lengths, or not ``dim`` long, raise ``ValueError``;
    with ``dim``, a batch of NULLs only is a ``(0, dim)`` matrix."""
    import pyarrow.compute as pc
    span = pc.min_max(col.value_lengths()).as_py()
    dims = {span["min"], span["max"], dim} - {None}
    if len(dims) > 1:
        raise ValueError(f"rows of lengths {sorted(dims)} are no matrix")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return (flat.astype(np.float64, copy=False).reshape(
                len(col) - col.null_count, dims.pop() if dims else 0),
            pc.is_valid(col).to_numpy(zero_copy_only=False)
            if col.null_count else None)


def _list_array(values: np.ndarray, valid: np.ndarray | None,
                list_type: pa.DataType,
                lengths: np.ndarray | None = None) -> pa.Array:
    """The list column of ``list_type`` whose valid rows (every row when
    ``valid`` is None) hold, in order, the rows of ``values``: a 2-D
    array, or with ``lengths`` a 1-D array of all their elements end to
    end, ``lengths[i]`` of them in row i. A row that is not valid is
    NULL. The inverse of ``_matrix``."""
    if lengths is None:
        lengths = np.full(len(values), values.shape[1], dtype=np.int64)
    if valid is not None:
        lengths, full = np.zeros(len(valid), dtype=np.int64), lengths
        lengths[valid] = full
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values.ravel()).cast(list_type.value_type),
        type=list_type, mask=None if valid is None else pa.array(~valid))


# Stands in for NaN inside a group-key tuple: NaN != NaN would split
# its group, while Spark groups every NaN together (apart from NULL).
_NAN = object()


def _group_key(values) -> tuple:
    """A key tuple with Spark's grouping equality: NULL (None) equals
    NULL, NaN equals NaN (as ``_NAN``) and -0.0 is 0.0."""
    return tuple(_NAN if v != v else v + 0.0 if isinstance(v, float) else v
                 for v in values)


def _factorize_rows(batch: pa.RecordBatch, keys: Sequence[str]):
    """Per-row group codes + unique ``_group_key`` tuples. Each key
    column is dictionary-encoded in Arrow, so NULL forms its own group
    and NaN another, matching SQL GROUP BY (a pandas round trip would
    turn a NULL float into NaN and merge the two)."""
    per = []
    for k in keys:
        enc = batch.column(k).dictionary_encode(null_encoding="encode")
        per.append((enc.indices.to_numpy(zero_copy_only=False),
                    enc.dictionary.to_pylist()))
    if len(keys) == 1:
        codes, uniques = per[0]
        return codes, [_group_key((u,)) for u in uniques]
    # Mixed-radix combine of the per-column codes, then one factorize
    # over the combined int codes. With many high-cardinality key
    # columns the product of per-batch unique counts can exceed 2^63
    # and wrap, aliasing distinct key tuples into one group; Python-int
    # arithmetic detects it exactly, and a MultiIndex factorize over the
    # per-column codes (no combined code at all) takes over.
    if math.prod(max(len(u), 1) for _, u in per) >= 2 ** 62:
        row_codes = pd.MultiIndex.from_arrays(
            [c for c, _ in per]).factorize()[0]
    else:
        combined = np.zeros(batch.num_rows, dtype=np.int64)
        for codes, uniques in per:
            combined *= max(len(uniques), 1)
            combined += codes
        row_codes = pd.factorize(combined)[0]
    # each group's key tuple, read off its first row
    first = np.unique(row_codes, return_index=True)[1]
    return row_codes, [_group_key(u[c[r]] for c, u in per)
                       for r in first.tolist()]


def _rows_batch(rows: list[tuple], schema: StructType) -> pa.RecordBatch:
    """The batch of ``schema`` from rows of Python values, each column
    built in its declared Arrow type; ``_NAN`` turns back into NaN."""
    from pyspark.sql.pandas.types import to_arrow_type
    cols = zip(*rows) if rows else [()] * len(schema.fields)
    return pa.RecordBatch.from_arrays(
        [pa.array([float("nan") if v is _NAN else v for v in col],
                  type=to_arrow_type(f.dataType))
         for f, col in zip(schema.fields, cols)],
        names=[f.name for f in schema.fields])


def _to_arrow(values, arrow_type: pa.DataType) -> pa.Array:
    """``values`` as an Arrow array of ``arrow_type``, converted as from
    pandas: NaN and None read as NULL, and the cast is unchecked."""
    return pa.array(values, from_pandas=True).cast(arrow_type, safe=False)


def _state_schema(df: DataFrame, keys: Sequence[str]) -> StructType:
    """``keys..., sketch_state binary, n_values long``."""
    return StructType([df.schema[k] for k in keys] + [
        StructField(STATE_COL, BinaryType(), False),
        StructField(COUNT_COL, LongType(), False),
    ])


# ---------------------------------------------------------------------------
# stage 1: per-partition combine
# ---------------------------------------------------------------------------

def _plan_partitions(df: DataFrame) -> int | None:
    """``df``'s partition count, read off its physical plan; None when
    the plan (or a plan it caches) shuffles, broadcasts or runs a
    subquery, as executing it would then run jobs."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if ("Exchange" in name or name == "AdaptiveSparkPlanExec"
                or not node.subqueries().isEmpty()):
            return None
        for seq in (node.children(), node.innerChildren()):
            todo += [seq.apply(i) for i in range(seq.size())]
    return len(plan.execute().partitions())


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` onto cluster parallelism when its plan has no
    shuffle and fewer partitions than that, decided with no Spark job;
    anything else, e.g. an input that already went through a shuffle,
    is returned as is. No build calls it: a build never moves raw rows.
    A caller whose per-row kernel is CPU-heavy calls it on an
    under-split input (a small scan arrives as 1-3 partitions, which
    would serialize that kernel on 1-3 cores); on real at-scale inputs
    (thousands of partitions) it is a no-op."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n = _plan_partitions(df)
    if n is not None and n < parallelism:
        return df.repartition(parallelism)
    return df


def _combine(df: DataFrame, keys: Sequence[str], value_cols: Sequence[str],
             factory: SketchFactory) -> DataFrame:
    """The map-side combine behind every build: one sketch state per
    (input partition x group key), schema ``keys..., sketch_state,
    n_values``.

    One value column goes through ``_flatten_values`` (scalar or
    array, nulls dropped); several must be aligned scalar columns and
    reach ``update_batch(col0, col1, ...)`` by position, without the
    rows that hold a NULL in any of them (``_update_columns``). Each
    batch is factorized and gathered once by a stable argsort of its
    group codes (``np.repeat`` over array lengths), then sliced per
    group; zero keys make the whole batch one group with no factorize
    or sort.

    Spark hands mapInArrow ~maxRecordsPerBatch-row batches, so a
    G-group partition would otherwise call ``update_batch`` with
    ~rows/G elements, and the kernels' fixed per-call cost (hash setup,
    compaction, per-chunk sorts) would dominate. Slices of at least
    ``_COALESCE_ELEMS`` update directly; smaller ones buffer per key
    and flush at ``_COALESCE_ELEMS``, with a global cap bounding worker
    memory at any key cardinality. Chunk-size invariance of every
    sketch is law-tested, so coalescing is observationally neutral. A
    group whose rows hold no values (all-empty arrays) still emits its
    ``n_values=0`` state.

    A sketch with an ``update_grouped(states, codes, values)`` hook (HLL)
    takes the grouped path instead when there are keys and one value
    column: each batch is factorized, its codes repeated over the array
    lengths, and one call builds every group's state (one hash and one
    sort per batch, not one kernel call per key); ``n_values`` comes
    from ``np.bincount``. Every other sketch keeps the per-key path and
    its coalescing: KLL, for one, compacts on every call, so moving the
    flush boundaries would change its bytes.

    The combine runs over ``df``'s partitions as given, as algebird's
    ``mapPartitions`` does: raw rows never move (see ``spread``)."""
    keys, value_cols = list(keys), list(value_cols)
    out_schema = _state_schema(df, keys)
    cap = 8 * _COALESCE_ELEMS
    grouped = (getattr(factory(), "update_grouped", None)
               if keys and len(value_cols) == 1 else None)

    def columns(batch: pa.RecordBatch):
        """Per-element value arrays + per-row lengths (None: 1 per row)."""
        if len(value_cols) == 1:
            values, lengths = _flatten_values(batch.column(value_cols[0]))
            return [values], lengths
        return _update_columns([batch.column(c) for c in value_cols])

    def groups(batch: pa.RecordBatch, cols: list, lengths):
        """(key tuple, aligned value slices) per group in the batch."""
        if not keys:
            return [((), cols)]
        codes, uniques = _factorize_rows(batch, keys)
        if lengths is not None:
            codes = np.repeat(codes, lengths)
        order = np.argsort(codes, kind="stable")
        cols = [c[order] for c in cols]
        bounds = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
        return [(uniques[g], [c[bounds[g]:bounds[g + 1]] for c in cols])
                for g in range(len(uniques))]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        acc: dict[tuple, list] = {}   # key -> [sketch, n_values]
        pend: dict[tuple, list[list[np.ndarray]]] = {}
        pend_n: dict[tuple, int] = {}
        total_pend = 0

        def update(key: tuple, args: list[np.ndarray]) -> None:
            entry = acc[key]
            entry[0].update_batch(*args)
            entry[1] += len(args[0])

        def flush(key: tuple) -> None:
            nonlocal total_pend
            update(key, [p[0] if len(p) == 1 else np.concatenate(p)
                         for p in zip(*pend.pop(key))])
            total_pend -= pend_n.pop(key)

        for batch in batches:
            cols, lengths = columns(batch)
            if len(cols[0]) == 0 and (lengths is None or batch.num_rows == 0):
                continue
            if grouped:
                codes, uniques = _factorize_rows(batch, keys)
                if lengths is not None:
                    codes = np.repeat(codes, lengths)
                for key in uniques:
                    if key not in acc:
                        acc[key] = [factory(), 0]
                entries = [acc[key] for key in uniques]
                grouped([e[0] for e in entries], codes, cols[0])
                counts = np.bincount(codes, minlength=len(uniques))
                for e, n in zip(entries, counts.tolist()):
                    e[1] += n
                continue
            for key, args in groups(batch, cols, lengths):
                if key not in acc:
                    acc[key] = [factory(), 0]
                n = len(args[0])
                if n == 0:
                    continue
                if n >= _COALESCE_ELEMS and key not in pend:
                    update(key, args)  # already kernel-sized
                    continue
                # .copy(): a keyed slice is a view that would pin the
                # whole gathered batch until flush
                pend.setdefault(key, []).append(
                    [a.copy() for a in args] if keys else args)
                pend_n[key] = pend_n.get(key, 0) + n
                total_pend += n
                if pend_n[key] >= _COALESCE_ELEMS:
                    flush(key)
            if total_pend >= cap:
                for key in list(pend):
                    flush(key)
        for key in list(pend):
            flush(key)
        if acc:
            yield _rows_batch([(*k, sk.to_bytes(), n)
                               for k, (sk, n) in acc.items()], out_schema)

    return df.select(*(keys + value_cols)).mapInArrow(run, out_schema)


def sketch_partitions(df: DataFrame, value_col: str, factory: SketchFactory,
                      keys: Sequence[str] = ()) -> DataFrame:
    """One sketch state per (input partition x group key) over one
    scalar or array column; output schema ``keys..., sketch_state
    binary, n_values long`` (see ``_combine``)."""
    return _combine(df, keys, [value_col], factory)


# ---------------------------------------------------------------------------
# stage 2: merge of states by key
# ---------------------------------------------------------------------------

# A merge task yields its finished states once they reach this many
# bytes, so it holds one open state plus one bounded output batch.
_EMIT_BYTES = 8 << 20


class _States:
    """The fold's default finisher: each finished group becomes a
    ``(keys..., sketch_state, n_values)`` row, and a batch is yielded
    every ``_EMIT_BYTES`` of state."""

    limit = _EMIT_BYTES

    def __init__(self, schema: StructType):
        self.schema = schema

    @staticmethod
    def finish(sk: Sketch) -> bytes:
        return sk.to_bytes()

    size = staticmethod(len)

    def batch(self, done: list[tuple]) -> pa.RecordBatch:
        return _rows_batch([(*key, blob, n) for key, blob, n in done],
                           self.schema)


def _fold_sorted(placed: DataFrame, keys: list[str],
                 finish=None) -> DataFrame:
    """The one merge: sort ``placed``, which already holds each key's
    states in one partition, by ``keys`` within partitions and stream
    the sorted Arrow batches through one ``mapInArrow`` fold. Each run
    of equal keys (``_group_key`` equality) merges, in order, into the
    state its first row decodes to; on a key change ``finish.finish``
    turns the finished state into its output, and the ``(key, output,
    n_values)`` rows are yielded as ``finish.batch`` once their
    ``finish.size`` reaches ``finish.limit``. Per group this costs a
    key comparison, not a Python call and an Arrow round trip. The
    default finisher (``_States``) emits the state rows; ``_Present``
    presents each state where the reduce ends."""
    finish = finish or _States(_state_schema(placed, keys))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        done: list[tuple] = []
        size = 0
        key, acc, n = None, None, 0
        for batch in batches:
            ks = ([_group_key(r) for r in
                   zip(*(batch.column(k).to_pylist() for k in keys))]
                  if keys else [()] * batch.num_rows)
            blobs = batch.column(STATE_COL).to_pylist()
            counts = batch.column(COUNT_COL).to_pylist()
            for k, blob, c in zip(ks, blobs, counts):
                if acc is not None and k != key:
                    done.append((key, finish.finish(acc), n))
                    size += finish.size(done[-1][1])
                    acc, n = None, 0
                    if size >= finish.limit:
                        yield finish.batch(done)
                        done, size = [], 0
                key = k
                sk = from_bytes(bytes(blob))
                if acc is None:
                    acc = sk
                else:
                    acc.merge_in_place(sk)
                n += c
        if acc is not None:
            done.append((key, finish.finish(acc), n))
        if done:
            yield finish.batch(done)

    if keys:
        placed = placed.sortWithinPartitions(*keys)
    return placed.mapInArrow(run, finish.schema)


def premerge_local(states_df: DataFrame, keys: Sequence[str] = (),
                   target_partitions: int | None = None) -> DataFrame:
    """Shuffle-free pre-merge of partition states.

    ``coalesce`` (no Exchange) packs many map partitions into
    ``target_partitions`` tasks, and the sorted fold merges states per
    key WITHIN each coalesced partition. At warehouse scale the input
    stage can emit hundreds of thousands of (partition x key) state
    rows; this reduces what the keyed merge shuffle carries from P x K
    rows to target x K without moving a byte across the network. Use
    before merge_sketches when P >> cores (e.g. 800k-partition scans).
    At P <= target ``coalesce`` keeps the P partitions and the fold
    only passes each state through; the partition count is never
    probed, because under AQE that probe runs the upstream shuffle
    map stage while the plan is still being built."""
    parallelism = states_df.sparkSession.sparkContext.defaultParallelism
    if target_partitions is None:
        target_partitions = parallelism
    # Never coalesce below cluster parallelism: coalesce has no shuffle
    # boundary, so the ENTIRE upstream scan+combine would run in
    # target_partitions tasks, idling the rest of the cluster.
    # Measured on the 1.2e9-token rehearsal: target 8 on 32 cores ran
    # 159.9 s vs 59.5 s at target 32 — the 4x shuffle-row saving can
    # never repay a 4x-serialized scan.
    target_partitions = max(target_partitions, parallelism)
    return _fold_sorted(states_df.coalesce(target_partitions), list(keys))


def merge_sketches(states_df: DataFrame, keys: Sequence[str] = (),
                   premerge: int | None = None) -> DataFrame:
    """Merge per-partition states down to one state per key: the one
    merge behind every build.

    One hash Exchange on ``keys`` (keyless: onto one partition), then
    the sorted streaming fold: a worker holds one open state plus one
    bounded output batch, at any key count and any fan-in.
    ``premerge`` inserts the shuffle-free coalesce-level combine (see
    premerge_local) BEFORE the keyed shuffle — the lever for very high
    input partition counts."""
    if premerge is not None:
        states_df = premerge_local(states_df, keys, premerge)
    keys = list(keys)
    placed = states_df.repartition(*keys) if keys else states_df.repartition(1)
    return _tag(_fold_sorted(placed, keys), placed, keys, keys)


def _tag(merged: DataFrame, placed: DataFrame, keys: list[str],
         out_keys: list[str]) -> DataFrame:
    """Tag ``merged``, the states ``(out_keys..., sketch_state,
    n_values)`` of the fold of ``placed`` by ``keys``, with that fold,
    as ``merged._algebird_fold``, so a present can rebuild it with the
    presenter as its finisher (``_present``). ``out_keys`` are the key
    columns ``merged`` keeps, in its order."""
    merged._algebird_fold = (placed, keys, out_keys)
    return merged


# ---------------------------------------------------------------------------
# top-level entry points (the AlgebirdRDD API analogs)
# ---------------------------------------------------------------------------

def sketch_by_key(df: DataFrame, keys: Sequence[str],
                  value_cols: str | Sequence[str], factory: SketchFactory,
                  premerge: int | None = None) -> DataFrame:
    """``rdd.algebird.aggregateByKey`` analog: DataFrame of
    ``keys..., sketch_state, n_values`` with one row per key (no keys:
    one row, none on empty input).

    ``value_cols`` is one column (scalar or array) or a list of them.
    Several columns feed sketches whose ``update_batch`` takes aligned
    companion arrays — SketchMap(keys, weights), DecayingCMS(keys,
    timestamps, weights), HLLSeries(values, timestamps),
    ScopedTopN(items, scopes); they must be scalar columns, and each
    batch calls ``update_batch(col0, col1, ...)`` positionally over its
    rows with no NULL in any of them.
    ``premerge``: shuffle-free coalesce-level combine before the keyed
    merge — set to ~cluster cores when the scan has far more
    partitions than executors (see premerge_local)."""
    value_cols = [value_cols] if isinstance(value_cols, str) else value_cols
    states = _combine(df, keys, value_cols, factory)
    return merge_sketches(states, keys, premerge=premerge)


def sketch_global(df: DataFrame, value_cols: str | Sequence[str],
                  factory: SketchFactory) -> Sketch:
    """``rdd.algebird.aggregate`` analog: one sketch for the whole frame,
    the keyless ``sketch_by_key`` with its one state read back;
    ``factory()``, the monoid zero, on empty input. Its fold merges
    every partition state in one task; for a scan with far more
    partitions than cores, read back the row of ``sketch_by_key(df,
    [], value_cols, factory, premerge=...)`` instead (SCALE.md §1)."""
    rows = sketch_by_key(df, [], value_cols, factory).select(
        STATE_COL).collect()
    return from_bytes(bytes(rows[0][0])) if rows else factory()


_ROLLUP_FUSE_MAX_ROWS = 16_384  # sketch_rollup's fusion gate, see there


def sketch_rollup(df: DataFrame, keys: Sequence[str], value_col: str,
                  factory: SketchFactory, grouping: str = "rollup",
                  premerge: int | None = None,
                  sets: Sequence[Sequence[str]] | None = None) -> DataFrame:
    """Every ROLLUP / CUBE grouping level from ONE scan of the input:
    build sketch states at the finest key grain, then derive each
    coarser level by MERGING those states — the associativity the
    reference's Monoid laws guarantee (algebird-core
    .../Monoid.scala:41-76; the rollup/cube macros in
    MapAlgebra.scala:274-318 recompute each level from rows — states
    make the levels free). At warehouse scale this is the difference
    between one pass over the corpus and ``levels`` passes: the coarse
    levels merge the (tiny, one-row-per-fine-key) state table, never
    the raw rows.

    Returns ``keys..., grouping_id, sketch_state, n_values`` with SQL
    grouping semantics: a key column is NULL on levels that rolled it
    up, and ``grouping_id`` is Spark's ``F.grouping_id()`` bitmask
    (first key = most significant bit; DuckDB's ``GROUPING(k1, k2)``
    matches) — it disambiguates genuinely-NULL key values from
    rolled-up ones. ``grouping='rollup'`` emits the ``d+1`` prefix
    levels; ``'cube'`` all ``2^d`` subsets; ``sets=[...]`` names
    explicit GROUPING SETS (each a subset of ``keys``; SQL semantics —
    order preserved, duplicate sets emit duplicate level rows) and
    overrides ``grouping``. Every level merges in one keyed shuffle
    (see ``rollup_levels``)."""
    keys = list(keys)
    if not keys:
        raise ValueError("sketch_rollup needs at least one key; use "
                         "sketch_global for the single keyless state")
    if grouping not in ("rollup", "cube"):
        raise ValueError("grouping must be 'rollup' or 'cube'")
    # r8 single-merge fusion: rollup_levels works on ANY
    # (keys, state, count) table, so when the (partition-state rows x
    # levels) explode stays small, feed it the PARTITION states
    # directly — every level then merges in the one keyed shuffle +
    # one sorted fold and the intermediate finest-grain merge
    # stage disappears (measured: hll_rollup_sketch 2.4 -> 1.9 s at
    # sf1.0). Monoid associativity makes the result the same merge of
    # the same partition states, just in one round. At warehouse
    # scale (many scan partitions) the explode would multiply the
    # state shuffle by the level count, so the two-stage plan stays
    # the default there. The estimate counts the partition states the
    # explode will see: the input's own plan partitions (the combine
    # never repartitions), or parallelism for a shuffled input.
    if sets is not None:
        sets = [list(s) for s in sets]
        n_levels = len(sets)
    else:
        n_levels = (len(keys) + 1 if grouping == "rollup"
                    else 2 ** len(keys))
    n_parts = (_plan_partitions(df)
               or df.sparkSession.sparkContext.defaultParallelism)
    if n_parts * n_levels <= _ROLLUP_FUSE_MAX_ROWS:
        states = sketch_partitions(df, value_col, factory, keys)
    else:
        states = sketch_by_key(df, keys, value_col, factory,
                               premerge=premerge)
    return rollup_levels(states, keys, factory, grouping=grouping, sets=sets)


def rollup_levels(fine: DataFrame, keys: Sequence[str],
                  factory: SketchFactory, grouping: str = "rollup",
                  sets: Sequence[Sequence[str]] | None = None) -> DataFrame:
    """Derive every grouping level from an EXISTING finest-grain state
    table ``(keys..., sketch_state, n_values)`` — the second half of
    ``sketch_rollup``, split out so persisted/checkpointed states can
    feed it directly (``sources.checkpoint.rollup_or_resume``): at
    warehouse scale the cube refreshes by re-deriving levels from the
    maintained state table, never rescanning the corpus. Semantics and
    output schema exactly as ``sketch_rollup``.

    Plan: each state row EXPLODES into one (set index, grouping_id,
    masked keys) row per grouping set, and every level merges in ONE
    keyed shuffle + ONE sorted fold (``merge_sketches``) — stage count
    independent of the level count, no intermediate persist. The set
    index keeps duplicate GROUPING SETS (SQL emits one row per
    occurrence) apart in that merge instead of folding them into one
    doubly-merged group."""
    keys = list(keys)
    if grouping not in ("rollup", "cube"):
        raise ValueError("grouping must be 'rollup' or 'cube'")
    if sets is not None:
        sets = [list(s) for s in sets]
    if sets == []:
        raise ValueError("sets must name at least one grouping set "
                         "(use [[]] for just the grand total)")
    d = len(keys)
    if sets is not None:
        idx = {k: i for i, k in enumerate(keys)}
        subsets = []
        for s in sets:
            unknown = [k for k in s if k not in idx]
            if unknown:
                raise ValueError(
                    f"grouping set column(s) {unknown} not in keys {keys}")
            subsets.append(frozenset(idx[k] for k in s))
    elif grouping == "rollup":
        subsets = [frozenset(range(i)) for i in range(d, -1, -1)]
    else:
        subsets = [frozenset(j for j in range(d) if (m >> (d - 1 - j)) & 1 == 0)
                   for m in range(2 ** d)]
    key_types = {k: fine.schema[k].dataType for k in keys}

    structs = []
    for s, sub in enumerate(subsets):
        gid = sum(1 << (d - 1 - i) for i in range(d) if i not in sub)
        fields = [(F.col(k) if i in sub
                   else F.lit(None).cast(key_types[k])).alias(k)
                  for i, k in enumerate(keys)]
        structs.append(F.struct(
            F.lit(s).alias("__set"),
            F.lit(gid).cast("long").alias("grouping_id"), *fields))
    flat = (fine.select(F.explode(F.array(*structs)).alias("__lvl"),
                        STATE_COL, COUNT_COL)
            .select("__lvl.*", STATE_COL, COUNT_COL))
    totals = [s for s, sub in enumerate(subsets) if not sub]
    if totals:
        # SQL parity: the () grouping set emits its row even on empty
        # input; folding one monoid-zero state into each grand-total
        # group is free on non-empty input (identity law) and supplies
        # that row on empty.
        zero = bytearray(factory().to_bytes())
        flat = flat.unionByName(fine.sparkSession.createDataFrame(
            [(s, (2 ** d) - 1) + (None,) * d + (zero, 0) for s in totals],
            flat.schema))
    merged = merge_sketches(flat, ["__set", "grouping_id"] + keys)
    placed, fold_keys, _ = merged._algebird_fold
    return _tag(merged.select(*keys, "grouping_id", STATE_COL, COUNT_COL),
                placed, fold_keys, keys + ["grouping_id"])


# ---------------------------------------------------------------------------
# present: decode final states into estimate columns
# ---------------------------------------------------------------------------

class _Present:
    """``present()`` as a finisher: a presenter's output rows, as a batch
    of ``schema`` = the carried columns, then the presented ``fields``.
    ``explode``: the presenter returns a list of rows per state, else
    one row. In a fused fold (``_fold_sorted``) the carried columns are
    the key columns at positions ``pick`` of the fold's key tuple, then
    ``n_values`` when ``count``, and a batch is yielded every Arrow
    batch's worth (``maxRecordsPerBatch``) of presented rows."""

    size = staticmethod(len)

    def __init__(self, presenter: Callable, explode: bool,
                 carry: StructType, fields: StructType, limit: int,
                 pick: list[int] = (), count: bool = False):
        self.presenter, self.explode = presenter, explode
        self.carry, self.fields = carry, fields
        self.schema = StructType(carry.fields + fields.fields)
        self.limit, self.pick, self.count = limit, list(pick), count

    def finish(self, sk: Sketch) -> list[dict]:
        out = self.presenter(sk)
        return out if self.explode else [out]

    def batch(self, done: list[tuple]) -> pa.RecordBatch:
        carried = _rows_batch(
            [tuple(key[i] for i in self.pick) + ((n,) if self.count else ())
             for key, _, n in done], self.carry)
        return self.table(carried, [rows for _, rows, _ in done])

    def table(self, carried: pa.RecordBatch,
              rows: list[list[dict]]) -> pa.RecordBatch:
        """Each carried row repeated once per presented row of its
        state, then the presented columns. A presented value converts
        as from pandas: NaN and None read as NULL, and the value is
        cast (unchecked) to its field's type."""
        from pyspark.sql.pandas.types import to_arrow_type
        take = np.repeat(np.arange(len(rows)), [len(r) for r in rows])
        flat = [r for rs in rows for r in rs]
        cols = carried.take(pa.array(take, type=pa.int64())).columns + [
            _to_arrow([r.get(f.name) for r in flat],
                      to_arrow_type(f.dataType))
            for f in self.fields]
        return pa.RecordBatch.from_arrays(
            cols, names=[f.name for f in self.schema.fields])


def _present(states_df: DataFrame, presenter: Callable, out_fields: str,
             explode: bool) -> DataFrame:
    """The one present: ``states_df``'s non-state columns (without
    ``n_values`` when ``explode``), then the ``out_fields`` DDL columns.

    A states frame fresh from ``merge_sketches`` (tagged, not cached)
    is rebuilt as its fold with this present as the finisher: each
    state is presented where the reduce ends, and never crosses
    ``to_bytes`` → JVM → Arrow → ``from_bytes`` again. Any other frame
    (a checkpoint read; a cached, filtered or joined states frame) gets
    one ``mapInArrow`` over its state rows. A cached frame is never
    fused: the rebuilt fold would recompute the merge it caches."""
    from pyspark.sql.types import _parse_datatype_string
    carried = [f for f in states_df.schema.fields if f.name != STATE_COL
               and not (explode and f.name == COUNT_COL)]
    # one DDL string, so every output column is nullable as declared
    schema = _parse_datatype_string(", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in carried]
        + [out_fields]))
    carry = StructType(schema.fields[:len(carried)])
    fields = StructType(schema.fields[len(carried):])
    limit = int(states_df.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    tag = getattr(states_df, "_algebird_fold", None)
    if tag is not None and not states_df.is_cached:
        placed, keys, out_keys = tag
        return _fold_sorted(placed, keys, _Present(
            presenter, explode, carry, fields, limit,
            pick=[keys.index(k) for k in out_keys], count=not explode))
    present = _Present(presenter, explode, carry, fields, limit)
    names = [f.name for f in carry.fields]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            if batch.num_rows:
                yield present.table(batch.select(names), [
                    present.finish(from_bytes(b))
                    for b in batch.column(STATE_COL).to_pylist()])

    return states_df.mapInArrow(run, present.schema)


def with_presented(states_df: DataFrame, presenter: Callable[[Sketch], dict],
                   out_fields: str) -> DataFrame:
    """Apply ``presenter(sketch) -> dict`` to each final state row: the
    output is every non-state column (keys, ``n_values``), then the
    presented columns. ``out_fields`` is a DDL string for those, e.g.
    ``"estimate double, low double, high double"``. Runs in-plan and
    driver-free: on a frame fresh from ``merge_sketches`` (or the
    rollups) inside the merge's own fold, else as one ``mapInArrow``
    pass (see ``_present``)."""
    return _present(states_df, presenter, out_fields, explode=False)


def present_explode(states_df: DataFrame,
                    presenter: Callable[[Sketch], list[dict]],
                    out_fields: str) -> DataFrame:
    """Like ``with_presented`` but ``presenter(sketch) -> list[dict]``:
    zero or more output rows per final state (e.g. top-N per scope from
    a ScopedTopN state). Group-key columns are carried onto every
    emitted row (``n_values`` is not); ``out_fields`` is a DDL string
    for the presented columns. Runs in-plan exactly as
    ``with_presented`` does."""
    return _present(states_df, presenter, out_fields, explode=True)


# ---------------------------------------------------------------------------
# probe: point queries of one merged state, in-plan
# ---------------------------------------------------------------------------

def probe(sk: Sketch, fn: Callable[[Sketch, np.ndarray], Sequence],
          return_type: str) -> Callable:
    """A column function asking one merged state ``sk`` a point query
    per row: ``probe(sk, CMS.frequencies, "long")(F.col("k"))`` is
    algebird's ``cms.frequency(k)`` (CountMinSketch.scala:418-425) for
    every row, evaluated where the column's rows are.

    One Arrow UDF (plan node ``ArrowEvalPython``) decodes ``sk`` once
    per task and calls ``fn(sketch, values)`` once per Arrow batch, on
    the batch's non-null values of the scalar column converted as the
    combine converts them (``_flatten_values``), so an integer key stays
    an exact integer whatever NULLs share its batch. ``fn`` returns one
    answer per value, converted as a presented value is (``_to_arrow``)
    to the ``return_type`` DDL type; a NULL input row gets NULL. The
    state rides in the UDF's closure, which PySpark itself ships as a
    broadcast once it passes ``spark.broadcast.UDFCompressionThreshold``
    (1 MB)."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string
    blob = sk.to_bytes()
    out_type = to_arrow_type(_parse_datatype_string(return_type))

    def run(cols: Iterator[pa.Array]) -> Iterator[pa.Array]:
        _drop_spark_finders()
        local = from_bytes(blob)
        for col in cols:
            values, valid = _flatten_values(col)
            out = _to_arrow(fn(local, values) if len(values) else [],
                            out_type)
            if valid is not None:
                # a NULL row takes a NULL index, and take() gives NULL
                out = out.take(pa.array(np.cumsum(valid) - 1,
                                        mask=valid == 0))
            yield out

    return F.arrow_udf(run, return_type)
