"""Composable Scan surface — reference ``Scan.scala:18-328``.

Algebird's ``Scan[I, O]`` is a stateful one-pass stream transform with
combinators (``andThenPresent``, ``compose``/``andThen``, ``zip``,
``join``, ``joinWithIndex``, ``fromMonoidAggregator``). On Spark the
idiomatic equivalent of a per-key ordered scan is a WINDOW EXPRESSION
over (partitionBy keys, orderBy order, rows unbounded-preceding ..
current): Catalyst evaluates it in one pass per partition with the
same left-fold semantics, distributed by key.

A :class:`Scan` here is a recipe that ``apply`` turns into columns:

* ``Scan.from_agg(col, fn)`` — ``Scan.fromMonoidAggregator``: running
  fold of any Spark aggregate over the input column (``Scan.sum`` /
  ``max`` / ``min`` / ``count`` / ``avg`` sugar).
* ``s.map(fn)`` — ``andThenPresent``: transform the output column.
* ``s.join(other)`` / ``zip`` — both scans run over the SAME ordered
  row stream, outputs side by side (Scan.scala ``join``; ``zip`` of
  paired inputs degenerates to the same thing on a columnar engine
  because each scan closes over its own input column).
* ``s.join_with_index()`` — ``joinWithIndex``: pair the output with
  the 0-based running index.
* ``s.then_agg(fn)`` — ``compose``/``andThen`` for the running-fold
  case: feed this scan's OUTPUT stream into another running fold
  (e.g. running max of a running sum). Spark forbids nested window
  functions in one expression, so composition materializes the
  intermediate column and windows over it — still one shuffle: every
  stage uses the identical (keys, order) window, so Catalyst plans a
  single Exchange + Sort followed by chained Window operators.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

from ..agg import STATE_COL, _drop_spark_finders, _to_arrow


class Scan:
    """A named list of window-building stages; each stage is a list of
    (output_name, builder) where builder(frame_window, order_window,
    prev_stage_outputs) -> Column. Later stages may reference earlier
    stages' output columns by name (the compose hand-off)."""

    def __init__(self, stages, outputs):
        self._stages = stages      # list[list[tuple[str, Callable]]]
        self._outputs = outputs    # names of the visible output columns

    # ------------------------------------------------------ constructors
    @staticmethod
    def from_agg(col: str, agg: Callable[[Column], Column],
                 alias: str = "scan") -> "Scan":
        """Running fold of ``agg`` over ``col`` — the
        ``Scan.fromMonoidAggregator`` analog (any Spark aggregate
        function is a fold over the running frame)."""
        def build(frame_w, order_w, prev):
            return agg(F.col(col)).over(frame_w)
        return Scan([[(alias, build)]], [alias])

    @staticmethod
    def sum(col: str, alias: str = "running_sum") -> "Scan":
        return Scan.from_agg(col, F.sum, alias)

    @staticmethod
    def max(col: str, alias: str = "running_max") -> "Scan":
        return Scan.from_agg(col, F.max, alias)

    @staticmethod
    def min(col: str, alias: str = "running_min") -> "Scan":
        return Scan.from_agg(col, F.min, alias)

    @staticmethod
    def count(alias: str = "running_count") -> "Scan":
        return Scan.from_agg("*", lambda _: F.count(F.lit(1)), alias)

    @staticmethod
    def avg(col: str, alias: str = "running_avg") -> "Scan":
        return Scan.from_agg(col, F.avg, alias)

    @staticmethod
    def index(alias: str = "idx") -> "Scan":
        """0-based running row index (Scan.scala ``index``)."""
        def build(frame_w, order_w, prev):
            return F.row_number().over(order_w) - F.lit(1)
        return Scan([[(alias, build)]], [alias])

    # ------------------------------------------------------ combinators
    def map(self, fn: Callable[[Column], Column],
            alias: str | None = None) -> "Scan":
        """``andThenPresent``: transform this scan's (single) output."""
        (name, build) = self._single()
        out = alias or name
        def mapped(frame_w, order_w, prev):
            return fn(build(frame_w, order_w, prev))
        stages = [list(s) for s in self._stages]
        stages[-1] = [(out, mapped) if n == name else (n, b)
                      for n, b in stages[-1]]
        return Scan(stages, [out if o == name else o for o in self._outputs])

    def join(self, other: "Scan") -> "Scan":
        """Run both scans over the same ordered stream; outputs side
        by side (Scan.scala ``join``; ``zip`` coincides with it on a
        columnar engine)."""
        n = max(len(self._stages), len(other._stages))
        stages = []
        for i in range(n):
            stage = []
            if i < len(self._stages):
                stage += self._stages[i]
            if i < len(other._stages):
                stage += other._stages[i]
            stages.append(stage)
        return Scan(stages, self._outputs + other._outputs)

    zip = join

    def join_with_index(self, alias: str = "idx") -> "Scan":
        """``joinWithIndex``: pair every output with the 0-based
        running index."""
        return self.join(Scan.index(alias))

    def then_agg(self, agg: Callable[[Column], Column],
                 alias: str = "composed") -> "Scan":
        """``compose``/``andThen`` for running folds: a new running
        fold over THIS scan's output stream. Materializes the
        intermediate column (nested window functions are illegal in
        one expression) but reuses the same window — one Exchange,
        chained Window operators."""
        (name, _) = self._single()
        def build(frame_w, order_w, prev):
            return agg(F.col(name)).over(frame_w)
        return Scan([list(s) for s in self._stages] + [[(alias, build)]],
                    self._outputs + [alias])

    def _single(self):
        last = self._stages[-1]
        if len(last) != 1:
            raise ValueError("combinator needs a single-output scan; "
                             "apply join after map/then_agg instead")
        return last[0]

    # ------------------------------------------------------ general form
    @staticmethod
    def from_fn(step: Callable[[Any, Any], tuple[Any, Any]],
                init: Any) -> "GeneralScan":
        """The fully general ``Scan.from(initialState)(fn)``
        (Scan.scala:18-60): an ARBITRARY state transition
        ``step(state, row) -> (new_state, output)`` folded per key in
        order. Returns a :class:`GeneralScan`; evaluate with
        ``.apply(df, keys, order, output_col, output_type)``.

        This is the generality escape hatch: the window-expression
        scans above stay the fast path (pure JVM, one Exchange), and
        ``step`` runs row-at-a-time INSIDE an applyInPandas group —
        use :meth:`GeneralScan.apply_batch` with a vectorized kernel
        whenever the transition can be phrased over whole sorted
        groups."""
        return GeneralScan(step, init)

    # ------------------------------------------------------------ apply
    def apply(self, df: DataFrame, keys: Sequence[str],
              order: Sequence[str] | str) -> DataFrame:
        """Evaluate the scan per key in ``order``; appends one column
        per output. Deterministic iff ``order`` is a total order
        within each key (add tie-breaker columns exactly as you would
        for any window)."""
        order_cols = [order] if isinstance(order, str) else list(order)
        base = Window.partitionBy(*keys).orderBy(*order_cols)
        frame_w = base.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow)
        out = df
        for stage in self._stages:
            cols = [build(frame_w, base, out).alias(name)
                    for name, build in stage]
            out = out.select("*", *cols)
        return out


class GeneralScan:
    """Ordered per-key left fold with an arbitrary state transition —
    the ``Scan.from`` analog (Scan.scala:18-60). Distribution model:
    ``groupBy(keys).applyInPandas`` shuffles once on the scan keys and
    hands each key group to one task, where rows are sorted by
    ``order`` and folded. State lives per key and only the fold's
    OUTPUT column is added, so the shuffle carries input rows only;
    each group must fit in one task's memory (the same contract as
    ``applyInPandasWithState`` batches — at 100 TB the keys are things
    like user/session ids, not globals).

    ``apply_batch`` and ``apply_stream`` (and so ``apply``) hand the
    caller's kernel a pandas frame, so they stay on PySpark's pandas
    APIs, as the streaming state functions do."""

    def __init__(self, step, init):
        self._step = step
        self._init = init

    @staticmethod
    def _out_schema(df: DataFrame, output_col: str,
                    output_type: str) -> StructType:
        return StructType(list(df.schema.fields)
                          + [StructField(output_col,
                                         _parse_datatype_string(output_type))])

    def apply(self, df: DataFrame, keys: Sequence[str],
              order: Sequence[str] | str, output_col: str = "scan_out",
              output_type: str = "double") -> DataFrame:
        """Row-at-a-time ``step(state, row) -> (state, out)`` fold;
        ``row`` is a namedtuple of the group's columns. Fully general,
        NOT vectorized — prefer :meth:`apply_batch` or the window
        Scans when the transition allows. Runs as :meth:`apply_batch`
        with the row loop as its kernel."""
        step, init = self._step, self._init

        def kernel(pdf):
            state = init() if callable(init) else init
            outs = []
            for row in pdf.itertuples(index=False):
                state, o = step(state, row)
                outs.append(o)
            return outs

        return GeneralScan.apply_batch(df, keys, order, kernel, output_col,
                                       output_type)

    @staticmethod
    def apply_batch(df: DataFrame, keys: Sequence[str],
                    order: Sequence[str] | str,
                    kernel: Callable, output_col: str = "scan_out",
                    output_type: str = "double") -> DataFrame:
        """Vectorized variant: ``kernel(sorted_group_pdf) -> array``
        computes the whole fold output per key group with numpy/pandas
        (cumsum/cummax/diff formulations) — Arrow batches in, no
        per-row Python. Same shuffle shape as :meth:`apply`."""
        order_cols = [order] if isinstance(order, str) else list(order)

        def fold(pdf):
            _drop_spark_finders()
            pdf = pdf.sort_values(order_cols, kind="mergesort") \
                .reset_index(drop=True)
            pdf[output_col] = kernel(pdf)
            return pdf

        return df.groupBy(*keys).applyInPandas(
            fold, GeneralScan._out_schema(df, output_col, output_type))

    @staticmethod
    def apply_stream(df: DataFrame, keys: Sequence[str],
                     order: Sequence[str] | str,
                     batch_kernel: Callable, output_col: str = "scan_out",
                     output_type: str = "double") -> DataFrame:
        """Partition-ordered streaming fold — the many-small-groups
        scale path. ``apply``/``apply_batch`` pay one Python call and
        one Arrow round-trip PER KEY GROUP (``applyInPandas``
        semantics); at a billion 3-row groups that overhead dominates
        the fold. Here the plan is one hash Exchange on ``keys`` + one
        in-partition Sort by (keys, order) + a SINGLE ``mapInPandas``
        pass, so Python runs once per ARROW BATCH regardless of group
        cardinality. ``batch_kernel(pdf, carry) -> (values, carry)``
        sees the sorted batch and threads fold state across batch
        boundaries (``carry`` is ``None`` at each partition start);
        the sort makes key groups contiguous, so the kernel detects
        group changes vectorized (shift/compare on the key columns)
        and consults ``carry`` only for its first row. Per-partition
        state is O(1), and groups may span Arrow batches freely."""
        order_cols = [order] if isinstance(order, str) else list(order)
        key_cols = list(keys)
        schema = GeneralScan._out_schema(df, output_col, output_type)

        def run(batches):
            _drop_spark_finders()
            carry = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vals, carry = batch_kernel(pdf, carry)
                pdf[output_col] = vals
                yield pdf

        return (df.repartition(*key_cols)
                  .sortWithinPartitions(*key_cols, *order_cols)
                  .mapInPandas(run, schema))


def sketch_scan(states: DataFrame, keys: Sequence[str], step_col: str,
                presenter: Callable[[Any], float] | None = None,
                out_col: str = "estimate",
                out_type: str = "double") -> DataFrame:
    """Expanding (cumulative) merge of per-step sketch states along
    step order within each key — ``Scan.fromMonoidAggregator`` over a
    time/step dimension (Scan.scala:61-90), i.e. the "cumulative
    distinct = HLL scan" mapping of SURVEY §2.2. Input is the
    ``keys + [step_col]``-grouped state table from ``sketch_by_key``;
    output has one row per (keys, step) carrying the running
    ``present()`` over all steps <= step.

    Scale shape: the group fed to ``applyInArrow`` is one key's STEP
    rows (a bounded time dimension — days/weeks), never raw data
    rows, and each group folds sketch states sequentially — the same
    O(steps x state) work any engine must do. ``presenter`` maps the
    running sketch to the output value (default ``present()`` as
    float). Works for any Sketch: the fold is the monoid plus, so
    cumulative values equal a fresh build over the prefix (law-tested
    with HLL against exact first-occurrence counting)."""
    from pyspark.sql.pandas.types import to_arrow_type

    from ..sketches import from_bytes

    keys = list(keys)
    present_fn = presenter or (lambda sk: float(sk.present()))
    carried = [f.name for f in states.schema.fields
               if f.name in keys or f.name == step_col]
    key_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in states.schema.fields if f.name in carried)
    schema = f"{key_ddl}, {out_col} {out_type}"
    arrow_type = to_arrow_type(_parse_datatype_string(out_type))

    def fold(table: pa.Table) -> pa.Table:
        _drop_spark_finders()
        table = table.sort_by(step_col)
        acc = None
        out = []
        for raw in table.column(STATE_COL).to_pylist():
            sk = from_bytes(raw)
            acc = sk if acc is None else acc.merge_in_place(sk)
            out.append(present_fn(acc))
        return table.select(carried).append_column(
            out_col, _to_arrow(out, arrow_type))

    return states.groupBy(*keys).applyInArrow(fold, schema)


def session_numbers_kernel(user_col: str, ts_col: str, gap: float):
    """Batch kernel for :meth:`GeneralScan.apply_stream` that numbers
    sessions per key: a new session starts at each key change or when
    the time since the previous row exceeds ``gap`` seconds — the
    vectorized form of the ``Scan.from`` transition
    ``state=(prev_ts, sess_no)``. Entirely pandas/numpy C paths
    (shift/compare + per-run cumsum); carry = (last_key, last_ts,
    last_sess_no)."""
    import numpy as np

    def kernel(pdf, carry):
        u, t = pdf[user_col], pdf[ts_col]
        user_new = u.ne(u.shift())
        gap_new = (t - t.shift()).fillna(np.inf) > gap
        if carry is not None:
            cu, ct, cs = carry
            user_new.iloc[0] = bool(u.iloc[0] != cu)
            gap_new.iloc[0] = bool(user_new.iloc[0]
                                   or (t.iloc[0] - ct > gap))
        new_sess = (gap_new | user_new)
        sess = new_sess.groupby(u.to_numpy()).cumsum().astype("int64")
        if carry is not None and u.iloc[0] == cu:
            uv = u.to_numpy()
            later = np.flatnonzero(uv != uv[0])
            end = int(later[0]) if len(later) else len(uv)
            sess.iloc[:end] += cs
        return sess, (u.iloc[-1], t.iloc[-1], int(sess.iloc[-1]))

    return kernel
