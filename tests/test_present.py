"""Present where the reduce ends: ``with_presented`` and
``present_explode`` on a frame fresh from ``merge_sketches`` (or the
rollups) run inside the merge's own fold; on any other states frame
they run one ``mapInArrow`` pass. Both paths give the same rows and
schema. ``probe`` asks one merged state a point query per row, in
one Arrow UDF."""

import io
import math
from contextlib import contextmanager, redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from algebird_spark.agg import (COUNT_COL, STATE_COL, merge_sketches,
                                present_explode, probe, sketch_by_key,
                                sketch_partitions, sketch_rollup,
                                with_presented)
from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter,
                                     SketchMapSet, from_bytes)
from algebird_spark.sources.datagen import token_table


@pytest.fixture(scope="module")
def tokens(spark):
    df = token_table(spark, rows=1_200, n_sources=4, vocab=20_000,
                     median_n_tok=32, seed=11, partitions=6)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def odd_keys(spark):
    """A double key with NULL, NaN, -0.0 and 0.0 groups next to plain
    ones, a string key with a NULL, and a long value column."""
    ks = [1.0, float("nan"), None, -0.0, 0.0, 2.5]
    ss = ["a", None, "b", "c", "d"]
    rows = [(ks[i % len(ks)], ss[i % len(ss)], i * 7919 % 1_000)
            for i in range(3_000)]
    df = spark.createDataFrame(rows, "k double, s string, v long")
    return df.repartition(5).cache()


def _tree(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("\n\n")[0]


PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")


def _python_nodes(tree: str) -> int:
    return sum(tree.count(n) for n in PYTHON_NODES)


def _rows(df) -> list[tuple]:
    """Collected rows with NaN made comparable, in a stable order."""
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return sorted((tuple(norm(v) for v in r) for r in df.collect()),
                  key=repr)


# presenters are lambdas so the workers get them by value, not by a
# reference to this test module
_est = lambda sk: {  # noqa: E731
    "est": sk.estimate(), "n_reg": None if sk.is_sparse else 1}


def _same(fused, states, present=with_presented, fn=_est,
          ddl="est double, n_reg long"):
    """The fused frame equals the one-pass presenter over the same
    states (``filter(true)`` drops the fold tag), rows and schema."""
    fallback = present(states.filter(F.lit(True)), fn, ddl)
    assert fused.schema == fallback.schema
    assert _rows(fused) == _rows(fallback)
    return _rows(fused)


def test_fused_present_is_one_python_node_above_the_exchange(spark, tokens):
    states = sketch_by_key(tokens, ["source"], "tokens", lambda: HLL(p=12))
    tree = _tree(with_presented(states, _est, "est double, n_reg long"))
    above = tree[:tree.index("Exchange")]
    assert _python_nodes(above) == 1 and "MapInArrow" in above
    # the fold-and-present and the combine, above the cached input
    assert _python_nodes(tree[:tree.index("InMemoryTableScan")]) == 2
    assert "MapInPandas" not in tree


@pytest.mark.parametrize("how", ["cached", "filtered"])
def test_other_states_frames_get_one_mapinarrow_presenter(spark, tokens, how):
    states = sketch_by_key(tokens, ["source"], "tokens", lambda: HLL(p=12))
    if how == "cached":
        states = states.cache()  # the same object, fold tag included
        assert hasattr(states, "_algebird_fold")
    else:
        states = states.filter(F.col(COUNT_COL) > 0)
    try:
        out = with_presented(states, _est, "est double, n_reg long")
        tree = _tree(out)
        # the presenter sits directly on the states frame's own plan
        top = tree[:tree.index("InMemoryTableScan" if how == "cached"
                               else "Exchange")]
        assert _python_nodes(top) == (1 if how == "cached" else 2)
        assert top.count("MapInArrow") == _python_nodes(top)
        got = {r["source"]: r["est"] for r in out.collect()}
        want = {r["source"]: from_bytes(bytes(r[STATE_COL])).estimate()
                for r in states.collect()}
        assert got == want
    finally:
        states.unpersist()


def test_fused_equals_fallback_null_and_nan_keys(spark, odd_keys):
    states = sketch_by_key(odd_keys, ["k"], "v", lambda: HLL(p=10))
    rows = _same(with_presented(states, _est, "est double, n_reg long"),
                 states)
    assert [r[0] for r in rows].count(None) == 1
    assert [r[0] for r in rows].count("NaN") == 1
    assert len(rows) == 5  # -0.0 and 0.0 are one group, as in SQL
    assert with_presented(states, _est, "est double, n_reg long").columns \
        == ["k", COUNT_COL, "est", "n_reg"]


def test_fused_equals_fallback_multi_key_and_keyless(spark, odd_keys):
    states = sketch_by_key(odd_keys, ["s", "k"], "v", lambda: HLL(p=10))
    assert len(_same(with_presented(states, _est, "est double, n_reg long"),
                     states)) == 25
    keyless = sketch_by_key(odd_keys, [], "v", lambda: HLL(p=10))
    rows = _same(with_presented(keyless, _est, "est double, n_reg long"),
                 keyless)
    assert len(rows) == 1 and rows[0][0] == 3_000


def test_fused_equals_fallback_empty_input(spark, odd_keys):
    empty = odd_keys.filter(F.lit(False))
    states = sketch_by_key(empty, ["k"], "v", lambda: HLL(p=10))
    assert _same(with_presented(states, _est, "est double, n_reg long"),
                 states) == []


_quantile_rows = lambda sk: [  # noqa: E731
    {"p": p, "q": sk.quantile(p)} for p in (0.1, 0.5, 0.9)]


def test_present_explode_fused_equals_fallback(spark, odd_keys):
    states = sketch_by_key(odd_keys, ["s"], "v", lambda: KLL(k=50))
    fused = present_explode(states, _quantile_rows, "p double, q double")
    assert fused.columns == ["s", "p", "q"]  # keys, no n_values
    rows = _same(fused, states, present_explode, _quantile_rows,
                 "p double, q double")
    assert len(rows) == 15
    keyless = sketch_by_key(odd_keys, [], "v", lambda: KLL(k=50))
    assert len(_same(present_explode(keyless, _quantile_rows,
                                     "p double, q double"),
                     keyless, present_explode, _quantile_rows,
                     "p double, q double")) == 3


def test_present_explode_zero_rows(spark, odd_keys):
    states = sketch_by_key(odd_keys, ["s", "k"], "v", lambda: HLL(p=10))
    fused = present_explode(states, lambda sk: [], "est double")
    assert fused.columns == ["s", "k", "est"]
    assert _same(fused, states, present_explode, lambda sk: [],
                 "est double") == []


def test_rollup_presents_inside_its_fold(spark, odd_keys):
    levels = sketch_rollup(odd_keys, ["s", "k"], "v", lambda: HLL(p=10))
    fused = with_presented(levels, _est, "est double, n_reg long")
    assert fused.columns == ["s", "k", "grouping_id", COUNT_COL, "est",
                             "n_reg"]
    tree = _tree(fused)
    assert _python_nodes(tree[:tree.index("Exchange")]) == 1
    rows = _same(fused, levels)
    assert len(rows) == 25 + 5 + 1


def test_merge_of_a_cached_frame_fuses_only_while_uncached(spark, tokens):
    """A cached tagged frame presents from its cache; once unpersisted
    it fuses again."""
    st = sketch_partitions(tokens, "tokens", lambda: HLL(p=12), ["source"])
    mg = merge_sketches(st, ["source"]).cache()

    def reads_cache() -> bool:
        # the merged frame's cache sits above the merge's Exchange (the
        # input's own cache sits below it)
        tree = _tree(with_presented(mg, _est, "est double, n_reg long"))
        return tree.index("InMemoryTableScan") < tree.index("Exchange")

    try:
        mg.count()
        assert reads_cache()
    finally:
        mg.unpersist()
    assert not reads_cache()


@contextmanager
def _arrow_batch_rows(spark, n: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_probe_keeps_int_keys_exact_beside_nulls(spark):
    """One Arrow batch holds a NULL and keys beyond 2^53 (where a
    float64 round trip changes them): CMS and Bloom probes equal the
    driver-side answers on every non-null row and give NULL on the
    NULL rows. A probe adds one ArrowEvalPython and no Exchange."""
    keys = [1, None, 2 ** 53 + 1, 2 ** 60 + 3, 7, None, -(2 ** 62) - 9,
            2 ** 53 + 2, 3, 2 ** 60 + 4]
    seen = np.array([k for k in keys[::2] if k is not None] * 3,
                    dtype=np.int64)
    cms = CMS(eps=0.01, delta=0.01)
    bf = BloomFilter(num_entries=64, fp_prob=0.01)
    cms.update_batch(seen)
    bf.update_batch(seen)
    df = spark.createDataFrame(list(enumerate(keys)),
                               "i int, k bigint").coalesce(1)
    out = df.select("i", "k",
                    probe(cms, CMS.frequencies, "long")("k").alias("f"),
                    probe(bf, BloomFilter.contains_batch,
                          "boolean")("k").alias("b"))
    with _arrow_batch_rows(spark, 4):
        rows = sorted(out.collect())
    assert [r["k"] for r in rows] == keys
    for r in rows:
        if r["k"] is None:
            assert (r["f"], r["b"]) == (None, None)
            continue
        k = np.array([r["k"]], dtype=np.int64)
        assert r["f"] == int(cms.frequencies(k)[0])
        assert r["b"] == bool(bf.contains_batch(k)[0])
    assert [r["f"] for r in rows[:4:2]] == [3, 3]
    tree = _tree(df.withColumn("f", probe(cms, CMS.frequencies,
                                          "long")("k")))
    assert _python_nodes(tree) == tree.count("ArrowEvalPython") == 1
    assert "Exchange" not in tree


def test_probe_string_keys_with_nulls(spark):
    words = ["apple", None, "pear", "fig", None, "kiwi", "plum", "apple"]
    cms = CMS(eps=0.01, delta=0.01)
    cms.update_batch(np.array(["apple", "pear", "apple", "kiwi"],
                              dtype=object))
    df = spark.createDataFrame(list(enumerate(words)),
                               "i int, w string").coalesce(1)
    with _arrow_batch_rows(spark, 3):
        rows = sorted(df.select(
            "i", probe(cms, CMS.frequencies, "long")("w").alias("f"))
            .collect())
    want = [None if w is None
            else int(cms.frequencies(np.array([w], dtype=object))[0])
            for w in words]
    assert [r["f"] for r in rows] == want
    assert want[0] == 2


def test_probe_array_result_round_trips(spark):
    """``SketchMapSet.value_sets`` gives a sorted list per key, None
    once a key's cells have all promoted: both come back as
    ``array<bigint>`` and NULL, and a NULL key reads NULL."""
    sm = SketchMapSet(eps=0.1, delta=0.1, max_exact=4, p=8)
    sm.update_batch(np.array([1, 1, 2] + [9] * 50, dtype=np.int64),
                    np.array([10, 11, 12] + list(range(50)),
                             dtype=np.int64))
    keys = [1, None, 2, 9, 5]
    df = spark.createDataFrame(list(enumerate(keys)),
                               "i int, k bigint").coalesce(1)
    out = df.select("i", probe(sm, SketchMapSet.value_sets,
                               "array<bigint>")("k").alias("s"))
    assert out.schema["s"].dataType.simpleString() == "array<bigint>"
    got = [r["s"] for r in sorted(out.collect())]
    want = sm.value_sets(np.array([k for k in keys if k is not None]))
    want.insert(1, None)
    assert got == want
    assert got[0] == [10, 11] and got[3] is None
