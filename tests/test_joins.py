"""Sketch-accelerated joins (operators/joins.py): exactness under every
routing decision, plus plan gates for the scale claims (probe filter
upstream of the join Exchange; hot path broadcast)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import Row, functions as F

from algebird_spark.operators.joins import (bloom_join, bloom_prune,
                                            hot_keys, skew_join)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def tables(spark):
    big = spark.createDataFrame(
        [Row(k=i % 50, v=float(i)) for i in range(2000)]
        + [Row(k=None, v=-1.0)] * 5)
    small = spark.createDataFrame(
        [Row(sk=i, name=f"dim{i}") for i in range(0, 50, 3)])
    return big, small


def _sorted(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def test_bloom_join_matches_plain_inner(tables):
    big, small = tables
    got = bloom_join(big, small, "k", "sk")
    want = big.join(small, big["k"] == small["sk"], "inner")
    assert _sorted(got, ["k", "v", "name"]) == _sorted(want, ["k", "v", "name"])


def test_bloom_join_semi_mode(tables):
    big, small = tables
    got = bloom_join(big, small, "k", "sk", how="semi")
    want = big.join(small, big["k"] == small["sk"], "left_semi")
    assert got.columns == big.columns
    assert _sorted(got, ["k", "v"]) == _sorted(want, ["k", "v"])


def test_bloom_prune_no_false_negatives_and_prunes(tables):
    big, small = tables
    pruned = bloom_prune(big, small, "k", "sk", fp_prob=0.01)
    keys = [r["sk"] for r in small.collect()]
    matching = big.filter(F.col("k").isin(keys)).count()
    n_pruned = pruned.count()
    assert n_pruned < big.count()  # actually prunes
    assert n_pruned >= matching    # superset of matches (no FNs)
    # and every individual matching row survives (null-batch regression:
    # an int64 key column carrying NULLs must still hash as int)
    assert pruned.filter(F.col("k").isin(keys)).count() == matching


def test_bloom_prune_is_shuffle_free(tables):
    """The probe evaluates in the big side's scan stage: the pruned
    DataFrame's plan contains the Arrow probe + filter and NO Exchange,
    so pruned rows never leave the executor that read them — the whole
    point of the operator at 100 TB."""
    big, small = tables
    plan = plan_of(bloom_prune(big, small, "k", "sk"))
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan


def test_skew_join_matches_plain_inner_and_left(tables):
    big, small = tables
    for how in ("inner", "left"):
        got = skew_join(big, small, "k", "sk", how=how, min_share=0.02)
        want = big.join(small, big["k"] == small["sk"], how)
        assert _sorted(got, ["k", "v", "name"]) == \
            _sorted(want, ["k", "v", "name"]), how


def test_skew_join_left_keeps_null_keys(tables):
    big, small = tables
    got = skew_join(big, small, "k", "sk", how="left", min_share=0.02)
    assert got.filter(F.col("k").isNull()).count() == 5


def test_skew_join_hot_override_and_empty_hot(tables):
    big, small = tables
    want = _sorted(big.join(small, big["k"] == small["sk"], "inner"),
                   ["k", "v", "name"])
    got = skew_join(big, small, "k", "sk", hot=[0, 3, 6])
    assert _sorted(got, ["k", "v", "name"]) == want
    # detection finding nothing hot degrades to the plain join
    got2 = skew_join(big, small, "k", "sk", hot=[])
    assert _sorted(got2, ["k", "v", "name"]) == want


def test_skew_join_hot_path_broadcasts(spark, tables):
    big, small = tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(skew_join(big, small, "k", "sk", hot=[0]))
        # with auto-broadcast off, the only BroadcastHashJoin is the
        # explicit hot path; the cold path shuffle-joins
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_skew_join_same_key_name(spark):
    big = spark.createDataFrame([Row(k=i % 5, v=i) for i in range(100)])
    small = spark.createDataFrame([Row(k=i, w=i * 10) for i in range(5)])
    got = skew_join(big, small, "k", min_share=0.05)
    want = big.join(small, on="k", how="inner")
    assert sorted((r["k"], r["v"], r["w"]) for r in got.collect()) == \
        sorted((r["k"], r["v"], r["w"]) for r in want.collect())


def test_hot_keys_finds_planted_heavy_hitter(spark):
    # 60% of rows on key 7, the rest uniform over 1000 keys
    df = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 6, F.lit(7))
         .otherwise(F.col("id") % 1000 + 100).alias("k"))
    hot = hot_keys(df, "k", min_share=0.05)
    assert 7 in hot
    assert len(hot) <= 4.0 / 0.05 + 1


def test_hot_keys_rejects_bad_share(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        hot_keys(df, "k", min_share=0.0)


def test_bloom_join_rejects_bad_how(tables):
    big, small = tables
    with pytest.raises(ValueError):
        bloom_join(big, small, "k", "sk", how="left")
    with pytest.raises(ValueError):
        skew_join(big, small, "k", "sk", how="cross")


@pytest.fixture(scope="module")
def outer_tables(spark):
    # big: keys 0..9 (0 heavily hot) + NULLs; small: 0..4 matched,
    # 100/101 unmatched-in-big, plus a NULL key row
    big = spark.createDataFrame(
        [Row(k=0, v=float(i)) for i in range(300)]
        + [Row(k=i % 10, v=float(-i)) for i in range(100)]
        + [Row(k=None, v=-999.0)] * 4)
    small = spark.createDataFrame(
        [Row(sk=i, name=f"dim{i}") for i in (0, 1, 2, 3, 4, 100, 101)]
        + [Row(sk=None, name="dimnull")])
    return big, small


def test_skew_join_right_full_parity(outer_tables):
    big, small = outer_tables
    for how in ("right", "full"):
        got = skew_join(big, small, "k", "sk", how=how, hot=[0])
        want = big.join(small, big["k"] == small["sk"], how)
        assert _sorted(got, ["k", "v", "sk", "name"]) == \
            _sorted(want, ["k", "v", "sk", "name"]), how


def test_skew_join_outer_hot_key_missing_from_big(outer_tables):
    """A user-supplied hot key that never occurs in big: its small rows
    must still be emitted exactly once on the right/full paths."""
    big, small = outer_tables
    for how in ("right", "full"):
        got = skew_join(big, small, "k", "sk", how=how, hot=[0, 100])
        want = big.join(small, big["k"] == small["sk"], how)
        assert _sorted(got, ["k", "v", "sk", "name"]) == \
            _sorted(want, ["k", "v", "sk", "name"]), how


def test_skew_join_outer_same_key_name(spark):
    big = spark.createDataFrame(
        [Row(k=i % 4, v=i) for i in range(100)] + [Row(k=None, v=-1)])
    small = spark.createDataFrame(
        [Row(k=i, w=i * 10) for i in (0, 1, 2, 7)] + [Row(k=None, w=-10)])
    for how in ("inner", "left", "right", "full"):
        got = skew_join(big, small, "k", how=how, hot=[0, 7])
        want = big.join(small, on="k", how=how)
        assert got.columns == want.columns, how
        assert _sorted(got, got.columns) == _sorted(want, want.columns), how


def test_skew_join_empty_hot_schema_matches_split_path(outer_tables):
    """ADVICE r5: the empty-hot early return must produce the same
    schema as the hot/cold path when big_key == small_key."""
    big, _ = outer_tables
    small = big.sparkSession.createDataFrame(
        [Row(k=i, w=i * 10) for i in range(5)])
    a = skew_join(big, small, "k", hot=[])
    b = skew_join(big, small, "k", hot=[0])
    assert a.columns == b.columns


def test_bloom_prune_large_int64_keys(spark):
    """Keys above 2**53 must never silently false-negative: with no
    NULLs in the batch the int64 path is exact end-to-end."""
    base = 1 << 60
    big = spark.createDataFrame(
        [Row(k=base + i, v=i) for i in range(500)])
    small = spark.createDataFrame(
        [Row(sk=base + i) for i in range(0, 500, 7)])
    pruned = bloom_prune(big, small, "k", "sk")
    keys = [r["sk"] for r in small.collect()]
    assert pruned.filter(F.col("k").isin(keys)).count() == len(keys)


# --- repetition_stats (text.py) lives here to avoid a new session-scoped
# module; it shares the joins fixture session ------------------------------

def test_repetition_stats_hand_computed(spark):
    from algebird_spark.operators.text import repetition_stats
    rows = [(1, "s", "a b a b a"), (2, "s", "x y z"), (3, "s", "w w w w"),
            (4, "s", ""), (5, "s", "q")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # "a b a b a": 2-grams [ab,ba,ab,ba] -> top 2*2/5, dup 4*2/5
    assert abs(got[1]["top2_frac"] - 0.8) < 1e-12
    assert abs(got[1]["dup2_frac"] - 1.6) < 1e-12
    # 3-grams [aba,bab,aba] -> top 2*3/5, dup 2*3/5
    assert abs(got[1]["top3_frac"] - 1.2) < 1e-12
    assert abs(got[1]["dup3_frac"] - 1.2) < 1e-12
    assert got[2]["dup2_frac"] == 0.0     # all unique
    assert got[3]["top2_frac"] == 1.5     # "w w" x3 over 4 tokens
    assert got[4]["n_tokens"] == 0 and got[4]["top2_frac"] == 0.0
    assert got[5]["n_tokens"] == 1 and got[5]["top3_frac"] == 0.0
    # an int id comes back as the declared bigint
    ints = repetition_stats(spark.createDataFrame(
        rows, "doc_id int, source string, text string"))
    assert ints.schema["doc_id"].dataType.simpleString() == "bigint"
    assert {r["doc_id"]: r for r in ints.collect()} == got


def test_repetition_stats_matches_exact_counter_reference(spark):
    """The vectorized hash-window counting (r6) must equal the exact
    string-gram Counter computation value-for-value on a randomized
    corpus with planted loops, short docs, empties, and unicode."""
    from collections import Counter

    import numpy as np

    from algebird_spark.operators.text import repetition_stats
    rng = np.random.default_rng(20260817)
    vocab = [f"w{i}" for i in range(50)] + ["héllo", "мир", "a"]
    rows = []
    for i in range(300):
        nt = int(rng.integers(0, 40))
        toks = list(rng.choice(vocab, size=nt))
        if i % 7 == 0 and nt >= 4:          # planted loop
            toks = toks[:4] * 5
        rows.append((i, "s", " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, _, text in rows:
        toks = text.strip().lower().split()
        nt = len(toks)
        assert got[i]["n_tokens"] == nt, i
        for n in (2, 3):
            if nt >= n:
                c = Counter(tuple(toks[j:j + n])
                            for j in range(nt - n + 1))
                mx, dup = max(c.values()), sum(v for v in c.values()
                                               if v >= 2)
            else:
                mx = dup = 0
            assert abs(got[i][f"top{n}_frac"]
                       - (mx * n / nt if nt else 0.0)) < 1e-12, (i, n)
            assert abs(got[i][f"dup{n}_frac"]
                       - (dup * n / nt if nt else 0.0)) < 1e-12, (i, n)


def test_repetition_stats_partitioning_invariant(spark):
    from algebird_spark.operators.text import repetition_stats
    rows = [(i, "s", " ".join(f"t{j % (1 + i % 7)}" for j in range(30)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(map(tuple, repetition_stats(df).collect()))
    b = sorted(map(tuple, repetition_stats(df.repartition(13)).collect()))
    assert a == b


def test_bloom_prune_string_keys_with_nulls(spark):
    big = spark.createDataFrame(
        [Row(k=f"key{i % 50}", v=i) for i in range(2000)]
        + [Row(k=None, v=-1)] * 3)
    small = spark.createDataFrame([Row(sk=f"key{i}") for i in range(0, 50, 3)])
    pruned = bloom_prune(big, small, "k", "sk")
    keys = [r["sk"] for r in small.collect()]
    matching = big.filter(F.col("k").isin(keys)).count()
    assert pruned.filter(F.col("k").isin(keys)).count() == matching
    assert pruned.count() < big.count()


def test_bloom_prune_composes_shuffle_free(tables):
    """Star schema: pruning the fact side by TWO dimensions stacks two
    Arrow probes in the SAME scan stage — still no Exchange, so a
    multi-dim prune costs scan passes, never shuffles."""
    big, small = tables
    small2 = small.filter(F.col("sk") < 30)
    pruned = bloom_prune(bloom_prune(big, small, "k", "sk"),
                         small2, "k", "sk")
    plan = plan_of(pruned)
    assert plan.count("ArrowEvalPython") >= 2
    assert "Exchange" not in plan
    want = [r["sk"] for r in small2.collect()]
    assert pruned.filter(F.col("k").isin(want)).count() == \
        big.filter(F.col("k").isin(want)).count()


def test_join_parity_randomized_configs(spark):
    """Seeded random sweep: bloom_join and skew_join must equal the
    plain join across key dtypes, null rates, and selectivities."""
    import numpy as np
    rng = np.random.default_rng(20260817)
    for trial, (dtype, null_rate, nkeys) in enumerate(
            [("long", 0.0, 40), ("long", 0.1, 12), ("string", 0.05, 25),
             ("long", 0.0, 200)]):
        keys = rng.integers(-1000, 1000, size=400)
        if dtype == "string":
            big_rows = [(None if rng.random() < null_rate
                         else f"s{int(k)}", int(i))
                        for i, k in enumerate(keys)]
            small_rows = [(f"s{int(k)}",)
                          for k in rng.choice(keys, size=nkeys)]
            bschema, sschema = "k string, v long", "sk string"
        else:
            big_rows = [(None if rng.random() < null_rate
                         else int(k), int(i))
                        for i, k in enumerate(keys)]
            small_rows = [(int(k),) for k in rng.choice(keys, size=nkeys)]
            bschema, sschema = "k long, v long", "sk long"
        big = spark.createDataFrame(big_rows, bschema)
        small = spark.createDataFrame(small_rows, sschema).distinct()
        want = _sorted(big.join(small, big["k"] == small["sk"], "inner"),
                       ["k", "v"])
        got_b = _sorted(bloom_join(big, small, "k", "sk"), ["k", "v"])
        got_s = _sorted(skew_join(big, small, "k", "sk",
                                  min_share=0.05), ["k", "v"])
        assert got_b == want, f"bloom trial {trial}"
        assert got_s == want, f"skew trial {trial}"


def test_asof_join_semantics(spark):
    """Backward as-of: greatest right_ts <= left_ts per key; a tie at
    equal timestamps matches; rows with no prior snapshot stay NULL;
    left-outer row count preserved."""
    from algebird_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 25), (4, "v", 5),
         (5, "w", 99)],
        "event_id long, k string, t long")
    right = spark.createDataFrame(
        [("u", 10, 1.0), ("u", 21, 2.0), ("v", 6, 3.0)],
        "k string, t long, val double")
    out = {r["event_id"]: r for r in
           asof_join(left, right, key="k", left_ts="t",
                     right_ts="t").collect()}
    assert len(out) == 5
    assert out[1]["val_asof"] == 1.0 and out[1]["t_asof"] == 10  # tie
    assert out[2]["val_asof"] == 1.0          # 21 is in the future
    assert out[3]["val_asof"] == 2.0          # snapshot advanced
    assert out[4]["val_asof"] is None         # v's snapshot is later
    assert out[5]["val_asof"] is None         # w has no snapshots
    # left columns come back intact
    assert out[3]["k"] == "u" and out[3]["t"] == 25


def test_asof_join_forward_and_tolerance(spark):
    from algebird_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 30)],
        "event_id long, k string, t long")
    right = spark.createDataFrame(
        [("u", 12, 1.0), ("u", 20, 2.0)], "k string, t long, val double")
    fwd = {r["event_id"]: r for r in
           asof_join(left, right, key="k", left_ts="t", right_ts="t",
                     direction="forward").collect()}
    assert fwd[1]["val_asof"] == 1.0       # next snapshot at 12
    assert fwd[2]["val_asof"] == 2.0       # tie at 20 matches
    assert fwd[3]["val_asof"] is None      # nothing after 30
    # backward with a staleness cap of 5: event 3 (gap 10) rejected
    tol = {r["event_id"]: r for r in
           asof_join(left, right, key="k", left_ts="t", right_ts="t",
                     tolerance=5).collect()}
    assert tol[2]["val_asof"] == 2.0 and tol[2]["t_asof"] == 20
    assert tol[3]["val_asof"] is None and tol[3]["t_asof"] is None
    assert tol[1]["val_asof"] is None      # nothing at-or-before 10
    import pytest as _pytest
    with _pytest.raises(ValueError):
        asof_join(left, right, key="k", left_ts="t", right_ts="t",
                  direction="nearest")


def test_asof_join_randomized_parity_vs_duckdb(spark):
    """Seeded random fuzz: 2000 events x 400 snapshots over 37 keys
    with deliberate cross-side timestamp collisions — Spark's
    union+window result must equal DuckDB's NATIVE ASOF LEFT JOIN
    row-for-row, both directions."""
    import duckdb
    import numpy as np

    from algebird_spark.operators.joins import asof_join
    rng = np.random.default_rng(20240607)
    n_l, n_r, keys = 2000, 400, 37
    # ts drawn from a small range so ties (incl. cross-side) occur
    lk = rng.integers(0, keys, n_l); lt = rng.integers(0, 500, n_l)
    rk = rng.integers(0, keys, n_r); rt = rng.integers(0, 500, n_r)
    left_rows = [(int(i), f"k{lk[i]}", int(lt[i])) for i in range(n_l)]
    # dedupe right on (key, ts): ASOF is ambiguous otherwise
    seen, right_rows = set(), []
    for i in range(n_r):
        kt = (f"k{rk[i]}", int(rt[i]))
        if kt not in seen:
            seen.add(kt)
            right_rows.append((kt[0], kt[1], float(i)))
    left = spark.createDataFrame(left_rows, "event_id long, k string, t long")
    right = spark.createDataFrame(right_rows, "k string, t long, val double")
    con = duckdb.connect()
    con.execute("CREATE TABLE l(event_id BIGINT, k VARCHAR, t BIGINT)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", left_rows)
    con.execute("CREATE TABLE r(k VARCHAR, t BIGINT, val DOUBLE)")
    con.executemany("INSERT INTO r VALUES (?,?,?)", right_rows)
    for direction, op in (("backward", ">="), ("forward", "<=")):
        got = {r["event_id"]: (r["t_asof"], r["val_asof"]) for r in
               asof_join(left, right, key="k", left_ts="t", right_ts="t",
                         direction=direction).collect()}
        want = {row[0]: (row[1], row[2]) for row in con.execute(
            f"SELECT l.event_id, r.t, r.val FROM l "
            f"ASOF LEFT JOIN r ON l.k = r.k AND l.t {op} r.t").fetchall()}
        assert got == want, direction


def test_asof_join_bucketed_equals_default(spark):
    """time_buckets two-phase plan == single-window plan, both
    directions, with tolerance, under random cross-side ties."""
    import numpy as np

    from algebird_spark.operators.joins import asof_join
    rng = np.random.default_rng(7)
    lk = rng.integers(0, 3, 800); lt = rng.integers(0, 300, 800)
    rk = rng.integers(0, 3, 120); rt = rng.integers(0, 300, 120)
    left = spark.createDataFrame(
        [(int(i), f"k{lk[i]}", int(lt[i])) for i in range(800)],
        "event_id long, k string, t long")
    seen, rrows = set(), []
    for i in range(120):
        kt = (f"k{rk[i]}", int(rt[i]))
        if kt not in seen:
            seen.add(kt)
            rrows.append((kt[0], kt[1], float(i)))
    right = spark.createDataFrame(rrows, "k string, t long, val double")

    def run(**kw):
        return {r["event_id"]: (r["t_asof"], r["val_asof"]) for r in
                asof_join(left, right, key="k", left_ts="t",
                          right_ts="t", **kw).collect()}

    for direction in ("backward", "forward"):
        for tol in (None, 10):
            a = run(direction=direction, tolerance=tol,
                    time_buckets=None)
            b = run(direction=direction, tolerance=tol, time_buckets=8)
            c = run(direction=direction, tolerance=tol)  # 'auto'
            assert a == b == c, (direction, tol)


def test_asof_join_auto_mode_selection(spark):
    """'auto' buckets a handful of keys (plan shows the __b grid join)
    and stays on the plain keyed window at high key cardinality."""
    import io
    from contextlib import redirect_stdout

    from algebird_spark.operators.joins import asof_join

    def plan_of(n_keys):
        left = spark.range(400).select(
            F.col("id").alias("event_id"),
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") * 7 % 1000).alias("t"))
        right = spark.range(50).select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") * 13 % 1000).alias("t"),
            F.col("id").cast("double").alias("val"))
        out = asof_join(left, right, key="k", left_ts="t", right_ts="t")
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        return buf.getvalue()

    # local[4] session: threshold = 4 * defaultParallelism = 16 keys
    assert "__b" in plan_of(2)        # 2 keys -> bucketed two-phase
    assert "__b" not in plan_of(200)  # 200 keys -> plain keyed window


def test_asof_join_bucketed_bursty_timeline_and_guard(spark):
    """Quantile boundaries keep buckets equi-depth on a bursty
    timeline (fixed-width slices would put ~99% of rows in one
    bucket), results still match the window plan; and bucketed mode
    on a high-cardinality key fails loudly instead of densifying the
    per-(key, bucket) grid."""
    import pytest as _pytest

    from algebird_spark.operators import joins as J

    # 990 rows clustered in [0, 100), 10 stragglers out to 1e9
    left = spark.range(1000).select(
        F.col("id").alias("event_id"), F.lit("k").alias("k"),
        F.when(F.col("id") < 990, F.col("id") % 100)
        .otherwise((F.col("id") - 989) * 100_000_000).alias("t"))
    right = spark.range(40).select(
        F.lit("k").alias("k"), (F.col("id") * 7).alias("t"),
        F.col("id").cast("double").alias("val"))

    def run(tb):
        return {r["event_id"]: (r["t_asof"], r["val_asof"]) for r in
                J.asof_join(left, right, key="k", left_ts="t",
                            right_ts="t", time_buckets=tb).collect()}

    assert run(8) == run(None)

    # equi-depth property of the assignment rule itself: replicate
    # the union + boundary computation and histogram the buckets
    B = 8
    u = left.select(F.col("t").cast("double").alias("__ts")).unionAll(
        right.select(F.col("t").cast("double").alias("__ts")))
    cuts = u.select(F.percentile_approx(
        "__ts", F.array(*[F.lit(i / B) for i in range(1, B)]),
        F.lit(10_000)).alias("c")).first()["c"]
    bounds = sorted({c for c in cuts if c is not None})
    assert len(bounds) >= 4  # bursty but not degenerate: real cuts
    bexpr = F.lit(0)
    for b in bounds:
        bexpr = bexpr + (F.col("__ts") >= F.lit(b)).cast("int")
    hist = [r["n"] for r in
            u.groupBy(bexpr.alias("__b")).agg(F.count("*").alias("n"))
            .collect()]
    n = sum(hist)
    # fixed-width would give max share ~0.99; quantile cuts bound it
    assert max(hist) / n <= 3.0 / len(bounds)

    # guard: >100k distinct keys in bucketed mode must raise
    many = spark.range(J._MAX_BUCKETED_KEYS + 50).select(
        F.col("id").alias("event_id"), F.col("id").alias("k"),
        (F.col("id") % 97).alias("t"))
    rsmall = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("t"),
        F.col("id").cast("double").alias("val"))
    with _pytest.raises(ValueError, match="distinct keys"):
        J.asof_join(many, rsmall, key="k", left_ts="t", right_ts="t",
                    time_buckets=4).collect()
