"""End-to-end Spark harness tests: partition-combine topology, tree merge,
by-key sketches vs exact Spark oracles, partition-reorder invariance,
token-table generator invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from algebird_spark.agg import (STATE_COL, sketch_by_key, sketch_global,
                                with_presented)
from algebird_spark.sketches import CMS, HLL, KLL, from_bytes
from algebird_spark.sources.datagen import token_table


@pytest.fixture(scope="module")
def tokens(spark):
    df = token_table(spark, rows=2_000, n_sources=4, vocab=50_000,
                     median_n_tok=64, seed=42, partitions=8)
    df.cache().count()
    return df


def test_datagen_deterministic_and_invariants(spark, tokens):
    again = token_table(spark, rows=2_000, n_sources=4, vocab=50_000,
                        median_n_tok=64, seed=42, partitions=3)  # different partitioning
    a = tokens.orderBy("doc_id").limit(50).collect()
    b = again.orderBy("doc_id").limit(50).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert [r.tokens for r in a] == [r.tokens for r in b]  # token-array equality
    bad = tokens.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    assert tokens.count() == 2_000
    # source skew: top source should dominate (Zipf 1.2)
    shares = dict(tokens.groupBy("source").count().collect())
    top = max(shares.values()) / 2_000
    assert top > 0.3


def test_hll_by_key_vs_exact(spark, tokens):
    states = sketch_by_key(tokens, ["source"], "tokens", lambda: HLL(p=12))
    got = {r["source"]: from_bytes(bytes(r[STATE_COL])).estimate()
           for r in states.collect()}
    exact = {r["source"]: r["d"] for r in
             tokens.select("source", F.explode("tokens").alias("t"))
                   .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    assert set(got) == set(exact)
    for s, est in got.items():
        rel = abs(est - exact[s]) / exact[s]
        assert rel <= 3.5 * 1.04 / np.sqrt(2**12), (s, est, exact[s])


def test_hll_partition_reorder_byte_equal(spark, tokens):
    a = sketch_by_key(tokens, ["source"], "tokens", lambda: HLL(p=12))
    b = sketch_by_key(tokens.repartition(13), ["source"], "tokens",
                      lambda: HLL(p=12))
    sa = {r["source"]: bytes(r[STATE_COL]) for r in a.collect()}
    sb = {r["source"]: bytes(r[STATE_COL]) for r in b.collect()}
    # HLL register-max is idempotent => identical final states
    for s in sa:
        assert from_bytes(sa[s]).estimate() == from_bytes(sb[s]).estimate()


def test_global_sketch_vs_exact(spark, tokens):
    h = sketch_global(tokens, "tokens", lambda: HLL(p=12))
    exact = tokens.select(F.explode("tokens").alias("t")) \
                  .agg(F.countDistinct("t")).collect()[0][0]
    assert abs(h.estimate() - exact) / exact <= 3.5 * 1.04 / np.sqrt(2**12)


def test_cms_by_key_totals_and_guarantee(spark, tokens):
    eps = 0.005
    states = sketch_by_key(tokens, ["source"], "tokens",
                           lambda: CMS(eps=eps, delta=1e-4))
    rows = states.collect()
    exact_tot = {r["source"]: r["n"] for r in
                 tokens.select("source", F.explode("tokens").alias("t"))
                       .groupBy("source").agg(F.count("t").alias("n")).collect()}
    exact_top = {r["source"]: (r["t"], r["c"]) for r in
                 spark.sql("""
        SELECT source, t, c FROM (
          SELECT source, t, count(*) c,
                 row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, t) rn
          FROM (SELECT source, explode(tokens) t FROM {df})
          GROUP BY source, t) WHERE rn = 1""", df=tokens).collect()}
    for r in rows:
        sk = from_bytes(bytes(r[STATE_COL]))
        assert sk.total == exact_tot[r["source"]]
        tok, cnt = exact_top[r["source"]]
        est = sk.frequency(tok).estimate
        assert cnt <= est <= cnt + eps * sk.total


def test_kll_by_key_scalar_column(spark, tokens):
    states = sketch_by_key(tokens, ["source"], "n_tok", lambda: KLL(k=200))
    exact = {r["source"]: r["m"] for r in
             tokens.groupBy("source").agg(
                 F.expr("percentile(n_tok, 0.5)").alias("m")).collect()}
    for r in states.collect():
        sk = from_bytes(bytes(r[STATE_COL]))
        lo, hi = sk.quantile_bounds(0.5)
        assert lo <= exact[r["source"]] <= hi


def test_with_presented(spark, tokens):
    states = sketch_by_key(tokens, ["source"], "tokens", lambda: HLL(p=12))
    out = with_presented(states, lambda sk: {"estimate": sk.estimate()},
                         "estimate double")
    rows = out.collect()
    assert {r["source"] for r in rows} == {f"src_{i:02d}" for i in range(4)}
    assert all(r["estimate"] > 0 for r in rows)
    assert "estimate" in out.columns and STATE_COL not in out.columns


def test_empty_input(spark):
    empty = spark.range(0).selectExpr("cast(id as int) x",
                                      "array(cast(id as int)) tokens",
                                      "string(id) source")
    h = sketch_global(empty, "tokens", lambda: HLL(p=10))
    assert h.estimate() == 0.0
    states = sketch_by_key(empty, ["source"], "tokens", lambda: HLL(p=10))
    assert states.count() == 0


def test_sketch_global_is_the_keyless_merge(spark):
    """sketch_global is keyless sketch_by_key with its one state read
    back: over one or several value columns it returns the same state
    bytes, and on empty input (no state row) the factory's zero."""
    from algebird_spark.sketches import SketchMap

    def sketchmap():
        return SketchMap(eps=0.01, delta=1e-3)

    empty = spark.createDataFrame([], "k long, w double")
    assert (sketch_global(empty, ["k", "w"], sketchmap).to_bytes()
            == sketchmap().to_bytes())
    df = spark.range(5_000).select(
        (F.col("id") * 2654435761 % 997).alias("k"),
        (F.col("id") % 13).cast("double").alias("w")).repartition(4)
    for cols, factory in ((["k", "w"], sketchmap),
                          ("k", lambda: HLL(p=12))):
        [row] = sketch_by_key(df, [], cols, factory).collect()
        assert (sketch_global(df, cols, factory).to_bytes()
                == bytes(row[STATE_COL]))


def test_null_handling_matches_sql_semantics(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 2), ("b", 2), ("a", 3), ("b", None)],
        "k string, v int")
    states = sketch_by_key(df, ["k"], "v", lambda: HLL(p=10))
    got = {r["k"]: round(from_bytes(bytes(r[STATE_COL])).estimate())
           for r in states.collect()}
    exact = {r[0]: r[1] for r in
             df.groupBy("k").agg(F.count_distinct("v")).collect()}
    assert got == exact  # nulls ignored like count_distinct

    arr = spark.createDataFrame(
        [("a", [1, None, 2]), ("b", [2, 2]), ("a", None), ("b", [3])],
        "k string, v array<int>")
    states = sketch_by_key(arr, ["k"], "v", lambda: HLL(p=10))
    got = {r["k"]: round(from_bytes(bytes(r[STATE_COL])).estimate())
           for r in states.collect()}
    assert got == {"a": 2, "b": 2}


def test_nan_and_null_keys_group_like_spark(spark):
    """A NaN group key is its own group, apart from NULL, and -0.0
    groups with 0.0 — the groups and counts of Spark's ``groupBy``.
    The states of one key arrive from several partitions, so the
    combine and the merge must both keep the groups apart."""
    nan = float("nan")
    rows = ([(nan, list(range(i % 3 + 1))) for i in range(6)]
            + [(0.0, [1, 2])] * 3 + [(-0.0, [5])] * 3 + [(None, [7])] * 6)
    df = spark.createDataFrame(rows, "k double, v array<int>").repartition(5)

    def norm(k):  # NaN != NaN: one comparable stand-in per NaN key
        return "NaN" if k is not None and k != k else k

    got = [(norm(r["k"]), r["n_values"]) for r in
           sketch_by_key(df, ["k"], "v", lambda: HLL(p=10)).collect()]
    exact = [(norm(r[0]), r[1]) for r in
             df.groupBy("k").agg(F.sum(F.size("v"))).collect()]
    assert len(got) == len(exact) == 3
    assert dict(got) == dict(exact) == {"NaN": 12, 0.0: 9, None: 6}


def test_drop_spark_finders_keeps_user_zips_and_imports(tmp_path,
                                                       monkeypatch):
    """``agg._drop_spark_finders`` drops every cached finder of the zip
    ``pyspark`` loads from and of a ``.jar``, and keeps a user zip's.
    ``importlib.invalidate_caches()`` then re-reads only the user's
    archive, and a later import from a dropped archive still resolves
    without re-reading it."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from algebird_spark import agg

    def archive(path, pkg):
        path.parent.mkdir(parents=True, exist_ok=True)
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/sub/__init__.py", "")
            z.writestr(f"{pkg}/sub/later.py", "X = 1\n")
        return str(path)

    spark_zip = archive(tmp_path / "spark/python/lib/pyspark.zip",
                        "fake_spark_pkg")
    jar = archive(tmp_path / "spark/jars/spark-core.jar", "fake_jar_pkg")
    user_zip = archive(tmp_path / "userFiles/deps.zip", "fake_user_pkg")
    fakes = ["fake_spark_pkg", "fake_jar_pkg", "fake_user_pkg"]
    monkeypatch.setattr(sys, "path", [spark_zip, jar, user_zip] + sys.path)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    try:
        for pkg in fakes:
            importlib.import_module(f"{pkg}.sub")
        monkeypatch.setitem(sys.modules, "pyspark",
                            sys.modules["fake_spark_pkg"])

        def cached() -> set:
            return {f.archive for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)}

        assert {spark_zip, jar, user_zip} <= cached()
        agg._drop_spark_finders()
        assert spark_zip not in cached() and jar not in cached()
        assert user_zip in cached()

        reads = []
        read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        for pkg in fakes:
            assert importlib.import_module(f"{pkg}.sub.later").X == 1
        assert spark_zip not in reads and jar not in reads
        if sys.version_info < (3, 13):  # 3.13 no longer re-reads
            assert user_zip in reads
    finally:
        for name in [m for m in sys.modules
                     if m.split(".")[0] in fakes]:
            del sys.modules[name]


def test_multi_column_nulls_skip_the_row_and_keep_ints_exact(spark):
    """Several update columns are read in their Arrow types, and a row
    with a NULL in any of them is skipped, as SQL aggregates skip NULL
    inputs. At 4 rows per Arrow batch most batches hold a NULL next to
    int64 keys beyond 2^53, which a float64 conversion would change:
    the states must be byte-equal to the build over the rows without
    NULLs, ``n_values`` must count only the kept rows, and a group
    whose every row holds a NULL keeps its monoid-zero state (no value,
    as ``count(k)`` of such a group is 0)."""
    from algebird_spark.sketches import SketchMap
    keys = [1, 2 ** 53 + 1, 2 ** 60 + 3, -(2 ** 55) - 7, 5, 2 ** 62 + 11]
    rows = []
    for i in range(240):
        k = None if i % 5 == 2 else keys[i // 3 % len(keys)]
        w = None if i % 9 == 4 else i % 13 + 1
        rows.append(("abc"[i % 3], k, w))
    rows += [("z", None, 3), ("z", 4, None)]
    df = spark.createDataFrame(rows, "g string, k bigint, w bigint")
    factory = lambda: SketchMap(eps=0.01, delta=1e-3,  # noqa: E731
                                heavy_hitters_count=8)

    def states(frame):
        return {r["g"]: (bytes(r[STATE_COL]), r["n_values"]) for r in
                sketch_by_key(frame, ["g"], ["k", "w"], factory).collect()}

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        got = states(df)
        want = states(df.where("k IS NOT NULL AND w IS NOT NULL"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    kept = {g: sum(1 for r in rows if r[0] == g and None not in r)
            for g in "abc"}
    assert {g: n for g, (_, n) in want.items()} == kept
    assert got == {**want, "z": (factory().to_bytes(), 0)}
    hitters = from_bytes(got["a"][0]).heavy_hitters()
    assert {k for k, _ in hitters} == set(keys)


def test_multi_column_harness_sketchmap_and_hllseries(spark):
    from algebird_spark.sketches import SketchMap
    from algebird_spark.sketches.timeseries import HLLSeries
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    # SketchMap(keys, weights): total quantity per suppkey, per returnflag
    states = sketch_by_key(
        li, ["l_returnflag"], ["l_suppkey", "l_quantity"],
        lambda: SketchMap(eps=0.001, delta=1e-4, heavy_hitters_count=3))
    exact = {(r[0], r[1]): r[2] for r in
             li.groupBy("l_returnflag", "l_suppkey")
               .agg(F.sum("l_quantity")).collect()}
    for r in states.collect():
        sk = from_bytes(bytes(r[STATE_COL]))
        flag = r["l_returnflag"]
        keys = np.array(sorted(k for f, k in exact if f == flag), dtype=np.int64)
        est = sk.values(keys)
        truth = np.array([exact[(flag, int(k))] for k in keys])
        assert (est >= truth - 1e-9).all()
        assert (est <= truth + sk.eps * sk.total + 1e-9).all()

    # HLLSeries(values, timestamps): distinct users since mid-time
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("sec", F.col("ts").cast("timestamp").cast("double"))
    sk = sketch_global(ev, ["user_id", "sec"], lambda: HLLSeries(p=12))
    lo, hi = ev.agg(F.min("sec"), F.max("sec")).collect()[0]
    mid = (lo + hi) / 2
    exact_recent = ev.filter(F.col("sec") >= mid) \
        .agg(F.count_distinct("user_id")).collect()[0][0]
    est = sk.since(mid).estimate()
    assert abs(est - exact_recent) / exact_recent <= 3.5 * 1.04 / np.sqrt(2**12)


def test_premerge_local_shuffle_free_and_equivalent(spark, tokens):
    """premerge_local packs partition states without an Exchange and
    the final estimates are identical to the direct merge path."""
    import io
    from contextlib import redirect_stdout
    from algebird_spark.agg import merge_sketches, premerge_local, sketch_partitions

    states = sketch_partitions(tokens.repartition(16), "tokens",
                               lambda: HLL(p=12), ["source"])
    pre = premerge_local(states, ["source"], target_partitions=4)
    # no Exchange between the two mapInArrow stages (coalesce only)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pre.explain("formatted")
    plan = buf.getvalue().split("\n\n")[0]
    first_map = plan.index("MapInArrow")
    assert "Exchange" not in plan[:first_map], "premerge must not shuffle"
    direct = merge_sketches(states, ["source"])
    via_pre = merge_sketches(pre, ["source"])
    a = {r["source"]: (from_bytes(bytes(r[STATE_COL])).estimate(), r["n_values"])
         for r in direct.collect()}
    b = {r["source"]: (from_bytes(bytes(r[STATE_COL])).estimate(), r["n_values"])
         for r in via_pre.collect()}
    assert a == b
    # end-to-end through the entry point
    c = {r["source"]: (from_bytes(bytes(r[STATE_COL])).estimate(), r["n_values"])
         for r in sketch_by_key(tokens, ["source"], "tokens",
                                lambda: HLL(p=12), premerge=4).collect()}
    assert c == a


def test_premerge_plan_build_runs_no_job(spark, tokens):
    """Building a premerge plan launches no Spark job. With fewer input
    partitions than cores the states sit above the combine's raw-row
    Exchange, and a partition-count probe there runs that shuffle's
    map stage under AQE before any action. The merged states equal the
    premerge=None ones."""
    src = tokens.coalesce(1)
    sc = spark.sparkContext
    group = "premerge-plan-build"
    sc.setJobGroup(group, "build a premerge plan")
    try:
        pre = sketch_by_key(src, ["source"], "tokens", lambda: HLL(p=12),
                            premerge=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plain = sketch_by_key(src, ["source"], "tokens", lambda: HLL(p=12))
    a = {r["source"]: (bytes(r[STATE_COL]), r["n_values"])
         for r in pre.collect()}
    b = {r["source"]: (bytes(r[STATE_COL]), r["n_values"])
         for r in plain.collect()}
    assert a == b


def test_all_empty_arrays_emit_zero_count_states(spark):
    """Rows whose arrays are all empty still emit states: one
    ``n_values=0`` state per (partition, key) when keyed and one per
    non-empty partition when global; merged, every key comes back with
    ``n_values=0`` and the global sketch estimates 0."""
    from algebird_spark.agg import sketch_partitions
    df = spark.createDataFrame([("a", []), ("a", []), ("b", [])],
                               "k string, v array<int>")
    nonempty = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]) \
                 .filter(lambda n: n > 0).count()
    per_part_keys = df.rdd.mapPartitions(
        lambda it: [len({r["k"] for r in it})]).sum()

    keyed = sketch_partitions(df, "v", lambda: HLL(p=10), ["k"]).collect()
    assert len(keyed) == per_part_keys
    assert {r["k"] for r in keyed} == {"a", "b"}
    assert all(r["n_values"] == 0 for r in keyed)

    glob = sketch_partitions(df, "v", lambda: HLL(p=10)).collect()
    assert len(glob) == nonempty
    assert all(r["n_values"] == 0 for r in glob)

    merged = {r["k"]: (r["n_values"],
                       from_bytes(bytes(r[STATE_COL])).estimate())
              for r in sketch_by_key(df, ["k"], "v",
                                     lambda: HLL(p=10)).collect()}
    assert merged == {"a": (0, 0.0), "b": (0, 0.0)}
    assert sketch_global(df, "v", lambda: HLL(p=10)).estimate() == 0.0


@pytest.mark.parametrize("case", ["keyed", "global", "multi"])
def test_keyed_coalescing_invariant_under_tiny_arrow_batches(spark, case):
    """Regression pin for the cross-batch buffering in the one combine
    kernel behind sketch_partitions and sketch_by_key (keyed
    single-column, global, and multi-column keyed): with Arrow batches
    forced down to 64 rows the kernel sees hundreds of per-(batch,
    group) slices, exercising the per-key buffers, the direct
    zero-copy path, the global cap flush, and the end-of-stream flush
    — all of which must be observationally invisible. HLL and
    HLLSeries are byte-canonical, so states must be BYTE-equal;
    SpaceSaver (order-sensitive eviction) must see the identical
    per-key element sequence, so its exact-mode counts must match
    too."""
    from algebird_spark.sketches import HLL, SpaceSaver
    from algebird_spark.sketches.timeseries import HLLSeries

    df = (spark.range(30_000)
          .select((F.col("id") % 5).cast("string").alias("g"),
                  (F.col("id") * 2654435761 % 997).alias("v"),
                  (F.col("id") % 113).cast("double").alias("t"))
          .repartition(4, "g"))
    keys = [] if case == "global" else ["g"]
    if case == "multi":
        factories = {"canonical": lambda: HLLSeries(p=12)}

        def build(factory):
            return sketch_by_key(df, keys, ["v", "t"], factory)
    else:
        factories = {"canonical": lambda: HLL(p=12),
                     "spacesaver": lambda: SpaceSaver(capacity=64)}

        def build(factory):
            return sketch_by_key(df, keys, "v", factory)

    def states():
        out = {}
        for name, factory in factories.items():
            for r in build(factory).collect():
                b = bytes(r[STATE_COL])
                out[(name, r["g"] if keys else None)] = (
                    b if name == "canonical" else from_bytes(b).counters)
        return out

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        tiny = states()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "100000")
        big = states()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert len(tiny) == len(factories) * (1 if case == "global" else 5)
    assert tiny == big


def test_merge_folds_states_split_across_arrow_batches(spark, tokens):
    """At two rows per Arrow batch one key's state rows span several
    batches into the sorted merge fold, which must carry the open state
    across batch boundaries: keyed, keyless, premerge and a
    2-key cube give the same HLL state bytes and n_values as at the
    default batch size, with one row per key (per grouping_id in the
    cube, where rolled-up keys are NULL)."""
    from algebird_spark.agg import sketch_rollup

    df = tokens.repartition(16).withColumn("par", F.col("n_tok") % 2)

    def factory():
        return HLL(p=12)

    builds = {
        "keyed": lambda: sketch_by_key(df, ["source"], "tokens", factory),
        "keyless": lambda: sketch_by_key(df, [], "tokens", factory),
        "premerge": lambda: sketch_by_key(df, ["source"], "tokens", factory,
                                          premerge=4),
        "cube": lambda: sketch_rollup(df, ["source", "par"], "tokens",
                                      factory, grouping="cube"),
    }

    def states():
        out = {}
        for name, build in builds.items():
            rows = build().collect()
            got = {tuple(r[c] for c in r.__fields__
                         if c not in (STATE_COL, "n_values")):
                   (bytes(r[STATE_COL]), r["n_values"]) for r in rows}
            assert len(got) == len(rows), name
            out[name] = got
        return out

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        tiny = states()
    finally:
        spark.conf.set(conf, prev)
    big = states()
    n_src, n_par, n_fine = (df.select(*c).distinct().count() for c in
                            (["source"], ["par"], ["source", "par"]))
    assert len(big["keyed"]) == n_src and len(big["keyless"]) == 1
    assert len(big["cube"]) == n_fine + n_src + n_par + 1
    assert tiny == big


# ---------------------------------------------------------------------------
# sketch_rollup: every grouping level from one scan, coarse = state merges
# ---------------------------------------------------------------------------

def _rollup_ests(levels_df):
    """{(key values..., grouping_id): estimate} for an HLL rollup frame."""
    out = {}
    for r in levels_df.collect():
        sk = from_bytes(bytes(r[STATE_COL]))
        out[tuple(r[k] for k in levels_df.columns
                  if k not in (STATE_COL, "n_values"))] = sk.estimate()
    return out


def test_rollup_levels_equal_direct_builds(spark, tokens):
    """Merged-state levels must EXACTLY equal building each level
    directly from rows — HLL register-max is associative, so the
    rollup's reaggregation loses nothing."""
    from algebird_spark.agg import sketch_rollup
    df = tokens.withColumn("par", (F.crc32(F.col("doc_id")) % 2).cast("string"))
    got = _rollup_ests(sketch_rollup(df, ["source", "par"], "tokens",
                                     lambda: HLL(p=12)))
    # finest level (gid 0) vs direct two-key build
    direct = {(r["source"], r["par"]): from_bytes(bytes(r[STATE_COL])).estimate()
              for r in sketch_by_key(df, ["source", "par"], "tokens",
                                     lambda: HLL(p=12)).collect()}
    for (s, p), est in direct.items():
        assert got[(s, p, 0)] == est
    # middle level (gid 1: par rolled up) vs direct one-key build
    direct1 = {r["source"]: from_bytes(bytes(r[STATE_COL])).estimate()
               for r in sketch_by_key(df, ["source"], "tokens",
                                      lambda: HLL(p=12)).collect()}
    for s, est in direct1.items():
        assert got[(s, None, 1)] == est
    # grand total (gid 3) vs global build
    assert got[(None, None, 3)] == sketch_global(
        df, "tokens", lambda: HLL(p=12)).estimate()


def test_cube_emits_all_subsets(spark, tokens):
    from algebird_spark.agg import sketch_rollup
    df = tokens.withColumn("par", (F.crc32(F.col("doc_id")) % 2).cast("string"))
    levels = sketch_rollup(df, ["source", "par"], "tokens",
                           lambda: HLL(p=10), grouping="cube")
    gids = {r["grouping_id"] for r in levels.select("grouping_id").collect()}
    assert gids == {0, 1, 2, 3}
    # gid 2 (source rolled up, par kept) exists only in the cube
    roll = sketch_rollup(df, ["source", "par"], "tokens",
                         lambda: HLL(p=10))
    rgids = {r["grouping_id"] for r in roll.select("grouping_id").collect()}
    assert rgids == {0, 1, 3}


def test_rollup_null_key_disambiguated_by_grouping_id(spark):
    """A genuinely-NULL key value at the finest level must not collide
    with the rolled-up NULL: grouping_id separates them, and the
    rolled-up state is the union across all key values incl. NULL."""
    from algebird_spark.agg import sketch_rollup
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 2), (None, 3)], "k string, v long")
    got = _rollup_ests(sketch_rollup(df, ["k"], "v", lambda: HLL(p=12)))
    assert round(got[("a", 0)]) == 2
    assert round(got[(None, 0)]) == 2   # the real-NULL group
    assert round(got[(None, 1)]) == 3   # the grand total: {1,2,3}


def test_rollup_empty_input_emits_grand_total(spark):
    """SQL parity: GROUP BY ROLLUP on an empty table still emits the
    () grouping set's row (DuckDB/Spark agree) — the keyless level
    folds in a monoid-zero state, which the identity law makes free on
    non-empty input."""
    from algebird_spark.agg import sketch_rollup
    df = spark.createDataFrame([], "k string, v long")
    rows = sketch_rollup(df, ["k"], "v", lambda: HLL(p=12)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] is None and r["grouping_id"] == 1 and r["n_values"] == 0
    assert from_bytes(bytes(r[STATE_COL])).estimate() == 0.0


def test_rollup_rejects_bad_args(spark, tokens):
    from algebird_spark.agg import sketch_rollup
    with pytest.raises(ValueError):
        sketch_rollup(tokens, [], "tokens", lambda: HLL(p=10))
    with pytest.raises(ValueError):
        sketch_rollup(tokens, ["source"], "tokens", lambda: HLL(p=10),
                      grouping="sets")
    with pytest.raises(ValueError):
        sketch_rollup(tokens, ["source"], "tokens", lambda: HLL(p=10),
                      sets=[["nope"]])
    with pytest.raises(ValueError):
        sketch_rollup(tokens, ["source"], "tokens", lambda: HLL(p=10),
                      sets=[])


def test_grouping_sets_levels_equal_direct_builds(spark, tokens):
    """Explicit GROUPING SETS: each named set must equal the direct
    single-set build, with SQL grouping_id (first key = MSB) and no
    extra levels emitted."""
    from algebird_spark.agg import sketch_rollup
    df = tokens.withColumn("par", (F.crc32(F.col("doc_id")) % 2).cast("string"))
    got = _rollup_ests(sketch_rollup(
        df, ["source", "par"], "tokens", lambda: HLL(p=12),
        sets=[["par"], ["source"], []]))
    assert {k[-1] for k in got} == {2, 1, 3}
    # gid 2: source rolled up, par kept — vs direct by-par build
    direct_par = {r["par"]: from_bytes(bytes(r[STATE_COL])).estimate()
                  for r in sketch_by_key(df, ["par"], "tokens",
                                         lambda: HLL(p=12)).collect()}
    for p, est in direct_par.items():
        assert got[(None, p, 2)] == est
    # gid 1: par rolled up — vs direct by-source build
    direct_src = {r["source"]: from_bytes(bytes(r[STATE_COL])).estimate()
                  for r in sketch_by_key(df, ["source"], "tokens",
                                         lambda: HLL(p=12)).collect()}
    for s, est in direct_src.items():
        assert got[(s, None, 1)] == est
    # gid 3: the () set — vs the global build
    assert got[(None, None, 3)] == sketch_global(
        df, "tokens", lambda: HLL(p=12)).estimate()


def test_duplicate_grouping_sets_emit_duplicate_rows(spark, tokens):
    """SQL semantics: duplicate GROUPING SETS emit duplicate level
    rows with IDENTICAL (not doubly-merged) states — the single-pass
    explode carries each set's index, so the keyed merge keeps the
    duplicates apart instead of folding them into one group. They take
    the same plan as distinct sets: as many Exchanges as the
    non-duplicate call, and nothing left persisted after collect()."""
    from algebird_spark.agg import sketch_rollup

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString() \
                 .count("Exchange")

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    dup_df = sketch_rollup(tokens, ["source"], "tokens", lambda: HLL(p=12),
                           sets=[["source"], ["source"]])
    single_df = sketch_rollup(tokens, ["source"], "tokens",
                              lambda: HLL(p=12), sets=[["source"]])
    assert exchanges(dup_df) == exchanges(single_df) > 0
    dup, single = dup_df.collect(), single_df.collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after == before, "duplicate grouping sets left a persisted RDD"
    assert len(dup) == 2 * len(single)
    ests = {}
    for r in dup:
        key = (r["source"], r["grouping_id"])
        ests.setdefault(key, []).append(
            (from_bytes(bytes(r[STATE_COL])).estimate(), r["n_values"]))
    for key, pair in ests.items():
        assert len(pair) == 2 and pair[0] == pair[1], key
    direct = {(r["source"], r["grouping_id"]):
              (from_bytes(bytes(r[STATE_COL])).estimate(), r["n_values"])
              for r in single}
    for key, pair in ests.items():
        assert pair[0] == direct[key], key


def test_rollup_generic_over_cms(spark, tokens):
    """rollup_levels is sketch-generic: with CMS states the per-level
    TOTALS (which CMS tracks exactly) must equal the exact rollup
    counts — same monoid merge path as HLL/KLL/SpaceSaver."""
    from algebird_spark.agg import sketch_rollup
    levels = sketch_rollup(tokens, ["source"], "tokens",
                           lambda: CMS(eps=0.01, delta=1e-4))
    got = {(r["source"], r["grouping_id"]):
           from_bytes(bytes(r[STATE_COL])).total
           for r in levels.collect()}
    exact = {r["source"]: r["n"] for r in
             tokens.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.count("t").alias("n")).collect()}
    for s, n in exact.items():
        assert got[(s, 0)] == n
    assert got[(None, 1)] == sum(exact.values())



def test_rollup_fusion_gate_both_sides(spark, tokens, monkeypatch):
    """Both sides of sketch_rollup's fusion gate give byte-equal HLL
    levels and equal n_values; the fused plan (partition states fed
    straight into the level merge) has one Exchange fewer than the
    two-stage plan (finest-grain merge, then the level merge)."""
    from algebird_spark import agg

    def build(fuse_max):
        monkeypatch.setattr(agg, "_ROLLUP_FUSE_MAX_ROWS", fuse_max)
        levels = agg.sketch_rollup(tokens, ["source"], "tokens",
                                   lambda: HLL(p=12))
        exchanges = levels._jdf.queryExecution().executedPlan() \
                          .toString().count("Exchange")
        return exchanges, {(r["source"], r["grouping_id"]):
                           (bytes(r[STATE_COL]), r["n_values"])
                           for r in levels.collect()}

    two_stage, want = build(0)
    fused, got = build(10 ** 9)
    assert got == want and len(got) == 5
    assert fused == two_stage - 1 > 0


@pytest.mark.parametrize("batch_rows", ["2", None],
                         ids=["maxRecordsPerBatch=2", "default"])
def test_keyed_hll_equals_single_shot_build(spark, batch_rows):
    """Keyed HLL states (the combine's grouped path, then the merge)
    equal, byte for byte, one in-process ``update_batch`` over each
    key's values — with a NULL key, a NaN key, a key whose arrays are
    all empty (``n_values=0``) and a key large enough to turn dense."""
    rng = np.random.default_rng(11)
    nan = float("nan")
    rows = []
    for i in range(240):
        k = [None, nan, 1.0, 2.0, -0.0][i % 5]
        n = int(rng.integers(0, {1.0: 160, 2.0: 2}.get(k, 40)))
        rows.append((k, rng.integers(-2**31, 2**31, n).tolist()))
    rows += [(3.0, [])] * 7
    df = spark.createDataFrame(rows, "k double, v array<int>").repartition(3)

    def norm(k):
        return "NaN" if k is not None and k != k else k

    expected = {}
    for k, v in rows:
        expected.setdefault(norm(k), []).extend(v)
    for k, v in expected.items():
        h = HLL(p=10)
        h.update_batch(np.array(v, dtype=np.int32))
        expected[k] = (h.to_bytes(), len(v))
    assert not from_bytes(expected[1.0][0]).is_sparse
    assert from_bytes(expected[2.0][0]).is_sparse

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    try:
        if batch_rows is not None:
            spark.conf.set(conf, batch_rows)
        got = {norm(r["k"]): (bytes(r[STATE_COL]), r["n_values"]) for r in
               sketch_by_key(df, ["k"], "v", lambda: HLL(p=10)).collect()}
    finally:
        spark.conf.set(conf, prev)
    assert got == expected
    assert got[3.0] == (HLL(p=10).to_bytes(), 0)
