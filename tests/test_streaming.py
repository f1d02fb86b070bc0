"""Structured Streaming sketch tests: drive a parquet-backed stream to
completion with the memory sink (per the public streaming test pattern)
and check stateful sketch estimates against batch answers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from algebird_spark.sketches import HLL
from algebird_spark.streaming.stateful import (sketch_stream_by_key,
                                               sliding_counts)


@pytest.fixture()
def events_stream(spark, tmp_path):
    # the streaming file source needs a directory
    import shutil
    d = tmp_path / "events_dir"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    batch = spark.read.parquet(str(d))
    sdf = spark.readStream.schema(batch.schema).parquet(str(d))
    return batch, sdf


def test_stateful_hll_stream_matches_batch(spark, events_stream):
    batch, sdf = events_stream
    out = sketch_stream_by_key(sdf, ["event_type"], "user_id",
                               lambda: HLL(p=12))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("hll_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_type"]: r["estimate"]
           for r in spark.sql("SELECT * FROM hll_stream").collect()}
    exact = {r[0]: r[1] for r in batch.groupBy("event_type")
             .agg(F.count_distinct("user_id")).collect()}
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] <= 3.5 * 1.04 / np.sqrt(2**12)


def test_stream_reads_nulls_as_the_batch_build_does(spark, tmp_path):
    """NULL is no value in the stream either: an ``int`` column and an
    ``array<int>`` column holding NULLs (a NULL scalar, a NULL array
    cell, a NULL element) give the same HLL estimate and ``n_values``
    per key as ``sketch_by_key`` + ``with_presented`` over the rows."""
    from algebird_spark.agg import sketch_by_key, with_presented
    rows = []
    for i in range(600):
        v = None if i % 7 == 0 else i * 7919 % 5_000
        a = (None if i % 11 < 2 else
             [i % 97, None, i * 31 % 1_000] if i % 5 == 0 else
             [i * 13 % 2_000] * (i % 3))
        rows.append(("ab"[i % 2], v, a))
    d = tmp_path / "nulls_dir"
    (spark.createDataFrame(rows, "g string, v int, a array<int>")
     .coalesce(1).write.parquet(str(d)))
    batch = spark.read.parquet(str(d))
    sdf = spark.readStream.schema(batch.schema).parquet(str(d))
    for col in ("v", "a"):
        name = f"null_stream_{col}"
        q = (sketch_stream_by_key(sdf, ["g"], col, lambda: HLL(p=12))
             .writeStream.outputMode("update").format("memory")
             .queryName(name).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["g"]: (r["estimate"], r["n_values"]) for r in spark.sql(
            f"SELECT g, max_by(estimate, n_values) AS estimate, "
            f"max(n_values) AS n_values FROM {name} GROUP BY g").collect()}
        want = {r["g"]: (r["estimate"], r["n_values"])
                for r in with_presented(
                    sketch_by_key(batch, ["g"], col, lambda: HLL(p=12)),
                    lambda sk: {"estimate": sk.estimate()},
                    "estimate double").collect()}
        assert got == want, col


def test_state_stream_reads_nulls_as_the_batch_build_does(spark, tmp_path):
    """The several-column stream reads its update columns as the batch
    combine does: an ``int`` key and an ``int`` weight holding NULLs
    give a SketchMap state byte-equal to ``sketch_by_key``'s over the
    same rows, and ``n_values`` counts only the rows with no NULL."""
    from algebird_spark.agg import STATE_COL, sketch_by_key
    from algebird_spark.sketches import SketchMap
    from algebird_spark.streaming.stateful import sketch_state_stream_by_key
    rows = []
    for i in range(600):
        k = None if i % 7 == 0 else (i // 2) % 6 * 1_000_003
        w = None if i % 11 == 3 else i % 17 + 1
        rows.append(("ab"[i % 2], k, w))
    d = tmp_path / "nulls_dir"
    (spark.createDataFrame(rows, "g string, k int, w int")
     .coalesce(1).write.parquet(str(d)))
    batch = spark.read.parquet(str(d))
    sdf = spark.readStream.schema(batch.schema).parquet(str(d))
    factory = lambda: SketchMap(eps=0.01, delta=1e-3,  # noqa: E731
                                heavy_hitters_count=8)
    q = (sketch_state_stream_by_key(sdf, ["g"], ["k", "w"], factory)
         .writeStream.outputMode("update").format("memory")
         .queryName("null_state_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["g"]: (bytes(r["state"]), r["n_values"]) for r in spark.sql(
        "SELECT g, max_by(state, n_values) AS state, max(n_values) AS "
        "n_values FROM null_state_stream GROUP BY g").collect()}
    want = {r["g"]: (bytes(r[STATE_COL]), r["n_values"]) for r in
            sketch_by_key(batch, ["g"], ["k", "w"], factory).collect()}
    assert got == want
    assert {g: n for g, (_, n) in got.items()} == {
        g: sum(1 for r in rows if r[0] == g and None not in r) for g in "ab"}


def test_stream_values_convert_as_arrow():
    """A NULL makes pandas hand an int column over as float64; the
    values go back to exact ints, and a value beyond 2**53, already
    changed by that round trip, raises."""
    import pandas as pd
    import pyarrow as pa

    from algebird_spark.agg import _flatten_values
    from algebird_spark.streaming.stateful import _stream_array

    def stream_values(col, arrow_type):
        return _flatten_values(_stream_array(col, arrow_type))[0]

    got = stream_values(pd.Series([1.0, np.nan, 2.0 ** 52]), pa.int64())
    assert got.dtype == np.int64 and got.tolist() == [1, 2 ** 52]
    cells = pd.Series([None, np.array([1.0, np.nan, 3.0]),
                       np.array([4.0])], dtype=object)
    assert stream_values(cells, pa.list_(pa.int32())).tolist() == [1, 3, 4]
    with pytest.raises(ValueError, match="2\\*\\*53"):
        stream_values(pd.Series([1.0, np.nan, 2.0 ** 60]), pa.int64())
    # an int column without NULLs stays int64 in pandas: nothing lost
    big = stream_values(pd.Series([2 ** 60 + 1, 3]), pa.int64())
    assert big.tolist() == [2 ** 60 + 1, 3]


def test_sliding_counts_stream(spark, events_stream):
    batch, sdf = events_stream
    out = sliding_counts(sdf, "ts", "10 minutes", "5 minutes", ["event_type"],
                         watermark="0 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("slide_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM slide_stream").collect()
    # windows that already closed under the watermark were emitted;
    # verify one against a batch recount
    assert rows, "no closed windows emitted"
    r = rows[len(rows) // 2]
    exact = batch.filter(
        (F.col("ts") >= r["window_start"]) & (F.col("ts") < r["window_end"])
        & (F.col("event_type") == r["event_type"])).count()
    assert r["n"] == exact


def test_windowed_sketch_stream(spark, events_stream):
    from algebird_spark.streaming.stateful import windowed_sketch_stream
    batch, sdf = events_stream
    out = windowed_sketch_stream(sdf, "ts", "30 minutes", ["event_type"],
                                 "user_id", lambda: HLL(p=12),
                                 watermark="0 seconds")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("win_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM win_stream").collect()
    assert rows, "no windowed states emitted"
    # verify one window against a batch recount
    r = rows[len(rows) // 2]
    start = r["window_start"]
    exact = (batch.withColumn("ws", F.window(F.col("ts").cast("timestamp"),
                                             "30 minutes").start.cast("string"))
             .filter((F.col("ws") == start)
                     & (F.col("event_type") == r["event_type"]))
             .agg(F.count_distinct("user_id")).collect()[0][0])
    assert abs(r["estimate"] - exact) / max(exact, 1) <= 3.5 * 1.04 / np.sqrt(2**12)


def test_decaying_cms_state_stream_matches_batch(spark, events_stream):
    """Streaming DecayingCMS (live trending): the state emitted by the
    stream must estimate the same decayed per-user frequencies as a
    batch-built sketch over the identical rows — monoid commutativity
    makes stream == batch regardless of micro-batching."""
    from algebird_spark.sketches import from_bytes
    from algebird_spark.sketches.sketchmap import DecayingCMS
    from algebird_spark.streaming.stateful import sketch_state_stream_by_key

    batch, sdf = events_stream
    half = 3600.0
    factory = lambda: DecayingCMS(eps=0.01, delta=1e-3, half_life=half)  # noqa: E731
    prep = lambda df: (df.withColumn("sec", F.col("ts").cast("timestamp")  # noqa: E731
                                     .cast("double"))
                       .withColumn("w", F.lit(1.0)))
    out = sketch_state_stream_by_key(prep(sdf), ["event_type"],
                                     ["user_id", "sec", "w"], factory)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("dcms_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM dcms_stream").toPandas().groupby("event_type").last()
    pb = prep(batch).toPandas()
    users = np.sort(pb["user_id"].unique())
    t_ref = float(pb["sec"].max())
    for etype, r in rows.iterrows():
        got = from_bytes(bytes(r["state"]))
        ref = factory()
        sub = pb[pb["event_type"] == etype]
        ref.update_batch(sub["user_id"].to_numpy(),
                         timestamps=sub["sec"].to_numpy(),
                         weights=sub["w"].to_numpy())
        np.testing.assert_allclose(
            got.decayed_frequencies(users, at_ts=t_ref),
            ref.decayed_frequencies(users, at_ts=t_ref),
            rtol=1e-9, atol=1e-9)
        assert r["n_values"] == len(sub)


def test_stateful_eventually_stream_matches_batch(spark, events_stream):
    """Protocol-surface proof (SURVEY §2.9): the round-4 generic
    Eventually combinator plugs into the streaming path unchanged —
    any conforming Sketch does. Small threshold forces the
    exact->HLL conversion INSIDE streaming state; estimates must
    match batch distinct counts within HLL error (or exactly while a
    group is still exact)."""
    from algebird_spark.sketches import HLL, Eventually
    batch, sdf = events_stream
    out = sketch_stream_by_key(
        sdf, ["event_type"], "user_id",
        lambda: Eventually(HLL(p=12), threshold=10, exact_mode="set"))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("ev_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_type"]: r["estimate"]
           for r in spark.sql("SELECT * FROM ev_stream").collect()}
    exact = {r[0]: r[1] for r in batch.groupBy("event_type")
             .agg(F.count_distinct("user_id")).collect()}
    assert set(got) == set(exact)
    for k, est in got.items():
        tol = max(2.0, 3.5 * 1.04 / np.sqrt(2**12) * exact[k])
        assert abs(est - exact[k]) <= tol, (k, est, exact[k])


def test_scan_stream_fold_sessionization_matches_batch(spark, tmp_path):
    """Streaming general Scan.from: the SAME session kernel used by
    GeneralScan.apply_stream, with carry persisted as group state
    across micro-batches (3 time-sliced files, maxFilesPerTrigger=1),
    numbers sessions identically to the batch fold."""
    import os
    import uuid

    from algebird_spark.operators.scan import (GeneralScan,
                                               session_numbers_kernel)
    from algebird_spark.streaming.stateful import scan_stream_fold

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", "event_id",
                  F.col("ts").cast("timestamp").cast("double")
                  .alias("tsec")))
    cuts = ev.approxQuantile("tsec", [0.33, 0.66], 0.0)
    d = tmp_path / "slices"
    d.mkdir()
    slices = [ev.filter(F.col("tsec") < cuts[0]),
              ev.filter((F.col("tsec") >= cuts[0])
                        & (F.col("tsec") < cuts[1])),
              ev.filter(F.col("tsec") >= cuts[1])]
    for i, sl in enumerate(slices):
        p = str(d / f"slice-{i}")
        sl.coalesce(1).write.parquet(p)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1_000_000 + i, 1_000_000 + i))

    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "slice-*")))
    out = scan_stream_fold(sdf, ["user_id"], ["tsec", "event_id"],
                           session_numbers_kernel("user_id", "tsec",
                                                  1800.0),
                           "sess", "bigint")
    qname = f"scanstream_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(qname).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (spark.sql(f"SELECT * FROM {qname}").toPandas()
           .sort_values(["user_id", "tsec", "event_id"])
           .reset_index(drop=True))

    want = (GeneralScan.apply_stream(
                ev, ["user_id"], ["tsec", "event_id"],
                session_numbers_kernel("user_id", "tsec", 1800.0),
                "sess", "bigint")
            .toPandas().sort_values(["user_id", "tsec", "event_id"])
            .reset_index(drop=True))
    assert len(got) == len(want) == ev.count()
    assert (got["sess"].to_numpy() == want["sess"].to_numpy()).all()


def test_scan_stream_fold_accepts_any_conforming_kernel(spark, tmp_path):
    """Protocol proof (like the streaming-Eventually one): a SECOND,
    independently written kernel — per-key running sum with carry =
    plain float — runs through the same scan_stream_fold plumbing and
    matches an exact SQL window aggregate across micro-batch splits."""
    import os
    import uuid

    from algebird_spark.streaming.stateful import scan_stream_fold

    def running_sum_kernel(pdf, carry):
        vals = pdf["amount"].cumsum() + (carry or 0.0)
        return vals, float(vals.iloc[-1])

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", "event_id",
                  F.col("ts").cast("timestamp").cast("double")
                  .alias("tsec"),
                  (F.col("event_id") % 7).cast("double").alias("amount")))
    cuts = ev.approxQuantile("tsec", [0.5], 0.0)
    d = tmp_path / "slices2"
    d.mkdir()
    slices = [ev.filter(F.col("tsec") < cuts[0]),
              ev.filter(F.col("tsec") >= cuts[0])]
    for i, sl in enumerate(slices):
        p = str(d / f"slice-{i}")
        sl.coalesce(1).write.parquet(p)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1_000_000 + i, 1_000_000 + i))
    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "slice-*")))
    out = scan_stream_fold(sdf, ["user_id"], ["tsec", "event_id"],
                           running_sum_kernel, "rsum", "double")
    qname = f"rsum_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(qname).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (spark.sql(f"SELECT user_id, tsec, event_id, rsum FROM {qname}")
           .toPandas().sort_values(["user_id", "tsec", "event_id"])
           .reset_index(drop=True))
    from pyspark.sql import Window
    w = (Window.partitionBy("user_id").orderBy("tsec", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = (ev.withColumn("rsum", F.sum("amount").over(w))
            .select("user_id", "tsec", "event_id", "rsum").toPandas()
            .sort_values(["user_id", "tsec", "event_id"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    assert np.allclose(got["rsum"].to_numpy(), want["rsum"].to_numpy())


def test_scan_stream_fold_reorder_buffer_disordered_batches(spark, tmp_path):
    """r5 VERDICT #8: with watermark_col set, micro-batches delivered
    OUT of event-time order fold in exactly the batch order — rows are
    held in state until the watermark passes them, and an event-time
    timeout flushes keys that receive no further data. Batch 1 carries
    the MIDDLE of user 1's timeline, batch 2 its ends; a running sum
    (order-sensitive) must still come out 1, 3, 6, 10."""
    import os
    import uuid

    from algebird_spark.streaming.stateful import scan_stream_fold

    def running_sum_kernel(pdf, carry):
        vals = pdf["value"].cumsum() + (carry or 0.0)
        return vals, float(vals.iloc[-1])

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id long, sec long, value double").select(
            "user_id", F.timestamp_seconds("sec").alias("ts"), "value")

    slices = [
        mk([(1, 2000, 2.0), (1, 3000, 3.0)]),          # middle first
        mk([(1, 1000, 1.0), (1, 4000, 4.0)]),          # then the ends
        mk([(99, 200000, 0.0)]),                        # watermark push
        mk([(98, 400000, 0.0)]),                        # timeout flush
    ]
    d = tmp_path / "disorder"
    d.mkdir()
    for i, sl in enumerate(slices):
        p = str(d / f"slice-{i}")
        sl.coalesce(1).write.parquet(p)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1_000_000 + i, 1_000_000 + i))
    schema = slices[0].schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "slice-*"))
           .withWatermark("ts", "2500 seconds"))
    out = scan_stream_fold(sdf, ["user_id"], ["ts"],
                           running_sum_kernel, "rsum", "double",
                           watermark_col="ts")
    qname = f"reorder_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(qname).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (spark.sql(
        f"SELECT ts, rsum FROM {qname} WHERE user_id = 1")
        .toPandas().sort_values("ts").reset_index(drop=True))
    assert len(got) == 4, got
    assert got["rsum"].tolist() == [1.0, 3.0, 6.0, 10.0]


def test_scan_stream_fold_group_spanning_many_arrow_chunks(spark, tmp_path):
    """Regression: applyInPandasWithState hands each (key, micro-batch)
    slice to the update fn as an ITERATOR of Arrow chunks in shuffle
    order. With maxRecordsPerBatch=64 a key's slice spans many chunks;
    the fold must sort the WHOLE slice once (per-chunk sorting folds
    across-chunk rows out of order and mis-numbers sessions)."""
    import os
    import uuid

    from algebird_spark.operators.scan import (GeneralScan,
                                               session_numbers_kernel)
    from algebird_spark.streaming.stateful import scan_stream_fold

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", "event_id",
                  F.col("ts").cast("timestamp").cast("double")
                  .alias("tsec"))
          # one hot key so a single group spans dozens of 64-row chunks
          .withColumn("user_id", F.col("user_id") % 3))
    d = tmp_path / "one_batch"
    d.mkdir()
    # shuffle row order inside the file so chunks arrive unsorted
    ev.orderBy(F.xxhash64("event_id")).coalesce(1) \
        .write.parquet(str(d / "slice-0"))
    sdf = (spark.readStream.schema(ev.schema)
           .parquet(str(d / "slice-*")))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        out = scan_stream_fold(sdf, ["user_id"], ["tsec", "event_id"],
                               session_numbers_kernel("user_id", "tsec",
                                                      1800.0),
                               "sess", "bigint")
        qname = f"chunked_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName(qname).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = (spark.sql(f"SELECT user_id, tsec, event_id, sess "
                         f"FROM {qname}").toPandas()
               .sort_values(["user_id", "tsec", "event_id"])
               .reset_index(drop=True))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = (GeneralScan.apply_stream(
                ev, ["user_id"], ["tsec", "event_id"],
                session_numbers_kernel("user_id", "tsec", 1800.0),
                "sess", "bigint")
            .toPandas().sort_values(["user_id", "tsec", "event_id"])
            .reset_index(drop=True))
    assert len(got) == len(want) == ev.count()
    assert (got["sess"].to_numpy() == want["sess"].to_numpy()).all()


def test_streaming_frequent_directions_matches_batch(spark, tmp_path):
    """Protocol-surface proof for the r7 matrix sketch: a conforming
    Sketch streams unchanged through sketch_state_stream_by_key. The
    streamed FD state must satisfy both FD invariants against the
    exact Gram of the same rows, hold every vector, count every
    element as the batch build does, and carry the exact ||A||_F^2
    (float-sum tolerance only)."""
    import shutil

    from algebird_spark.agg import sketch_by_key
    from algebird_spark.sketches import FrequentDirections, from_bytes
    from algebird_spark.streaming.stateful import sketch_state_stream_by_key

    d = tmp_path / "emb_dir"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                d / "part-0.parquet")
    batch = spark.read.parquet(str(d))
    sdf = spark.readStream.schema(batch.schema).parquet(str(d))
    dim = len(batch.select("embedding").first()[0])
    ell = 8
    prep = lambda df: df.withColumn(  # noqa: E731
        "grp", (F.col("vec_id") % 2).cast("string"))
    out = sketch_state_stream_by_key(
        prep(sdf), ["grp"], ["embedding"],
        lambda: FrequentDirections(dim, ell))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("fd_stream").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM fd_stream").toPandas() \
        .groupby("grp").last()
    pb = prep(batch).toPandas()
    # the stream counts what the batch build over the same one column
    # counts: the vectors' elements
    built = {r["grp"]: r["n_values"] for r in sketch_by_key(
        prep(batch), ["grp"], ["embedding"],
        lambda: FrequentDirections(dim, ell)).collect()}
    for grp, r in rows.iterrows():
        sk = from_bytes(bytes(r["state"]))
        sub = np.vstack(pb[pb["grp"] == grp]["embedding"].to_numpy()) \
            .astype(np.float64)
        assert sk.n == len(sub)
        assert r["n_values"] == built[grp] == sub.size
        assert sk.sq_frob == pytest.approx(float((sub * sub).sum()),
                                           rel=1e-9)
        diff = np.linalg.eigvalsh(sub.T @ sub - sk.gram())
        assert diff.min() >= -1e-6 * sk.sq_frob
        assert np.abs(diff).max() <= sk.error_bound() + 1e-9
