"""The traced run: per-layer metrics, timed from outside the program.

Each replay runs a job as its sequence of public calls, one span per
call. Spark is lazy, so each layer's output is materialised (cached and
counted, or collected) inside its own span; the cache is released after
every replay. Layers that a workload's job does not reach are measured
by a probe on that workload's input: ``sketch_by_key``'s combine, merge
and present on checkpoint_append's input, and the checkpoint cycle of
``sources.checkpoint`` on the other two (with a copy of one input file
as the appended file). The references (Spark built-ins, one process
without Spark, local[1]) are the floor and ceiling every layer is read
against.

Units: seconds for ``*_s``, counts, bytes for ``*_bytes``, 1/s for
rates, and a ratio for ``scaling.eff_1_to_4``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import session
from .spans import Tracer
from .stats import Family

KERNEL_VALUES = 1 << 20
SMALL_CALLS = 2_000
SMALL_VALUES = 300
PROBE_REPS = 2

UNITS = {
    "scan.arrow_s": "s", "scan.batches": "count",
    "scan.input_partitions": "count",
    "combine.s": "s", "combine.state_rows": "count",
    "combine.state_bytes": "bytes", "plan.exchanges": "count",
    "kernel.hll.values_per_s": "1/s", "kernel.cms.values_per_s": "1/s",
    "kernel.kll.values_per_s": "1/s", "kernel.tdigest.values_per_s": "1/s",
    "kernel.bloom.values_per_s": "1/s", "kernel.multi.values_per_s": "1/s",
    "kernel.hll_small.calls_per_s": "1/s",
    "serde.to_bytes_s": "s", "serde.from_bytes_s": "s",
    "serde.state_bytes": "bytes",
    "merge.s": "s", "merge.groups": "count", "merge.fan_in": "count",
    "kernel.merge_s": "s",
    "present.s": "s", "present.groups": "count",
    "checkpoint.fingerprint_s": "s", "checkpoint.build_s": "s",
    "checkpoint.incremental_s": "s", "checkpoint.serve_s": "s",
    "output.write_s": "s",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "native.hll_sketch_agg_s": "s", "native.kll_sketch_agg_s": "s",
    "native.count_min_sketch_s": "s", "inproc.tokens_per_s": "1/s",
    "scaling.eff_1_to_4": "ratio",
    "trace.overhead_s": "s",
}

NATIVE = {
    "native.hll_sketch_agg_s": ("hll_sketch_agg", "hll_sketch_agg(t, 14)"),
    "native.kll_sketch_agg_s": ("kll_sketch_agg_bigint",
                                "kll_sketch_agg_bigint(t, 200)"),
    "native.count_min_sketch_s": ("count_min_sketch",
                                  "count_min_sketch(t, 0.001d, 0.999999d, 1)"),
}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _timed(fn, reps: int = PROBE_REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _spark_tracer(spark) -> Tracer:
    """Spans that also label Spark jobs with a job group per span."""
    sc = spark.sparkContext

    def enter(rec):
        sc.setJobGroup(f"span-{rec['id']}", rec["name"])

    def exit_(rec, parent):
        if parent is not None:
            sc.setJobGroup(f"span-{parent['id']}", parent["name"])
    return Tracer(on_enter=enter, on_exit=exit_)


def _unpersist(*dfs) -> None:
    for df in dfs:
        df.unpersist(blocking=True)


def core_replay(spark, wl, tracer: Tracer, trace_id: int) -> dict:
    """sketch_by_key -> with_presented, one span per public call."""
    from pyspark.sql import functions as F
    from algebird_spark import agg
    st = mg = None
    try:
        with tracer.span("job", trace=trace_id):
            df = spark.read.parquet(wl.input_dir)
            with tracer.span("combine"):
                st = agg.sketch_partitions(df, "tokens", wl.factory,
                                           [wl.key]).cache()
                state_rows = st.count()
            with tracer.span("merge"):
                mg = agg.merge_sketches(st, [wl.key]).cache()
                groups = mg.count()
            with tracer.span("present"):
                rows = agg.with_presented(mg, wl.presenter(),
                                          wl.out_ddl()).collect()
        stats = st.agg(F.sum(F.length(agg.STATE_COL)).alias("b")).first()
        fan_in = (st.groupBy(wl.key).count()
                  .agg(F.max("count").alias("m")).first())
        return {"rows": rows, "state_rows": state_rows, "groups": groups,
                "state_bytes": int(stats["b"]), "fan_in": int(fan_in["m"]),
                "states": [(r[0], bytes(r[1])) for r in
                           st.select(wl.key, agg.STATE_COL).collect()]}
    finally:
        _unpersist(*(d for d in (st, mg) if d is not None))


def checkpoint_replay(spark, wl, tracer: Tracer, trace_id: int,
                      work: str) -> list[Family]:
    """The build_sketches call sequence with sources.checkpoint: cold
    build, output writes, one appended file, then a rerun on unchanged
    input."""
    from algebird_spark import agg
    from algebird_spark.sources.checkpoint import (MANIFEST,
                                                   build_or_resume,
                                                   input_fingerprint)
    import json
    ck = os.path.join(work, "trace_checkpoint")
    out = os.path.join(work, "trace_output")
    src, dst = wl.append_file()
    fams = []

    def build(name: str):
        df = spark.read.parquet(wl.input_dir)
        with tracer.span(name):
            res = build_or_resume(spark, df, [wl.key], "tokens", wl.factory,
                                  ck)
        with tracer.span("checkpoint.merge"):
            res = res.cache()
            res.count()
        return res

    try:
        with tracer.span("cycle.cold", trace=trace_id):
            df = spark.read.parquet(wl.input_dir)
            with tracer.span("checkpoint.fingerprint"):
                input_fingerprint(df)
            res = build("checkpoint.build")
            with tracer.span("output.write"):
                res.write.mode("overwrite").parquet(out + "/states")
                agg.with_presented(res, wl.presenter(), wl.out_ddl()) \
                    .write.mode("overwrite").json(out + "/estimates")
            _unpersist(res)
        shutil.copy2(src, dst)
        with tracer.span("cycle.append", trace=trace_id):
            _unpersist(build("checkpoint.incremental"))
        with open(os.path.join(ck, MANIFEST)) as f:
            stage = json.load(f)["stage"]
        fams.append(Family("checkpoint.append_stage", 1,
                           int(stage != "incremental_append(1 files)"), 0.0))
        mtime = os.stat(os.path.join(ck, MANIFEST)).st_mtime_ns
        with tracer.span("cycle.resume", trace=trace_id):
            _unpersist(build("checkpoint.serve"))
        fams.append(Family("checkpoint.served", 1, int(
            os.stat(os.path.join(ck, MANIFEST)).st_mtime_ns != mtime), 0.0))
    finally:
        if os.path.exists(dst):
            os.remove(dst)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    return fams


def scan_probe(spark, wl) -> dict:
    """A pass-through mapInArrow over the same select, counting rows and
    Arrow batches: the scan + JVM->Arrow floor under every build."""
    import pyarrow as pa

    def count(batches):
        rows = n = 0
        for b in batches:
            rows += b.num_rows
            n += 1
        yield pa.RecordBatch.from_pydict({"rows": [rows], "batches": [n]})

    out = {}

    def run():
        # a new DataFrame per run: re-executing one reuses its plan
        df = spark.read.parquet(wl.input_dir)
        out["rows"] = df.select(wl.key, "tokens").mapInArrow(
            count, "rows long, batches long").collect()
        out["partitions"] = df.rdd.getNumPartitions()
    t = _timed(run)
    return {"scan.arrow_s": t,
            "scan.batches": sum(r["batches"] for r in out["rows"]),
            "scan.input_partitions": out["partitions"]}


def kernel_probe(wl) -> dict:
    """update_batch in this process, one thread, on the workload's
    generated token values."""
    import pyarrow.parquet as pq
    from algebird_spark.sketches import HLL
    from .workloads import w1_factory
    col = pq.read_table(wl.input_files()[0], columns=["tokens"]) \
        .column("tokens").combine_chunks()
    values = col.flatten().to_numpy()[:KERNEL_VALUES]

    def rate(make) -> float:
        # a fresh sketch per repetition, built outside the timed call
        fresh = iter([make() for _ in range(PROBE_REPS)])
        return len(values) / _timed(lambda: next(fresh).update_batch(values))

    out = {f"kernel.{name}.values_per_s":
           rate(lambda: w1_factory().components[name])
           for name in w1_factory().components}
    out["kernel.multi.values_per_s"] = rate(w1_factory)
    chunks = [values[i * SMALL_VALUES:(i + 1) * SMALL_VALUES]
              for i in range(min(SMALL_CALLS, len(values) // SMALL_VALUES))]

    def small():
        for c in chunks:
            HLL(p=12).update_batch(c)
    out["kernel.hll_small.calls_per_s"] = len(chunks) / _timed(small)
    return out


def serde_probe(states: list[tuple]) -> dict:
    """Decode, merge per key and re-encode the combine's state rows."""
    from algebird_spark.sketches import from_bytes
    blobs = [b for _, b in states]
    t0 = time.perf_counter()
    decoded = [from_bytes(b) for b in blobs]
    t_from = time.perf_counter() - t0
    t0 = time.perf_counter()
    for sk in decoded:
        sk.to_bytes()
    t_to = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = {}
    for (k, _), sk in zip(states, decoded):
        if k in acc:
            acc[k].merge_in_place(sk)
        else:
            acc[k] = sk
    t_merge = time.perf_counter() - t0
    return {"serde.from_bytes_s": t_from, "serde.to_bytes_s": t_to,
            "serde.state_bytes": sum(len(b) for b in blobs),
            "kernel.merge_s": t_merge}


def native_probe(spark, wl) -> tuple[dict, dict]:
    """Spark's built-in sketch aggregates over the same exploded tokens,
    grouped by source, with the source_multisketch parameters."""
    from pyspark.sql import functions as F
    have = {r[0] for r in spark.sql("SHOW FUNCTIONS").collect()}
    out, absent = {}, {}
    for metric, (fn, expr) in NATIVE.items():
        if fn not in have:
            out[metric] = 0.0
            absent[metric] = f"{fn} is not in this Spark"
            continue
        def run():
            # a new DataFrame per run, so no shuffle output is reused
            (spark.read.parquet(wl.input_dir)
             .select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.expr(expr)).collect())
        out[metric] = _timed(run)
    return out, absent


def traced(spark, wl, seconds: float, tally, work: str, cores: int,
           spans_path: str):
    """Returns (session, per-layer metrics, record). The session comes
    back because the scaling reference restarts it."""
    from .run import run_job
    metrics: dict[str, float] = {}
    absent: dict[str, str] = {}

    # untraced jobs: the baseline for the tracing overhead, and the
    # scheduler's and planner's view of one job
    untraced = []
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds / 2 or len(untraced) < 2:
        group = f"untraced-{i}"
        timings, _ = run_job(spark, wl, tally, group=group,
                             phases=wl.phases[:1])
        i += 1
        if timings:
            untraced.append(timings["job_s"])
            sched = session.scheduler_counts(spark, group)
        elif i >= 4:
            raise RuntimeError("untraced jobs keep failing")
    metrics["spark.stages"] = sched["stages"]
    metrics["spark.tasks"] = sched["tasks"]
    metrics["spark.failed_tasks"] = sched["failed_tasks"]
    frame = wl.core_frame(spark)
    frame.collect()
    metrics["plan.exchanges"] = session.exchanges(frame)

    tracer = _spark_tracer(spark)
    t0 = time.perf_counter()
    replays = []
    while time.perf_counter() - t0 < seconds / 2 or len(replays) < 2:
        try:
            rep = core_replay(spark, wl, tracer, len(replays))
        except Exception:
            tally.raised(1)
            raise
        fams = wl.check_rows(rep["rows"])
        leaked = session.leaked_state(spark)
        fams.append(Family("state.leaked", 1, int(any(leaked.values())),
                           0.0))
        tally.record({"replay": fams})
        replays.append(rep)
    last = replays[-1]
    metrics["combine.s"] = _median(tracer.self_times("combine"))
    metrics["combine.state_rows"] = last["state_rows"]
    metrics["combine.state_bytes"] = last["state_bytes"]
    metrics["merge.s"] = _median(tracer.self_times("merge"))
    metrics["merge.groups"] = last["groups"]
    metrics["merge.fan_in"] = last["fan_in"]
    metrics["present.s"] = _median(tracer.self_times("present"))
    metrics["present.groups"] = len(last["rows"])

    try:
        tally.record({"checkpoint": checkpoint_replay(
            spark, wl, tracer, len(replays), work)})
    except Exception:
        tally.raised(1)
        raise
    for name in ("fingerprint", "build", "incremental", "serve"):
        metrics[f"checkpoint.{name}_s"] = _median(
            tracer.self_times(f"checkpoint.{name}"))
    metrics["output.write_s"] = _median(tracer.self_times("output.write"))
    # checkpoint_append's own job is the cold build_sketches run, which
    # the checkpoint replay replays; the others' is the core replay
    cycle = len(wl.phases) > 1
    traced_job = _median(tracer.durations("cycle.cold" if cycle else "job"))
    metrics["trace.overhead_s"] = traced_job - _median(untraced)

    metrics.update(scan_probe(spark, wl))
    metrics.update(kernel_probe(wl))
    metrics.update(serde_probe(last["states"]))
    native, native_absent = native_probe(spark, wl)
    metrics.update(native)
    absent.update(native_absent)
    metrics["inproc.tokens_per_s"] = wl.inproc_tokens_per_s()

    # scaling: the same job on local[1]; best of two, as the first run
    # on a new context pays Python worker start-up
    tps_n = wl.tokens / _median(untraced)
    spark = session.restart(spark, work, 1)
    one = []
    for _ in range(2):
        timings, _ = run_job(spark, wl, tally, phases=wl.phases[:1])
        if timings:
            one.append(timings["job_s"])
    if one:
        metrics["scaling.eff_1_to_4"] = tps_n / (cores * wl.tokens / min(one))
    else:
        metrics["scaling.eff_1_to_4"] = 0.0
        absent["scaling.eff_1_to_4"] = "the local[1] job failed"

    tracer.dump(spans_path)
    missing = sorted(set(UNITS) - set(metrics))
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    own, probe = (("checkpoint_replay", "core_replay") if cycle
                  else ("core_replay", "checkpoint_replay"))
    record = {"untraced_job_s": untraced, "absent": absent,
              "on_path": {own: "job", probe: "probe"}, "spans": spans_path,
              "local1_job_s": one}
    per_layer = {k: {"value": float(metrics[k]), "unit": UNITS[k]}
                 for k in UNITS}
    return spark, per_layer, record
