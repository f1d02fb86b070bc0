"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "tokens_per_sec": ...}

``tokens_per_sec`` is the BASELINE.json headline: one-pass MultiSketch
(HLL + CMS + KLL + t-digest + Bloom) build grouped by source over the
deterministic token table. The N-vs-4N scaling evidence lives in
scripts/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "hll_distinct_per_group",
    "cms_point_queries",
    "cms_heavy_hitters",
    "bloom_membership",
    "kll_quantiles",
    "tdigest_quantiles",
    "pricing_summary",
    "sum_by_key",
    "topk_per_nation",
    "running_sum",
    "dedup_exact",
    "text_stats",
    "simhash_near_dup",
    "embedding_topk",
    # round 2: string-key sketches + LSH recall
    "hll_string_distinct",
    "minhash_lsh_recall",
    # round 5: SketchMapHLL + general Scan.from
    "sketchmap_hll_distinct",
    "scan_state",
    # round 5 (late): exact inverted-index Jaccard dedup
    "ngram_jaccard_dedup",
    # round 5 continuation: repetition filter + sketch-routed skew join
    "text_repetition",
    "skew_join",
    # round 6: two-phase packing prefix sum, t-digest CDF normalization,
    # Bloom-pruned join (shuffle cut measured in BENCH/joins_rehearsal),
    # quantile-pruned exact top-k (Exchange cut in BENCH/topk_rehearsal)
    "pack_sequences",
    "cdf_normalize",
    "bloom_join",
    "topk_pruned",
    # round 7: the r6 "hll_rollup" headline conflated the one-scan
    # sketch rollup with its in-query exact count_distinct oracle
    # (VERDICT r6 #5); timed separately so the headline reflects the
    # production operator. Their sum ~= the old conflated number.
    "hll_rollup_sketch",
    "hll_rollup_exact",
]


def mem_probe_ms() -> float:
    """Bandwidth/allocation health probe: time to widen a 17 MB uint8
    array to int32 (69 MB of fresh pages). Healthy box: ~15-60 ms.
    This VM's memory subsystem degrades by orders of magnitude under
    noisy-neighbor pressure (measured 5,600 ms for this same probe),
    which slows the allocation-heavy sketch kernels 3-6x while leaving
    JVM-side queries untouched — recording the probe alongside the
    timings makes a contaminated sample diagnosable instead of looking
    like an engine regression.

    Min-of-3 after one untimed warmup (round 5): the FIRST such
    allocation in a fresh process pays first-touch page faults that
    read 200-2,100 ms even on an otherwise healthy box (measured
    2148 -> 77 -> 20 ms within one process) — a single-shot probe
    therefore has a FALSE-POSITIVE band. Sustained noisy-neighbor
    pressure slows every repetition, so the min is still a faithful
    degradation signal."""
    import numpy as np
    a = np.random.randint(0, 255, size=(270_704, 64), dtype=np.uint8)
    a.astype(np.int32)  # untimed: absorb first-touch page faults
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        a.astype(np.int32)
        best = min(best, time.time() - t0)
    return round(best * 1000, 1)


HEALTHY_PROBE_MS = 100.0


def cpu_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat — sampled at run start
    and end so the record carries the HYPERVISOR PREEMPTION share
    during the measured window. This is the third degradation mode:
    CPU steal slows the 32-way parallel Python kernel queries while
    the (lighter-parallelism, cache-resident) control query and the
    single-threaded allocation probe both stay healthy — observed as
    clean-flagged records whose Python-heavy queries read 1.3-2x
    slow with flat pricing_summary. Diagnostic, not gating, until a
    healthy range is committed across rounds."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError, IndexError):
        return None
# Committed healthy WARM range for the stable-JVM control query
# (pricing_summary — pure JVM whole-stage-codegen aggregation, no
# Python workers), per SF, measured exclusive across rounds 3-5.
# The VM has two distinct degradation modes (BENCH/BASELINE.md):
#  * allocator/bandwidth pressure — the numpy mem probe catches it;
#  * "afternoon" whole-JVM slowdown (1.3-2.7x on even stable queries,
#    e.g. pricing_summary 0.27 -> 0.73 s warm at sf0.1) which leaves
#    the probe HEALTHY — only a known-stable control query catches it.
# Both BENCH_r03 and BENCH_r04 driver records shipped degraded-VM
# samples unflagged (VERDICT r4 "What's wrong" #1); gating on BOTH
# signals closes that false-negative band.
CONTROL_HEALTHY_WARM_S = {0.1: 0.55, 0.01: 0.35}


def contamination_flags(probe_start_ms: float, control_warm_s: float | None,
                        sf: float | str) -> dict:
    """Pure gate logic (unit-tested in tests/test_bench_gate.py):
    either degradation signal marks the record contaminated."""
    probe_degraded = probe_start_ms > HEALTHY_PROBE_MS
    limit = CONTROL_HEALTHY_WARM_S.get(sf)
    jvm_degraded = (None if limit is None or control_warm_s is None
                    else control_warm_s > limit)
    return {"probe_degraded": probe_degraded,
            "jvm_degraded": jvm_degraded,
            "contaminated": probe_degraded or bool(jvm_degraded)}


def main():
    probe_start = mem_probe_ms()
    jiffies_start = cpu_jiffies()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("algebird_spark_bench")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from algebird_spark import queries as Q
    qs = dict(entrymod.queries())
    # bench-only split of the hll_rollup catalog query (VERDICT r6 #5):
    # not catalog entries — the value-checked q_hll_rollup stays the
    # correctness surface; these isolate its two sides for timing.
    qs["hll_rollup_sketch"] = Q.q_hll_rollup_sketch
    qs["hll_rollup_exact"] = Q.q_hll_rollup_exact

    # absorb session/JIT warmup so the first timed query isn't penalized
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000) \
        .groupBy("l_returnflag").count().collect()

    times: dict[str, float] = {}
    cold: dict[str, float] = {}

    # --- token-table sketch-build throughput (BASELINE.json headline) ---
    # Measured FIRST, right after warmup: this VM's memory subsystem and
    # the Spark session both degrade over a long bench (measured 10.3 M
    # vs 2.7 M tok/s for the identical build at the start vs the end of
    # a run), and this is the BASELINE.json headline — it must estimate
    # engine capability, not the session's tail-state.
    from algebird_spark.agg import sketch_by_key
    from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter,
                                         MultiSketch, TDigest)
    from algebird_spark.sources.datagen import token_table

    rows = 60_000
    # materialize once to parquet: the columnar scan -> Arrow path beats a
    # row-based cache ~1.5x for the combine; 16 files caps stage
    # concurrency where this box's memory bus degrades (BENCH/scaling_curve.json)
    import os as _os
    tok_path = "/root/repo/.data/bench_tokens_60k"
    if not _os.path.exists(_os.path.join(tok_path, "_SUCCESS")):
        token_table(spark, rows=rows, n_sources=8, vocab=250_000,
                    median_n_tok=256, seed=42, partitions=16) \
            .write.mode("overwrite").parquet(tok_path)
    tok = spark.read.parquet(tok_path)
    n_tokens = tok.selectExpr("sum(n_tok)").collect()[0][0]

    def factory():
        return MultiSketch({
            "hll": HLL(p=14),
            "cms": CMS(eps=0.001, delta=1e-6, heavy_hitters_pct=0.001),
            "kll": KLL(k=200),
            "tdigest": TDigest(200),
            "bloom": BloomFilter(num_entries=300_000, fp_prob=0.01),
        })

    sketch_sec = float("inf")
    n_groups = 0
    for _ in range(3):  # best-of-3: noisy-neighbor VM
        t0 = time.time()
        states = sketch_by_key(tok, ["source"], "tokens", factory)
        n_groups = states.count()
        sketch_sec = min(sketch_sec, time.time() - t0)
    tokens_per_sec = int(n_tokens / sketch_sec)
    times["multisketch_by_source"] = round(sketch_sec, 3)
    print(f"# multisketch: {n_tokens} tokens, {n_groups} groups, "
          f"{sketch_sec:.1f}s -> {tokens_per_sec} tok/s", file=sys.stderr)


    # JMH-style steady-state timing, matching the reference's own
    # algebird-benchmark methodology and scripts/bench_scaling.py: the
    # first execution of a plan pays one-time whole-stage-codegen
    # compilation + C2 JIT (measured: simhash's 65-aggregate plan costs
    # ~9 s cold and ~2.8 s warm at sf0.1 — a fixed cost, irrelevant
    # against a 10^12-row production run). We report the steady-state
    # run as the headline and the cold run alongside for transparency.
    # Set SPARK_GRAFT_BENCH_WARMUP=0 for single-shot (cold) timing.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    for name in HEADLINE:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()  # materialize the whole plan
        cold[name] = round(time.time() - t0, 3)
        # drop blocks persisted inside operators (simhash/minhash
        # fingerprint tables): the steady-state run must recompute the
        # full plan — it may reuse JIT warmth, never a previous run's
        # cached data — and later queries must not run against an aging
        # block manager
        spark.catalog.clearCache()
        if warmup:
            # best-of-3 (cold + 2 warm): this noisy-neighbor VM shows
            # up to 10x swings between identical runs, different
            # queries each time (BENCH/BASELINE.md protocol note); min
            # over trials estimates capability, like the scaling
            # harness
            best = cold[name]
            for _ in range(2):
                t0 = time.time()
                n = qs[name](spark, sf_dir).count()
                best = min(best, time.time() - t0)
                spark.catalog.clearCache()
            times[name] = round(best, 3)
        else:
            times[name] = cold[name]
        print(f"# {name}: {times[name]}s best / {cold[name]}s cold"
              f" ({n} rows)", file=sys.stderr)

    total = round(sum(times.values()), 3)
    # end-of-run control (DIAGNOSTIC, not gating): a stable-JVM query
    # timed once more after the whole loop. A healthy start probe +
    # healthy in-loop control + degraded end control is the signature
    # of a MID-RUN degradation window (observed: a clean-flagged run
    # carried hll_distinct_per_group at 17 s — 5x — while every gate
    # read healthy; consecutive-record spreads are the tell).
    control_end = None
    ctrl = qs.get("pricing_summary")
    if ctrl is not None:
        t0 = time.time()
        ctrl(spark, sf_dir).count()
        control_end = round(time.time() - t0, 3)
    probe_end = mem_probe_ms()
    # Self-gating contamination flags (VERDICT r3 #4, hardened per
    # VERDICT r4 #1): a healthy box reads the numpy probe at ~25-60 ms;
    # under noisy-neighbor memory pressure it degrades 10-100x and the
    # allocation-heavy sketch kernels slow 3-6x while JVM queries stay
    # flat. Threshold 100 ms (was 150: the r4 driver record started at
    # 143 ms — 3-5x healthy — and slipped under the gate). Only the
    # START probe gates: the END reading is routinely self-degraded by
    # the bench's own Spark run and is reported for diagnosis only.
    # The control-query gate catches the second (probe-invisible)
    # degradation mode. Protocol: BENCH/BASELINE.md.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # --- stable-JVM control (gates the whole record) --------------------
    # pricing_summary's OWN best-of-3 steady time from the loop above is
    # the control: pure JVM whole-stage-codegen aggregation, measured
    # after full JIT warmup. An early-session dedicated control run was
    # tried first and read 1.49 s warm while the steady loop read
    # 0.33 s on the same JVM — C2 ramp-up, a false-positive band; the
    # steady number is the stable signal and costs zero extra runs.
    control_warm = times.get("pricing_summary")
    control_cold = cold.get("pricing_summary")
    flags = contamination_flags(probe_start, control_warm, sf_val)
    if flags["contaminated"]:
        print("# WARNING: degraded VM sample "
              f"(probe start {probe_start} ms, healthy ~25-60; control "
              f"warm {control_warm}s vs limit "
              f"{CONTROL_HEALTHY_WARM_S.get(sf_val)}s); record flagged "
              "contaminated=true — rerun exclusively before treating "
              "timings as a signal", file=sys.stderr)
    jiffies_end = cpu_jiffies()
    steal_pct = None
    if jiffies_start and jiffies_end:
        d_total = jiffies_end[0] - jiffies_start[0]
        if d_total > 0:
            steal_pct = round(
                100.0 * (jiffies_end[1] - jiffies_start[1]) / d_total, 2)
    print(json.dumps({
        "mem_probe_ms": {"start": probe_start, "end": probe_end},
        "steal_pct": steal_pct,
        "control_s": {"query": "pricing_summary", "cold": control_cold,
                      "warm": control_warm, "end_warm": control_end,
                      "healthy_warm_limit": CONTROL_HEALTHY_WARM_S.get(sf_val)},
        **flags,
        "metric": "headline queries total + one-pass multisketch build",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "tokens_per_sec": tokens_per_sec,
        "token_rows": rows,
        "cpus": cpus,
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
