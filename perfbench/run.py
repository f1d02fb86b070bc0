"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Runs from the repository root. One client runs one job at a time
(a closed loop) on ``local[nproc]``. The input is generated from the
seed. Every job's estimates are checked against exact answers. The
last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of the traced run (perfbench/layers.py). A record
with host conditions, summaries and check results goes to
``.perfbench_out/`` in the checkout, along with the spans of a traced
run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2
# jobs per run at least; checkpoint_append's job is a three-build cycle
MIN_SAMPLES = 3
MIN_CYCLES = 1


class Tally:
    """Jobs attempted and failed, and every check family seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checked: dict[str, list[int]] = {}
        self.errors: list[str] = []

    def record(self, phase_families: dict) -> None:
        for fams in phase_families.values():
            self.attempted += 1
            bad = [f.name for f in fams if not f.ok]
            if bad:
                self.failed += 1
                self.errors.append("checks outside bound: " + ", ".join(
                    sorted(set(bad))))
            for f in fams:
                c = self.checked.setdefault(f.name, [0, 0])
                c[0] += f.checked
                c[1] += f.outside

    def raised(self, n_jobs: int) -> None:
        self.attempted += n_jobs
        self.failed += n_jobs
        self.errors.append(traceback.format_exc(limit=8))


def run_job(spark, wl, tally: Tally, group: str | None = None,
            phases: tuple | None = None):
    """One timed repetition plus its checks. Returns (timings, output),
    or (None, None) if the job raised."""
    from perfbench import session
    from perfbench.stats import Family
    if group:
        spark.sparkContext.setJobGroup(group, wl.name)
    try:
        timings, output = wl.timed(spark, phases)
        fams = wl.check(output)
        leaked = session.leaked_state(spark)
        fams[list(fams)[-1]].append(
            Family("state.leaked", 1, int(any(leaked.values())), 0.0))
        tally.record(fams)
        return timings, output
    except Exception:
        tally.raised(len(phases or wl.phases))
        return None, None
    finally:
        wl.reset()


def measure(spark, wl, seconds: float, tally: Tally) -> dict:
    """Closed loop for ``seconds``: the next job starts when the last
    one has finished. Returns the timing samples and peak memory."""
    from perfbench import host, session
    samples: dict[str, list[float]] = defaultdict(list)
    t0 = time.perf_counter()
    with host.PeakRss(session.jvm_pid(spark)) as rss:
        while True:
            elapsed = time.perf_counter() - t0
            n = len(samples["job_s"])
            need = MIN_CYCLES if len(wl.phases) > 1 else MIN_SAMPLES
            if elapsed >= seconds and n >= need:
                break
            if elapsed >= 3 * seconds and n:
                break
            timings, _ = run_job(spark, wl, tally)
            for k, v in (timings or {}).items():
                samples[k].append(v)
            if timings is None and not n and elapsed >= seconds:
                break
    return {"samples": dict(samples), "peak_rss_mb": rss.peak_mb}


UNITS = {"setup_s": "s", "job_s": "s", "tokens_per_s": "tokens/s",
         "append_s": "s", "resume_s": "s", "failed_ratio": "ratio",
         "peak_rss_mb": "MB"}
END_TO_END = ("job_s", "tokens_per_s", "setup_s", "peak_rss_mb")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import algebird_spark  # noqa: F401  the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import host, layers, session, workloads
    from perfbench.stats import summarize
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # Python workers import the package and this benchmark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    cores = host.nproc()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host_start": host.conditions()}
    tally = Tally()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.start(work, cores)
        session_s = time.perf_counter() - t0
        record["versions"] = host.versions(spark)
        wl = workloads.make(args.workload, work, args.seed, cores)
        # set up several times: each set-up generates the input, computes
        # the exact answers and runs one warmup job (the cold build on
        # checkpoint_append), checked like any other; the median is
        # reported, and the timed jobs start warm
        rep_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark)
            run_job(spark, wl, tally, phases=wl.phases[:1])
            rep_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(rep_s)
        record["setup"] = {"session_s": session_s, "reps_s": rep_s,
                           "setup_s": setup_s, "tokens": wl.tokens}
        record["input_fingerprint"] = workloads.content_fingerprint(
            wl.input_files())

        if args.trace:
            spark, per_layer, trace_rec = layers.traced(
                spark, wl, args.seconds, tally, work, cores,
                os.path.join(out_dir, f"spans-{tag}.json"))
            record["trace"] = trace_rec
            metrics = per_layer
        else:
            m = measure(spark, wl, args.seconds, tally)
            summaries = {k: dict(summarize(v), samples=v)
                         for k, v in m["samples"].items()}
            record["summaries"] = summaries
            if "job_s" not in summaries:
                raise RuntimeError("no job completed")
            job_s = summaries["job_s"]["median"]
            values = {"setup_s": setup_s, "job_s": job_s,
                      "tokens_per_s": wl.tokens / job_s,
                      "peak_rss_mb": m["peak_rss_mb"]}
            metrics = {k: {"value": values[k], "unit": UNITS[k]}
                       for k in END_TO_END}
            shown = dict(metrics)
            for k in ("append_s", "resume_s"):
                if k in summaries:
                    shown[k] = {"value": summaries[k]["median"],
                                "unit": UNITS[k]}
            shown["failed_ratio"] = {
                "value": tally.failed / max(tally.attempted, 1),
                "unit": UNITS["failed_ratio"]}
            print("# metrics " + json.dumps(
                {k: dict(v, n=summaries.get(k, {}).get("n"))
                 for k, v in shown.items()}))
        record["metrics"] = metrics
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            record["killed_pids"] = session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        record["host_end"] = host.conditions()
        record["steal_pct_run"] = host.steal_pct(
            record["host_start"]["jiffies"], record["host_end"]["jiffies"])
        record["checks"] = tally.checked
        record["errors"] = tally.errors[:5]
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        print("# host " + json.dumps(
            {"start": record["host_start"], "end": record["host_end"],
             "steal_pct_run": record["steal_pct_run"],
             "versions": record.get("versions")}))

    for e in tally.errors[:3]:
        print(e, file=sys.stderr)
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
