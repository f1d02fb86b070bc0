"""The three workloads: inputs generated from the seed, exact answers,
the timed job, and the checks on the job's output.

Every input is the token table of ``sources.datagen.token_table``
(``doc_id, tokens, n_tok, source``), written as parquet with a fixed
file count. The session opens one scan partition per file, so the file
count sets each workload's scan layout.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import os
import shutil
import time
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .stats import (Family, KeyHist, check_bloom, check_cms,
                    check_heavy_hitters, check_hll, check_quantiles)

VOCAB = 250_000
N_SOURCES = 8
PS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
TOP_TOKENS = 10       # exact top tokens per key, queried from the CMS
SAMPLE_TOKENS = 100   # sampled present tokens per key, for CMS and Bloom
HELD_OUT = 2_000      # token ids >= VOCAB never occur in the table

def w1_factory():
    from algebird_spark.sketches import (CMS, HLL, KLL, BloomFilter,
                                         MultiSketch, TDigest)
    return MultiSketch({
        "hll": HLL(p=14),
        "cms": CMS(eps=0.001, delta=1e-6, heavy_hitters_pct=0.001),
        "kll": KLL(k=200),
        "tdigest": TDigest(200),
        "bloom": BloomFilter(num_entries=300_000, fp_prob=0.01),
    })


def w2_factory():
    from algebird_spark.sketches import HLL
    return HLL(p=W2_HLL_P)


# build_sketches' default sketch list and parameters, for the
# in-process reference of checkpoint_append (the job itself takes them
# from its own argument defaults)
BUILD_SKETCHES_DEFAULTS = argparse.Namespace(
    hll_bits=14, cms_eps=0.001, cms_delta=1e-6, hh_pct=0.001, kll_k=200,
    tdigest_compression=200.0, bloom_entries=1_000_000, bloom_fpp=0.01,
    qtree_k=10)


def w3_factory():
    from algebird_spark.jobs.build_sketches import make_factory
    return make_factory(["hll", "cms", "kll", "tdigest", "bloom"],
                        BUILD_SKETCHES_DEFAULTS)()


# ---------------------------------------------------------------------------
# presenters (run on the workers inside with_presented)
# ---------------------------------------------------------------------------

def present_multi(sk, queries: np.ndarray) -> dict:
    """Everything the checks need from a five-sketch MultiSketch: the
    HLL estimate, CMS counts and Bloom membership of the query tokens,
    heavy hitters, quantiles with their bounds, and Bloom hits on
    held-out token ids."""
    hll, cms, bloom = sk["hll"], sk["cms"], sk["bloom"]
    kll, td = sk["kll"], sk["tdigest"]
    held_out = np.arange(VOCAB, VOCAB + HELD_OUT, dtype=np.int32)
    hits = bloom.contains_batch(queries)
    d = {
        "hll": float(hll.estimate()), "hll_m": hll.m,
        "cms_total": int(cms.total), "cms_eps": cms.eps,
        "cms_delta": cms.delta, "cms_pct": cms.hh_pct,
        "cms_q": [int(x) for x in cms.frequencies(queries)],
        "cms_hh": [[int(k), int(v)] for k, v in cms.heavy_hitters().items()],
        "kll_eps": kll.eps,
        "kll_q": [kll.quantile(p) for p in PS],
        "kll_b": [list(kll.quantile_bounds(p)) for p in PS],
        "td_q": [td.quantile(p) for p in PS],
        "td_b": [list(td.quantile_bounds(p)) for p in PS],
        "bloom_hit": "".join("1" if h else "0" for h in hits),
        "bloom_fp": int(bloom.contains_batch(held_out).sum()),
        "bloom_fpp": bloom.fp_prob,
    }
    return {"presented": json.dumps(d)}


def present_hll(sk) -> dict:
    return {"estimate": float(sk.estimate())}


def check_multi(d: dict, hist: KeyHist, n_values: int,
                queries: np.ndarray) -> list[Family]:
    exact_q = hist.counts_of(queries)
    present = exact_q > 0
    hits = np.frombuffer(d["bloom_hit"].encode(), dtype=np.uint8) == ord("1")
    return (check_hll([d["hll"]], [hist.distinct], d["hll_m"])
            + check_cms(d["cms_q"], exact_q, d["cms_eps"], hist.n,
                        d["cms_delta"])
            + check_heavy_hitters(dict(d["cms_hh"]), hist, d["cms_pct"],
                                  d["cms_eps"], d["cms_delta"])
            + check_quantiles("kll", PS, d["kll_q"], d["kll_b"], hist,
                              d["kll_eps"])
            + check_quantiles("tdigest", PS, d["td_q"], d["td_b"], hist,
                              None)
            + check_bloom(int(np.sum(present & ~hits)), int(present.sum()),
                          d["bloom_fp"], HELD_OUT, d["bloom_fpp"])
            + [Family("n_values", 1, int(n_values != hist.n), 0.0),
               Family("cms.total", 1, int(d["cms_total"] != hist.n), 0.0)])


def keys_match(got, want) -> Family:
    return Family("keys", 1, int(set(got) != set(want)), 0.0)


# ---------------------------------------------------------------------------
# exact answers (exact Spark aggregates over the generated table)
# ---------------------------------------------------------------------------

def exact_hists(spark, paths: list[str], key: str) -> dict:
    from pyspark.sql import functions as F
    tbl = (spark.read.parquet(*paths)
           .select(key, F.explode("tokens").alias("t"))
           .groupBy(key, "t").count().toArrow())
    keys = tbl.column(key).to_pandas().to_numpy()
    vals = tbl.column("t").to_numpy()
    cnts = tbl.column("count").to_numpy()
    order = np.argsort(keys, kind="stable")
    keys, vals, cnts = keys[order], vals[order], cnts[order]
    uniq, starts = np.unique(keys, return_index=True)
    ends = list(starts[1:]) + [len(keys)]
    return {k: KeyHist(vals[a:b], cnts[a:b])
            for k, a, b in zip(uniq.tolist(), starts, ends)}


def query_tokens(hists: list[dict], seed: int) -> np.ndarray:
    """Each key's exact top tokens plus a seeded sample of its present
    tokens, over every histogram given."""
    rng = np.random.default_rng(seed)
    parts = []
    for hs in hists:
        for k in sorted(hs):
            h = hs[k]
            parts.append(h.values[np.argsort(-h.counts,
                                             kind="stable")[:TOP_TOKENS]])
            parts.append(rng.choice(h.values, min(SAMPLE_TOKENS, h.distinct),
                                    replace=False))
    return np.unique(np.concatenate(parts)).astype(np.int32)


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def _write_token_table(spark, path: str, rows: int, files: int,
                       median_n_tok: int, seed: int,
                       derive: Callable | None = None) -> None:
    from algebird_spark.sources.datagen import token_table
    df = token_table(spark, rows=rows, n_sources=N_SOURCES, vocab=VOCAB,
                     median_n_tok=median_n_tok, seed=seed, partitions=files)
    if derive is not None:
        df = derive(df)
    df.write.mode("overwrite").parquet(path)
    written = parquet_files(path)
    if len(written) != files:
        raise RuntimeError(f"expected {files} parquet files in {path}, "
                           f"found {len(written)}")


def content_fingerprint(paths: list[str]) -> str:
    """sha256 of the generated rows, independent of file names, times and
    row order: the same seed must give the same value."""
    import hashlib
    tbl = _read_local(paths, None).replace_schema_metadata(None)
    tbl = tbl.sort_by("doc_id").combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as writer:
        writer.write_table(tbl)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _read_local(paths: list[str], columns: list[str] | None) -> pa.Table:
    return pa.concat_tables(pq.read_table(p, columns=columns) for p in paths)


def group_values(tbl: pa.Table, key: str, value_col: str):
    """(key, values) per group key of an Arrow table, in one process."""
    import pandas as pd
    col = tbl.column(value_col).combine_chunks()
    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    values = col.flatten().to_numpy(zero_copy_only=False)
    codes, uniques = pd.factorize(tbl.column(key).to_pandas())
    elem = np.repeat(codes, lengths)
    order = np.argsort(elem, kind="stable")
    bounds = np.searchsorted(elem[order], np.arange(len(uniques) + 1))
    sorted_vals = values[order]
    return [(uniques[i], sorted_vals[bounds[i]:bounds[i + 1]])
            for i in range(len(uniques))]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    key = "source"
    factory: Callable = staticmethod(w1_factory)
    phases = ("job",)

    def __init__(self, work_dir: str, seed: int, cores: int):
        self.work_dir = work_dir
        self.seed = seed
        self.cores = cores
        self.input_dir = ""
        self.tokens = 0
        self._rep = 0

    # set-up ---------------------------------------------------------------
    def setup(self, spark) -> None:
        """Generate the input from the seed into a fresh directory and
        compute the exact answers."""
        prev = self.input_dir
        self.input_dir = os.path.join(self.work_dir, f"input{self._rep}")
        self._rep += 1
        self.generate(spark)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        self.exact(spark)

    def generate(self, spark) -> None:
        raise NotImplementedError

    def exact(self, spark) -> None:
        raise NotImplementedError

    def input_files(self) -> list[str]:
        return parquet_files(self.input_dir)

    # the job ---------------------------------------------------------------
    def core_frame(self, spark):
        """sketch_by_key -> with_presented over the input."""
        from algebird_spark import agg
        df = spark.read.parquet(self.input_dir)
        states = agg.sketch_by_key(df, [self.key], "tokens", self.factory)
        return agg.with_presented(states, self.presenter(), self.out_ddl())

    def presenter(self):
        return functools.partial(present_multi, queries=self.queries)

    def out_ddl(self) -> str:
        return "presented string"

    def timed(self, spark, phases=None) -> tuple[dict, object]:
        t0 = time.perf_counter()
        out = self.core_frame(spark)
        rows = out.collect()
        return {"job_s": time.perf_counter() - t0}, (out, rows)

    def check(self, output) -> dict[str, list[Family]]:
        _, rows = output
        return {"job": self.check_rows(rows)}

    def check_rows(self, rows) -> list[Family]:
        fams = [keys_match([r[self.key] for r in rows], self.hists)]
        for r in rows:
            hist = self.hists.get(r[self.key])
            if hist is not None:
                fams += check_multi(json.loads(r["presented"]), hist,
                                    r["n_values"], self.queries)
        return fams

    def reset(self) -> None:
        """Undo whatever a repetition left on disk."""

    def append_file(self) -> tuple[str, str]:
        """(source, destination) of the file the checkpoint probe adds
        to the input directory."""
        src = self.input_files()[0]
        return src, os.path.join(self.input_dir,
                                 "part-99999-probe.snappy.parquet")

    def inproc_tokens_per_s(self) -> float:
        """The same job in one Python process, without Spark."""
        tbl = _read_local(self.input_files(), [self.key, "tokens"])
        n = 0
        present = self.presenter()
        t0 = time.perf_counter()
        for _, vals in group_values(tbl, self.key, "tokens"):
            sk = self.factory()
            sk.update_batch(vals)
            present(sk)
            n += len(vals)
        return n / (time.perf_counter() - t0)


class SourceMultisketch(Workload):
    """One keyed MultiSketch build over tokens, grouped by the 8
    Zipf(1.2)-skewed sources. Fewer files than cores, so the combine's
    raw-row repartition runs; few keys carry large states, so the
    update_batch kernels and the scan dominate."""
    name = "source_multisketch"
    ROWS = 10_000
    FILES = 2
    MEDIAN_NTOK = 256

    def generate(self, spark) -> None:
        _write_token_table(spark, self.input_dir, self.ROWS, self.FILES,
                           self.MEDIAN_NTOK, self.seed)

    def exact(self, spark) -> None:
        self.hists = exact_hists(spark, [self.input_dir], self.key)
        self.tokens = sum(h.n for h in self.hists.values())
        self.queries = query_tokens([self.hists], self.seed)


W2_HLL_P = 12


class BucketHllManyKeys(Workload):
    """One keyed HLL build grouped by a bucket key with 1,024 values,
    derived from the row id inside doc_id. Each file holds a
    contiguous row-id range of at least KEYS rows, so every key appears
    in every file, and each key's slice of a partition is a few hundred
    tokens: the HLLs stay sparse in the combine and turn dense in the
    merge, and per-key work dominates. Several files per core, so the
    combine's repartition is skipped."""
    name = "bucket_hll_many_keys"
    key = "bucket"
    factory = staticmethod(w2_factory)
    KEYS = 1024
    FILES_PER_CORE = 2
    ROWS_PER_KEY_PER_FILE = 4
    MEDIAN_NTOK = 64

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F
        files = self.FILES_PER_CORE * self.cores
        rows = files * self.KEYS * self.ROWS_PER_KEY_PER_FILE

        def derive(df):
            row_id = F.substring("doc_id", -12, 12).cast("long")
            return df.withColumn("bucket", (row_id % self.KEYS).cast("int"))
        _write_token_table(spark, self.input_dir, rows, files,
                           self.MEDIAN_NTOK, self.seed, derive)

    def exact(self, spark) -> None:
        from pyspark.sql import functions as F
        tbl = (spark.read.parquet(self.input_dir)
               .select("bucket", F.explode("tokens").alias("t"))
               .groupBy("bucket")
               .agg(F.countDistinct("t").alias("d"), F.count("t").alias("n"))
               .toArrow())
        self.distinct = dict(zip(tbl.column("bucket").to_pylist(),
                                 tbl.column("d").to_pylist()))
        self.counts = dict(zip(tbl.column("bucket").to_pylist(),
                               tbl.column("n").to_pylist()))
        if len(self.distinct) != self.KEYS:
            raise RuntimeError(f"{len(self.distinct)} buckets generated, "
                               f"expected {self.KEYS}")
        self.tokens = sum(self.counts.values())

    def presenter(self):
        return present_hll

    def out_ddl(self) -> str:
        return "estimate double"

    def check_rows(self, rows) -> list[Family]:
        keys = [r["bucket"] for r in rows]
        return (check_hll([r["estimate"] for r in rows],
                          [self.distinct.get(k, 0) for k in keys],
                          1 << W2_HLL_P)
                + [keys_match(keys, self.distinct),
                   Family("n_values", len(rows),
                          sum(r["n_values"] != self.counts.get(r["bucket"])
                              for r in rows), 0.0)])


class CheckpointAppend(Workload):
    """build_sketches with --checkpoint and --output, three times: a
    cold build into a fresh checkpoint, a build after one new file with
    a disjoint row-id range lands (the incremental append path), and a
    rerun on unchanged input (served from the checkpoint, merge only)."""
    name = "checkpoint_append"
    factory = staticmethod(w3_factory)
    phases = ("cold", "append", "resume")
    BASE_FILES = 4
    ROWS_PER_FILE = 1_200
    MEDIAN_NTOK = 256

    def generate(self, spark) -> None:
        # one token_table over BASE_FILES + 1 contiguous row-id ranges;
        # the last range is held back as the file that lands later
        staged = self.input_dir + "_all"
        _write_token_table(spark, staged, self.ROWS_PER_FILE
                           * (self.BASE_FILES + 1), self.BASE_FILES + 1,
                           self.MEDIAN_NTOK, self.seed)
        files = parquet_files(staged)
        os.makedirs(self.input_dir)
        for f in files[:-1]:
            os.replace(f, os.path.join(self.input_dir, os.path.basename(f)))
        self.new_file = os.path.join(self.input_dir + "_new",
                                     os.path.basename(files[-1]))
        os.makedirs(os.path.dirname(self.new_file))
        os.replace(files[-1], self.new_file)
        shutil.rmtree(staged)

    def setup(self, spark) -> None:
        prev = self.input_dir
        super().setup(spark)
        if prev:
            shutil.rmtree(prev + "_new", ignore_errors=True)

    def exact(self, spark) -> None:
        self.hists = exact_hists(spark, [self.input_dir], self.key)
        self.hists_after = exact_hists(
            spark, [self.input_dir, self.new_file], self.key)
        self.tokens = sum(h.n for h in self.hists.values())
        self.queries = query_tokens([self.hists, self.hists_after],
                                    self.seed)

    def append_file(self) -> tuple[str, str]:
        return self.new_file, os.path.join(
            self.input_dir, "part-99999-" + os.path.basename(self.new_file))

    def _run_dirs(self) -> tuple[str, dict]:
        ck = os.path.join(self.work_dir, "checkpoint")
        outs = {p: os.path.join(self.work_dir, "out_" + p)
                for p in self.phases}
        return ck, outs

    def timed(self, spark, phases=None) -> tuple[dict, object]:
        """The cycle, or its first ``phases`` only (the warmup runs the
        cold build alone)."""
        from algebird_spark.jobs.build_sketches import main
        from algebird_spark.sources.checkpoint import MANIFEST
        ck, outs = self._run_dirs()
        man = os.path.join(ck, MANIFEST)

        def build(phase: str) -> float:
            t0 = time.perf_counter()
            main(["--input", self.input_dir, "--keys", self.key,
                  "--checkpoint", ck, "--output", outs[phase]], spark=spark)
            return time.perf_counter() - t0

        def snapshot() -> tuple[bytes, int]:
            with open(man, "rb") as f:
                return f.read(), os.stat(man).st_mtime_ns

        phases = phases or self.phases
        out = {"outs": outs}
        t = {"job_s": build("cold")}
        if "append" in phases:
            src, dst = self.append_file()
            shutil.copy2(src, dst)
            t["append_s"] = build("append")
            out["after_append"] = snapshot()
        if "resume" in phases:
            t["resume_s"] = build("resume")
            out["after_resume"] = snapshot()
        return t, out

    def check(self, output) -> dict[str, list[Family]]:
        outs = output["outs"]
        fams = {"cold": self.check_output(outs["cold"], self.hists)}
        if "after_append" in output:
            stage = json.loads(output["after_append"][0])["stage"]
            fams["append"] = (
                self.check_output(outs["append"], self.hists_after)
                + [Family("checkpoint.append_stage", 1,
                          int(stage != "incremental_append(1 files)"), 0.0)])
        if "after_resume" in output:
            served = output["after_append"] == output["after_resume"]
            fams["resume"] = (
                self.check_output(outs["resume"], self.hists_after)
                + [Family("checkpoint.served", 1, int(not served), 0.0)])
        return fams

    def check_output(self, out_dir: str, hists: dict) -> list[Family]:
        """Decode the written states and run the checks on them; the
        written estimates must match the states."""
        from algebird_spark.sketches import from_bytes
        states = pq.read_table(os.path.join(out_dir, "states"))
        estimates = {}
        for path in glob.glob(os.path.join(out_dir, "estimates",
                                           "part-*.json")):
            with open(path) as f:
                for line in f:
                    row = json.loads(line)
                    estimates[row[self.key]] = json.loads(row["presented"])
        keys = states.column(self.key).to_pylist()
        fams = [keys_match(keys, hists), keys_match(estimates, hists)]
        for k, blob, n in zip(keys, states.column("sketch_state").to_pylist(),
                              states.column("n_values").to_pylist()):
            sk = from_bytes(blob)
            d = json.loads(present_multi(sk, self.queries)["presented"])
            fams += check_multi(d, hists[k], n, self.queries)
            written = estimates.get(k, {}).get("hll")
            fams.append(Family("estimates_match", 1,
                               int(written != d["hll"]), 0.0))
        return fams

    def reset(self) -> None:
        ck, outs = self._run_dirs()
        for d in [ck, *outs.values()]:
            shutil.rmtree(d, ignore_errors=True)
        _, dst = self.append_file()
        if os.path.exists(dst):
            os.remove(dst)


WORKLOADS = {w.name: w for w in (SourceMultisketch, BucketHllManyKeys,
                                 CheckpointAppend)}


def make(name: str, work_dir: str, seed: int, cores: int) -> Workload:
    return WORKLOADS[name](work_dir, seed, cores)
