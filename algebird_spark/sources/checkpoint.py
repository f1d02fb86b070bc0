"""Checkpointed sketch builds with lineage + metrics (north_rule:
"checkpointed per-partition sketch state with lineage + metrics for
resumability").

Layout under ``checkpoint_dir``:
  states/            parquet of (keys..., sketch_state, n_values)
  manifest.json      lineage: input path + fingerprint, sketch params,
                     stage, metrics (rows, values, wall seconds), UTC ts

``build_or_resume`` recomputes only when the manifest is missing or the
input fingerprint changed; otherwise it serves the persisted states —
a restarted job (driver OOM, preemption) resumes at the merge stage
instead of rescanning the input.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..agg import COUNT_COL, SketchFactory, merge_sketches, sketch_partitions

MANIFEST = "manifest.json"


def input_fingerprint(df: DataFrame, snapshot_id: str | int | None = None
                      ) -> dict:
    """Input identity. Preferred path: a table-format snapshot id
    (Iceberg ``snapshot_id`` / Delta ``version``) supplied by the
    caller — O(1), no file walk, no ``df.count()`` scan, and exactly
    the invalidation granularity the table commit protocol guarantees.
    Fallback: schema + row count + a content signal (source file list
    with sizes/mtimes), so a rewrite that preserves the row count —
    replaced partitions, updated values — still invalidates the
    checkpoint."""
    if snapshot_id is not None:
        return {"schema": df.schema.simpleString(),
                "snapshot_id": str(snapshot_id)}
    files = []
    try:
        for p in sorted(df.inputFiles()):
            local = p[len("file:"):] if p.startswith("file:") else p
            try:
                st = os.stat(local)
                files.append([p, int(st.st_size), int(st.st_mtime)])
            except OSError:  # remote FS: path alone still contributes
                files.append([p, -1, -1])
    except Exception:  # non-file-based source (e.g. in-memory view)
        pass
    return {"schema": df.schema.simpleString(), "rows": df.count(),
            "files": files}


def _describe_factory(factory: SketchFactory) -> dict:
    probe = factory()
    return {"kind": type(probe).__name__, "params": probe._params()}


def _incremental_files(manifest: dict, fp: dict) -> list[str] | None:
    """If the input grew APPEND-ONLY since the checkpoint (every old
    file unchanged, >= 1 new file), return the new file paths; else
    None. This is the snapshot-diff a table format provides natively
    (Iceberg incremental scan between snapshot ids) — here derived from
    the file-level fingerprint."""
    old = {tuple(f[:1])[0]: f for f in manifest.get(
        "input_fingerprint", {}).get("files", [])}
    new = {f[0]: f for f in fp.get("files", [])}
    if not old or not new:
        return None  # snapshot-id fingerprints carry no file diff:
        # with a real Iceberg catalog this is where an incremental scan
        # between the two snapshot ids would produce the delta.
    if manifest["input_fingerprint"].get("schema") != fp.get("schema"):
        return None
    if not set(old) < set(new):
        return None
    if any(old[p] != new[p] for p in old):  # old file rewritten
        return None
    return sorted(set(new) - set(old))


def build_or_resume(spark: SparkSession, df: DataFrame, keys: Sequence[str],
                    value_col: str, factory: SketchFactory,
                    checkpoint_dir: str,
                    premerge: int | None = None,
                    job_id: str = "sketch_job",
                    snapshot_id: str | int | None = None) -> DataFrame:
    """Per-key sketch states with a persisted partition-state checkpoint.

    Resume ladder:
      1. unchanged input -> serve persisted states (merge only);
      2. APPEND-ONLY growth -> sketch ONLY the new files into a staging
         state dir named by the hash of the new-file set, then commit
         by atomically rewriting the manifest to list it (incremental
         maintenance — the mergeable-monoid property is exactly what
         makes a sketch over yesterday's 10^12 rows reusable when today
         adds 10^9);
      3. anything else (rewrite, schema change, different params) ->
         full rebuild.

    Crash-idempotency: a delta is never appended into ``states/``.
    It lands in ``states_inc_<hash(new files)>`` with mode=overwrite,
    and only a subsequent atomic manifest replace makes it visible.
    A driver that dies between the staging write and the manifest
    update recomputes the SAME file diff on retry, targets the SAME
    staging dir, and overwrites it — no double-counting.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    man_path = os.path.join(checkpoint_dir, MANIFEST)
    states_path = os.path.join(checkpoint_dir, "states")
    fp = input_fingerprint(df, snapshot_id=snapshot_id)
    desc = _describe_factory(factory)

    def _state_paths(man: dict) -> list[str]:
        return [os.path.join(checkpoint_dir, d)
                for d in man.get("state_dirs", ["states"])]

    incr_files: list[str] | None = None
    manifest: dict = {}
    if os.path.exists(man_path):
        with open(man_path) as f:
            manifest = json.load(f)
        compatible = (manifest.get("sketch") == desc
                      and manifest.get("keys") == list(keys)
                      and manifest.get("value_col") == value_col
                      and all(os.path.exists(os.path.join(p, "_SUCCESS"))
                              for p in _state_paths(manifest)))
        if compatible and manifest.get("input_fingerprint") == fp:
            states = spark.read.parquet(*_state_paths(manifest))
            return merge_sketches(states, keys, premerge=premerge)
        if compatible:
            incr_files = _incremental_files(manifest, fp)

    t0 = time.time()
    if incr_files:
        token = hashlib.sha1(
            "\n".join(incr_files).encode()).hexdigest()[:16]
        staging = f"states_inc_{token}"
        delta = spark.read.schema(df.schema).parquet(*incr_files)
        new_states = sketch_partitions(delta, value_col, factory, keys)
        # overwrite (not append): a retried crash re-derives the same
        # token and replaces its own partial output.
        new_states.write.mode("overwrite").parquet(
            os.path.join(checkpoint_dir, staging))
        state_dirs = manifest.get("state_dirs", ["states"]) + [staging]
        stage = f"incremental_append({len(incr_files)} files)"
    else:
        partition_states = sketch_partitions(df, value_col, factory, keys)
        partition_states.write.mode("overwrite").parquet(states_path)
        # full rebuild orphans any prior incremental dirs — drop them.
        for d in os.listdir(checkpoint_dir):
            if d.startswith("states_inc_"):
                shutil.rmtree(os.path.join(checkpoint_dir, d),
                              ignore_errors=True)
        state_dirs = ["states"]
        stage = "partition_states"
    state_paths = [os.path.join(checkpoint_dir, d) for d in state_dirs]
    states = spark.read.parquet(*state_paths)
    n_states = states.count()
    n_values = states.agg({COUNT_COL: "sum"}).collect()[0][0]
    manifest = {
        "job_id": job_id,
        "stage": stage,
        "state_dirs": state_dirs,
        "keys": list(keys),
        "value_col": value_col,
        "sketch": desc,
        "input_fingerprint": fp,
        "metrics": {
            "partition_states": int(n_states),
            "values_processed": int(n_values or 0),
            "build_seconds": round(time.time() - t0, 3),
        },
        "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "lineage": {
            "engine": "algebird_spark",
            "topology": "mapInArrow partition-combine -> parquet checkpoint"
                        " -> sorted merge",
        },
    }
    # Atomic commit: the manifest is the only pointer readers follow, so
    # a replace() makes the new state set visible all-or-nothing.
    tmp_path = man_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp_path, man_path)
    return merge_sketches(states, keys, premerge=premerge)


def rollup_or_resume(spark: SparkSession, df: DataFrame,
                     keys: Sequence[str], value_col: str,
                     factory: SketchFactory, checkpoint_dir: str,
                     grouping: str = "rollup",
                     sets: Sequence[Sequence[str]] | None = None,
                     premerge: int | None = None,
                     job_id: str = "rollup_job",
                     snapshot_id: str | int | None = None) -> DataFrame:
    """Incrementally-maintained ROLLUP/CUBE: the finest-grain states
    live in the checkpoint (``build_or_resume`` resume ladder — serve /
    append-only incremental / full rebuild), and EVERY grouping level
    re-derives from those states by merging (``agg.rollup_levels``).

    This is the warehouse cube-maintenance loop: when today's partition
    lands, only the new files are sketched (monoid append); the whole
    cube — all rollup levels — refreshes from the KB-scale state table
    without rescanning any historical rows. Returns the
    ``sketch_rollup`` schema: ``keys..., grouping_id, sketch_state,
    n_values``."""
    from ..agg import rollup_levels
    fine = build_or_resume(spark, df, keys, value_col, factory,
                           checkpoint_dir, premerge=premerge, job_id=job_id,
                           snapshot_id=snapshot_id)
    return rollup_levels(fine, keys, factory, grouping=grouping, sets=sets)
