"""Tests of the benchmark's own helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

import math
import os
import statistics

import numpy as np
import pytest

from perfbench.spans import Tracer
from perfbench.stats import (Family, KeyHist, binomial_allowance,
                             check_bloom, check_cms, check_heavy_hitters,
                             check_hll, check_quantiles, quartile_spread,
                             summarize)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("job", trace=7) as job:
        clock.t = 1.0
        with tr.span("combine"):
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("merge") as merge:
            clock.t = 6.0
            with tr.span("decode"):
                clock.t = 6.5
            clock.t = 7.0
        clock.t = 10.0
    assert tr.self_time(job["id"]) == pytest.approx(10.0 - 3.0 - 2.0)
    assert tr.self_time(merge["id"]) == pytest.approx(2.0 - 0.5)
    assert tr.durations("combine") == [3.0]
    assert merge["parent"] == job["id"]
    assert all(s["trace"] == 7 for s in tr.spans)


def test_self_time_counts_overlapping_children_once():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "p", "parent": None, "trace": 0,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "trace": 0,
         "start": 1.0, "end": 5.0},
        {"id": 2, "name": "b", "parent": 0, "trace": 0,
         "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 0, "trace": 0,
         "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    assert tr.self_time(0) == pytest.approx(10.0 - 5.0 - 1.0)


def test_span_closes_on_exception():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("x"):
            raise ValueError
    assert tr.spans[0]["end"] is not None
    with tr.span("y") as y:
        pass
    assert y["parent"] is None


def test_summary_reports_median_and_count():
    s = summarize([3.0, 1.0, 2.0, 10.0])
    assert s == {"median": 2.5, "n": 4, "min": 1.0, "max": 10.0}
    with pytest.raises(ValueError):
        summarize([])


def test_quartile_spread_matches_statistics():
    vals = [1.0, 2.0, 2.0, 3.0, 4.0, 4.0, 5.0, 7.0, 8.0, 9.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx(
        (q3 - q1) / statistics.median(vals))


def test_binomial_allowance():
    assert binomial_allowance(100, 0.0) == 0
    assert binomial_allowance(0, 0.5) == 0
    # P(X > 0) = 1 - (1 - 1e-9)^10 ~ 1e-8 <= 1e-6
    assert binomial_allowance(10, 1e-9) == 0
    # n=8, p=0.0028: P(X > 2) ~ 1.2e-6 > 1e-6, P(X > 3) ~ 4e-9
    assert binomial_allowance(8, 0.0028) == 3
    a = binomial_allowance(2048, 0.0028)
    tail = 1.0 - sum(math.comb(2048, k) * 0.0028 ** k * 0.9972 ** (2048 - k)
                     for k in range(a + 1))
    assert tail <= 1e-6
    assert a > 2048 * 0.0028


def test_family_ok_uses_allowance():
    assert Family("x", 10, 0, 0.0).ok
    assert not Family("x", 10, 1, 0.0).ok
    assert Family("x", 2048, 10, 0.0028).ok
    assert not Family("x", 2048, 100, 0.0028).ok


def test_key_hist_counts_and_quantiles():
    h = KeyHist(np.array([5, 1, 3]), np.array([2, 1, 7]))
    assert h.n == 10 and h.distinct == 3
    assert list(h.counts_of(np.array([1, 2, 3, 5, 9]))) == [1, 0, 7, 2, 0]
    assert h.quantile(0.0) == 1
    assert h.quantile(0.1) == 1   # cum 1 >= 1
    assert h.quantile(0.11) == 3
    assert h.quantile(0.8) == 3   # cum 8 >= 8
    assert h.quantile(0.81) == 5
    assert h.quantile(1.0) == 5


def _outside(fams, name):
    return {f.name: f.outside for f in fams}[name]


def test_check_hll():
    m = 1 << 14
    se = 1.04 / math.sqrt(m)
    fams = check_hll([1000 * (1 + 2.9 * se), 1000 * (1 - 3.1 * se),
                      1000 * (1 + 7 * se)], [1000, 1000, 1000], m)
    assert _outside(fams, "hll.3sigma") == 2
    assert _outside(fams, "hll.6sigma") == 1
    assert not all(f.ok for f in fams)


def test_check_cms():
    fams = check_cms([10, 9, 30], [10, 10, 10], eps=0.01, total=1000,
                     delta=1e-6)
    assert _outside(fams, "cms.under") == 1   # 9 < 10
    assert _outside(fams, "cms.over") == 1    # 30 > 10 + 10


def test_check_heavy_hitters():
    h = KeyHist(np.array([1, 2, 3, 4]), np.array([50, 30, 15, 5]))
    ok = check_heavy_hitters({1: 50, 2: 31}, h, pct=0.2, eps=0.01,
                             delta=1e-6)
    assert all(f.ok for f in ok)
    missing = check_heavy_hitters({1: 50}, h, pct=0.2, eps=0.01, delta=1e-6)
    assert _outside(missing, "cms.hh_recall") == 1
    spurious = check_heavy_hitters({1: 50, 2: 30, 4: 21}, h, pct=0.2,
                                   eps=0.01, delta=1e-6)
    assert _outside(spurious, "cms.hh_precision") == 1


def test_check_quantiles():
    h = KeyHist(np.arange(100), np.ones(100, dtype=np.int64))
    ps = [0.5]
    good = check_quantiles("kll", ps, [50.0], [[45.0, 55.0]], h, 0.02)
    assert all(f.outside == 0 for f in good)
    # exact median 49 outside (50, 55); estimate 60 ranks 0.1 off
    bad = check_quantiles("kll", ps, [60.0], [[50.0, 55.0]], h, 0.02)
    assert _outside(bad, "kll.bounds") == 1
    assert _outside(bad, "kll.rank") == 1
    no_rank = check_quantiles("tdigest", ps, [60.0], [[40.0, 55.0]], h, None)
    assert [f.name for f in no_rank] == ["tdigest.bounds"]


def test_check_bloom():
    fams = check_bloom(false_negatives=1, n_present=100, false_positives=3,
                       n_absent=2000, fpp=0.01)
    assert _outside(fams, "bloom.false_negative") == 1
    assert not fams[0].ok
    assert fams[1].ok
    assert not check_bloom(0, 100, 500, 2000, 0.01)[1].ok


def test_metrics_match_benchmark_json():
    import json
    from perfbench import layers, run
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: run.UNITS[k] for k in run.END_TO_END}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_same_seed_same_input_fingerprint(tmp_path, monkeypatch):
    from perfbench import session
    from perfbench.workloads import SourceMultisketch, content_fingerprint
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    # the Python workers import the package by name
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    spark = session.start(str(tmp_path), 2)
    try:
        fps = []
        for i, seed in enumerate((5, 5, 6)):
            wl = SourceMultisketch(str(tmp_path), seed, 2)
            wl.ROWS = 600
            wl.input_dir = str(tmp_path / f"input{i}")
            wl.generate(spark)
            fps.append(content_fingerprint(wl.input_files()))
    finally:
        session.stop(spark)
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]
