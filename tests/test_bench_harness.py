"""Guard rails for bench.py — the driver runs it once per round and a
silent breakage (bad snippet format string, a renamed registry query,
normalization arithmetic) would cost the whole round's BENCH artifact."""

from __future__ import annotations

import importlib.util
import sys


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return sys.modules["bench"]


def test_child_snippets_format_and_compile():
    """The scaling/burn children are source strings built with .format —
    a stray brace or bad placeholder would fail at bench time, not at
    import time.  Compile both exactly as bench does."""
    bench = _load_bench()
    child = bench._CHILD_SNIPPET.format(repo="/root/repo", sf="/root/testdata/sf0.1")
    compile(child, "<scaling-child>", "exec")
    compile(bench._BURN_SNIPPET, "<cpu-burn>", "exec")
    compile(bench._BW_BURN_SNIPPET, "<bw-burn>", "exec")


def test_bench_queries_exist_in_registry():
    bench = _load_bench()
    from docling_ocr_qwen3vl_spark.queries import QUERIES

    for name in bench.BENCH_QUERIES:
        assert name in QUERIES, name
    # the flagship the JSON 'value' field reads must stay in the timed set
    assert "extract_interleaved_spans" in bench.BENCH_QUERIES


def test_scaling_efficiency_arithmetic():
    """efficiency = (tput_hi / tput_lo) / (hi / lo) on the min-of-k secs;
    pin the arithmetic with a fake child so a refactor cannot silently
    invert the ratio."""
    bench = _load_bench()

    fake = {
        8: {"cores": 8, "rows": 1, "docs": 1000, "sec": 10.0, "all_secs": [10.0]},
        32: {"cores": 32, "rows": 1, "docs": 1000, "sec": 2.5, "all_secs": [2.5]},
    }
    orig = bench._run_scaling_child
    bench._run_scaling_child = lambda sf, cores, rep, reps, env, stop=None: fake[cores]
    try:
        out = bench.run_scaling("ignored", lo=8, hi=32, rep=1, reps=1)
    finally:
        bench._run_scaling_child = orig
    # (400 / 100) / 4 = 1.0: perfect scaling
    assert out["efficiency"] == 1.0
    assert out["docs_per_sec_n"] == 100.0 and out["docs_per_sec_4n"] == 400.0
    assert out["attempts"] == 1


def test_scaling_hi_side_early_exit_target():
    """When retry_below is set, the hi child gets an early-exit wall-time
    target derived from the measured lo floor (lo_sec / ((hi/lo) * bar)):
    a hi rep at/below it already proves the bar, so further draws only
    refine a passing number.  The lo child must NEVER get one — an early
    exit there would stop before the floor and inflate efficiency."""
    bench = _load_bench()

    seen = {}
    fake = {
        8: {"cores": 8, "rows": 1, "docs": 1000, "sec": 16.0, "all_secs": [16.0]},
        32: {"cores": 32, "rows": 1, "docs": 1000, "sec": 5.0, "all_secs": [5.0]},
    }

    def child(sf, cores, rep, reps, env, stop=None):
        seen[cores] = (reps, stop)
        return fake[cores]

    orig = bench._run_scaling_child
    bench._run_scaling_child = child
    try:
        out = bench.run_scaling(
            "ignored", lo=8, hi=32, rep=1, reps=2,
            retry_below=0.8, max_attempts=1, hi_reps=8,
        )
    finally:
        bench._run_scaling_child = orig
    assert seen[8] == (2, None)
    k, stop = seen[32]
    assert k == 8  # hi_reps override reaches the child
    assert abs(stop - 16.0 / (4 * 0.8)) < 1e-9  # = 5.0 s target
    assert out["efficiency"] == 0.8  # (1000/5)/(1000/16)/4
    # without retry_below there is no bar, hence no early-exit target
    bench._run_scaling_child = child
    try:
        bench.run_scaling("ignored", lo=8, hi=32, rep=1, reps=2)
    finally:
        bench._run_scaling_child = orig
    assert seen[32] == (4, None)  # default hi reps = reps + 2, no target


def test_scaling_failed_retry_keeps_earlier_measurement():
    """A child failure during a RETRY must not discard the valid
    measurement attempt 1 already produced — the round's artifact should
    carry the number plus a retry_error note, not an error dict."""
    bench = _load_bench()

    calls = {"n": 0}
    fake_ok = {
        8: {"cores": 8, "rows": 1, "docs": 1000, "sec": 10.0, "all_secs": [10.0]},
        32: {"cores": 32, "rows": 1, "docs": 1000, "sec": 5.0, "all_secs": [5.0]},
    }

    def child(sf, cores, rep, reps, env, stop=None):
        calls["n"] += 1
        if calls["n"] <= 2:  # attempt 1: both cores succeed (eff 0.5)
            return fake_ok[cores]
        return {"error": "child OOM-killed"}  # attempt 2 fails

    orig = bench._run_scaling_child
    bench._run_scaling_child = child
    try:
        out = bench.run_scaling(
            "ignored", lo=8, hi=32, rep=1, reps=1, retry_below=0.8, max_attempts=2
        )
    finally:
        bench._run_scaling_child = orig
    assert out["efficiency"] == 0.5  # attempt 1's number survives
    assert out["retry_error"] == "child OOM-killed"
    assert out["attempts"] == 2
    # first-attempt failure still surfaces as an error (nothing to keep)
    bench._run_scaling_child = lambda *a: {"error": "boom"}
    try:
        out2 = bench.run_scaling("ignored", lo=8, hi=32, rep=1, reps=1)
    finally:
        bench._run_scaling_child = orig
    assert out2 == {"error": "boom"}


def test_burn_marker_timeout_returns_none(monkeypatch):
    """A >300 s burn IS the contended-window signal: the marker must
    degrade to null, not crash the bench before any JSON is printed."""
    import subprocess

    bench = _load_bench()

    def raise_timeout(*a, **k):
        raise subprocess.TimeoutExpired(cmd="burn", timeout=300)

    monkeypatch.setattr(bench.subprocess, "run", raise_timeout)
    assert bench.run_burn_marker(procs=2, reps=1) is None


def test_hash_perturbed_partition_invariant(spark):
    """run_ann_sweep's replica/query generator must be a pure function of
    (vec_id, dim index): repartitioning the input must yield byte-identical
    vectors, the perturbation must stay within eps of each coordinate's
    RMS scale, and distinct ids must actually move the vector (the recall
    claim rests on replica families being tight but non-degenerate)."""
    import numpy as np
    from pyspark.sql import functions as F

    bench = _load_bench()

    base = spark.createDataFrame(
        [(i, [float(i + 1)] * 8 + [0.5 * i] * 8) for i in range(16)],
        "vec_id long, embedding array<double>",
    )

    def run(df):
        rows = bench.hash_perturbed(df, F.col("vec_id"), eps=0.01).collect()
        return {r["vec_id"]: np.array(r["v"]) for r in rows}

    a = run(base.repartition(1))
    b = run(base.repartition(7, "vec_id"))
    assert a.keys() == b.keys()
    for vid in a:
        assert np.array_equal(a[vid], b[vid]), vid

    orig = {r["vec_id"]: np.array(r["embedding"]) for r in base.collect()}
    for vid, v in a.items():
        delta = np.abs(v - orig[vid])
        scale = np.linalg.norm(orig[vid]) / np.sqrt(len(orig[vid]))
        assert delta.max() <= 0.01 * scale + 1e-12, vid
        if vid > 0:  # vec_id 0's vector has nonzero norm too, but keep it simple
            assert delta.max() > 0.0, vid
