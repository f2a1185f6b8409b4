"""Unit coverage for bench.py's pure core: the per-query robust stat,
the in-pass external-load integral, the quiet gate, and the idle
reference's resolution and quiet-run refresh. Pure math — no Spark
session."""

from __future__ import annotations

import pytest

from bench import (external_busy_cores, quiet_verdict, refreshed_ref,
                   resolve_ref, robust_stat)


def test_robust_stat_median_and_best_of():
    assert robust_stat([3.0, 1.0, 2.0]) == 2.0          # median at >=3
    assert robust_stat([5.0, 1.0, 2.0, 4.0, 3.0]) == 3.0
    assert robust_stat([2.0, 1.5]) == 1.5               # best-of at 2
    assert robust_stat([7.0]) == 7.0


def test_external_busy_cores_basic_window():
    # 100 jiffies/s clock; over 10s total busy grew 2000j, ours 1000j:
    # external = 1000j / 10s / 100 = 1.0 core
    series = [(0.0, 0.0, 0.0), (10.0, 2000.0, 1000.0)]
    assert external_busy_cores(series, 0.0, 10.0, clk=100.0) == \
        pytest.approx(1.0)


def test_external_busy_cores_widens_to_bracketing_samples():
    # window [4, 6] has no interior samples: widen to [0, 10]
    series = [(0.0, 0.0, 0.0), (10.0, 32000.0, 0.0)]
    assert external_busy_cores(series, 4.0, 6.0, clk=100.0) == \
        pytest.approx(32.0)


def test_external_busy_cores_uses_window_samples_only():
    # load confined to [10, 20] must not leak into the [0, 10] window
    series = [(0.0, 0.0, 0.0), (10.0, 0.0, 0.0), (20.0, 16000.0, 0.0)]
    assert external_busy_cores(series, 0.0, 10.0, clk=100.0) == \
        pytest.approx(0.0)
    assert external_busy_cores(series, 10.0, 20.0, clk=100.0) == \
        pytest.approx(16.0)


def test_external_busy_cores_clamps_negative_and_short_series():
    # ours > busy (rounding jitter) clamps to 0; <2 samples -> None
    series = [(0.0, 0.0, 0.0), (10.0, 100.0, 200.0)]
    assert external_busy_cores(series, 0.0, 10.0, clk=100.0) == 0.0
    assert external_busy_cores([(0.0, 0.0, 0.0)], 0.0, 1.0) is None
    assert external_busy_cores([], 0.0, 1.0) is None


def test_quiet_verdict_gates_on_series_and_brackets():
    ref = 0.2
    ok, _ = quiet_verdict([0.3, 0.5], [0.2, 0.21, 0.2], ref)
    assert ok
    bad_series, why = quiet_verdict([8.0, 9.0], [0.2, 0.2, 0.2], ref)
    assert not bad_series and "external load" in why
    bad_bracket, why = quiet_verdict([0.0, 0.0], [0.3, 0.31, 0.3], ref)
    assert not bad_bracket and "bracket" in why
    # dead sampler: series leg abstains, brackets still gate
    ok2, _ = quiet_verdict([None, None], [0.2, 0.2, 0.2], ref)
    assert ok2


def test_resolve_ref_prefers_file_at_matching_cores():
    got = resolve_ref({"ref_mc_idle": 0.218, "n_cores": 32,
                       "date": "2026-08-16"}, 32)
    assert got["value"] == 0.218
    assert got["source"] == "BENCH_ref.json"


def test_resolve_ref_rejects_mismatched_probe_cores():
    # a file measured at 32 partitions does not describe a 16-core
    # probe; at 32 cores the pinned fallback applies
    got = resolve_ref({"ref_mc_idle": 0.218, "n_cores": 16}, 32)
    assert got["source"] == "pinned-r16"
    # at any OTHER core count the resolver degrades gracefully instead
    # of asserting (round 18: the assert killed SPARK_GRAFT_CPUS=8 runs
    # AFTER the full suite executed, before any JSON printed — the
    # driver's scaling block came back empty)
    got16 = resolve_ref({"ref_mc_idle": 0.218, "n_cores": 32}, 16)
    assert got16["value"] is None
    assert got16["source"] == "unavailable"
    assert got16["n_cores"] == 16


def test_resolve_ref_matches_non32_reference():
    # a reference re-pinned at 8 cores serves an 8-core run directly
    got = resolve_ref({"ref_mc_idle": 0.61, "n_cores": 8,
                       "date": "2026-08-18"}, 8)
    assert got["value"] == 0.61 and got["source"] == "BENCH_ref.json"


def test_resolve_ref_pinned_fallback_without_file():
    got = resolve_ref(None, 32)
    assert got["source"] == "pinned-r16" and got["value"] == 0.21


def test_quiet_verdict_uses_steady_brackets():
    # the real r17 anchor shape: pre-pass-1 bracket structurally cold
    # (1.42x) while the steady band sits at 1.01-1.16x — the gate must
    # judge host load from the steady samples (spread_steady precedent)
    ref = 0.2045
    cal = [0.2898, 0.2221, 0.2072, 0.2378]
    ok, _ = quiet_verdict([0.15, 0.92, 0.75], cal, ref)
    assert ok
    # but a steadily-loaded band still fails regardless of sample 0
    bad, why = quiet_verdict([0.2, 0.2], [0.20, 0.31, 0.30, 0.31], ref)
    assert not bad and "bracket" in why


def test_quiet_verdict_marks_self_relative_floor():
    # with no idle reference for this probe size the bracket leg is
    # judged against the run's own floor, so a host loaded throughout
    # reads quiet: the reason must say the verdict is self-relative
    cal = [0.4, 0.4, 0.41, 0.4]
    ok, why = quiet_verdict([0.2, 0.3], cal, min(cal), self_relative=True)
    assert ok and why == "ok (self-relative floor)"
    bad, why = quiet_verdict([8.0, 9.0], cal, min(cal), self_relative=True)
    assert not bad and "external load" in why
    assert why.endswith("(self-relative floor)")
    # an idle-host reference carries no marker
    _, why = quiet_verdict([0.2, 0.3], cal, 0.4)
    assert why == "ok"


def test_refreshed_ref_keeps_history_only_at_matching_cores():
    cal = [0.30, 0.21, 0.22, 0.23]          # steady median 0.22
    at32 = {"ref_mc_idle": 0.2, "n_cores": 32, "derivation_base": "b32",
            "quiet_samples": [0.20, 0.20, 0.20]}
    same = refreshed_ref(at32, 32, cal, "2026-10-17")
    assert same["quiet_samples"] == [0.20, 0.20, 0.20, 0.22]
    assert same["ref_mc_idle"] == 0.2 and same["n_cores"] == 32
    assert same["derivation_base"] == "b32"
    assert "k_ext" not in same
    # a file pinned at another core count (the run resolved "pinned-r16")
    # holds readings of a different probe size: start a fresh history
    at16 = {**at32, "n_cores": 16, "quiet_samples": [0.9, 0.9, 0.9]}
    fresh = refreshed_ref(at16, 32, cal, "2026-10-17")
    assert fresh["quiet_samples"] == [0.22]
    assert fresh["ref_mc_idle"] == 0.22 and fresh["n_cores"] == 32
    assert fresh["derivation_base"] == "pinned-r16 seed"
    assert refreshed_ref(None, 32, cal, "2026-10-17")["quiet_samples"] \
        == [0.22]
