"""BENCHMARK.json and the metric tables agree, every name fits the
benchmark contract, and the metric functions emit exactly those names."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import metrics
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == {
        "contract_mix", "npmrds_batch", "npmrds_stream"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_spec_metrics_match_the_tables():
    spec = _spec()
    for m in spec["end_to_end"]:
        assert metrics.END_TO_END[m["name"]] == m["unit"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def _record(**kw):
    rec = {"setup_s": 11.0, "warmup_s": 3.0, "failed": 0, "attempted": 12,
           "peak_rss_bytes": 2e9, "rows_metric": True,
           "passes": [{"wall_s": 2.0, "ops": [["a", 0.5]] * 12, "rows": 100,
                       "input_bytes": 1000, "written_bytes": 3000,
                       "reads": [0.1, 0.2]}]}
    rec.update(kw)
    return rec


def test_end_to_end_reports_every_metric():
    e = metrics.end_to_end(_record())
    assert set(metrics.END_TO_END) <= set(e)
    assert e["setup_s"] == 11.0 and e["rows_per_s"] == 50.0
    assert e["write_amp"] == 3.0 and e["read_p50_s"] == pytest.approx(0.15)
    assert e["op_tail_n"] == 12 and e["op_tail_pct"] == 100 * 2 / 12


def test_gated_metrics_apply_to_every_kind_of_workload():
    gated = [m["name"] for m in _spec()["end_to_end"]]
    plain_pass = {"wall_s": 2.0, "ops": [["a", 0.5]] * 3, "rows": 100,
                  "input_bytes": 1000}
    for kw in ({}, {"warmup_s": None},
               {"rows_metric": False, "passes": [plain_pass]}):
        e = metrics.end_to_end(_record(**kw))
        assert all(e[n] for n in gated)


def test_per_layer_pass_reports_every_metric():
    spans = [Span(0, "op.aws", 0.0, 4.0, None, 0),
             Span(1, "pipelines.aws.build", 0.5, 2.0, 0, 0),
             Span(2, "sinks.write_parquet", 2.0, 3.5, 0, 0)]
    out = metrics.per_layer_pass(spans, [], [], {"input_bytes": 100}, cores=4)
    want = set(metrics.PER_LAYER) - {"session.start_s", "trace.overhead_s",
                                     "trace.overhead_frac"}
    assert set(out) == want
    assert out["pipelines.aws.write_s"] == 1.5
    assert out["self.op_s"] == 1.0
    assert out["trace.unaccounted_frac"] == 0.25
