"""End-to-end and per-layer metrics from one worker record.

Pure functions over the JSON the worker writes, so they can be tested
without Spark.
"""

from __future__ import annotations

from . import stats
from .trace import Span, jobs_in, self_time_by_layer, self_times, union_length

#: Every end-to-end metric, with its unit. A workload it does not apply
#: to reports ``None`` (see README.md); ``BENCHMARK.json`` gates the ones
#: that apply to every workload.
END_TO_END = {
    "setup_s": "s", "warmup_s": "s", "wall_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "read_p50_s": "s", "rows_per_s": "rows/s",
    "write_amp": "ratio", "fail_frac": "ratio", "peak_rss_mb": "MB",
}

PIPELINES = ("aws", "azure", "bq", "snowflake", "dbt")
LAYERS = ("op", "sources", "contract", "spark", "pipelines", "plans",
          "quality", "sinks", "streaming", "operators")

#: Every per-layer metric, with its unit; all are reported on every
#: workload (0 where the workload never enters the layer).
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s", "sources.read_jobs": "count",
    "sources.input_read_amp": "ratio",
    "contract.build_s": "s", "contract.build_jobs": "count",
    "spark.plan_s": "s", "spark.execute_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.idle_core_frac": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    **{f"pipelines.{p}.{m}": u for p in PIPELINES
       for m, u in (("build_s", "s"), ("write_s", "s"), ("jobs", "count"))},
    "pipelines.cached_left": "count",
    "plans.run_s": "s", "plans.run_jobs": "count", "plans.table_mb": "MB",
    "quality.check_s": "s", "quality.check_jobs": "count",
    "sinks.write_s": "s", "sinks.written_mb": "MB", "sinks.files": "count",
    "streaming.commit_s": "s", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.overhead_ms": "ms",
    "streaming.state_mb_written": "MB",
    "sketches.read_s": "s", "sketches.read_jobs": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.unaccounted_frac": "ratio",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}

MB = 1e6


def _ops(passes) -> list[float]:
    return [t for p in passes for _name, t in p["ops"]]


def end_to_end(rec: dict) -> dict:
    """Every END_TO_END metric for one run; ``None`` where it does not
    apply. ``op_tail_s`` carries its percentile and sample count in
    ``op_tail_pct`` / ``op_tail_n``."""
    passes = rec["passes"]
    ops = _ops(passes)
    wall = stats.median(p["wall_s"] for p in passes)
    tail = stats.tail(ops)
    reads = [t for p in passes for t in p.get("reads", ())]
    rows = stats.median(p["rows"] for p in passes) if rec["rows_metric"] else None
    written = [p["written_bytes"] / p["input_bytes"] for p in passes
               if p.get("written_bytes") is not None]
    return {
        "setup_s": rec["setup_s"],
        # a cold-timed workload's first pass is its timed pass
        "warmup_s": wall if rec["warmup_s"] is None else rec["warmup_s"],
        "wall_s": wall,
        "op_p50_s": stats.median(ops),
        "op_tail_s": tail["value"],
        "op_tail_pct": tail["pct"],
        "op_tail_n": tail["n"],
        "read_p50_s": stats.median(reads),
        "rows_per_s": rows / wall if rows else None,
        "write_amp": stats.median(written),
        "fail_frac": rec["failed"] / rec["attempted"],
        "peak_rss_mb": rec["peak_rss_bytes"] / MB,
    }


def _spans(raw: list[dict]) -> list[Span]:
    return [Span(**s) for s in raw]


def per_layer_pass(spans: list[Span], jobs: list, tasks: list[dict],
                   p: dict, cores: int) -> dict:
    """Per-layer metrics of one traced pass. ``spans`` and ``jobs`` are
    already restricted to the pass; ``tasks`` are matched through their
    jobs."""
    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    def njobs(prefix):
        return len(jobs_in(jobs, named(prefix)))

    job_ids = {j.id for j in jobs}
    tk = [t for t in tasks if t["job"] in job_ids]
    run_s = sum(t["run_s"] for t in tk)
    execute_s = union_length([Span(0, "job", j.submit, j.end or j.submit, None, None)
                              for j in jobs])
    ops = named("op.")
    st = self_times(spans)
    by_layer = self_time_by_layer(spans)
    out = {
        "sources.read_s": union_length(named("sources.")),
        "sources.read_jobs": njobs("sources."),
        "sources.input_read_amp": sum(t["input"] for t in tk) / p["input_bytes"],
        "contract.build_s": union_length(named("contract.build")),
        "contract.build_jobs": njobs("contract.build"),
        "spark.plan_s": union_length(named("spark.plan")),
        "spark.execute_s": execute_s,
        "spark.jobs": len(jobs),
        "spark.stages": len({t["stage"] for t in tk}),
        "spark.tasks": len(tk),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tk),
        "spark.idle_core_frac": (1 - run_s / (execute_s * cores)) if execute_s else 0.0,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tk) / MB,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tk) / MB,
        "spark.spill_mb": sum(t["spill"] for t in tk) / MB,
        "pipelines.cached_left": p.get("cached_left", 0),
        "plans.run_s": union_length(named("plans.run")),
        "plans.run_jobs": njobs("plans.run"),
        "plans.table_mb": p.get("table_bytes", 0) / MB,
        "quality.check_s": union_length(named("quality.")),
        "quality.check_jobs": njobs("quality."),
        "sinks.write_s": union_length(named("sinks.")),
        "sinks.written_mb": p.get("sink_bytes", 0) / MB,
        "sinks.files": p.get("sink_files", 0),
        "streaming.commit_s": stats.median(
            s.end - s.start for s in named("streaming.commit")) or 0.0,
        "streaming.state_mb_written": p.get("state_bytes", 0) / MB,
        "sketches.read_s": stats.median(
            s.end - s.start for s in named("operators.sketch_read")) or 0.0,
        "sketches.read_jobs": (njobs("operators.sketch_read")
                               / max(1, len(named("operators.sketch_read")))),
        "trace.unaccounted_frac": max(
            (st[s.id] / (s.end - s.start) for s in ops if s.end > s.start),
            default=0.0),
    }
    for pl in PIPELINES:
        op_spans = [s for s in ops if s.name == f"op.{pl}"]
        op_ids = {s.op for s in op_spans}
        out[f"pipelines.{pl}.build_s"] = union_length(named(f"pipelines.{pl}.build"))
        out[f"pipelines.{pl}.write_s"] = union_length(
            [s for s in named("sinks.") if s.op in op_ids])
        out[f"pipelines.{pl}.jobs"] = sum(j.group in {f"op-{i}" for i in op_ids}
                                          for j in jobs)
    prog = p.get("progress", [])
    trig = [d["durationMs"].get("triggerExecution", 0) for d in prog]
    add = [d["durationMs"].get("addBatch", 0) for d in prog]
    out["streaming.trigger_ms"] = stats.median(trig) or 0.0
    out["streaming.add_batch_ms"] = stats.median(add) or 0.0
    out["streaming.overhead_ms"] = stats.median(
        t - a for t, a in zip(trig, add)) or 0.0
    for layer in LAYERS:
        out[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    return out


def per_layer(rec: dict, log: dict, cores: int) -> dict:
    """Median over the traced passes of :func:`per_layer_pass`, plus the
    tracing overhead: traced pass wall minus the untraced (reference)
    pass run right after it."""
    spans = _spans(rec["spans"])
    jobs = list(log["jobs"].values())
    rows = []
    for p in rec["traced"]:
        a, b = p["t0"], p["t1"]
        rows.append(per_layer_pass(
            [s for s in spans if s.start >= a and s.end <= b],
            [j for j in jobs if a <= j.submit <= b], log["tasks"], p, cores))
    out = {"session.start_s": rec["session_start_s"],
           **{k: stats.median(r[k] for r in rows) for k in rows[0]}}
    untraced = stats.median(p["wall_s"] for p in rec["reference"])
    traced = stats.median(p["wall_s"] for p in rec["traced"])
    out["trace.overhead_s"] = traced - untraced
    out["trace.overhead_frac"] = (traced - untraced) / untraced
    return out
