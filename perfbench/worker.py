"""One Spark driver process: set up, run one workload, write a record.

Started by ``run.py``; not meant to be run by hand. It measures its own
set-up (process start to session ready and a first trivial action),
runs the workload and writes its record to ``--record``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from .trace import Tracer, read_event_log


def peak_rss_bytes() -> int:
    """Peak RSS (VmHWM) of this process plus every descendant -- the
    JVM that PySpark launched -- read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit. PySpark leaves the
    JVM to notice on its own that its stdin has closed, which can outlast
    this process by seconds and overlap whatever runs next."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def install_patches(tracer: Tracer) -> None:
    """Wrap the calls into each layer of the engine."""
    from data_engineering_projects_spark import quality, sinks, sources
    from data_engineering_projects_spark.operators import sketches
    from data_engineering_projects_spark.plans.models import ModelGraph
    from data_engineering_projects_spark.streaming import jobs

    for fn in ("load_table", "read_csv_glob"):
        tracer.patch(sources, fn, f"sources.{fn}")
    tracer.patch(ModelGraph, "run", "plans.run")
    for fn in ("run_checks", "report"):
        tracer.patch(quality, fn, f"quality.{fn}")
    tracer.patch(sinks, "write_parquet", "sinks.write_parquet")
    tracer.patch(jobs, "_apply_batch_with_state_swap", "streaming.state_swap")
    for fn in ("build_sketch_partitions", "upsert_sketch_partitions",
               "rollup_sketch_partitions", "sketch_quantiles"):
        tracer.patch(sketches, fn, f"operators.sketches.{fn}")


def run_passes(wl, seconds: float, tracer: Tracer) -> list[dict]:
    """Timed passes until ``seconds`` have passed (at least one; exactly
    one for a single-pass workload). Outputs are checked and isolation
    is restored before each pass, outside the timed part -- except
    before a pass that continues the warm-up's state."""
    passes = []
    deadline = time.perf_counter() + seconds
    while True:
        if passes or not wl.continues_warmup:
            wl.isolate()
        t0 = time.time()
        t = time.perf_counter()
        ops = wl.run_pass()
        wall = time.perf_counter() - t
        rec = {"wall_s": wall, "ops": ops, "t0": t0, "t1": time.time(),
               **wl.pass_extras()}
        rec["cached_left"] = wl.cached_left()
        if tracer.enabled and getattr(wl, "progress", None):
            rec["progress"] = list(wl.progress)
            wl.progress.clear()
        t = time.perf_counter()
        wl.check()
        wl.check_s += time.perf_counter() - t
        passes.append(rec)
        if wl.single_pass or time.perf_counter() >= deadline:
            return passes


def traced_and_reference(wl, tracer: Tracer, install) -> tuple[list, list]:
    """One traced pass, then one untraced pass right after it as the
    overhead reference (for the batch, a warm pass like it; each stream
    pass after its own warm-up). ``install(tracer)`` patches the layers.

    The patches go in before the stream's warm-up, with the tracer still
    off: starting the stream binds the sketch functions into its batch
    callback, and only functions patched by then are traced. A disabled
    wrapper passes straight through, so the warm-up records nothing.
    The engine keeps warming up from pass to pass, so the overhead this
    gives errs high rather than low."""
    traced, reference = [], []
    for on, out in ((True, traced), (False, reference)):
        if on:
            install(tracer)
        if wl.continues_warmup:
            wl.isolate()
            wl.warmup()
        tracer.enabled = on
        out.extend(run_passes(wl, 0, tracer))
        tracer.enabled = False
        tracer.unpatch()
    return traced, reference


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the parent started this process")
    ap.add_argument("--record", required=True)
    a = ap.parse_args(argv)

    from data_engineering_projects_spark.session import get_session
    t = time.monotonic()
    spark = get_session("perfbench")
    session_start_s = time.monotonic() - t
    spark.range(1).count()
    setup_s = time.monotonic() - a.t0

    from .workloads import WORKLOADS
    sc = spark.sparkContext
    tracer = Tracer(job_group=lambda g: sc.setLocalProperty("spark.jobGroup.id", g))
    t = time.perf_counter()
    wl = WORKLOADS[a.workload](spark, a.work, a.seed, tracer)
    prepare_s = time.perf_counter() - t
    try:
        warmup_s = wl.warmup()
        passes = run_passes(wl, a.seconds, tracer)
        traced, reference = (traced_and_reference(wl, tracer, install_patches)
                             if a.trace else ([], []))
        attempted = wl.n_op
        peak = peak_rss_bytes()
    finally:
        wl.stop()
    import pyspark
    record = {
        "workload": a.workload, "seed": a.seed,
        "spark_version": pyspark.__version__,
        "cores": spark.sparkContext.defaultParallelism,
        "inputs": {k: v for k, v in wl.inputs.items() if k != "files"},
        "setup_s": setup_s, "session_start_s": session_start_s,
        "warmup_s": warmup_s, "passes": passes, "traced": traced,
        "reference": reference,
        "prepare_s": prepare_s, "check_s": wl.check_s,
        "attempted": attempted, "failed": len(wl.failures),
        "failures": wl.failures[:20], "peak_rss_bytes": peak,
        "rows_metric": wl.rows_metric,
        "spans": tracer.to_json(),
    }
    stop_session(spark)
    if a.trace:
        from .metrics import per_layer
        log = read_event_log(os.path.join(a.work, "eventlog"))
        record["per_layer"] = per_layer(record, log, record["cores"])
    with open(a.record, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
