#!/usr/bin/env python
"""Benchmark harness: runs every driver-facing contract query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and reports the sum of raw per-query medians.

Output: the full JSON record {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec, ...}, "streaming": [tagged names],
"streaming_total": sec, "batch_total": sec, "sf": N, ...} is printed and
persisted to BENCH_detail.json at the repo root, followed by a FINAL
compact JSON line (same headline keys, slowest-queries subset) sized to
survive the driver's last-2000-bytes stdout capture — the full-registry
line is ~4 KB and would arrive left-truncated.

Timing method:

- each query is fully executed through the noop sink (computes every
  row, writes nothing), so timings measure the real plan, not a count
  shortcut; checkpoint blocks a query leaves behind are freed between
  samples;
- three warm-ups (flagship query, python workers, text/hash expression
  paths) run first so no query is charged one-time JIT/startup cost;
- up to $SPARK_GRAFT_BENCH_REPS (default 3) full passes over the
  registry; a query's value is its MEDIAN at >=3 samples, else its best
  sample (noise only ever inflates). Every raw sample is kept under
  "spread" and "reps_completed" records how many passes ran;
- streaming queries are sampled on the first pass only: their wall time
  is dominated by fixed micro-batch/sink start-stop cost, which is
  measured separately ("streaming_fixed_overhead": a 1-row no-op
  through the identical staged-parquet/availableNow/memory-sink
  harness, best of two), so streaming_total decomposes into
  ~7 x fixed + data-proportional work and is reported apart from
  batch_total;
- the next pass starts only if seconds-since-process-start +
  1.5 x last-pass-duration <= $SPARK_GRAFT_BENCH_DEADLINE (default 545:
  the external driver kills bench ~580 s after process start, and that
  budget covers session spin-up and warm-ups too; 1.5x is the margin
  for a host that slows mid-pass).

``SPARK_GRAFT_BENCH_ONLY=q1,q2`` restricts the registry; subset records
are tagged ``metric: contract_suite_runtime_subset`` so they can never
be read as suite totals.

Quiet gate: every record carries ``quiet`` (+ ``quiet_reason``), and
``SPARK_GRAFT_BENCH_REQUIRE_QUIET=1`` exits 3 on a non-quiet run after
persisting the record. A run is quiet when both legs of
:func:`quiet_verdict` pass:

- the median in-pass EXTERNAL busy cores, integrated by a 1 Hz /proc
  sampler (total busy jiffies minus this process tree's — zero Spark
  work, so it cannot perturb the timed queries), and
- the median of a fixed-work multi-core probe (:func:`mc_probe_once`),
  timed before every pass and after the last, against the idle
  reference from :func:`resolve_ref`. The probe sees contention the
  jiffies ledger cannot (CPU steal, memory bandwidth).

The reference comes from ``BENCH_ref.json`` when it was measured at this
run's core count (quiet runs refresh it), else from a pin at 32 cores;
at any other core count the run's own probe floor stands in and the
record says so (``ref_mc.source == "unavailable"``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from data_engineering_projects_spark import contract
from data_engineering_projects_spark.session import (free_local_checkpoint,
                                                     get_session)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Deadline projections measure from PROCESS start (import time ≈ exec
# start): the driver's ~580s timeout covers session spin-up and warmups
# too, not just the timed passes.
_PROC_T0 = time.perf_counter()


def robust_stat(vals: list[float]) -> float:
    """Median at >=3 samples, else best-of (noise only ever inflates)."""
    vals = sorted(vals)
    if len(vals) >= 3:
        return vals[len(vals) // 2]
    return vals[0]


def external_busy_cores(series: list[tuple[float, float, float]],
                        t0: float, t1: float,
                        clk: float = 100.0) -> float | None:
    """Mean EXTERNAL busy cores over window [t0, t1] from a sampled
    series of (wall_time, total_busy_jiffies, our_tree_jiffies): the
    jiffies other processes burned per wall second. Uses the samples
    inside the window, widened to the nearest outside samples when
    fewer than two fall inside; None when the series can't cover the
    window (sampler died / window outside the series). Pure — the
    impure sampler lives in :class:`_CpuSampler`."""
    import bisect
    if len(series) < 2:
        return None
    ts = [s[0] for s in series]
    lo = max(0, bisect.bisect_right(ts, t0) - 1)  # last at/before t0
    hi = min(len(ts) - 1, bisect.bisect_left(ts, t1))  # first at/after t1
    sub = series[lo:hi + 1]
    if len(sub) < 2 or sub[-1][0] <= sub[0][0]:
        return None
    dt = sub[-1][0] - sub[0][0]
    ext = (sub[-1][1] - sub[0][1]) - (sub[-1][2] - sub[0][2])
    return max(0.0, ext / dt / clk)


def quiet_verdict(ext_per_pass: list[float | None],
                  cal_mc: list[float], ref: float,
                  max_ext_cores: float = 1.6,
                  max_bracket_ratio: float = 1.1,
                  self_relative: bool = False) -> tuple[bool, str]:
    """The closing-run quiet gate: a run is QUIET iff the median
    in-pass external load is ≤ ``max_ext_cores`` busy cores (default
    1.6 = 5% of 32) AND the median multi-core bracket is ≤
    ``max_bracket_ratio`` x the idle reference. The bracket median is
    taken over the STEADY samples (index ≥ 1) when more than two
    exist: the pre-pass-1 sample structurally runs on a colder
    JIT/cache state and is a property of session start, not of host
    load. ``self_relative`` marks a ``ref`` that is the run's own probe
    floor rather than an idle-host reference: a host loaded throughout
    the run passes the bracket leg then, so the reason says so.
    Returns (quiet, reason). Pure."""
    exts = sorted(e for e in ext_per_pass if e is not None)
    med_ext = exts[len(exts) // 2] if exts else None
    steady = cal_mc[1:] if len(cal_mc) > 2 else cal_mc
    ratios = sorted(c / ref for c in steady)
    med_ratio = ratios[len(ratios) // 2]
    if med_ext is not None and med_ext > max_ext_cores:
        quiet, reason = False, (f"median in-pass external load "
                                f"{med_ext:.2f} cores > {max_ext_cores}")
    elif med_ratio > max_bracket_ratio:
        quiet, reason = False, (f"median mc bracket {med_ratio:.3f}x "
                                f"idle ref > {max_bracket_ratio}")
    else:
        quiet, reason = True, "ok"
    if self_relative:
        reason += " (self-relative floor)"
    return quiet, reason


def resolve_ref(ref_file: dict | None, n_cores: int,
                pinned_ref: float = 0.21) -> dict:
    """Idle reference for the multi-core probe, with provenance: prefer
    ``BENCH_ref.json`` (refreshed by quiet runs) when present AND
    measured at this run's probe partition count — the probe's fixed
    work is defined by n_cores, so a mismatched-probe reference is not
    comparable; fall back to the hand-pinned constant at n_cores=32. At
    any OTHER core count with no matching reference, return
    ``value: None, source: "unavailable"`` — the caller substitutes the
    run's own probe floor and the run still completes and prints its
    record. Returns {value, n_cores, source, date}. Pure."""
    if ref_file and ref_file.get("n_cores") == n_cores \
            and isinstance(ref_file.get("ref_mc_idle"), (int, float)):
        return {"value": float(ref_file["ref_mc_idle"]),
                "n_cores": n_cores, "source": "BENCH_ref.json",
                "date": ref_file.get("date")}
    if n_cores == 32:
        return {"value": pinned_ref, "n_cores": 32,
                "source": "pinned-r16", "date": "2026-08-16"}
    return {"value": None, "n_cores": n_cores,
            "source": "unavailable", "date": None}


def refreshed_ref(ref_file: dict | None, n_cores: int,
                  cal_mc: list[float], date: str) -> dict:
    """The ``BENCH_ref.json`` a QUIET run writes back: this run's
    STEADY-median probe reading (index >= 1 — the pre-pass-1 sample is
    structurally cold) is appended to the recorded quiet readings
    (bounded history) and the reference re-derived as their median.
    Median, not min: a min-derived reference sits ~5-8% below the steady
    band by construction, biasing the bracket ratio toward the gate's
    limit on an idle host. The history carries over only when
    ``ref_file`` was measured at this run's ``n_cores``: readings at
    another probe size are not comparable, so a fresh history starts.
    Pure."""
    steady = cal_mc[1:] if len(cal_mc) > 2 else cal_mc
    this_run = sorted(steady)[len(steady) // 2]
    if not (ref_file and ref_file.get("n_cores") == n_cores):
        ref_file = {}
    hist = (ref_file.get("quiet_samples", []) + [this_run])[-50:]
    med = sorted(hist)[len(hist) // 2]
    base = ref_file.get("derivation_base", "pinned-r16 seed")
    return {"ref_mc_idle": round(med, 4),
            "n_cores": n_cores,
            "date": date,
            "derivation_base": base,
            "derivation": (f"{base}; median of {len(hist)} "
                           f"quiet steady-median readings"),
            "quiet_samples": hist}


def mc_probe_once(spark, n_cores: int) -> float:
    """ONE timing of the fixed-work multi-core probe: a
    ``n_cores``-partition scan -> hash shuffle -> agg shaped like the
    suite's hot loop, saturating every executor thread for a few
    hundred ms. Its idle-host time is a machine constant, which is
    what the quiet gate's bracket leg compares against."""
    t0 = time.perf_counter()
    spark.range(2_000_000, numPartitions=n_cores) \
        .selectExpr("id", "xxhash64(id) AS h") \
        .groupBy((F.col("h") % 997).alias("k")) \
        .agg(F.sum("id").alias("s"), F.count("*").alias("c")) \
        .write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class _CpuSampler:
    """1 Hz background sampler of (wall, total_busy_jiffies,
    our_process_tree_jiffies) from /proc — pure observation, no Spark
    work, so it cannot perturb the timed queries (an in-pass fixed-work
    probe would steal every executor thread per sample and queue behind
    the running stage, measuring the engine's own load instead of the
    host's)."""

    def __init__(self, interval: float = 1.0):
        import threading
        self.interval = interval
        self.series: list[tuple[float, float, float]] = []
        self.clk = float(os.sysconf("SC_CLK_TCK"))
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _snapshot(self) -> tuple[float, float] | None:
        """(total_busy_jiffies, our_tree_jiffies) or None on error."""
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [float(x) for x in parts[1:9]]
            # user nice system idle iowait irq softirq steal
            busy = sum(vals) - vals[3] - vals[4]
        except (OSError, ValueError, IndexError):
            return None
        me = os.getpid()
        procs: dict[int, tuple[int, float]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    raw = f.read()
                # comm can contain spaces/parens: split after last ')'
                rest = raw[raw.rindex(")") + 2:].split()
                ppid = int(rest[1])
                cpu = float(rest[11]) + float(rest[12])  # utime+stime
                procs[int(p)] = (ppid, cpu)
            except (OSError, ValueError, IndexError):
                continue
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        ours, stack = 0.0, [me]
        while stack:
            pid = stack.pop()
            if pid in procs:
                ours += procs[pid][1]
            stack.extend(kids.get(pid, []))
        return busy, ours

    def _run(self) -> None:
        while not self._stop.is_set():
            snap = self._snapshot()
            if snap is not None:
                self.series.append((time.perf_counter(),) + snap)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        snap = self._snapshot()   # closing sample so the last window
        if snap is not None:      # always has a right edge
            self.series.append((time.perf_counter(),) + snap)
        self._stop.set()


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    contract.load_all()
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    sampler = _CpuSampler()
    sampler.start()
    # warm the JVM/codegen once on the flagship so per-query numbers are
    # not dominated by first-run JIT.
    contract.QUERIES["aws_tti_top10"](spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()
    # warm the python workers (fork + pandas import per core) so the first
    # pandas-UDF query isn't charged the one-time startup tax.
    spark.range(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))) \
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))) \
        .mapInPandas(lambda it: it, "id long").write.format("noop") \
        .mode("overwrite").save()
    # warm the text/hash expression paths (regex tokenize, md5, HOFs) —
    # their first execution pays several seconds of JVM JIT that would
    # otherwise be charged to whichever dedup query runs first.
    contract.QUERIES["dedup_simhash"](spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()
    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = contract.QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        # some queries RETURN a localCheckpoint'd frame, and the
        # iterative ones hold loop-invariant checkpoints (edge lists,
        # base relations) as plan leaves; once timed and discarded their
        # blocks would otherwise linger in the block manager until JVM
        # GC and show up as a slowly rising floor across reps — free
        # them eagerly. deep is safe here because the whole result tree
        # is dead between reps.
        free_local_checkpoint(df, deep=True)
        return dt

    n_cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # best-of-2 per bracket to shed scheduler blips from the probe itself
    def calibrate_mc() -> float:
        return round(min(mc_probe_once(spark, n_cores),
                         mc_probe_once(spark, n_cores)), 4)

    reps_target = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "545"))
    calibrate_mc()  # throwaways: the first runs pay shuffle/codegen JIT
    calibrate_mc()  # that would otherwise read as load in the first bracket
    cal_mc_samples = [calibrate_mc()]
    # time exactly the driver-facing registry: RETIRED stays registered
    # for warmup/tests but is not a registry query
    names = sorted(set(contract.QUERIES) - contract.RETIRED)
    only = [s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
            .split(",") if s.strip()]
    if only:
        unknown = sorted(set(only) - set(names))
        assert not unknown, f"SPARK_GRAFT_BENCH_ONLY unknown: {unknown}"
        names = sorted(set(only))
    samples: dict[str, list[float]] = {n: [] for n in names}
    pass_windows: list[tuple[float, float]] = []
    reps_done = 0
    for rep in range(reps_target):
        # full pass per rep (not N back-to-back runs of one query): reps
        # of the same query land minutes apart, so a transient load spike
        # inflates at most one sample of each query instead of all three.
        if rep > 0:
            cal_mc_samples.append(calibrate_mc())
        pass_t0 = time.perf_counter()
        for name in names:
            if rep > 0 and name.startswith("streaming_"):
                continue  # fixed-overhead dominated: first-pass sample only
            samples[name].append(run_once(name))
        reps_done += 1
        pass_windows.append((pass_t0, time.perf_counter()))
        last_pass = time.perf_counter() - pass_t0
        elapsed = time.perf_counter() - _PROC_T0
        if reps_done < reps_target and \
                elapsed + 1.5 * last_pass > deadline:
            break  # projected next-pass finish busts the driver timeout
    cal_mc_samples.append(calibrate_mc())
    sampler.stop()

    for name in names:
        timings[name] = round(robust_stat(samples[name]), 3)
    total = round(sum(timings.values()), 3)
    here_dir = os.path.dirname(os.path.abspath(__file__))
    ref_path = os.path.join(here_dir, "BENCH_ref.json")
    try:
        with open(ref_path) as f:
            ref_file = json.load(f)
    except (OSError, ValueError):
        ref_file = None
    ref_info = resolve_ref(ref_file, n_cores)
    REF_MC_IDLE = ref_info["value"]
    self_relative = REF_MC_IDLE is None
    if self_relative:
        # no idle reference exists for this probe size: judge the bracket
        # leg against the run's own probe floor (declared in the record
        # via ref_mc.source and quiet_reason) so the run still reports
        REF_MC_IDLE = min(cal_mc_samples)
        ref_info = {**ref_info, "value": round(REF_MC_IDLE, 4)}
    ext_per_pass = [external_busy_cores(sampler.series, t0, t1, sampler.clk)
                    for t0, t1 in pass_windows]
    quiet, quiet_reason = quiet_verdict(ext_per_pass, cal_mc_samples,
                                        REF_MC_IDLE,
                                        self_relative=self_relative)
    # mis-pin detection: on a QUIET run the probe floor IS the idle
    # constant — a pinned reference >20% away from it means the
    # reference does not describe this host/probe anymore.
    ref_suspect = bool(quiet and abs(min(cal_mc_samples) / REF_MC_IDLE
                                     - 1.0) > 0.20)
    # quiet runs refresh the reference; a self-relative run must not, or
    # its own floor would clobber a reference measured at another probe
    # size
    if quiet and not self_relative:
        import datetime
        new_ref = refreshed_ref(ref_file, n_cores, cal_mc_samples,
                                datetime.date.today().isoformat())
        try:
            with open(ref_path, "w") as f:
                json.dump(new_ref, f)
        except OSError:
            pass
    # Fixed streaming overhead, measured explicitly: a 1-row no-op query
    # through the SAME staged-parquet -> availableNow -> memory-sink
    # harness the 7 contract streaming queries use. Its time is pure
    # session/sink start-stop cost — none of it is data-proportional —
    # so streaming_total decomposes as ~7 x streaming_fixed_overhead +
    # data work, and a regression in a streaming query can be attributed
    # to the right side.
    from data_engineering_projects_spark.contract.sessions import (
        _run_stream_to_memory)

    def noop_stream_once() -> float:
        one = spark.range(1).selectExpr("CAST(id AS LONG) AS id")
        t0 = time.perf_counter()
        _run_stream_to_memory(spark, one, "noopfixed", lambda s: s)
        return time.perf_counter() - t0

    streaming_fixed = round(min(noop_stream_once(), noop_stream_once()), 3)
    # Structured Streaming queries pay a fixed micro-batch/sink start +
    # awaitTermination overhead that is NOT data-proportional; tag them
    # and report their subtotal separately so the per-query mean of the
    # batch engine stays comparable as the registry grows.
    streaming = sorted(n for n in timings if n.startswith("streaming_"))
    streaming_total = round(sum(timings[n] for n in streaming), 3)
    full = {
        "metric": ("contract_suite_runtime_subset" if only
                   else "contract_suite_runtime"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "ref_mc": {**ref_info, "suspect": ref_suspect},
        "ext_busy_cores": [None if e is None else round(e, 2)
                           for e in ext_per_pass],
        "quiet": quiet,
        "quiet_reason": quiet_reason,
        "subset": sorted(only) if only else None,
        # ALL raw samples, for drift forensics
        "spread": {n: [round(v, 3) for v in vs]
                   for n, vs in samples.items()},
        "reps_completed": reps_done,
        # "spread_steady" excludes the first (pre-pass-1) sample, which
        # structurally runs on a colder cache/JIT state
        "calibration_mc": {"samples": cal_mc_samples,
                           "spread": round(max(cal_mc_samples)
                                           / min(cal_mc_samples) - 1, 3),
                           "spread_steady": round(
                               max(cal_mc_samples[1:])
                               / min(cal_mc_samples[1:]) - 1, 3)
                           if len(cal_mc_samples) > 2 else None},
        "streaming": streaming,
        "streaming_total": streaming_total,
        "streaming_fixed_overhead": streaming_fixed,
        "batch_total": round(total - streaming_total, 3),
        "sf": _sf_from_dir(SF_DIR),
    }
    # The driver records only the LAST ~2000 bytes of stdout and parses
    # the JSON it finds there; the full dict is ~4 KB, so a single fat
    # line would be truncated from the left and fail to parse. Emit the
    # full record first (and persist it to BENCH_detail.json beside this
    # script), then print a FINAL compact line that always fits the
    # capture window: headline totals plus as many of the slowest
    # per-query timings as fit a conservative byte budget.
    print(json.dumps(full))
    with open(os.path.join(here_dir, "BENCH_detail.json"), "w") as f:
        json.dump(full, f)
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(timings),
        "batch_total": full["batch_total"],
        "streaming_total": streaming_total,
        "streaming_fixed_overhead": streaming_fixed,
        "reps": reps_done,
        "cal_mc": cal_mc_samples,
        "cal_mc_spread": round(
            max(cal_mc_samples) / min(cal_mc_samples) - 1, 3),
        "quiet": quiet,
        "ref_mc_idle": REF_MC_IDLE,
        "ref_mc_source": ref_info["source"],
        "ref_n_cores": ref_info["n_cores"],
        "ext": [None if e is None else round(e, 2)
                for e in ext_per_pass],
        "detail": "BENCH_detail.json",
        "queries": {},
    }
    budget = 1600  # bytes; leaves headroom inside the 2000-byte capture
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = t
        if len(json.dumps(compact)) > budget:
            del compact["queries"][name]
            break
    print(json.dumps(compact))
    spark.stop()
    # With SPARK_GRAFT_BENCH_REQUIRE_QUIET=1 a non-quiet run exits 3
    # AFTER printing and persisting the record — the data is kept for
    # forensics, the exit code makes "re-run until quiet" scriptable.
    if os.environ.get("SPARK_GRAFT_BENCH_REQUIRE_QUIET") == "1" \
            and not quiet:
        print(f"NOT QUIET: {quiet_reason}", file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
