"""Layered benchmark of the engine: one workload, one run.

    python3 perfbench/run.py --workload contract_mix --seed 1 --seconds 4 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work/`` (ignored by git); the engine is driven only through
its public functions, in a separate Spark driver process started with
``local[nproc]``.

``setup_s`` is measured once per run, by the workload's own driver
process: process start to session ready plus a first trivial action.

Output: a ``record`` line with every end-to-end metric of the workload
(by name and unit, ``null`` where it does not apply) and the run's
provenance, then, as the last line, the JSON object the benchmark
contract asks for: the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

PR_SET_CHILD_SUBREAPER = 36
#: Whole-run limit, under the 180 s a run may take.
DEADLINE_S = 170.0
DRIVER_MEMORY = "2g"


def _commit() -> str | None:
    """The checked-out commit when the tree is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = []
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log}",
                   "--conf", "spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM (the launcher's too): temp files in the work dir, and
        # no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(map(shlex.quote, [*submit, "pyspark-shell"])),
    })
    return env


def _become_subreaper() -> None:
    """Have orphaned descendants -- the JVM of a killed driver process --
    re-parented to this process, so that :func:`_stop` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stop(driver: subprocess.Popen) -> None:
    """Kill what is left of the driver's process group (it and its JVM;
    empty after a clean exit), then wait for every descendant."""
    try:
        os.killpg(driver.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    driver.wait()
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def run(a) -> dict:
    work = os.path.join(ROOT, "perfbench", ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    log_path = os.path.join(work, "driver.log")
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--record", record_path]
    env = _env(work, bool(a.trace))
    with open(log_path, "w") as log:
        driver = subprocess.Popen(
            cmd + ["--t0", repr(time.monotonic())], cwd=work, env=env,
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
    try:
        driver.wait(timeout=DEADLINE_S)
    finally:
        _stop(driver)
    if driver.returncode != 0:
        raise RuntimeError(f"driver process failed ({driver.returncode}); "
                           f"see {log_path}")
    with open(record_path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("contract_mix", "npmrds_batch", "npmrds_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "data_engineering_projects_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from a checkout of the repository (engine "
              "package, tests/oracle.py and BENCHMARK.json are needed)",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    _become_subreaper()
    rec = run(a)
    e2e = metrics.end_to_end(rec)
    print("record " + json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "cores": rec["cores"],
        "spark_version": rec["spark_version"], "commit": _commit(),
        "inputs": rec["inputs"],
        "untimed": {"prepare_s": rec["prepare_s"], "check_s": rec["check_s"]},
        "passes": len(rec["passes"]), "attempted": rec["attempted"],
        "failed": rec["failed"], "failures": rec["failures"],
        "metrics": {k: {"value": e2e[k], "unit": u}
                    for k, u in metrics.END_TO_END.items()},
        "op_tail": {"pct": e2e["op_tail_pct"], "n": e2e["op_tail_n"]},
        **({"per_layer": rec["per_layer"]} if a.trace else {}),
    }))
    if a.trace:
        chosen = {m["name"]: (rec["per_layer"][m["name"]], m["unit"])
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
