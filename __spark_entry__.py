"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (AWS TTI top-10, SURVEY.md §7.2 slice 0)
  on /root/testdata/sf0.001.
- ``queries()``: every implemented operator from SURVEY.md §2 plus the
  training-data extension operators, as (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: DuckDB-equivalent ANSI SQL per query (same column
  aliases; identical ROUND policy) — see
  ``data_engineering_projects_spark/contract/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_projects_spark import contract
from data_engineering_projects_spark.contract import QUERIES, ORACLES

contract.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["aws_tti_top10"](spark, "/root/testdata/sf0.001")


def _query_files(names) -> dict[str, set[str]]:
    """Repo-relative source files implementing each registry query: the
    callable's defining file plus that file's one-hop package-internal
    imports (contract modules import the operator/pipeline modules that
    hold the real logic directly, so one hop covers e.g.
    corpus_extend_admissions -> pipelines/corpus.py, streaming/jobs.py).
    Used by the change-coupled rotation (round 16, verdict #2)."""
    import ast
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    pkg = "data_engineering_projects_spark"

    def mod_to_rel(dotted: str) -> str | None:
        base = os.path.join(here, *dotted.split("."))
        for cand in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(cand):
                return os.path.relpath(cand, here)
        return None

    imports_cache: dict[str, set[str]] = {}

    def internal_imports(rel: str) -> set[str]:
        if rel in imports_cache:
            return imports_cache[rel]
        out: set[str] = set()
        try:
            with open(os.path.join(here, rel)) as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            imports_cache[rel] = out
            return out
        pkg_of = os.path.dirname(rel).replace(os.sep, ".")
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.level:  # relative: resolve against this package
                    parts = pkg_of.split(".")
                    anchor = ".".join(parts[:len(parts) - node.level + 1])
                    dotted = anchor + ("." + node.module
                                       if node.module else "")
                elif node.module and node.module.startswith(pkg):
                    dotted = node.module
                else:
                    continue
                r = mod_to_rel(dotted)
                if r:
                    out.add(r)
                # `from .x import y` where y is itself a module
                for alias in node.names:
                    r2 = mod_to_rel(dotted + "." + alias.name)
                    if r2:
                        out.add(r2)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(pkg):
                        r = mod_to_rel(alias.name)
                        if r:
                            out.add(r)
        imports_cache[rel] = out
        return out

    files: dict[str, set[str]] = {}
    for name in names:
        fn = QUERIES.get(name)
        try:
            rel = os.path.relpath(fn.__code__.co_filename, here)
        except (AttributeError, ValueError):
            files[name] = set()
            continue
        if rel.startswith(".."):
            files[name] = set()
            continue
        files[name] = {rel} | internal_imports(rel)
    return files


def _changed_since(latest: dict[str, tuple[int, bool]],
                   names) -> set[str]:
    """Names whose implementing source changed since the round of their
    latest driver row (round 16, verdict #2): a green row only certifies
    the tree the driver ran on, so a query whose module was edited
    afterwards is re-fronted ahead of the oldest-green ordering instead
    of waiting out the age-based rotation. Round N's certified tree is
    the commit that last touched CORRECTNESS_rNN.json (the driver's own
    marker commit); one `git diff --name-only` per distinct round maps
    rows to the files edited since. Round 17 (from ADVICE): diff output
    is parsed per LINE (``.split()`` broke paths containing whitespace)
    and unioned with WORKING-TREE edits (``git status --porcelain``:
    staged, unstaged, untracked), so an uncommitted edit to a query's
    module re-fronts it too. Empty set when git is unavailable — the
    age-based rotation still applies."""
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))

    def worktree_changed() -> set[str]:
        out: set[str] = set()
        try:
            status = subprocess.run(
                ["git", "status", "--porcelain"],
                cwd=here, capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.SubprocessError):
            return out
        for line in status.stdout.splitlines():
            if len(line) < 4:
                continue
            path = line[3:]
            if " -> " in path:  # rename rows carry both sides
                old, _, new = path.partition(" -> ")
                out.update((old.strip('"'), new.strip('"')))
            else:
                out.add(path.strip('"'))
        return out

    wt = worktree_changed()
    rounds = {latest[n][0] for n in names if n in latest}
    changed_by_round: dict[int, set[str]] = {}
    for rnd in rounds:
        try:
            commit = subprocess.run(
                ["git", "log", "-n1", "--format=%H", "--",
                 f"CORRECTNESS_r{rnd:02d}.json"],
                cwd=here, capture_output=True, text=True,
                timeout=10).stdout.strip()
            if not commit:
                continue
            diff = subprocess.run(
                ["git", "diff", "--name-only", f"{commit}..HEAD"],
                cwd=here, capture_output=True, text=True, timeout=10)
            changed_by_round[rnd] = \
                {ln.strip('"') for ln in diff.stdout.splitlines()
                 if ln.strip()} | wt
        except (OSError, subprocess.SubprocessError):
            continue
    if not changed_by_round:
        return set()
    qfiles = _query_files(names)  # already repo-relative paths
    out = set()
    for name in names:
        if name not in latest:
            continue
        touched = changed_by_round.get(latest[name][0])
        if touched and qfiles[name] & touched:
            out.add(name)
    return out


def _staleness_order(names) -> list[str] | None:
    """Self-maintaining rotation (round 6): derive the front order from
    the driver's own ``CORRECTNESS_r*.json`` rows instead of a
    hand-curated list, so every round automatically re-checks (1) any
    query whose LATEST driver row is not fully green, then (2, round 16)
    green queries whose implementing module changed since their row's
    round — a green row certifies the tree the driver ran on, not the
    current one — then (3) green-and-unchanged queries oldest-row-first,
    then name. A query with no row at all sorts with group (1). Returns
    None when no correctness files are readable (first round / foreign
    checkout)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    files = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            files.append((int(m.group(1)), p))
    latest: dict[str, tuple[int, bool]] = {}
    seen_any = False
    for rnd, p in sorted(files):  # numeric order: later rounds overwrite
        try:
            with open(p) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        seen_any = True
        for name, v in rows.items():
            green = bool(v.get("rows_match") and v.get("schema_match")
                         and v.get("hash_match") and not v.get("err"))
            latest[name] = (rnd, green)
    if not seen_any:
        return None
    changed = _changed_since(latest, list(names))
    # The driver checks ~50/round and the changed set can exceed what
    # fits alongside the max-staleness cohort (r16: 59 changed, 28
    # oldest-round rows, union 68) — rank so neither standing bound
    # silently breaks: the oldest-round cohort keeps the 2-round
    # staleness bound whole (changed-first within it), then changed
    # queries oldest-row-first; changed rows that overflow the window
    # stay flagged and front automatically next round.
    oldest = min((rnd for rnd, green in
                  (latest.get(n, (0, False)) for n in names) if green),
                 default=0)

    def key(name: str):
        rnd, green = latest.get(name, (0, False))
        if not green:
            return (0, rnd, 0, name)
        if rnd == oldest:
            return (1, rnd, 0 if name in changed else 1, name)
        if name in changed:
            return (2, rnd, 0, name)
        return (3, rnd, 0, name)

    return sorted(names, key=key)


def _ordered(d: dict) -> dict:
    """The driver checks only ~50 registry queries per round, so front
    them by driver-row staleness; with no correctness files readable,
    registry order stands."""
    order = _staleness_order(list(d)) or []
    front = {k: d[k] for k in order if k in d}
    return front | {k: v for k, v in d.items() if k not in front}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry swaps (rounds 11-13): contract.RETIRED entries stay
    # importable for tests/tooling but leave the driver registry (count
    # stays 128); swapped-in queries with no driver row yet
    # (subset_star_closure, events_sketch_drift at r13) are fronted
    # automatically by the staleness order.
    from data_engineering_projects_spark.contract import RETIRED
    return _ordered({k: v for k, v in QUERIES.items() if k not in RETIRED})


def oracle_sql() -> dict[str, str]:
    from data_engineering_projects_spark.contract import RETIRED
    return _ordered({k: v for k, v in ORACLES.items() if k not in RETIRED})
