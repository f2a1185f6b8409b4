"""Output checks, run outside every timed region.

- contract_mix: the registry's DuckDB oracle through the repository's
  own canonical comparison (``tests/oracle.py``, python-object mode).
- npmrds_batch: an independent DuckDB rendering of the TTI / PTI /
  severity / variability / LOTTR / exceedance formulas and the dbt marts,
  computed from the CSVs; outputs are compared by key with a relative
  tolerance of 1e-9 (values rounded by the pipeline: equal, or one
  rounding step apart where the exact value sits on a rounding midpoint).
- npmrds_stream: exact ``n_rows`` per (tmc, period, day) from the raw
  day files, and KLL quantiles within ``kll_rank_error(k)`` of the exact
  rank.

Every function returns ``None`` when the output is right, else a short
description of the first difference.
"""

from __future__ import annotations

import functools
import glob
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq


def contract_output(df, oracle_sql: str, sf_dir: str) -> str | None:
    from tests.oracle import compare
    try:
        # python-object canon: full-precision values and type identities;
        # the pandas pass, a replay of a pandas-based row hash, is left out
        compare(df, oracle_sql, sf_dir, pandas_canon=False)
    except AssertionError as e:
        return str(e)[:300]
    return None


# -- npmrds_batch -----------------------------------------------------------

# Analysis periods of the reference: weekday = Tue..Sat (ISO dow 2..6).
_PERIOD = """CASE
  WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) BETWEEN 6 AND 9 THEN 'amp'
  WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) BETWEEN 10 AND 15 THEN 'mid'
  WHEN isodow(ts) BETWEEN 2 AND 6 AND hour(ts) BETWEEN 16 AND 19 THEN 'pmp'
  WHEN hour(ts) BETWEEN 6 AND 19 THEN 'we' END"""

# (output path, key columns, SQL) per pipeline output.
_EXPECTED = {
    "aws": {
        "top_k_tti": (["tmc_code", "period"], """
            SELECT * FROM aws ORDER BY tti DESC, tmc_code, period LIMIT 10"""),
        "top_k_pti": (["tmc_code", "period"], """
            SELECT * FROM aws ORDER BY pti DESC, tmc_code, period LIMIT 10"""),
    },
    "azure": {
        "severity_summary": (["tmc_code", "year"], """
            SELECT tmc_code, year, severity FROM az
            QUALIFY row_number() OVER (PARTITION BY year
                                       ORDER BY severity DESC, tmc_code) <= 10"""),
        "variability_summary": (["tmc_code"], """
            SELECT tmc_code, avg(variability) AS variability FROM az
            GROUP BY tmc_code ORDER BY round(avg(variability), 9) DESC, tmc_code
            LIMIT 10"""),
    },
    "bq": {
        "tti_summary": (["tmc_code", "year", "period"], """
            SELECT year, tmc_code, period, p85 / p50 AS tti FROM per_period"""),
        "tti_top10_trends": (["tmc_code", "year"], """
            WITH top AS (SELECT tmc_code FROM per_period GROUP BY tmc_code
                         ORDER BY round(avg(p85 / p50), 9) DESC, tmc_code LIMIT 10),
                 y AS (SELECT tmc_code, year, avg(p85 / p50) AS avg_tti
                       FROM per_period WHERE tmc_code IN (SELECT tmc_code FROM top)
                       GROUP BY tmc_code, year)
            SELECT tmc_code, year, avg_tti,
                   coalesce(avg_tti - lag(avg_tti) OVER (PARTITION BY tmc_code
                                                        ORDER BY year), 0) AS tti_change
            FROM y"""),
        "tti_exceedance": (["tmc_code", "year", "period"], """
            SELECT tmc_code, year, period,
                   avg(CASE WHEN p85 / p50 > 1.5 THEN 1 ELSE 0 END) AS exceed_rate
            FROM per_period GROUP BY tmc_code, year, period"""),
    },
    "snowflake": {
        "tti_summary": (["tmc_code", "year"], """
            SELECT tmc_code, year,
              coalesce(max(lottr) FILTER (WHERE period = 'amp'), 0) AS amp,
              coalesce(max(lottr) FILTER (WHERE period = 'mid'), 0) AS mid,
              coalesce(max(lottr) FILTER (WHERE period = 'pmp'), 0) AS pmp,
              coalesce(max(lottr) FILTER (WHERE period = 'we'), 0) AS we
            FROM per_period GROUP BY tmc_code, year"""),
        "tti_trends": (["year"], """
            WITH y AS (SELECT year,
              coalesce(avg(lottr) FILTER (WHERE period = 'amp'), 0) AS amp,
              coalesce(avg(lottr) FILTER (WHERE period = 'mid'), 0) AS mid,
              coalesce(avg(lottr) FILTER (WHERE period = 'pmp'), 0) AS pmp,
              coalesce(avg(lottr) FILTER (WHERE period = 'we'), 0) AS we
              FROM per_period GROUP BY year)
            SELECT *,
              coalesce((amp - lag(amp) OVER w) / nullif(lag(amp) OVER w, 0), 0) AS amp_change,
              coalesce((mid - lag(mid) OVER w) / nullif(lag(mid) OVER w, 0), 0) AS mid_change,
              coalesce((pmp - lag(pmp) OVER w) / nullif(lag(pmp) OVER w, 0), 0) AS pmp_change,
              coalesce((we - lag(we) OVER w) / nullif(lag(we) OVER w, 0), 0) AS we_change
            FROM y WINDOW w AS (ORDER BY year)"""),
    },
    "dbt": {
        "mart_daily_congestion": (["location_id", "recorded_date"], """
            WITH d AS (SELECT location_id, CAST(h AS DATE) AS recorded_date,
                              round(avg(ci), 3) AS avg_daily_congestion,
                              round(avg(avg_speed), 1) AS avg_daily_speed,
                              avg(ci) AS raw_avg_daily_congestion,
                              avg(avg_speed) AS raw_avg_daily_speed
                       FROM hourly GROUP BY 1, 2)
            SELECT * FROM d QUALIFY rank() OVER (PARTITION BY recorded_date
                                   ORDER BY avg_daily_congestion DESC) <= 10"""),
        # speed_pctile is checked against the output's own avg_speed
        # (_pctile_error): the engines sum in different orders, so two
        # near-equal speeds need not compare the same way in both.
        "mart_hourly_patterns": (["location_id", "hour_of_day"], """
            SELECT location_id, hour(h) AS hour_of_day, avg(avg_speed) AS avg_speed
            FROM hourly WHERE avg_speed IS NOT NULL GROUP BY 1, 2"""),
        "mart_volume_trends": (["location_id", "day_of_week"], """
            WITH d AS (SELECT location_id, CAST(h AS DATE) AS dt,
                              sum(total_volume) AS daily_volume
                       FROM hourly WHERE total_volume IS NOT NULL GROUP BY 1, 2),
                 w AS (SELECT location_id, isodow(dt) % 7 + 1 AS day_of_week,
                              avg(daily_volume) AS avg_weekly_volume
                       FROM d GROUP BY 1, 2)
            SELECT *, rank() OVER (PARTITION BY day_of_week
                                   ORDER BY avg_weekly_volume DESC) AS volume_rank
            FROM w"""),
    },
}

# Columns the pipeline rounds, with their rounding step. The expected
# rows also carry each one unrounded, as ``raw_<column>``.
_ROUNDED = {"avg_daily_congestion": 1e-3, "avg_daily_speed": 1e-1}
RAW = "raw_"


def _npmrds_views(con, in_dir: str) -> None:
    con.execute(f"""
        CREATE VIEW tt AS SELECT tmc_code, measurement_tstamp AS ts,
               travel_time_seconds AS v, year(measurement_tstamp) AS year
        FROM read_csv('{in_dir}/travel_times_*.csv', header = true, columns = {{
            'tmc_code': 'VARCHAR', 'measurement_tstamp': 'TIMESTAMP',
            'travel_time_seconds': 'DOUBLE'}})""")
    con.execute(f"""
        CREATE VIEW honolulu AS SELECT tmc_code
        FROM read_csv('{in_dir}/tmc_shapes.csv', header = true, all_varchar = true)
        WHERE county = 'HONOLULU'""")
    con.execute(f"""
        CREATE VIEW aws AS SELECT *, tt85 / tt50 AS tti, tt95 / tt50 AS pti FROM (
          SELECT tmc_code, {_PERIOD} AS period, quantile_cont(v, 0.5) AS tt50,
                 quantile_cont(v, 0.85) AS tt85, quantile_cont(v, 0.95) AS tt95
          FROM tt WHERE year = 2024 AND month(ts) = 3 GROUP BY 1, 2)
        WHERE period IS NOT NULL AND tmc_code IN (SELECT tmc_code FROM honolulu)""")
    con.execute("""
        CREATE VIEW az AS SELECT tmc_code, year, (tti + pti) / 2 AS severity,
               pti / tti AS variability FROM (
          SELECT tmc_code, year,
                 quantile_cont(v, 0.85) / quantile_cont(v, 0.5) AS tti,
                 quantile_cont(v, 0.95) / quantile_cont(v, 0.5) AS pti
          FROM tt GROUP BY 1, 2)
        WHERE tmc_code IN (SELECT tmc_code FROM honolulu)""")
    con.execute(f"""
        CREATE TABLE per_period AS SELECT * FROM (
          SELECT tmc_code, year, {_PERIOD} AS period,
                 quantile_cont(v, 0.5) AS p50, quantile_cont(v, 0.85) AS p85,
                 quantile_cont(v, 0.8) / quantile_cont(v, 0.5) AS lottr
          FROM tt GROUP BY 1, 2, 3)
        WHERE period IS NOT NULL AND tmc_code IN (SELECT tmc_code FROM honolulu)""")
    con.execute(f"""
        CREATE TABLE hourly AS
        WITH loc AS (SELECT location_id, speed_limit, lanes FROM read_csv(
                       '{in_dir}/raw_location_data.csv', header = true)),
             spd AS (SELECT sensor_id AS location_id,
                            date_trunc('hour', "timestamp") AS h,
                            avg(speed) AS avg_speed
                     FROM read_csv('{in_dir}/raw_speed_data.csv', header = true)
                     WHERE speed BETWEEN 0 AND 120 GROUP BY 1, 2),
             vol AS (SELECT location_id,
                            date_trunc('hour', CAST(recorded_time AS TIMESTAMP)) AS h,
                            sum(vehicle_count) AS total_volume
                     FROM read_csv('{in_dir}/raw_volume_data.csv', header = true)
                     WHERE vehicle_count BETWEEN 0 AND 10000 GROUP BY 1, 2),
             c AS (SELECT coalesce(spd.location_id, vol.location_id) AS location_id,
                          coalesce(spd.h, vol.h) AS h, avg_speed, total_volume
                   FROM spd FULL OUTER JOIN vol
                     ON spd.location_id = vol.location_id AND spd.h = vol.h)
        SELECT c.*, least(coalesce(
                 (1 - avg_speed / nullif(CAST(speed_limit AS DOUBLE), 0))
                 * (CAST(coalesce(total_volume, 0) AS DOUBLE)
                    / nullif(CAST(2000 * lanes AS DOUBLE), 1)), 1.0), 1.0) AS ci
        FROM c LEFT JOIN loc USING (location_id)""")


def npmrds_expected(in_dir: str) -> dict:
    """{pipeline: {output: (keys, rows as dicts)}} from DuckDB."""
    con = duckdb.connect()
    try:
        _npmrds_views(con, in_dir)
        out = {}
        for p, outputs in _EXPECTED.items():
            out[p] = {}
            for name, (keys, sql) in outputs.items():
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                out[p][name] = (keys, [dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def _norm(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def _on_midpoint(raw: float, step: float) -> bool:
    """``raw`` is a rounding midpoint up to float error: two engines that
    sum in different orders may round it to either neighbouring step."""
    x = raw / step
    return abs(x - math.floor(x) - 0.5) < 1e-6


def _same(a, b, step: float | None = None, raw: float | None = None) -> bool:
    """``a`` (the output) matches ``b`` (the reference): to 1e-9, or, for
    a value rounded to ``step`` from ``raw``, exactly -- or one step off
    when ``raw`` is on a midpoint."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if not step:
            tol = 1e-9 * max(abs(a), abs(b)) + 1e-12
        elif raw is not None and _on_midpoint(raw, step):
            tol = step + 1e-12
        else:
            tol = step * 0.5 + 1e-12
        return math.isclose(a, b, rel_tol=0, abs_tol=tol)
    return _norm(a) == _norm(b)


def compare_rows(got: list[dict], want: list[dict], keys: list[str]) -> str | None:
    """Order-insensitive, keyed comparison of every column the expected
    rows carry (a ``raw_`` column only informs the check of the rounded
    column it belongs to)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    index = {tuple(_norm(r[k]) for k in keys): r for r in got}
    for w in want:
        g = index.get(tuple(_norm(w[k]) for k in keys))
        if g is None:
            return f"missing key {[w[k] for k in keys]}"
        for col, v in w.items():
            if col.startswith(RAW):
                continue
            if col not in g:
                return f"missing column {col}"
            if not _same(g[col], v, _ROUNDED.get(col), w.get(RAW + col)):
                return f"{col} at {[w[k] for k in keys]}: {g[col]!r} != {v!r}"
    return None


def _pctile_error(rows: list[dict]) -> str | None:
    """``speed_pctile`` must be ``percent_rank()`` of ``avg_speed`` within
    its hour: (number of smaller speeds) / (rows in the hour - 1)."""
    by_hour: dict[int, list[float]] = {}
    for r in rows:
        by_hour.setdefault(r["hour_of_day"], []).append(r["avg_speed"])
    for r in rows:
        speeds = by_hour[r["hour_of_day"]]
        want = (sum(s < r["avg_speed"] for s in speeds) / (len(speeds) - 1)
                if len(speeds) > 1 else 0.0)
        if r["speed_pctile"] != want:
            return (f"speed_pctile at {[r['location_id'], r['hour_of_day']]}: "
                    f"{r['speed_pctile']!r} != {want!r}")
    return None


def npmrds_outputs(out_dir: str, expected: dict) -> dict[str, str | None]:
    """{pipeline: first difference or None} for one pass's outputs."""
    result = {}
    for p, outputs in expected.items():
        err = None
        for name, (keys, want) in outputs.items():
            path = os.path.join(out_dir, p, name)
            if not os.path.isdir(path):
                err = f"{name}: not written"
                break
            got = pq.read_table(path).to_pylist()
            e = compare_rows(got, want, keys)
            if e is None and name == "mart_hourly_patterns":
                e = _pctile_error(got)
            if e:
                err = f"{name}: {e}"
                break
        result[p] = err
    return result


# -- npmrds_stream ----------------------------------------------------------

_PERIODS = np.array(["amp", "mid", "pmp", "we"])


def _period_codes(epoch_s: np.ndarray) -> np.ndarray:
    """The reference's period bucket in numpy (UTC; ISO dow, Mon=1), as
    an index into ``_PERIODS``; -1 outside every period."""
    dow = (epoch_s // 86_400 + 3) % 7 + 1
    hour = (epoch_s // 3600) % 24
    wk = (dow > 1) & (dow < 7)
    code = np.full(len(epoch_s), -1, dtype=np.int64)
    code[(hour >= 6) & (hour < 20)] = 3
    code[wk & (hour >= 16) & (hour < 20)] = 2
    code[wk & (hour >= 10) & (hour < 16)] = 1
    code[wk & (hour >= 6) & (hour < 10)] = 0
    return code


@functools.lru_cache(maxsize=1)
def _days_frame(in_dir: str):
    """Every day file's rows inside a period: (tmc names, tmc index,
    epoch seconds, value, period index, day index). Read once per run."""
    files = sorted(glob.glob(os.path.join(in_dir, "day_*.parquet")))
    tables = [pq.read_table(f) for f in files]
    tmc = np.concatenate([t["tmc_code"].to_numpy(zero_copy_only=False) for t in tables])
    ts = np.concatenate([t["measurement_tstamp"].cast("int64").to_numpy() // 1_000_000
                         for t in tables])
    v = np.concatenate([t["travel_time_seconds"].to_numpy() for t in tables])
    day = np.repeat(np.arange(len(tables)), [t.num_rows for t in tables])
    names, tmc_idx = np.unique(tmc, return_inverse=True)
    per = _period_codes(ts)
    keep = per >= 0
    return names, tmc_idx[keep], ts[keep], v[keep], per[keep], day[keep]


def stream_counts(in_dir: str, n_days: int, got: dict) -> str | None:
    """``got``: {(tmc, period, 'YYYY-MM-DD'): n_rows} from the state."""
    names, tmc, ts, _v, per, day = _days_frame(in_dir)
    m = day < n_days
    date = ts[m].astype("datetime64[s]").astype("datetime64[D]").astype(str)
    want = dict(Counter(zip(names[tmc[m]].tolist(), _PERIODS[per[m]].tolist(),
                            date.tolist())))
    if got != want:
        bad = next(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return f"n_rows at {bad}: {got.get(bad)} != {want.get(bad)}"
    return None


def stream_quantiles(in_dir: str, n_days: int, rows: list[dict], probs: dict,
                     eps: float) -> str | None:
    """Each sketch quantile's rank among the exact values must lie within
    ``eps`` (plus one item) of its target rank; n_rows and mean exact."""
    names, tmc, _ts, v, per, day = _days_frame(in_dir)
    m = day < n_days
    key, v = tmc[m] * len(_PERIODS) + per[m], v[m]
    order = np.lexsort((v, key))
    key, v = key[order], v[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    groups = {(names[key[s] // len(_PERIODS)], _PERIODS[key[s] % len(_PERIODS)]): v[s:e]
              for s, e in zip(starts, np.r_[starts[1:], len(v)])}
    if len(rows) != len(groups):
        return f"{len(rows)} groups, expected {len(groups)}"
    for r in rows:
        vals = groups.get((r["tmc_code"], r["period"]))
        if vals is None:
            return f"unexpected group {(r['tmc_code'], r['period'])}"
        n = len(vals)
        if r["n_rows"] != n:
            return f"n_rows {r['n_rows']} != {n} at {(r['tmc_code'], r['period'])}"
        if not math.isclose(r["mean"], float(vals.mean()), rel_tol=1e-9):
            return f"mean {r['mean']} != {vals.mean()}"
        for name, p in probs.items():
            q = r[name]
            lo = np.searchsorted(vals, q, "left") / n
            hi = np.searchsorted(vals, q, "right") / n
            if not (lo - eps - 1 / n <= p <= hi + eps + 1 / n):
                return (f"{name} at {(r['tmc_code'], r['period'])}: rank "
                        f"[{lo:.4f}, {hi:.4f}] vs {p} (eps {eps:.4f})")
    return None
