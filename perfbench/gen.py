"""Seeded input generator for the benchmark workloads.

Pure numpy + pyarrow, one process. The same ``(seed, size)`` gives
byte-identical files: every random draw comes from a
``numpy.random.Generator`` keyed on ``(seed, stream)``, and the writers
are told not to embed anything that varies between runs (no pandas
metadata, no timestamps, a fixed row-group size).

Three input sets:

- :func:`star_tables` -- the ten star-schema parquet tables the contract
  registry reads (same names and column types as the registry testdata).
- :func:`npmrds_batch` -- NPMRDS travel-time CSVs, one per year, plus
  ``tmc_shapes`` and the four dbt raw sources, all CSV.
- :func:`npmrds_days` -- one parquet file of NPMRDS observations per day,
  landed one at a time by the stream workload.

Each returns a manifest ``{"rows": int, "bytes": int, "files": [...],
...}`` so that a result records the input size it was measured at.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Stream ids: one independent random stream per table, so that adding a
# column to one table never shifts the draws of another.
_STREAMS = {name: i for i, name in enumerate((
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings", "tmc", "travel",
    "speed", "volume", "incident", "location", "days"))}

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))

_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window join data column query order group "
          "filter stream small big customer vector").split()


def _rng(seed: int, stream: str, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream], sub])


def _write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table.replace_schema_metadata(None), path,
                   row_group_size=1 << 20, compression="snappy")
    return os.path.getsize(path)


def _write_csv(table: pa.Table, path: str) -> int:
    pacsv.write_csv(table, path)
    return os.path.getsize(path)


def _manifest(paths: list[str], rows: int, **extra) -> dict:
    return {"rows": int(rows),
            "bytes": int(sum(os.path.getsize(p) for p in paths)),
            "files": [os.path.basename(p) for p in paths], **extra}


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), type=pa.timestamp("us"))


# -- star schema ----------------------------------------------------------

#: Scale of the star tables: 1k events and 6k lineitems, the shape of the
#: registry's smallest testdata scale.
STAR_SF = 0.001


def star_tables(out_dir: str, seed: int) -> dict:
    """The ten star tables at scale :data:`STAR_SF`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * STAR_SF))
    n_supp = max(10, int(10_000 * STAR_SF))
    n_part = max(50, int(200_000 * STAR_SF))
    n_ord = max(100, int(1_500_000 * STAR_SF))
    n_line = max(400, int(6_000_000 * STAR_SF))
    n_ev = max(200, int(1_000_000 * STAR_SF))
    n_users = max(15, int(15_000 * STAR_SF))
    n_docs, n_vecs, dim = 500, 500, 64
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})

    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng(seed, "part")
    adj = np.array(["small", "large", "red", "blue", "cold", "hot", "old",
                    "new"])
    noun = np.array(["widget", "bolt", "rod", "anvil", "ring", "gizmo",
                     "plate", "gear"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    keys = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 200) / 10.0, 2)})

    r = _rng(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _us(_EPOCH_1995 + days * _US_PER_DAY),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]})

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    ship = r.integers(0, 2500, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _us(_EPOCH_1995 + ship * _US_PER_DAY)})

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * _US_PER_DAY, n_ev)) + _EPOCH_2024
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _us(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(r.lognormal(3.5, 0.9, n_ev), 330.0)
                          + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = _rng(seed, "documents")
    words = np.array(_WORDS)
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:  # every 20th doc: a marked copy of an earlier original
            j = int(r.integers(0, i // 20 + 1)) * 20 + int(r.integers(0, 19))
            texts.append(texts[min(j, i - 1)] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words),
                                                   int(r.integers(10, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "fr"])[r.integers(0, 5, n_docs)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + r.normal(0.0, 0.6, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    paths = []
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(t, p)
        paths.append(p)
    return _manifest(paths, sum(t.num_rows for t in tables.values()),
                     sf=STAR_SF, tables={n: t.num_rows for n, t in tables.items()})


# -- NPMRDS batch ---------------------------------------------------------

YEARS = tuple(range(2015, 2025))
#: Batch input size: travel-time rows a year, and rows of each dbt raw
#: source over ``N_LOCATIONS`` locations.
BATCH_ROWS_PER_YEAR = 30_000
DBT_ROWS = 15_000
N_LOCATIONS = 40
COUNTIES = ("HONOLULU", "HONOLULU", "HONOLULU", "MAUI", "KAUAI", "HAWAII")


def tmc_codes(n: int) -> list[str]:
    return [f"114-{4000 + i:05d}" for i in range(n)]


def _travel_times(r: np.random.Generator, codes: np.ndarray, start_s: int,
                  span_s: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``n`` observations on the 5-minute grid of ``[start, start+span)``:
    (tmc index, epoch seconds, travel time). Travel times are lognormal
    around a per-segment free-flow time, slower in the peak hours."""
    idx = r.integers(0, len(codes), n)
    ts = start_s + r.integers(0, span_s // 300, n) * 300
    hour = (ts // 3600) % 24
    peak = ((hour >= 7) & (hour < 9)) | ((hour >= 16) & (hour < 19))
    free = 40.0 + (idx % 17) * 6.0
    tt = free * np.exp(r.normal(0.0, 0.25, n) + 0.35 * peak)
    return idx, ts, np.round(tt, 3)


def _ts_strings(epoch_s: np.ndarray) -> pa.Array:
    return pa.array(epoch_s.astype("datetime64[s]")).cast(pa.string())


def npmrds_batch(out_dir: str, seed: int, n_tmc: int = 60,
                 rows_per_year: int = BATCH_ROWS_PER_YEAR,
                 dbt_rows: int = DBT_ROWS) -> dict:
    """Travel-time CSVs ``travel_times_<year>.csv`` for 2015-2024, the
    ``tmc_shapes.csv`` dimension, and the dbt raw sources
    ``raw_{speed,volume,incident,location}_data.csv``."""
    os.makedirs(out_dir, exist_ok=True)
    codes = np.array(tmc_codes(n_tmc))
    paths, rows = [], 0
    for year in YEARS:
        r = _rng(seed, "travel", year)
        start = int(np.datetime64(f"{year}-01-01", "s").astype(np.int64))
        end = int(np.datetime64(f"{year + 1}-01-01", "s").astype(np.int64))
        idx, ts, tt = _travel_times(r, codes, start, end - start, rows_per_year)
        p = os.path.join(out_dir, f"travel_times_{year}.csv")
        _write_csv(pa.table({"tmc_code": codes[idx],
                             "measurement_tstamp": _ts_strings(ts),
                             "travel_time_seconds": tt}), p)
        paths.append(p)
        rows += rows_per_year

    r = _rng(seed, "tmc")
    # a few codes in the dimension never appear in the travel times
    shape_codes = np.array(tmc_codes(n_tmc + 4))
    p = os.path.join(out_dir, "tmc_shapes.csv")
    _write_csv(pa.table({
        "tmc_code": shape_codes,
        "county": np.array(COUNTIES)[r.integers(0, len(COUNTIES), len(shape_codes))],
        "road": np.array(["H-1", "H-2", "H-3", "Nimitz Hwy"])[
            r.integers(0, 4, len(shape_codes))],
        "direction": np.array(["N", "S", "E", "W"])[r.integers(0, 4, len(shape_codes))],
        "miles": np.round(r.uniform(0.1, 3.0, len(shape_codes)), 3)}), p)
    paths.append(p)
    rows += len(shape_codes)

    dbt_paths, dbt_n = _dbt_sources(out_dir, seed, N_LOCATIONS, dbt_rows)
    return _manifest(paths + dbt_paths, rows + dbt_n, n_tmc=n_tmc,
                     rows_per_year=rows_per_year, travel_rows=len(YEARS) * rows_per_year,
                     travel_bytes=int(sum(os.path.getsize(q) for q in paths[:-1])))


def _dbt_sources(out_dir: str, seed: int, n_loc: int, n: int):
    """The four dbt raw sources over two weeks of March 2024. Values stay
    inside the graph's ERROR-severity gates (unique non-null locations,
    in-range coordinates, few 3-sigma speed outliers) so a run never
    fails on its own input."""
    start = int(np.datetime64("2024-03-01", "s").astype(np.int64))
    span = 14 * 86_400
    loc_ids = np.array([f"L{i:04d}" for i in range(n_loc)])
    paths = []

    r = _rng(seed, "location")
    limits = 25 + 5 * r.integers(0, 10, n_loc)
    p = os.path.join(out_dir, "raw_location_data.csv")
    _write_csv(pa.table({
        "location_id": loc_ids,
        "name": np.char.add("Loc ", loc_ids),
        "latitude": np.round(r.uniform(21.2, 21.7, n_loc), 5),
        "longitude": np.round(r.uniform(-158.2, -157.6, n_loc), 5),
        "road_name": np.array(["H-1", "H-2", "Kam Hwy", "Ala Moana"])[r.integers(0, 4, n_loc)],
        "road_type": np.array(["highway", "arterial", "local"])[r.integers(0, 3, n_loc)],
        "direction": np.array(["N", "S", "E", "W"])[r.integers(0, 4, n_loc)],
        "lanes": pa.array(r.integers(1, 7, n_loc), pa.int32()),
        "speed_limit": pa.array(limits, pa.int32()),
        "is_highway": r.random(n_loc) < 0.4,
        "is_intersection": r.random(n_loc) < 0.3,
        "city": np.array(["Honolulu", "Pearl City", "Kailua"])[r.integers(0, 3, n_loc)],
        "state": np.full(n_loc, "HI"),
        "zip_code": np.char.add("968", r.integers(10, 99, n_loc).astype(str))}), p)
    paths.append(p)

    r = _rng(seed, "speed")
    ts = start + r.integers(0, span, n)
    loc = r.integers(0, n_loc, n)
    # Uniform below every posted limit (>= 25): the congestion index stays
    # in [0, 1], and no speed is a 3-sigma outlier (the dbt singular test).
    speed = np.round(r.uniform(10.0, 24.0, n), 2)
    p = os.path.join(out_dir, "raw_speed_data.csv")
    _write_csv(pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "sensor_id": loc_ids[loc],
        "timestamp": _ts_strings(ts),
        "speed": speed,
        "vehicle_count": pa.array(r.integers(0, 60, n), pa.int32()),
        "confidence_score": np.round(r.uniform(0.5, 1.0, n), 3)}), p)
    paths.append(p)

    r = _rng(seed, "volume")
    ts = start + r.integers(0, span, n)
    p = os.path.join(out_dir, "raw_volume_data.csv")
    _write_csv(pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "location_id": loc_ids[r.integers(0, n_loc, n)],
        "recorded_time": _ts_strings(ts),
        "vehicle_count": pa.array(r.integers(0, 3000, n), pa.int32()),
        "average_speed": np.round(r.uniform(5.0, 70.0, n), 2),
        "lane_count": pa.array(r.integers(1, 7, n), pa.int32()),
        "data_source": np.array(["loop", "radar", "probe"])[r.integers(0, 3, n)]}), p)
    paths.append(p)

    r = _rng(seed, "incident")
    m = max(10, n // 50)
    st = start + r.integers(0, span, m)
    kinds = np.array(["Major ACCIDENT", "lane construction", "vehicle breakdown",
                      "debris", "Stalled Vehicle Accident"])
    p = os.path.join(out_dir, "raw_incident_data.csv")
    _write_csv(pa.table({
        "incident_id": pa.array(np.arange(m), pa.int64()),
        "location_id": loc_ids[r.integers(0, n_loc, m)],
        "start_time": _ts_strings(st),
        "end_time": _ts_strings(st + r.integers(600, 7200, m)),
        "severity": pa.array(r.integers(1, 6, m), pa.int32()),
        "type": kinds[r.integers(0, len(kinds), m)],
        "description": np.full(m, "reported"),
        "affected_lanes": pa.array(r.integers(0, 3, m), pa.int32())}), p)
    paths.append(p)
    return paths, n_loc + 2 * n + m


# -- NPMRDS stream days ---------------------------------------------------

def npmrds_days(out_dir: str, seed: int, n_days: int, n_tmc: int = 200,
                rows_per_day: int = 57_600) -> dict:
    """``day_<NN>.parquet`` for ``n_days`` consecutive days from
    2024-03-04: (tmc_code, measurement_tstamp, travel_time_seconds)."""
    os.makedirs(out_dir, exist_ok=True)
    codes = np.array(tmc_codes(n_tmc))
    start = int(np.datetime64("2024-03-04", "s").astype(np.int64))
    paths, sizes = [], []
    for d in range(n_days):
        r = _rng(seed, "days", d)
        idx, ts, tt = _travel_times(r, codes, start + d * 86_400, 86_400,
                                    rows_per_day)
        p = os.path.join(out_dir, f"day_{d:02d}.parquet")
        sizes.append(_write_parquet(pa.table({
            "tmc_code": codes[idx],
            "measurement_tstamp": pa.array(ts * 1_000_000, pa.timestamp("us")),
            "travel_time_seconds": tt}), p))
        paths.append(p)
    return _manifest(paths, n_days * rows_per_day, n_tmc=n_tmc,
                     rows_per_day=rows_per_day, day_bytes=sizes)
