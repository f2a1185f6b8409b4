"""The three workloads, driven through the engine's public functions.

Each workload is a closed loop: the benchmark process is the only
client, and the next operation starts when the previous one returns.
A workload object offers ``warmup()`` (untimed by the metrics that
matter, but reported as ``warmup_s``), ``run_pass()`` (one timed pass,
a list of operations), ``isolate()`` (undo what a pass leaves behind)
and ``check()`` (compare outputs against an independent rendering,
outside every timed region).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import checks, gen
from .metrics import PIPELINES
from .trace import Tracer


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, data files only (no ``.crc``)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Workload:
    #: One timed pass per run (a fixed amount of work), not passes
    #: repeated for ``--seconds``.
    single_pass = False
    #: The timed pass continues the warm-up's state (the stream), so no
    #: isolation runs between them.
    continues_warmup = False
    #: Whether ``rows_per_s`` applies to this workload.
    rows_metric = False

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.failures: list[str] = []
        self.n_op = 0
        self.check_s = 0.0

    def isolate(self) -> None:
        self.spark.catalog.clearCache()

    def cached_left(self) -> int:
        """Persisted RDDs the session still holds."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def check(self) -> None:
        pass

    def pass_extras(self) -> dict:
        return {"rows": self.inputs["rows"], "input_bytes": self.inputs["bytes"]}

    def stop(self) -> None:
        pass


# -- contract_mix -----------------------------------------------------------

#: One query per reference pipeline family (aws, azure, bq, snowflake,
#: dbt -- the dbt one is the quality report) and one build-heavy query
#: (iterative PageRank, which runs jobs before it returns).
CONTRACT_QUERIES = (
    "aws_tti_top10", "azure_severity_top10", "bq_exceedance",
    "snowflake_lottr_pivot", "dbt_quality_report", "events_pagerank_types",
)


class ContractMix(Workload):
    """Registry queries on the generated star tables, each executed
    through the noop sink, in a seed-shuffled order per pass."""

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        from data_engineering_projects_spark import contract
        contract.load_all()
        self.contract = contract
        self.sf_dir = os.path.join(work, "inputs", "star")
        self.inputs = gen.star_tables(self.sf_dir, seed)

    def op(self, name: str):
        """Build and execute one query; returns its time and DataFrame."""
        tr = self.tracer
        with tr.operation(self.n_op, name):
            t = time.perf_counter()
            with tr.span("contract.build"):
                df = self.contract.QUERIES[name](self.spark, self.sf_dir)
            if tr.enabled:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.execute"):
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t
        self.n_op += 1
        return dt, df

    def order(self) -> list[str]:
        names = list(CONTRACT_QUERIES)
        self.rng.shuffle(names)
        return names

    def warmup(self) -> float:
        """The cold pass, unchecked: the timed passes are the ones
        checked."""
        return sum(self.op(name)[0] for name in self.order())

    def run_pass(self) -> list[tuple[str, float]]:
        self.built = {}
        ops = []
        for name in self.order():
            dt, self.built[name] = self.op(name)
            ops.append((name, dt))
        return ops

    def check(self) -> None:
        """Execute each DataFrame the pass built once more and compare
        the result with the query's DuckDB oracle."""
        for name, df in self.built.items():
            err = checks.contract_output(df, self.contract.ORACLES[name],
                                         self.sf_dir)
            if err:
                self.failures.append(f"{name}: {err}")


# -- npmrds_batch -----------------------------------------------------------

#: The travel-time columns, of the batch CSVs and the stream's day files.
TT_SCHEMA = T.StructType([
    T.StructField("tmc_code", T.StringType()),
    T.StructField("measurement_tstamp", T.TimestampType()),
    T.StructField("travel_time_seconds", T.DoubleType()),
])
SHAPES_SCHEMA = T.StructType([
    T.StructField("tmc_code", T.StringType()),
    T.StructField("county", T.StringType()),
    T.StructField("road", T.StringType()),
    T.StructField("direction", T.StringType()),
    T.StructField("miles", T.DoubleType()),
])
RAW_SCHEMAS = {
    "raw_location_data": (
        "location_id string, name string, latitude double, longitude double, "
        "road_name string, road_type string, direction string, lanes int, "
        "speed_limit int, is_highway boolean, is_intersection boolean, "
        "city string, state string, zip_code string"),
    "raw_speed_data": (
        "id long, sensor_id string, timestamp timestamp, speed double, "
        "vehicle_count int, confidence_score double"),
    "raw_volume_data": (
        "id long, location_id string, recorded_time string, vehicle_count int, "
        "average_speed double, lane_count int, data_source string"),
    "raw_incident_data": (
        "incident_id long, location_id string, start_time timestamp, "
        "end_time timestamp, severity int, type string, description string, "
        "affected_lanes int"),
}
AWS_YEAR, AWS_MONTH = 2024, 3
DBT_MARTS = ("mart_daily_congestion", "mart_hourly_patterns",
             "mart_volume_trends")


class NpmrdsBatch(Workload):
    """The five reference pipelines on seeded NPMRDS-shaped CSVs; every
    output is written with ``sinks.write_parquet``. One pass runs the
    five pipelines in order, each reading its own inputs."""

    single_pass = True
    rows_metric = True

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        from data_engineering_projects_spark import (pipelines, quality, sinks,
                                                     sources)
        from data_engineering_projects_spark.pipelines import dbt_traffic
        self.pl, self.quality, self.sinks, self.sources, self.dbt = (
            pipelines, quality, sinks, sources, dbt_traffic)
        self.in_dir = os.path.join(work, "inputs", "npmrds")
        self.out_dir = os.path.join(work, "out")
        self.warehouse = os.path.join(work, "warehouse")
        self.inputs = gen.npmrds_batch(self.in_dir, seed)
        self.expected = None

    def _csv(self, name: str) -> str:
        return os.path.join(self.in_dir, f"{name}.csv")

    def _travel(self, years):
        tt = self.sources.read_csv_glob(
            self.spark, [self._csv(f"travel_times_{y}") for y in years], TT_SCHEMA)
        return tt.withColumn("year", F.year("measurement_tstamp"))

    def _shapes(self):
        return self.sources.read_csv_glob(self.spark, [self._csv("tmc_shapes")],
                                          SHAPES_SCHEMA)

    def _write(self, pipeline: str, outputs: dict) -> None:
        for name, df in outputs.items():
            if self.tracer.enabled:
                with self.tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            self.sinks.write_parquet(
                df, os.path.join(self.out_dir, pipeline, name))

    def _build(self, p: str) -> dict:
        if p == "aws":
            tt = self._travel([AWS_YEAR]).filter(
                F.month("measurement_tstamp") == AWS_MONTH)
            return self.pl.aws_monthly_tti(tt, self._shapes(), AWS_YEAR, AWS_MONTH)
        if p == "azure":
            return self.pl.azure_yearly_severity(self._travel(gen.YEARS),
                                                 self._shapes())
        if p == "bq":
            return self.pl.bigquery_tti_trends(self._travel(gen.YEARS),
                                               self._shapes())
        if p == "snowflake":
            return self.pl.snowflake_lottr(self._travel(gen.YEARS), self._shapes())
        srcs = {n: self.sources.read_csv_glob(self.spark, [self._csv(n)], s)
                for n, s in RAW_SCHEMAS.items()}
        g = self.dbt.build_traffic_graph(srcs, vars={"batch_id": "bench"},
                                         warehouse_dir=self.warehouse)
        built = g.run(self.spark)
        try:
            self.dbt.singular_tests(g, built)
        except self.quality.QualityError as e:  # the marts are still written
            self.failures.append(f"dbt: {e}")
        return {m: built[m] for m in DBT_MARTS}

    def op(self, p: str) -> float:
        tr = self.tracer
        with tr.operation(self.n_op, p):
            t = time.perf_counter()
            with tr.span(f"pipelines.{p}.build"):
                outputs = self._build(p)
            self._write(p, outputs)
            dt = time.perf_counter() - t
        self.n_op += 1
        return dt

    def isolate(self) -> None:
        super().isolate()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def run_pass(self) -> list[tuple[str, float]]:
        return [(p, self.op(p)) for p in PIPELINES]

    def warmup(self) -> None:
        """No separate warm-up: the timed pass is the cold one."""
        return None

    def pass_extras(self) -> dict:
        sink_bytes, sink_files = dir_bytes(self.out_dir)
        return {**super().pass_extras(), "sink_bytes": sink_bytes,
                "sink_files": sink_files,
                "table_bytes": dir_bytes(self.warehouse)[0]}

    def check(self) -> None:
        """Compare this pass's outputs with the DuckDB rendering (computed
        once per run); a mismatch counts one failed operation."""
        if self.expected is None:
            self.expected = checks.npmrds_expected(self.in_dir)
        for p, err in checks.npmrds_outputs(self.out_dir, self.expected).items():
            if err:
                self.failures.append(f"{p}: {err}")


# -- npmrds_stream ----------------------------------------------------------

PART_COLS = ["tmc_code", "period", "day"]
VALUE_COLS = ["travel_time_seconds"]
KLL_K = 2048
PROBS = {"p50": 0.5, "p85": 0.85, "p95": 0.95}
#: Days committed in the warm-up (the first batch after start still pays
#: JIT compilation), and days timed after it.
WARMUP_DAYS, TIMED_DAYS = 2, 5


class NpmrdsStream(Workload):
    """Daily NPMRDS parquet files land one at a time; the sketch rollup
    stream commits each into the persisted KLL state, and a read after
    every commit computes TTI/PTI per (tmc, period) over all days so
    far. Stream start and the first ``WARMUP_DAYS`` days are the
    warm-up; each later day is one operation."""

    single_pass = True
    continues_warmup = True
    rows_metric = True

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        from data_engineering_projects_spark.functions.temporal import period_bucket
        from data_engineering_projects_spark.operators import sketches
        from data_engineering_projects_spark.streaming import jobs
        self.period_bucket, self.sk, self.jobs = period_bucket, sketches, jobs
        self.in_dir = os.path.join(work, "inputs", "days")
        self.inputs = gen.npmrds_days(self.in_dir, seed, WARMUP_DAYS + TIMED_DAYS)
        self.reads: list[tuple[int, list]] = []
        self.progress: list[dict] = []
        self.state_written = 0
        self.ckpt_written = 0
        self.query = None
        self.landed = 0

    def isolate(self) -> None:
        super().isolate()
        if self.query is not None:
            self.query.stop()
            self.query = None
        for d in ("src", "state", "ckpt"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        self.landed = 0
        self.reads.clear()
        self.state_written = self.ckpt_written = 0

    def _start(self) -> None:
        src = os.path.join(self.work, "src")
        os.makedirs(src)
        stream = (self.spark.readStream.schema(TT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        ev = (stream.withColumn("period", self.period_bucket(F.col("measurement_tstamp")))
              .filter(F.col("period").isNotNull())
              .withColumn("day", F.to_date("measurement_tstamp")))
        with self.tracer.span("streaming.start"):
            self.query = self.jobs.sketch_rollup_stream(
                ev, os.path.join(self.work, "state"), os.path.join(self.work, "ckpt"),
                PART_COLS, VALUE_COLS, kll_k=KLL_K)

    def _land(self) -> None:
        """Copy the next day's file into the source directory under a
        hidden name, then rename it, so the stream never lists a
        partially written file."""
        name = f"day_{self.landed:02d}.parquet"
        src = os.path.join(self.work, "src")
        tmp = os.path.join(src, "." + name)
        shutil.copyfile(os.path.join(self.in_dir, name), tmp)
        os.rename(tmp, os.path.join(src, name))
        self.landed += 1

    def _commit(self) -> float:
        ckpt = os.path.join(self.work, "ckpt")
        before = dir_bytes(ckpt)[0] if os.path.isdir(ckpt) else 0
        t = time.perf_counter()
        self._land()
        with self.tracer.span("streaming.commit"):
            self.query.processAllAvailable()
        dt = time.perf_counter() - t
        self.state_written += dir_bytes(os.path.join(self.work, "state"))[0]
        self.ckpt_written += dir_bytes(ckpt)[0] - before
        prog = self.query.lastProgress if self.tracer.enabled else None
        if prog:
            self.progress.append({"durationMs": dict(prog["durationMs"])})
        return dt

    def _read(self) -> float:
        t = time.perf_counter()
        with self.tracer.span("operators.sketch_read"):
            sk = self.spark.read.parquet(os.path.join(self.work, "state"))
            merged = self.sk.rollup_sketch_partitions(sk, ["tmc_code", "period"],
                                                      VALUE_COLS)
            rows = self.sk.sketch_quantiles(
                merged, "travel_time_seconds", PROBS,
                keep_cols=["tmc_code", "period"]).collect()
        dt = time.perf_counter() - t
        self.reads.append((self.landed, [r.asDict() for r in rows]))
        return dt

    def warmup(self) -> float:
        """Stream start plus the first batches and their reads."""
        t = time.perf_counter()
        self._start()
        for _ in range(WARMUP_DAYS):
            with self.tracer.operation(self.n_op, "day"):
                self._commit()
                self._read()
            self.n_op += 1
        return time.perf_counter() - t

    def run_pass(self) -> list[tuple[str, float]]:
        """The timed days. Each operation is one commit; its read is
        timed separately and reported as ``read_s``."""
        ops = []
        self.read_s: list[float] = []
        self.state_written = self.ckpt_written = 0
        for _ in range(TIMED_DAYS):
            with self.tracer.operation(self.n_op, "day"):
                ops.append(("commit", self._commit()))
                self.read_s.append(self._read())
            self.n_op += 1
        return ops

    def pass_extras(self) -> dict:
        return {"rows": self.inputs["rows_per_day"] * TIMED_DAYS,
                "input_bytes": sum(self.inputs["day_bytes"][WARMUP_DAYS:self.landed]),
                "reads": list(self.read_s),
                "state_bytes": self.state_written,
                "written_bytes": self.state_written + self.ckpt_written}

    def check(self) -> None:
        state = self.spark.read.parquet(os.path.join(self.work, "state"))
        got = {(r["tmc_code"], r["period"], str(r["day"])): r["n_rows"]
               for r in state.select(*PART_COLS, "n_rows").collect()}
        err = checks.stream_counts(self.in_dir, self.landed, got)
        if err:
            self.failures.append(f"state: {err}")
        eps = self.sk.kll_rank_error(KLL_K)
        for landed, rows in self.reads:
            err = checks.stream_quantiles(self.in_dir, landed, rows, PROBS, eps)
            if err:
                self.failures.append(f"read after day {landed}: {err}")
        self.reads.clear()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {"contract_mix": ContractMix, "npmrds_batch": NpmrdsBatch,
             "npmrds_stream": NpmrdsStream}
