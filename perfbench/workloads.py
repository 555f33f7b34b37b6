"""The benchmark's workloads: seeded inputs, timed passes, correctness.

Each workload object is built once per process. ``prepare`` makes the
inputs from the seed (outside any timed region), ``warm_up`` runs the
untimed first units of work on the cold JVM, ``run_pass`` does one timed
unit of user-visible work into fresh output directories, ``verify`` checks
the outputs of every pass after the timed ones, and ``probe_layers``
(traced runs only) calls single layers alone for per-layer times.
``attach`` moves the workload to a restarted session and sets the tracer
its passes record spans with.

Why these two workloads:

* ``taxi_medallion`` runs the batch medallion path (silver, the gold model
  DAG, the 26 checks) with table writes, and never touches streaming.
* ``stream_ingest`` drains landed JSON lines through the streaming
  bronze/DLQ/silver fan-out in many small micro-batches, where per-batch
  fixed cost dominates, and never touches the gold DAG.

Both share ``silver_transform``, so a silver change must show on both and
a DAG change only on the first.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_engineering_spark.checks.taxi_suite import taxi_check_suite
from real_time_data_engineering_spark.operators import gold
from real_time_data_engineering_spark.operators.silver import silver_transform
from real_time_data_engineering_spark.plans.taxi_pipeline import run_pipeline
from real_time_data_engineering_spark.streaming.ingest import parse_bronze, run_bronze_to_silver, to_kafka_records
from real_time_data_engineering_spark.testing.taxi_datagen import generate_raw_trips

from tracing import Tracer

#: Input sizes per scale. ``full`` is what the benchmark measures; ``tiny``
#: only exercises the benchmark's own code (smoke test).
SIZES = {
    "full": {"medallion_trips": 10_000, "stream_trips": 12_000, "stream_files": 8},
    "tiny": {"medallion_trips": 2_000, "stream_trips": 2_000, "stream_files": 4},
}

EXPECTED_CHECK_SUMMARY = "PASS=25 WARN=1 ERROR=0 TOTAL=26"
MARTS = ("fct_trips", "mart_daily_revenue", "mart_hourly_demand", "mart_location_performance")
#: The non-dimension gold models, called and forced one at a time in traced runs.
GOLD_MODELS = (
    "int_trip_metrics",
    "fct_trips",
    "int_daily_summary",
    "int_hourly_patterns",
    "mart_daily_revenue",
    "mart_hourly_demand",
    "mart_location_performance",
    "anomaly_daily_trips",
)


def force(df: DataFrame) -> None:
    """Execute the full plan without collecting any rows into Python."""
    df.write.format("noop").mode("overwrite").save()


def content_hash(df: DataFrame) -> str:
    """Order-insensitive content hash: row count and the sum of row hashes."""
    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


def stage_raw_trips(spark: SparkSession, path: str, n_valid: int, seed: int) -> DataFrame:
    """Seeded raw trips (every dirty-row class) staged once to parquet."""
    generate_raw_trips(spark, n_valid=n_valid, seed=seed).write.parquet(path)
    return spark.read.parquet(path)


class Check:
    """Outcome of one correctness assertion."""

    def __init__(self, name: str, ok: bool, detail: str = "") -> None:
        self.name, self.ok, self.detail = name, bool(ok), detail


def _same_across_passes(name: str, values: list) -> Check:
    return Check(name, len(set(values)) == 1, f"{len(set(values))} distinct over {len(values)} passes")


class TaxiMedallion:
    name = "taxi_medallion"
    streaming = False
    warmup_batches = 0
    #: A warm pass took 7-11 s on a 4-vCPU VM with the JVM start time
    #: steady, so one pass is too few samples for the median.
    min_passes = 2

    def __init__(self, spark: SparkSession, work: str, seed: int, scale: str) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, Tracer(False)
        self.n_trips = SIZES[scale]["medallion_trips"]
        self.raw_path = os.path.join(work, "raw_trips.parquet")
        self.passes: list[dict] = []

    def prepare(self) -> None:
        self.raw = stage_raw_trips(self.spark, self.raw_path, self.n_trips, self.seed)

    def attach(self, spark: SparkSession, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.raw = spark.read.parquet(self.raw_path)

    def warm_up(self) -> list[float]:
        """One untimed pass, whose outputs are checked with the timed ones."""
        return [self.run_pass(0)]

    def run_pass(self, i: int) -> float:
        wh = os.path.join(self.work, f"warehouse_{i}")
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            with self.tracer.span("dag"):
                res = run_pipeline(self.spark, self.raw, warehouse_dir=wh)
            with self.tracer.span("marts"):
                for m in MARTS:
                    force(res.built[m])
            with self.tracer.span("checks"):
                summary, results = taxi_check_suite(res.built)
        wall = time.perf_counter() - t0
        self.passes.append(
            {
                "warehouse": wh,
                "summary": summary,
                "passed": sum(r.passed for r in results),
                "serial_sum_s": sum(res.timings.values()),
                "res": res,
            }
        )
        return wall

    def verify(self) -> list[Check]:
        checks = [
            Check(f"pass{i}.check_summary", p["summary"] == EXPECTED_CHECK_SUMMARY, p["summary"])
            for i, p in enumerate(self.passes)
        ]
        for m in MARTS:
            hashes = [content_hash(self.spark.read.parquet(os.path.join(p["warehouse"], m))) for p in self.passes]
            checks.append(_same_across_passes(f"{m}.hash", hashes))
        return checks

    def probe_layers(self) -> dict[str, float]:
        """Silver, then each gold model, called alone and forced."""
        out: dict[str, float] = {}
        with self.tracer.span("silver.solo"):
            t0 = time.perf_counter()
            silver = silver_transform(self.raw)
            force(silver)
            out["silver.transform_s"] = time.perf_counter() - t0
        out["silver.rows_in"] = self.raw.count()
        out["silver.rows_out"] = silver.count()
        built = self.passes[-1]["res"].built
        calls = {
            "int_trip_metrics": lambda: gold.int_trip_metrics(built["stg_yellow_trips"]),
            "fct_trips": lambda: gold.fct_trips(built["int_trip_metrics"], built["dim_locations"]),
            "int_daily_summary": lambda: gold.int_daily_summary(built["int_trip_metrics"]),
            "int_hourly_patterns": lambda: gold.int_hourly_patterns(built["int_trip_metrics"]),
            "mart_daily_revenue": lambda: gold.mart_daily_revenue(built["int_daily_summary"], built["dim_dates"]),
            "mart_hourly_demand": lambda: gold.mart_hourly_demand(built["int_hourly_patterns"]),
            "mart_location_performance": lambda: gold.mart_location_performance(built["fct_trips"]),
            "anomaly_daily_trips": lambda: gold.anomaly_daily_trips(built["int_daily_summary"]),
        }
        for model in GOLD_MODELS:
            with self.tracer.span(f"gold.{model}"):
                t0 = time.perf_counter()
                force(calls[model]())
                out[f"gold.{model}_s"] = time.perf_counter() - t0
        out["checks.passed"] = self.passes[-1]["passed"]
        return out


class StreamIngest:
    name = "stream_ingest"
    streaming = True
    #: One drain gives ``n_files`` micro-batch latencies.
    min_passes = 1
    #: The warm-up drains one file: the cold micro-batch. Three did not
    #: help, since the first batch of every drain runs slower.
    warmup_batches = 1

    def __init__(self, spark: SparkSession, work: str, seed: int, scale: str) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, Tracer(False)
        self.n_trips = SIZES[scale]["stream_trips"]
        self.n_files = SIZES[scale]["stream_files"]
        self.passes: list[str] = []

    def attach(self, spark: SparkSession, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def prepare(self) -> None:
        """Land seeded trips as Kafka-shaped JSON lines plus a seeded share
        of unparseable lines, split over ``n_files`` text files. A copy of
        the first file is the warm-up drain's input."""
        rng = random.Random(self.seed)
        trips = generate_raw_trips(self.spark, n_valid=self.n_trips, seed=self.seed).drop("ingestion_ts")
        lines = [r["value"] for r in to_kafka_records(trips, "PULocationID").select("value").collect()]
        n_bad = int(len(lines) * rng.uniform(0.01, 0.03))
        for i in range(n_bad):
            good = lines[rng.randrange(len(lines))]
            bad = rng.choice([good[: len(good) // 2], f"not-json-{i}", "{}"])
            lines.insert(rng.randrange(len(lines) + 1), bad)
        self.landing = os.path.join(self.work, "landing")
        self.warmup_landing = os.path.join(self.work, "landing_warmup")
        os.makedirs(self.landing)
        os.makedirs(self.warmup_landing)
        per = -(-len(lines) // self.n_files)
        base = time.time() - 3600
        self.files: list[str] = []
        self.landed_bytes = 0
        for f in range(self.n_files):
            path = os.path.join(self.landing, f"part-{f:03d}.txt")
            with open(path, "w") as fh:
                fh.write("\n".join(lines[f * per : (f + 1) * per]) + "\n")
            # distinct, increasing mtimes fix the file -> micro-batch order
            os.utime(path, (base + f, base + f))
            self.files.append(path)
            self.landed_bytes += os.path.getsize(path)
        shutil.copy2(self.files[0], self.warmup_landing)
        self.landed_lines, self.bad_lines = len(lines), n_bad

    def _drain(self, landing: str, out: str) -> None:
        source = self.spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(landing)
        run_bronze_to_silver(self.spark, source, f"{out}/bronze", f"{out}/silver", f"{out}/dlq", f"{out}/checkpoint")

    def warm_up(self) -> list[float]:
        """One untimed single-file drain: the cold micro-batch."""
        t0 = time.perf_counter()
        self._drain(self.warmup_landing, os.path.join(self.work, "stream_warmup"))
        return [time.perf_counter() - t0]

    def run_pass(self, i: int) -> float:
        out = os.path.join(self.work, f"stream_{i}")
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            with self.tracer.span("drain"):
                self._drain(self.landing, out)
        wall = time.perf_counter() - t0
        self.passes.append(out)
        return wall

    def _counts(self, out: str) -> tuple[int, int]:
        return self.spark.read.parquet(f"{out}/bronze").count(), self.spark.read.parquet(f"{out}/dlq").count()

    def _expected_silver(self, like: DataFrame) -> DataFrame:
        """Silver as the stream must write it: each landed file is one
        micro-batch, so ``silver_transform`` over each file's batch bronze,
        cast to the column types read back from the stream's output."""
        parts = [silver_transform(parse_bronze(self.spark.read.text(p))[0]) for p in self.files]
        expected = functools.reduce(DataFrame.unionByName, parts)
        return expected.select([F.col(f.name).cast(f.dataType) for f in like.schema.fields])

    def verify(self) -> list[Check]:
        checks: list[Check] = []
        expected_hash = None
        for i, out in enumerate(self.passes):
            bronze, dlq = self._counts(out)
            checks.append(
                Check(f"pass{i}.bronze_plus_dlq", bronze + dlq == self.landed_lines, f"{bronze}+{dlq} vs {self.landed_lines}")
            )
            checks.append(Check(f"pass{i}.dlq", dlq == self.bad_lines, f"{dlq} vs {self.bad_lines}"))
            silver = self.spark.read.parquet(f"{out}/silver")
            if expected_hash is None:
                expected_hash = content_hash(self._expected_silver(silver))
            got = content_hash(silver)
            checks.append(Check(f"pass{i}.silver", got == expected_hash, f"{got} vs per-file batch {expected_hash}"))
        return checks

    def probe_layers(self) -> dict[str, float]:
        """Silver alone over the last pass's bronze table, plus row counts."""
        last = self.passes[-1]
        bronze = self.spark.read.parquet(f"{last}/bronze")
        out: dict[str, float] = {}
        with self.tracer.span("silver.solo"):
            t0 = time.perf_counter()
            force(silver_transform(bronze))
            out["silver.transform_s"] = time.perf_counter() - t0
        n_bronze, n_dlq = self._counts(last)
        n_silver = self.spark.read.parquet(f"{last}/silver").count()
        out.update(
            {
                "silver.rows_in": n_bronze,
                "silver.rows_out": n_silver,
                "stream.bronze_rows": n_bronze,
                "stream.dlq_rows": n_dlq,
                "stream.silver_rows": n_silver,
            }
        )
        return out


WORKLOADS = {w.name: w for w in (TaxiMedallion, StreamIngest)}
