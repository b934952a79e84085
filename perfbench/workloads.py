"""The benchmark's workloads.

Each workload writes its inputs from the run's seed, then runs one closed-loop
iteration at a time: build the program's plan through its public functions,
then materialize every output in full.  Output checks run between
iterations, outside the timed region, against values computed independently
of the program.

- ``validate_realistic``: ``run_validation`` over a realistic transcripts
  table (<1% violating turns).  The drift kernel and the Spark plan of the
  fused constraint pass each carry a measured share of the wall.
- ``operator_battery``: the frozen bench's queries over the repository's
  sf0.01 test tables (a copy lives in ``battery_data/``).  It is the only
  workload that runs dedup, similarity, text, MVAD and TPC-H-style SQL, and
  it bypasses the runner and the constraint pass.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import layers
from anomaly_detector_spark.data import synth_registry, synth_transcripts
from anomaly_detector_spark.engine.runner import run_validation
from anomaly_detector_spark.kernels.detect import detect_series
from anomaly_detector_spark.operators import constraints
from anomaly_detector_spark.operators.drift import derive_series
from anomaly_detector_spark.schema import (
    MAX_SERIES_POINTS,
    MIN_SERIES_POINTS,
    ROLE_DOMAIN,
    TOOL_DOMAIN,
)
from anomaly_detector_spark.sources.io import read_transcripts_parquet

HERE = os.path.dirname(os.path.abspath(__file__))
# byte-identical copy of the repository's seed-42 sf0.01 test tables
BATTERY_DATA = os.path.join(HERE, "battery_data")

# Input sizes: "full" for measurement, "tiny" for the self-tests.  The
# battery has one input, the sf0.01 tables, at either size.
SIZES = {
    "validate_realistic": {"full": {"convs": 10_000, "shards": 64},
                           "tiny": {"convs": 300, "shards": 2}},
    "operator_battery": {"full": {}, "tiny": {}},
}

# score_drift's defaults, which every caller here uses
KERNEL_ARGS = {"granularity": "hourly", "interval": 1, "threshold": 3.5,
               "max_anomaly_ratio": 0.25}
MAX_ANOMALY_RATE = 0.05  # drift_verdicts' default
KERNEL_CORPUS = 64       # series timed in the Spark driver for kernel.ms_per_series
DRIFT_SAMPLE = 12        # series whose verdicts are re-scored in the Spark driver
PROBE_REPEATS = 3

# The frozen bench.py query list minus ann_ivf_indexed, which writes its
# index under a fixed /tmp path; a run may write only inside its checkout.
BATTERY = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "stats_events_by_type", "uniqueness_violations", "rolling_daily_revenue",
    "dedup_exact", "minhash_near_dups", "ann_brute_force", "embedding_near_dups",
    "text_quality", "sr_drift_events", "mvad_drift_threshold",
]
BATTERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, repeats: int = PROBE_REPEATS) -> list[float]:
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()


def _close(a, b, tol: float) -> bool:
    if a is None or b is None or math.isnan(a) or math.isnan(b):
        return (a is None and b is None) or (a is not None and b is not None
                                             and math.isnan(a) and math.isnan(b))
    return abs(a - b) <= tol


@dataclass
class Iteration:
    """What one iteration produced: outputs to check, failed operations."""
    ops: int = 0
    outputs: object = None
    errors: dict = field(default_factory=dict)   # operation -> message
    groups: list = field(default_factory=list)   # Spark job groups (traced)
    plans: list = field(default_factory=list)    # output DataFrames (traced)


class Ctx:
    """Spans and Spark job groups for one iteration (no-ops when untraced)."""

    def __init__(self, spark: SparkSession, tracer: layers.Tracer, it: int):
        self.spark, self.tracer, self.it = spark, tracer, it
        self.result = Iteration()

    def sink(self, df: DataFrame, name: str, materialize=noop):
        """Materialize ``df`` in full (a ``noop`` write unless told
        otherwise) inside span ``name``; return what ``materialize`` returns."""
        with self.tracer.span(name):
            traced = self.tracer.enabled
            if traced:
                group = f"it{self.it}:{name}"
                self.spark.sparkContext.setJobGroup(group, name)
                self.result.groups.append(group)
                self.result.plans.append(df)
            try:
                return materialize(df)
            finally:
                if traced:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------- drift layer

def kernel_verdicts(points: dict[str, list[tuple[int, float]]]):
    """Score series in the Spark driver as the ``mapInArrow`` pass does (float32
    transport, null/NaN points dropped, 12..8640-point gate, indices relative
    to the first point) and roll each up as ``drift_verdicts`` does.
    Returns (key -> (passed, max_score, anomaly_rate), the exception name
    the kernel raised, or None for a series outside the gate; seconds per
    scored series)."""
    out, times = {}, []
    for key, pts in sorted(points.items()):
        pts = sorted((i, v) for i, v in pts if v is not None and not math.isnan(v))
        if not MIN_SERIES_POINTS <= len(pts) <= MAX_SERIES_POINTS:
            out[key] = None
            continue
        idx = [i - pts[0][0] for i, _ in pts]
        vals = np.asarray([v for _, v in pts], dtype=np.float32).tolist()
        t0 = time.perf_counter()
        try:
            res, _, _, _, _ = detect_series(vals, idx, **KERNEL_ARGS)
        except Exception as e:  # the Spark pass drops such series
            out[key] = type(e).__name__
            continue
        finally:
            times.append(time.perf_counter() - t0)
        n = len(res["value"])
        n_anom = int(np.sum(np.asarray(res["is_anomaly"], dtype=bool)))
        score = np.asarray(res.get("score", np.asarray(res["value"]) * 0.0), dtype=float)
        # Spark's max over doubles ranks NaN above every number
        max_score = float("nan") if np.isnan(score).any() else float(score.max())
        out[key] = (n_anom <= n * MAX_ANOMALY_RATE, max_score, n_anom / n)
    return out, times


def drift_mismatches(expected: dict, got: dict) -> list[str]:
    """Sampled series whose verdict (key -> (passed, score, detail)) differs
    from the driver-side kernel's; a series the kernel raised on, or one
    outside the gate, must have no verdict."""
    problems = []
    for key, want in expected.items():
        v = got.get(key)
        if not isinstance(want, tuple) or v is None:
            if isinstance(want, tuple) != (v is not None):
                problems.append(f"drift {key}: verdict {v}, driver-side kernel {want}")
            continue
        passed, score, detail = v
        rate = float(detail.split("=")[1])
        if (passed != want[0] or not _close(score, want[1], 1.5e-6)
                or not _close(rate, want[2], 5.1e-5)):
            problems.append(f"drift {key}: verdict {v}, driver-side kernel {want}")
    return problems


def collect_points(series: DataFrame, keys: list[str]) -> dict[str, list]:
    rows = (series.withColumn("_key", F.concat_ws("/", "partition_key", "metric"))
            .filter(F.col("_key").isin(keys)).select("_key", "idx", "value").collect())
    points: dict[str, list] = {k: [] for k in keys}
    for r in rows:
        points[r["_key"]].append((r["idx"], r["value"]))
    return points


def series_keys(series: DataFrame) -> list[str]:
    return sorted(r[0] for r in series.select(
        F.concat_ws("/", "partition_key", "metric")).distinct().collect())


def sample_keys(keys: list[str], k: int) -> list[str]:
    """A fixed pseudo-random sample of ``k`` keys.  Evenly spaced keys would
    not do: sorted keys cycle through role and metric, so a regular step
    can pick the same role and metric from every shard."""
    return sorted(random.Random(0).sample(sorted(keys), min(k, len(keys))))


def drift_probes(derive, series: DataFrame) -> tuple[dict, dict]:
    """Time ``derive()`` (which builds the series), an identity Arrow round
    trip over ``series`` and the driver-side kernel over a corpus of its
    series.  Returns (metrics, sample counts)."""
    derive_s = timed(lambda: noop(derive()))
    keys = series_keys(series)
    moved = series.select("partition_key", "metric", "idx", F.col("value").cast("float"))
    roundtrip_s = timed(lambda: noop(moved.mapInArrow(lambda batches: batches, moved.schema)))
    corpus = collect_points(series, sample_keys(keys, KERNEL_CORPUS))
    passes = [kernel_verdicts(corpus) for _ in range(PROBE_REPEATS)]
    n_kernel = len(passes[0][1])
    per_series_ms = statistics.median(1e3 * statistics.fmean(t) for _, t in passes) \
        if n_kernel else float("nan")
    errors = sum(isinstance(v, str) for v in passes[0][0].values())
    return ({"drift.derive_s": (statistics.median(derive_s), "s"),
             "drift.series_in": (len(keys), "count"),
             "drift.arrow_roundtrip_s": (statistics.median(roundtrip_s), "s"),
             "kernel.ms_per_series": (per_series_ms, "ms"),
             "kernel.errors": (errors, "count")},
            {"drift.derive_s": len(derive_s), "drift.arrow_roundtrip_s": len(roundtrip_s),
             "kernel.ms_per_series": n_kernel * len(passes), "kernel.errors": n_kernel})


def shard_series(transcripts: DataFrame, shards: int) -> DataFrame:
    """The drift series ``run_validation`` derives: per (conv_id shard, role).

    ``run_validation`` does not return its series, so this repeats its
    derivation (the ``sharded``/``series_parts``/``derive_series`` lines of
    ``engine/runner.py``).  Change the two together: the validate check's
    drift sample and ``drift.series_in`` depend on it."""
    sharded = transcripts.withColumn("shard", F.pmod(F.xxhash64("conv_id"), F.lit(shards)))
    parts = transcripts.sparkSession.sparkContext.defaultParallelism * 4
    return derive_series(sharded, partition_cols=["shard", "role"], ts_col="ts",
                         bucket="1 hour", num_partitions=parts)


# ------------------------------------------------------------------ workloads

class Workload:
    item = "items"          # what one unit of items_per_s is

    def __init__(self, spark: SparkSession, name: str, seed: int, tiny: bool, plant: bool):
        self.spark, self.seed, self.plant = spark, seed, plant
        self.size = SIZES[name]["tiny" if tiny else "full"]
        self.items = 0              # items per iteration
        self.n_scored = 0           # drift series that got a verdict
        self.signature: dict[str, str] = {}
        self.layer: dict = {}       # per-layer metrics -> (value, unit)
        self.layer_n: dict = {}     # their sample counts

    def same_as_first(self, sig: dict[str, str]) -> list[str]:
        return [f"{k} differ from the first iteration's" for k, v in sig.items()
                if self.signature.setdefault(k, v) != v]

    def release(self, it: Iteration) -> None:
        self.spark.catalog.clearCache()


class Validate(Workload):
    item = "turns"

    def build_inputs(self, d: str) -> None:
        n = self.size["convs"]
        synth_transcripts(self.spark, n_convs=n, seed=self.seed,
                          profile="realistic").write.parquet(f"{d}/transcripts")
        synth_registry(self.spark, n_convs=n, seed=self.seed).write.parquet(f"{d}/registry")

    def open_inputs(self, d: str) -> None:
        self.dir = d
        self.rows: dict[str, list] = {"runner.verdict_rows": [], "runner.violation_rows": []}
        tr, reg = self.input_tables().values()
        self.items = tr.count()
        role, tool = F.col("role"), F.col("tool")
        # independent plain-DataFrame counts of what each check must report
        self.expected = tr.agg(
            F.count(F.when(role.isNotNull() & ~role.isin(ROLE_DOMAIN), 1)).alias("role_domain"),
            F.count(F.when(tool.isNotNull() & ~tool.isin(TOOL_DOMAIN), 1)).alias("tool_domain"),
            F.count(F.when(F.col("text").isNull(), 1)).alias("null_text"),
        ).first().asDict()
        self.expected["uniqueness"] = (tr.groupBy("conv_id", "turn_idx").count()
                                       .filter(F.col("count") > 1).count())
        self.expected["referential"] = (tr.select("conv_id").distinct()
                                        .join(reg, "conv_id", "left_anti").count())
        if self.plant:
            self.expected["uniqueness"] += 1
        series = shard_series(tr, self.size["shards"])
        sample = collect_points(series, sample_keys(series_keys(series), DRIFT_SAMPLE))
        self.expected_drift, _ = kernel_verdicts(sample)

    def input_tables(self) -> dict[str, DataFrame]:
        return {"transcripts": read_transcripts_parquet(self.spark, f"{self.dir}/transcripts"),
                "registry": self.spark.read.parquet(f"{self.dir}/registry")}

    def iterate(self, ctx: Ctx) -> None:
        ctx.result.ops = 1
        with ctx.tracer.span("sources.read"):
            tr, reg = self.input_tables().values()
        with ctx.tracer.span("runner.plan_build"):
            res = run_validation(self.spark, tr, reg, drift_shards=self.size["shards"])
        # the verdicts (one row per check and per drift series) are read by
        # the caller, so they are collected; the violations are written
        verdicts = ctx.sink(res.verdicts, "runner.verdicts", lambda df: df.collect())
        ctx.sink(res.violations, "runner.violations")
        ctx.result.outputs = (res, verdicts)

    def check(self, it: Iteration) -> dict:
        """Each check's violation count against the independent count, the
        constraint verdicts against the sink, a sample of drift verdicts
        against the driver-side kernel, and the hashes of the violations and
        of all verdicts against the first iteration's."""
        res, verdicts = it.outputs
        h = F.pmod(F.xxhash64("check", "conv_id", "turn_idx", "detail"), F.lit(2**31))
        per_check = res.violations.groupBy("check").agg(
            F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()
        counts = {r["check"]: r["n"] for r in per_check}
        problems = [f"{name}: {counts.get(name, 0)} violations, expected {want}"
                    for name, want in self.expected.items() if counts.get(name, 0) != want]
        drift = {}
        for v in verdicts:
            if v["check"] == "sr_drift":
                drift[v["partition_key"]] = (v["passed"], v["score"], v["detail"])
                continue
            n = counts.get(v["check"], 0)
            if v["detail"] != f"violations={n}" or v["passed"] != (n == 0):
                problems.append(f"verdict {v['check']} says {v['detail']}, the sink has {n}")
        problems += drift_mismatches(self.expected_drift, drift)
        problems += self.same_as_first({"violations": digest(per_check),
                                        "verdicts": digest(verdicts)})
        self.n_scored = len(drift)
        self.rows["runner.verdict_rows"].append(len(verdicts))
        self.rows["runner.violation_rows"].append(sum(counts.values()))
        return {"iteration": "; ".join(problems)} if problems else {}

    def release(self, it: Iteration) -> None:
        if it.outputs is not None:
            it.outputs[0].release()
        super().release(it)

    def probes(self) -> None:
        def transcripts():
            return self.input_tables()["transcripts"]

        window_s = timed(lambda: noop(constraints.sequence_violations(
            transcripts(), include_duplicates=True, emit_conv_keys=True)))
        self.layer["constraints.window_pass_s"] = (statistics.median(window_s), "s")
        self.layer_n["constraints.window_pass_s"] = len(window_s)
        for name, xs in self.rows.items():
            self.layer[name] = (statistics.median(xs), "count")
            self.layer_n[name] = len(xs)

        def derive():
            return shard_series(transcripts(), self.size["shards"])

        metrics, n = drift_probes(derive, derive())
        self.layer.update(metrics)
        self.layer_n.update(n)


class Battery(Workload):
    """The queries' results are collected with ``toPandas()``, as the
    repository's oracle harness does, so every iteration's results are
    checked without running the queries again."""
    item = "queries"

    def build_inputs(self, d: str) -> None:
        shutil.copytree(BATTERY_DATA, d)

    def open_inputs(self, d: str) -> None:
        import duckdb

        import __spark_entry__ as entry

        sys.path.insert(0, os.path.join(os.path.dirname(entry.__file__), "tools"))
        from check_oracle import canon

        self.dir, self.canon = d, canon
        self.fns = {q: entry.queries()[q] for q in BATTERY}
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in BATTERY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            self.expected = {q: canon(con.execute(oracles[q]).fetchdf())
                             for q in BATTERY if q in oracles}
        finally:
            con.close()
        if self.plant:
            self.expected["q1_pricing_summary"] = self.expected["q1_pricing_summary"].iloc[1:]
        self.row_counts: dict[str, int] = {}
        self.items = len(BATTERY)

    def input_tables(self) -> dict[str, DataFrame]:
        return {t: self.spark.read.parquet(f"{self.dir}/{t}.parquet") for t in BATTERY_TABLES}

    def iterate(self, ctx: Ctx) -> None:
        ctx.result.ops = len(BATTERY)
        ctx.result.outputs = {}
        for q in BATTERY:
            try:
                with ctx.tracer.span(f"battery.{q}"):
                    with ctx.tracer.span("battery.plan_build"):
                        df = self.fns[q](self.spark, self.dir)
                    got = ctx.sink(df, f"battery.{q}.sink", lambda df: df.toPandas())
            except Exception as e:  # one failed query is one failed operation
                ctx.result.errors[q] = f"{type(e).__name__}: {str(e)[:200]}"
                continue
            ctx.result.outputs[q] = got

    def check(self, it: Iteration) -> dict:
        """The queries with an oracle must equal it under ``check_oracle``'s
        ``canon`` comparison; the others must keep their first row count."""
        problems = {}
        for q, got in it.outputs.items():
            if q == "sr_drift_events":
                self.n_scored = got["series_key"].nunique()
            if q in self.expected:
                s, o = self.canon(got), self.expected[q]
                if not (len(s) == len(o) and list(s.columns) == list(o.columns)
                        and s.astype(str).equals(o.astype(str))):
                    problems[q] = f"differs from oracle_sql ({len(s)} vs {len(o)} rows)"
            elif self.row_counts.setdefault(q, len(got)) != len(got):
                problems[q] = f"{len(got)} rows, the first iteration had {self.row_counts[q]}"
        return problems

    def probes(self) -> None:
        def derive():  # the series sr_drift_events derives from events
            ev = self.spark.read.parquet(f"{self.dir}/events.parquet")
            return derive_series(ev, partition_cols=["event_type"], ts_col="ts",
                                 bucket="1 hour",
                                 value_exprs={"event_rate": F.count(F.lit(1)).cast("double")},
                                 num_partitions=16)

        metrics, n = drift_probes(derive, derive())
        self.layer.update(metrics)
        self.layer_n.update(n)


def make(spark: SparkSession, name: str, seed: int, tiny: bool, plant: bool) -> Workload:
    kinds = {"validate_realistic": Validate, "operator_battery": Battery}
    return kinds[name](spark, name, seed, tiny, plant)
