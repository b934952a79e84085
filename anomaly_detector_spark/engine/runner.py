"""Validation runner — orchestrates constraints + drift into
per-partition verdicts, violation rows, and metrics/lineage tables.

Mirrors the reference's request lifecycle (validate -> detect -> verdict,
SURVEY.md §3.1) at table scope: every check is a DataFrame op; outputs keep
stable (conv_id, turn_idx) ordering per the north rule.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from anomaly_detector_spark.operators import constraints
from anomaly_detector_spark.operators.drift import derive_series, drift_verdicts, score_drift
from anomaly_detector_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: dict = field(default_factory=dict)
    _persisted: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Unpersist the intermediate caches this run pinned (the violations
        union).  Call after the outputs are written/collected; long-lived
        sessions that loop over tables should always release, otherwise each
        run leaves a cached union in the session LRU store."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()


def _violation_rows(df: DataFrame, check: str, detail_col: str | None) -> DataFrame:
    detail = F.col(detail_col).cast("string") if detail_col else F.lit(None).cast("string")
    return df.select(
        F.lit(check).alias("check"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        detail.alias("detail"),
    )


def attach_turn_text(violations: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Join the offending turn's exact text onto violation rows (the north
    rule's per-row invariant: violation rows are reported with per-turn text
    equality under stable (conv_id, turn_idx) ordering).

    Scale shape: violations are sparse relative to 10^12 turns, so the join
    first semi-reduces the transcripts side to the violating (conv_id,
    turn_idx) keys — a shuffle join keyed on a tiny key set, never a full
    cross of the table.  Conversation-level violations (turn_idx null, e.g.
    referential) pass through with null text."""
    keyed = violations.filter(F.col("turn_idx").isNotNull())
    keyless = violations.filter(F.col("turn_idx").isNull()).withColumn(
        "text", F.lit(None).cast("string")
    )
    turns = (
        transcripts.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.col("text"),
        )
        .join(
            keyed.select("conv_id", "turn_idx").distinct(), ["conv_id", "turn_idx"], "left_semi"
        )
        # duplicate-key turns (themselves a uniqueness violation) would fan
        # the join out; keep one text per key deterministically
        .groupBy("conv_id", "turn_idx")
        .agg(F.min("text").alias("text"))
    )
    out = keyed.join(turns, ["conv_id", "turn_idx"], "left").unionByName(keyless)
    return out.select("check", "conv_id", "turn_idx", "detail", "text").orderBy(
        "check", "conv_id", "turn_idx"
    )


def run_validation(spark: SparkSession, transcripts: DataFrame, registry: DataFrame,
                   drift_bucket: str = "1 hour", drift_shards: int = 128,
                   cache_input: bool = False,
                   completed_drift_partitions: DataFrame | None = None,
                   persist_intermediates: bool = True) -> ValidationResult:
    """Full sweep: uniqueness, monotonicity, domains, nulls, referential
    integrity, plus SR-drift verdicts on derived per-(shard, role) series.

    Drift partitions are hash shards of conv_id crossed with role, so the
    per-series Arrow UDF work spreads evenly over executors regardless of how
    skewed individual conversations are (hot conv_ids land in one shard but
    every shard has bounded series length = #buckets).

    ``cache_input`` defaults to False — the design-point input is a 100 TB
    parquet/Iceberg table where re-scanning with column pruning is far cheaper
    than persisting the full row set.  Callers that synthesize the input in
    memory (bench, tests) opt in with True.

    ``persist_intermediates`` controls the violations-union / fused-window
    caches.  Keep True when BOTH outputs will be consumed (the persists save
    each branch from re-executing) and call ``result.release()`` after.
    One-shot callers that consume a single output exactly once (e.g. a
    verdicts-only query) pass False: nothing is pinned, nothing to release.
    """
    t0 = time.time()
    from pyspark import StorageLevel

    if cache_input:
        transcripts = transcripts.persist(StorageLevel.MEMORY_AND_DISK)

    # monotonic-ts, turn-gap, uniqueness AND the per-row narrow checks
    # (role/tool domains, null text) fused into ONE conv-keyed window pass —
    # duplicates of a (conv_id, turn_idx) key are adjacent in the sorted
    # window, and the narrow checks need no window at all, so every
    # row-level check shares a single scan and a single full-table exchange
    # (constraints.sequence_violations row_checks, r7; previously the three
    # narrow checks each re-scanned the cached input).  The sparse dup rows
    # re-aggregate to the dup_count contract below; the standalone salted
    # uniqueness_violations stays for un-clustered tables.
    def _row_check(cond, check, detail):
        return F.when(cond, F.struct(F.lit(check).alias("check"),
                                     detail.alias("detail")))

    row_checks = [
        _row_check(F.col("role").isNotNull() & ~F.col("role").isin(ROLE_DOMAIN),
                   "role_domain", F.col("role").cast("string")),
        _row_check(F.col("tool").isNotNull() & ~F.col("tool").isin(TOOL_DOMAIN),
                   "tool_domain", F.col("tool").cast("string")),
        _row_check(F.col("text").isNull(),
                   "null_text", F.lit(None).cast("string")),
    ]
    seq = constraints.sequence_violations(transcripts, include_duplicates=True,
                                          row_checks=row_checks,
                                          emit_conv_keys=True)

    # seq's output is only the violation rows (sparse), but TWO consumers
    # read it (the dup re-aggregation and the union); persist the small row
    # set so the scan→shuffle→sort→window subtree runs once, not twice.
    seq = seq.select(
        F.col("check"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("detail"),
    )
    if persist_intermediates:
        seq = seq.persist(StorageLevel.MEMORY_AND_DISK)
    seq_dups = seq.filter(F.col("check") == "uniqueness")
    uniq = (
        seq_dups.groupBy("conv_id", "turn_idx")
        .agg((F.count(F.lit(1)) + 1).alias("dup_count"))
    )
    # referential check from the window pass's one-row-per-conversation
    # '_conv_key' markers: the distinct key set arrives hash-partitioned by
    # conv_id straight out of the exchange already paid, so the anti-join
    # shuffles only the registry side — the separate full-table scan +
    # distinct aggregation referential_violations() would run are gone (r7)
    refs = constraints.referential_violations_from_keys(
        seq.filter(F.col("check") == "_conv_key"), registry
    )

    # Persist the unsorted union: both outputs (ordered violations, verdict
    # counts) read it, and the global sort's range-sampling pass would
    # otherwise re-execute every branch.
    violations_unsorted = (
        _violation_rows(uniq, "uniqueness", "dup_count")
        .unionAll(seq.filter(~F.col("check").isin("uniqueness", "_conv_key")))
        .unionAll(
            refs.select(
                F.lit("referential").alias("check"),
                F.col("conv_id"),
                F.lit(None).cast("int").alias("turn_idx"),
                F.lit(None).cast("string").alias("detail"),
            )
        )
    )
    if persist_intermediates:
        violations_unsorted = violations_unsorted.persist(StorageLevel.MEMORY_AND_DISK)
    violations = violations_unsorted.orderBy("check", "conv_id", "turn_idx")

    # Verdict counts all come from the persisted union (one scan); turn_gaps
    # rows now live in the union too (per-turn gap rows, not a separate
    # conversation-level aggregation pass).
    counted = violations_unsorted.groupBy("check").agg(F.count(F.lit(1)).alias("n"))
    all_checks = ["uniqueness", "monotonic_ts", "role_domain",
                  "tool_domain", "null_text", "referential", "turn_gaps"]
    names_df = violations_unsorted.sparkSession.createDataFrame(
        [(c,) for c in all_checks], "check string"
    )
    constraint_verdicts = (
        names_df.join(counted, "check", "left")
        .select(
            F.lit("_global").alias("partition_key"),
            F.col("check"),
            (F.coalesce(F.col("n"), F.lit(0)) == 0).alias("passed"),
            F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("score"),
            F.format_string("violations=%d", F.coalesce(F.col("n"), F.lit(0))).alias("detail"),
        )
    )

    sharded = transcripts.withColumn(
        "shard", F.pmod(F.xxhash64("conv_id"), F.lit(drift_shards))
    )
    # derive_series pins the partition_key hash partitioning that both the
    # grid-index window and the scoring mapInArrow need — one exchange
    # serves both stages (score_drift runs with assume_partitioned=True).
    series_parts = spark.sparkContext.defaultParallelism * 4
    series = derive_series(sharded, partition_cols=["shard", "role"], ts_col="ts",
                           bucket=drift_bucket, num_partitions=series_parts)
    if completed_drift_partitions is not None:
        # resume: drop series whose partition already completed in a prior
        # run (the sr_drift keys of CheckpointStore.lineage(), as
        # submit_job --resume reads them) BEFORE the expensive scoring pass —
        # an anti-join on the series key (partition_key/metric), broadcast
        # when small.
        done = completed_drift_partitions.select(
            F.col(completed_drift_partitions.columns[0]).alias("series_key")
        ).distinct()
        series = (
            series.withColumn(
                "series_key", F.concat_ws("/", "partition_key", "metric")
            )
            .join(done, "series_key", "left_anti")
            .drop("series_key")
        )
    drift = drift_verdicts(score_drift(series, granularity="hourly",
                                       assume_partitioned=completed_drift_partitions is None))
    drift_as_verdicts = drift.select(
        F.col("series_key").alias("partition_key"),
        F.lit("sr_drift").alias("check"),
        F.col("passed"),
        F.col("max_score").alias("score"),
        F.col("detail"),
    )

    verdicts = constraint_verdicts.unionAll(drift_as_verdicts)
    persisted = [violations_unsorted, seq] if persist_intermediates else []
    if cache_input:
        persisted.append(transcripts)
    return ValidationResult(
        verdicts=verdicts,
        violations=violations,
        metrics={"plan_s": time.time() - t0},
        _persisted=persisted,
    )
