"""spark-submit entrypoint for the validation engine (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

Packaging + submission:

    cd /root/repo && zip -r /tmp/adspark.zip anomaly_detector_spark
    spark-submit --py-files /tmp/adspark.zip tools/submit_job.py \
        --input  s3://bucket/transcripts/          \
        --registry s3://bucket/conv_registry/      \
        --output /warehouse/validation_run_0042    \
        --run-id run_0042 [--resume]

Local smoke run (no cluster):

    python tools/submit_job.py --synthetic 2000 --output /tmp/val_out --run-id t1

Outputs under --output:
    verdicts/run_id=*/    per-partition pass/fail + scores, appended per run
                          (current verdict per partition+check = the one
                          from the run with the greatest _lineage
                          completed_at, not the greatest run_id string)
    violations/run_id=*/  stable-ordered violation rows, appended per run
    _lineage/             per-(run, partition, check) completion rows,
                          written only after the run's verdicts landed
    _metrics/             per-run counters/timings

--resume anti-joins the drift partition list against _lineage from prior
runs so only unfinished partitions are re-scored (engine/checkpoint.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="Transcript validation job")
    ap.add_argument("--input", help="transcripts table path (parquet/Iceberg dir)")
    ap.add_argument("--registry", help="conversation registry path")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip drift partitions completed in prior runs")
    ap.add_argument("--synthetic", type=int, default=0, metavar="N_CONVS",
                    help="use N synthetic conversations instead of --input")
    ap.add_argument("--drift-bucket", default="1 hour")
    ap.add_argument("--with-text", action="store_true",
                    help="attach the offending turn's exact text to each "
                         "violation row (north-rule per-turn text equality); "
                         "keyed join touches only violating keys")
    ap.add_argument("--drift-shards", type=int, default=128)
    args = ap.parse_args()

    # Under spark-submit the session already exists with cluster config;
    # get_spark only fills in engine defaults (Arrow, AQE) when standalone.
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from anomaly_detector_spark.session import get_spark
        spark = get_spark(app_name=f"transcript-validation-{args.run_id}")

    from anomaly_detector_spark.engine.checkpoint import CheckpointStore
    from anomaly_detector_spark.engine.runner import run_validation

    if args.synthetic:
        from anomaly_detector_spark.data import synth_registry, synth_transcripts
        transcripts = synth_transcripts(spark, n_convs=args.synthetic, seed=42)
        registry = synth_registry(spark, n_convs=args.synthetic, seed=42)
        cache_input = True
    else:
        if not args.input or not args.registry:
            ap.error("--input and --registry are required without --synthetic")
        from anomaly_detector_spark.sources import read_transcripts_parquet
        transcripts = read_transcripts_parquet(spark, args.input)
        registry = spark.read.parquet(args.registry)
        cache_input = False

    from pyspark.sql import functions as F

    store = CheckpointStore(spark, args.output)
    completed = None
    if args.resume:
        # drift partitions completed in ANY prior run are skipped before the
        # scoring pass; constraint checks are cheap single-pass aggs and
        # always re-verified against the current snapshot
        completed = (
            store.lineage()
            .filter(F.col("check") == "sr_drift")
            .select("partition_key")
            .distinct()
        )
    t0 = time.time()
    result = run_validation(
        spark, transcripts, registry,
        drift_bucket=args.drift_bucket, drift_shards=args.drift_shards,
        cache_input=cache_input, completed_drift_partitions=completed,
    )

    # Run-partitioned writes: each run appends only what IT computed, so a
    # --resume run never deletes prior runs' drift verdicts (overwrite of the
    # shared dir would), and a crashed run leaves no lineage row — the next
    # --resume simply re-scores its partitions.  The current verdict per
    # (partition, check) is the one from the run with the greatest
    # _lineage completed_at; run_id strings do not order runs (run_10 <
    # run_9).
    verdicts_path = os.path.join(args.output, "verdicts")
    violations_path = os.path.join(args.output, "violations")
    result.verdicts.withColumn("run_id", F.lit(args.run_id)) \
        .write.mode("append").partitionBy("run_id").parquet(verdicts_path)
    result.violations.withColumn("run_id", F.lit(args.run_id)) \
        .write.mode("append").partitionBy("run_id").parquet(violations_path)
    if args.with_text:
        # separate dataset: appending a 6-column schema into the shared
        # violations dir would leave mixed parquet footers and make schema
        # inference nondeterministic for every reader of that path
        from anomaly_detector_spark.engine.runner import attach_turn_text

        attach_turn_text(result.violations, transcripts) \
            .withColumn("run_id", F.lit(args.run_id)) \
            .write.mode("append").partitionBy("run_id") \
            .parquet(os.path.join(args.output, "violations_text"))
    this_run = spark.read.parquet(verdicts_path).filter(F.col("run_id") == args.run_id)
    store.record(args.run_id, this_run)

    n_verdicts = this_run.count()
    n_current = spark.read.parquet(verdicts_path) \
        .select("partition_key", "check").distinct().count()
    n_violations = spark.read.parquet(violations_path) \
        .filter(F.col("run_id") == args.run_id).count()
    store.record_metrics(args.run_id, {
        "wall_s": time.time() - t0,
        "n_verdicts": float(n_verdicts),
        "n_violations": float(n_violations),
    })
    print(f"run {args.run_id}: {n_verdicts} verdicts this run "
          f"({n_current} current across runs), {n_violations} violations, "
          f"{time.time() - t0:.1f}s -> {args.output}")


if __name__ == "__main__":
    main()
