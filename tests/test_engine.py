"""Engine-level tests: validation runner, checkpoint/resume."""

import os

import pyspark.sql.functions as F
import pytest

from anomaly_detector_spark.data import synth_registry, synth_transcripts
from anomaly_detector_spark.engine.checkpoint import CheckpointStore
from anomaly_detector_spark.engine.runner import run_validation


@pytest.fixture(scope="module")
def inputs(spark):
    transcripts = synth_transcripts(spark, n_convs=150, seed=42).cache()
    registry = synth_registry(spark, n_convs=150, seed=42).cache()
    return transcripts, registry


@pytest.fixture(scope="module")
def validation(spark, inputs):
    transcripts, registry = inputs
    return run_validation(spark, transcripts, registry, cache_input=True)


def test_verdicts_cover_all_checks(validation):
    checks = {r["check"] for r in validation.verdicts.collect()}
    assert {"uniqueness", "monotonic_ts", "role_domain", "tool_domain",
            "null_text", "referential", "turn_gaps", "sr_drift"} <= checks
    # the runner only builds the plan; its one timing says so
    assert set(validation.metrics) == {"plan_s"}
    assert validation.metrics["plan_s"] >= 0


def test_violations_ordered_and_typed(validation):
    rows = validation.violations.collect()
    assert len(rows) > 0
    # stable (check, conv_id, turn_idx) ordering
    keys = [(r["check"], r["conv_id"] or "", r["turn_idx"] if r["turn_idx"] is not None else -1)
            for r in rows]
    assert keys == sorted(keys)


def test_planted_checks_fail_clean_checks_pass(validation):
    verd = {r["check"]: r["passed"] for r in validation.verdicts.collect()
            if r["partition_key"] == "_global"}
    assert verd["uniqueness"] is False      # planted dups
    assert verd["role_domain"] is False     # planted 'robot'
    assert verd["referential"] is False     # planted unregistered convs
    assert verd["turn_gaps"] is True        # generator emits contiguous turns


def test_checkpoint_resume(spark, inputs, validation, tmp_path):
    """A resumed run re-scores only the drift partitions no prior run
    recorded.  The completed set is the lineage read ``submit_job --resume``
    passes as ``completed_drift_partitions``; constraint checks are always
    re-verified."""
    transcripts, registry = inputs
    store = CheckpointStore(spark, str(tmp_path))
    full = validation.verdicts.collect()
    drift_keys = sorted(r["partition_key"] for r in full if r["check"] == "sr_drift")
    assert len(drift_keys) >= 2
    done, todo = drift_keys[::2], set(drift_keys[1::2])
    store.record("run_9", validation.verdicts.filter(
        (F.col("check") == "sr_drift") & F.col("partition_key").isin(done)))
    completed = (
        store.lineage()
        .filter(F.col("check") == "sr_drift")
        .select("partition_key")
        .distinct()
    )
    resumed = run_validation(spark, transcripts, registry,
                             completed_drift_partitions=completed)
    rows = resumed.verdicts.collect()
    resumed.release()
    assert {r["partition_key"] for r in rows if r["check"] == "sr_drift"} == todo

    def constraint_rows(verdicts):
        return sorted((r["check"], r["partition_key"], r["passed"])
                      for r in verdicts if r["check"] != "sr_drift")

    assert len(constraint_rows(rows)) == 7
    assert constraint_rows(rows) == constraint_rows(full)
    store.record_metrics("run_9", {"wall_s": 1.0})
    assert spark.read.parquet(os.path.join(str(tmp_path), "_metrics")).count() == 1


def test_lineage_missing_dir_is_empty_corrupt_file_raises(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path))
    # no prior run: an empty lineage with the lineage schema
    empty = store.lineage()
    assert empty.count() == 0
    assert empty.columns == ["run_id", "partition_key", "check", "passed", "completed_at"]
    # a corrupt file is an error, not "nothing completed"
    os.makedirs(store.lineage_path)
    with open(os.path.join(store.lineage_path, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        store.lineage()


def test_attach_turn_text_exact_per_turn_text(spark):
    """Violation rows joined back to the offending turn carry its EXACT text
    (north-rule per-row invariant), keyed joins only touch violating keys,
    and conversation-level violations pass through with null text."""
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import attach_turn_text, run_validation

    transcripts = synth_transcripts(spark, n_convs=100, seed=42)
    registry = synth_registry(spark, n_convs=50, seed=42)  # half missing -> referential rows
    res = run_validation(spark, transcripts, registry, cache_input=True)
    with_text = attach_turn_text(res.violations, transcripts).collect()
    assert len(with_text) == res.violations.count()

    # every turn-level violation row carries the exact text of that turn
    truth = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in transcripts.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"), "text",
        ).collect()
    }
    turn_rows = [r for r in with_text if r["turn_idx"] is not None]
    assert turn_rows
    # duplicate-key violations can have two source rows for one key; accept
    # either's text (the synth duplicates reuse the same text payload)
    mismatches = [
        r for r in turn_rows
        if (r["conv_id"], r["turn_idx"]) in truth and r["text"] != truth[(r["conv_id"], r["turn_idx"])]
    ]
    assert mismatches == []

    conv_rows = [r for r in with_text if r["turn_idx"] is None]
    assert conv_rows and all(r["text"] is None for r in conv_rows)
    assert {r["check"] for r in conv_rows} == {"referential"}


def test_validation_result_release_unpersists(spark):
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import run_validation

    transcripts = synth_transcripts(spark, n_convs=50, seed=42)
    registry = synth_registry(spark, n_convs=50, seed=42)
    res = run_validation(spark, transcripts, registry, cache_input=True)
    assert res.violations.count() >= 0
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in res._persisted)
    res.release()
    assert res._persisted == []
