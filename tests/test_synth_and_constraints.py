"""Synthetic transcripts generator determinism + constraint check correctness."""

import pyspark.sql.functions as F
import pytest

from anomaly_detector_spark.data import synth_registry, synth_transcripts
from anomaly_detector_spark.operators import constraints
from anomaly_detector_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN, TRANSCRIPTS_SCHEMA

N_CONVS = 300


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_convs=N_CONVS, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def registry(spark):
    return synth_registry(spark, n_convs=N_CONVS, seed=42).cache()


def test_schema_matches(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        f.name for f in TRANSCRIPTS_SCHEMA.fields
    ]


def test_deterministic(spark, transcripts):
    again = synth_transcripts(spark, n_convs=N_CONVS, seed=42)
    assert again.count() == transcripts.count()
    # exact row-set equality
    assert again.exceptAll(transcripts).count() == 0
    assert transcripts.exceptAll(again).count() == 0


def test_uniqueness_violations_match_planted_dups(spark, transcripts):
    viol = constraints.uniqueness_violations(transcripts, ["conv_id", "turn_idx"])
    rows = viol.collect()
    # Every planted duplicate appears exactly twice.
    assert all(r["dup_count"] == 2 for r in rows)
    # Count matches the generator rule: pmod(xxhash64(conv_id, turn_idx, 42), 997) == 0.
    base = transcripts.dropDuplicates(["conv_id", "turn_idx"])
    expected = base.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(42)), F.lit(997)) == 0
    ).count()
    assert len(rows) == expected and expected > 0


def test_domain_violations(transcripts):
    bad_roles = constraints.domain_violations(transcripts, "role", ROLE_DOMAIN).collect()
    assert len(bad_roles) > 0
    assert all(r["bad_value"] == "robot" for r in bad_roles)
    bad_tools = constraints.domain_violations(transcripts, "tool", TOOL_DOMAIN).collect()
    assert len(bad_tools) > 0
    assert all(r["bad_value"] == "teleport" for r in bad_tools)


def test_referential_violations(transcripts, registry):
    viol = constraints.referential_violations(transcripts, registry, broadcast_registry=True)
    missing = [r["conv_id"] for r in viol.collect()]
    assert len(missing) > 0
    reg_ids = {r["conv_id"] for r in registry.select("conv_id").collect()}
    all_ids = {r["conv_id"] for r in transcripts.select("conv_id").distinct().collect()}
    assert set(missing) == all_ids - reg_ids


def test_referential_violations_default_is_shuffle_anti_join(transcripts, registry):
    """The default plan must NOT broadcast the registry: a ~10^6-key
    HashedRelation build is a serial driver cost (measured flat-in-cores,
    phase_scaling_r6) and a production registry can't broadcast at all.
    Values must match the broadcast variant exactly."""
    default = constraints.referential_violations(transcripts, registry)
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    bcast = constraints.referential_violations(transcripts, registry,
                                               broadcast_registry=True)
    assert sorted(r["conv_id"] for r in default.collect()) == \
        sorted(r["conv_id"] for r in bcast.collect())


def test_monotonic_violations(transcripts):
    viol = constraints.monotonic_violations(transcripts).collect()
    assert len(viol) > 0
    kinds = {r["violation"] for r in viol}
    assert "out_of_order_ts" in kinds


def test_null_text_planted(transcripts):
    viol = constraints.null_violations(transcripts, "text")
    assert viol.count() > 0


def test_turn_gaps_none_in_clean_generator(transcripts):
    # generator produces contiguous turn_idx — no gap violations expected
    assert constraints.turn_gap_violations(transcripts).count() == 0


def test_sequence_violations_fused_matches_separate_ops(spark):
    """The fused one-shuffle operator must agree with monotonic_violations
    exactly and with turn_gap_violations on WHICH convs have gaps (the fused
    form emits per-turn gap rows; the standalone form aggregates per conv)."""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.operators.constraints import (
        monotonic_violations,
        sequence_violations,
        turn_gap_violations,
    )

    rows = [
        # contiguous, ordered: clean
        *[("a", i, i * 60) for i in range(5)],
        # out-of-order ts at idx 2, duplicate ts at idx 4
        ("b", 0, 0), ("b", 1, 60), ("b", 2, 30), ("b", 3, 90), ("b", 4, 90),
        # starts at 2 and jumps 3->7
        ("c", 2, 0), ("c", 3, 60), ("c", 7, 120),
    ]
    df = spark.createDataFrame(
        [(c, i, float(s)) for c, i, s in rows], "conv_id string, turn_idx int, s double"
    ).withColumn("ts", F.timestamp_seconds("s")).drop("s")

    fused = sequence_violations(df).collect()
    mono_fused = {(r["conv_id"], r["turn_idx"], r["detail"])
                  for r in fused if r["check"] == "monotonic_ts"}
    mono_sep = {(r["conv_id"], r["turn_idx"],
                 r["violation"]) for r in monotonic_violations(df).collect()}
    assert mono_fused == mono_sep == {
        ("b", 2, "out_of_order_ts"), ("b", 4, "duplicate_ts")
    }

    gap_rows = [r for r in fused if r["check"] == "turn_gaps"]
    assert {(r["conv_id"], r["turn_idx"], r["detail"]) for r in gap_rows} == {
        ("c", 2, "starts_at_2"), ("c", 7, "gap_before_missing_3")
    }
    assert {r["conv_id"] for r in gap_rows} == {
        r["conv_id"] for r in turn_gap_violations(df).collect()
    }

    # plan property: ONE exchange serves both checks
    from conftest import count_exchanges
    assert count_exchanges(sequence_violations(df)) == 1


def test_bucketed_fused_constraint_sweep_no_exchange(spark):
    """The full fused constraint pass (monotonic + gaps + uniqueness from one
    window) plans with ZERO exchanges over a table bucketed by conv_id and
    sorted by (conv_id, turn_idx) — the clustered-input deployment shape of
    the transcript table."""
    from conftest import count_exchanges

    synth_transcripts(spark, n_convs=200, seed=42).write \
        .bucketBy(8, "conv_id").sortBy("conv_id", "turn_idx") \
        .saveAsTable("t_bucketed")
    try:
        seq = constraints.sequence_violations(spark.table("t_bucketed"),
                                              include_duplicates=True)
        assert seq.count() >= 0
        assert count_exchanges(seq) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed")


def test_window_uniqueness_equals_salted_aggregation(spark):
    """The fused window form of the duplicate-key check (adjacent equal
    turn_idx in the conv-sorted window, re-aggregated) must equal the
    standalone salted aggregation exactly — keys AND dup counts."""
    from anomaly_detector_spark.data import synth_transcripts
    from anomaly_detector_spark.operators.constraints import (
        sequence_violations,
        uniqueness_violations,
    )

    t = synth_transcripts(spark, n_convs=300, seed=7)
    salted = {
        (r["conv_id"], r["turn_idx"]): r["dup_count"]
        for r in uniqueness_violations(t, ["conv_id", "turn_idx"],
                                       salt_cols=["ts", "role"]).collect()
    }
    window = {
        (r["conv_id"], r["turn_idx"]): r["count"] + 1
        for r in sequence_violations(t, include_duplicates=True)
        .filter("check = 'uniqueness'")
        .groupBy("conv_id", "turn_idx")
        .count()
        .collect()
    }
    assert salted and window == salted


def test_sequence_row_checks_equal_standalone_narrow_checks(spark):
    """r7: narrow checks fused into the window pass (row_checks) must emit
    exactly the rows the standalone operators emit — check names, keys,
    and detail values."""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.data import synth_transcripts
    from anomaly_detector_spark.operators.constraints import (
        domain_violations,
        null_violations,
        sequence_violations,
    )
    from anomaly_detector_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN

    t = synth_transcripts(spark, n_convs=400, seed=11)

    def rc(cond, check, detail):
        return F.when(cond, F.struct(F.lit(check).alias("check"),
                                     detail.alias("detail")))

    fused = sequence_violations(
        t,
        row_checks=[
            rc(F.col("role").isNotNull() & ~F.col("role").isin(ROLE_DOMAIN),
               "role_domain", F.col("role").cast("string")),
            rc(F.col("tool").isNotNull() & ~F.col("tool").isin(TOOL_DOMAIN),
               "tool_domain", F.col("tool").cast("string")),
            rc(F.col("text").isNull(), "null_text",
               F.lit(None).cast("string")),
        ],
    )
    got = {
        (r["check"], r["conv_id"], r["turn_idx"], r["detail"])
        for r in fused.filter(
            F.col("check").isin("role_domain", "tool_domain", "null_text")
        ).collect()
    }
    want = set()
    for check, df in (
        ("role_domain", domain_violations(t, "role", ROLE_DOMAIN)),
        ("tool_domain", domain_violations(t, "tool", TOOL_DOMAIN)),
    ):
        want |= {(check, r["conv_id"], r["turn_idx"], r["bad_value"])
                 for r in df.collect()}
    want |= {("null_text", r["conv_id"], r["turn_idx"], None)
             for r in null_violations(t, "text").collect()}
    assert want and got == want


def test_conv_key_markers_give_exact_referential_set(spark):
    """r7: emit_conv_keys markers are exactly one per distinct conv_id, and
    the anti-join over them equals the standalone referential operator."""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.operators.constraints import (
        referential_violations,
        referential_violations_from_keys,
        sequence_violations,
    )

    t = synth_transcripts(spark, n_convs=400, seed=11)
    reg = synth_registry(spark, n_convs=400, seed=11)
    seq = sequence_violations(t, include_duplicates=True, emit_conv_keys=True)
    markers = seq.filter(F.col("check") == "_conv_key")
    marker_ids = [r["conv_id"] for r in markers.collect()]
    assert len(marker_ids) == len(set(marker_ids))  # exactly one per conv
    assert set(marker_ids) == {r["conv_id"]
                               for r in t.select("conv_id").distinct().collect()}
    old = {r["conv_id"] for r in referential_violations(t, reg).collect()}
    new = {r["conv_id"]
           for r in referential_violations_from_keys(markers, reg).collect()}
    assert old and new == old


def test_sequence_violations_hot_conversation_bounded(spark):
    """A pathologically hot conversation (50k turns, one window group) must
    validate correctly — the window sort spills rather than failing — and
    planted violations inside it are all found."""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.operators.constraints import sequence_violations

    n = 50_000
    hot = (
        spark.range(n)
        .select(
            F.lit("hot").alias("conv_id"),
            # plant a gap: skip turn 25000
            F.when(F.col("id") >= 25_000, F.col("id") + 1).otherwise(F.col("id"))
            .cast("int").alias("turn_idx"),
            F.timestamp_seconds(
                # plant one ts disorder at turn 40000
                F.when(F.col("id") == 40_000, F.col("id") * 60 - 3600)
                .otherwise(F.col("id") * 60)
            ).alias("ts"),
        )
    )
    cold = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.timestamp_seconds(F.lit(0)).alias("ts"),
    )
    out = sequence_violations(hot.unionAll(cold), include_duplicates=True).collect()
    by_check = {}
    for r in out:
        by_check.setdefault(r["check"], []).append((r["conv_id"], r["turn_idx"]))
    assert by_check["turn_gaps"] == [("hot", 25_001)]
    # id 40000 carries turn_idx 40001 after the gap shift
    assert by_check["monotonic_ts"] == [("hot", 40_001)]
    assert "uniqueness" not in by_check


def test_sequence_violations_null_turn_idx_duplicates(spark):
    """Duplicate keys with NULL turn_idx must be reported (null-safe
    equality, matching grouped-aggregation semantics where NULL keys group
    together); a conv with a single NULL-turn row must not self-flag."""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.operators.constraints import sequence_violations

    df = spark.createDataFrame(
        [("a", None, 0.0), ("a", None, 60.0),  # NULL-key duplicate pair
         ("b", None, 0.0),                      # single NULL-key row: clean
         ("c", 0, 0.0), ("c", 0, 60.0)],        # ordinary duplicate
        "conv_id string, turn_idx int, s double",
    ).withColumn("ts", F.timestamp_seconds("s")).drop("s")
    dups = [r for r in sequence_violations(df, include_duplicates=True).collect()
            if r["check"] == "uniqueness"]
    assert {(r["conv_id"], r["turn_idx"]) for r in dups} == {("a", None), ("c", 0)}


def test_synth_timespan_pinned_across_conv_counts(spark):
    """Scaling inputs must grow series COUNT, never series LENGTH: the synth
    table's wall-clock span is pinned (start offsets wrap a fixed 14-day
    window) regardless of n_convs, so the hourly drift series stay the same
    length at every scale factor.  (Corrects the round-4 note that claimed
    the span grows with conv count — measured r5: 357.1h at 300k convs vs
    357.7h at 2.4M; the drift-kernel phase is CONSTANT in input size.)"""
    import pyspark.sql.functions as F

    from anomaly_detector_spark.data import synth_transcripts

    spans = {}
    for n in (4000, 16000):
        t = synth_transcripts(spark, n_convs=n, seed=42)
        lo, hi = t.agg(F.min("ts"), F.max("ts")).first()
        spans[n] = (hi - lo).total_seconds() / 3600.0
    # both spans sit at the pinned 14-day window plus the bounded hot-conv
    # tail (<= 600 turns * 120s = 20h); more convs only fill the window in
    assert abs(spans[16000] - spans[4000]) < 12.0, spans
    assert spans[16000] < 14 * 24 + 21


def test_realistic_profile_low_violation_rate(spark):
    """profile='realistic' keeps timestamps monotonic except planted
    backshifts: total sequence-violation rate <1.5% of turns (vs ~38% for
    the adversarial default), same schema, deterministic, and the planted
    duplicate/domain/null/referential rows unchanged."""
    adv = synth_transcripts(spark, n_convs=N_CONVS, seed=42)
    real = synth_transcripts(spark, n_convs=N_CONVS, seed=42, profile="realistic")
    assert [f.name for f in real.schema.fields] == [
        f.name for f in adv.schema.fields
    ]
    n = real.count()
    assert n == adv.count()  # same rows, only ts differs
    # everything except ts is byte-identical across profiles
    assert real.drop("ts").exceptAll(adv.drop("ts")).count() == 0
    seq = constraints.sequence_violations(real, include_duplicates=True).cache()
    try:
        rate = seq.count() / n
        assert rate < 0.015, f"realistic profile violation rate {rate:.3f}"
        # the planted disorder family is still present
        assert seq.filter(F.col("check") == "monotonic_ts").count() > 0
    finally:
        seq.unpersist()
    # deterministic
    again = synth_transcripts(spark, n_convs=N_CONVS, seed=42, profile="realistic")
    assert again.exceptAll(real).count() == 0


def test_unknown_profile_rejected(spark):
    with pytest.raises(ValueError):
        synth_transcripts(spark, n_convs=10, seed=42, profile="typo")
