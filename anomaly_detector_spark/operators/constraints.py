"""Constraint predicates — the reference's validation semantics as DataFrame ops.

Each check returns a DataFrame of violation rows (empty == pass), mirroring
the reference's hard request-validation errors
(/root/reference/src/anomaly_detector/univariate/univariate_anomaly_detection.py:34-93):

- uniqueness        : duplicate (conv_id, turn_idx)    <- duplicate-timestamp
                      rejection (:42-43,77-78), salted two-stage agg for skew
- monotonic_ts      : ts out of order within a conv    <- is_timestamp_ascending (:34-44)
- domain            : role/tool outside their domains  <- param enum checks (:103-237)
- referential       : conv_id not in registry          <- (north_rule V12; no
                      reference analogue — anti-join, broadcast or shuffle+AQE)
- value bounds/NaN  : |v| <= 1e100, no NaN             <- (:66-70)

All pure DataFrame.  Each check returns an UNORDERED violation set: a sort
would trigger a RangePartitioner sampling job that re-executes the whole
subtree; the runner applies the stable (check, conv_id, turn_idx) output
order exactly once at the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SALT_BUCKETS = 64


def uniqueness_violations(df: DataFrame, keys: list[str], salt_buckets: int = DEFAULT_SALT_BUCKETS,
                          salt_cols: list[str] | None = None) -> DataFrame:
    """Rows whose key combination appears more than once.

    Two-stage salted aggregation: stage 1 groups on (key..., salt) so a hot
    key's rows spread over ``salt_buckets`` reducers (partial counts combine
    map-side); stage 2 re-aggregates the per-salt partial counts — its input
    is at most ``salt_buckets`` rows per key, so the hot key can no longer
    skew a reducer.  Catalyst's two-phase hash agg handles moderate skew on
    its own; the explicit salt keeps the worst case bounded at 10^12 rows.

    The salt is deterministic row content — never
    ``monotonically_increasing_id()`` or ``rand()``: a non-deterministic salt
    re-assigns rows to different buckets when a fetch failure retries a map
    stage after some reducers already fetched its output (the SPARK-23207
    class of bug), double- or under-counting duplicates exactly at the scale
    where retries are routine.  ``salt_cols`` names cheap non-key columns that
    distinguish duplicate rows of a hot key (e.g. role/ts for transcripts);
    without them a salt would be a pure function of the keys — identical
    groups, zero skew protection — so the keys-only form runs as ONE
    two-phase hash aggregate (map-side combine already caps each map task's
    output at one row per key, the same bound the salt stage gave).
    """
    if not salt_cols:
        # Keys-only salt is a pure function of the grouping keys, so
        # groupBy(keys, salt) has EXACTLY the same groups as groupBy(keys):
        # the extra stage can never split a hot key, it only re-shuffles the
        # full distinct-key set a second time.  Catalyst's two-phase hash
        # aggregate already bounds each map task's output at one row per
        # key, which is the same guarantee the keys-only salt gave — so the
        # plain form is both equivalent and one full exchange cheaper
        # (2 Exchange -> 1, r7).
        return (
            df.select(*keys)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
        )
    salt_inputs = list(keys) + list(salt_cols)
    salt = F.pmod(F.xxhash64(*salt_inputs), F.lit(salt_buckets))
    partial = (
        df.select(*salt_inputs)
        .withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial_cnt"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_partial_cnt").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def monotonic_violations(df: DataFrame, key: str = "conv_id", order_col: str = "turn_idx",
                         ts_col: str = "ts") -> DataFrame:
    """Turns whose ts is not strictly ascending in turn order within a conv.

    ``lag() over (partition by conv order by turn_idx)`` — one shuffle on the
    conversation key; groups are bounded by conversation length, so no spill
    risk at scale.  Distinguishes disorder (prev > cur) from duplicate ts
    (prev == cur) like the reference's -1/-2 codes (:34-44).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(order_col)
    prev_ts = F.lag(ts_col).over(w)
    return (
        df.select(key, order_col, F.col(ts_col))
        .withColumn("_prev_ts", prev_ts)
        .filter(F.col("_prev_ts").isNotNull() & (F.col("_prev_ts") >= F.col(ts_col)))
        .select(
            F.col(key),
            F.col(order_col),
            F.when(F.col("_prev_ts") == F.col(ts_col), F.lit("duplicate_ts"))
            .otherwise(F.lit("out_of_order_ts"))
            .alias("violation"),
        )
    )


def domain_violations(df: DataFrame, column: str, domain: list[str],
                      keys: tuple[str, str] = ("conv_id", "turn_idx"),
                      allow_null: bool = True) -> DataFrame:
    """Rows whose ``column`` value is outside ``domain`` (NULL allowed by default)."""
    cond = ~F.col(column).isin(domain)
    if not allow_null:
        cond = cond | F.col(column).isNull()
    return (
        df.filter(F.col(column).isNotNull() & cond if allow_null else cond)
        .select(*keys, F.col(column).alias("bad_value"))
    )


def referential_violations(df: DataFrame, registry: DataFrame, key: str = "conv_id",
                           broadcast_registry: bool | None = None) -> DataFrame:
    """Distinct keys in ``df`` that do not resolve against ``registry``.

    Aggregates to distinct keys first (cheap pre-shuffle reduction: 10^12 turns
    -> ~10^9 convs), then left-anti joins the registry.  The default is a
    shuffle-hash anti-join: the big side's distinct already hash-partitions it
    on the key, so the join reuses that exchange and only the registry keys
    move — and the work scales with cores.  Letting Spark auto-broadcast here
    is a trap measured on this box (phase_scaling_r6): a ~10^6-key registry
    fits the broadcast threshold but its HashedRelation build is a serial
    driver-side cost (~3s, flat in cores), and a production registry
    (~10^9 convs) could never broadcast at all.  Pass
    ``broadcast_registry=True`` only for genuinely tiny registries.
    """
    reg = registry.select(key).distinct()
    keys = df.select(key).distinct()
    if broadcast_registry is True:
        return keys.join(F.broadcast(reg), key, "left_anti")
    return keys.join(reg.hint("shuffle_hash"), key, "left_anti")


def referential_violations_from_keys(keys: DataFrame, registry: DataFrame,
                                     key: str = "conv_id") -> DataFrame:
    """``referential_violations`` for a caller that ALREADY holds the
    distinct key set (e.g. the ``_conv_key`` rows of
    ``sequence_violations(emit_conv_keys=True)``, which come out of the
    conversation-window pass hash-partitioned by ``key``).  Skips the big
    side's scan + distinct aggregation; when the keys carry the window
    pass's partitioning, the anti-join shuffles only the registry side."""
    reg = registry.select(key).distinct()
    return keys.select(key).join(reg.hint("shuffle_hash"), key, "left_anti")


def null_violations(df: DataFrame, column: str,
                    keys: tuple[str, str] = ("conv_id", "turn_idx")) -> DataFrame:
    """Rows with NULL in a required column (reference NaN check :69-70)."""
    return df.filter(F.col(column).isNull()).select(*keys)


def turn_gap_violations(df: DataFrame, key: str = "conv_id", order_col: str = "turn_idx") -> DataFrame:
    """Conversations whose turn_idx sequence has gaps or doesn't start at 0.

    Aggregate form of the reference's integer-grid alignment check
    (util/helpers.py:194-246 + filling_up/fill_up.py:36-44): per conv,
    count(distinct turn) vs (max - min + 1) and min == 0.
    """
    agg = df.groupBy(key).agg(
        F.min(order_col).alias("min_turn"),
        F.max(order_col).alias("max_turn"),
        F.count_distinct(F.col(order_col)).alias("n_distinct"),
    )
    return (
        agg.filter((F.col("min_turn") != 0) | (F.col("n_distinct") != F.col("max_turn") + 1))
        .withColumn("missing_count", F.col("max_turn") + 1 - F.col("n_distinct"))
    )


def sequence_violations(df: DataFrame, key: str = "conv_id", order_col: str = "turn_idx",
                        ts_col: str = "ts", include_duplicates: bool = False,
                        row_checks: list | None = None,
                        emit_conv_keys: bool = False) -> DataFrame:
    """Monotonic-timestamp, turn-gap (and optionally duplicate-key)
    violations from ONE window pass.

    ``monotonic_violations`` and ``turn_gap_violations`` each shuffle the full
    table on the conversation key; at 10^12 turns that is the same exchange
    paid twice.  This fused form computes both checks from a single
    ``lag() over (partition by conv order by turn_idx)`` projection — one
    scan, one shuffle — and emits typed rows:

    - check='monotonic_ts': prev ts >= ts (duplicate_ts / out_of_order_ts,
      identical semantics to monotonic_violations)
    - check='turn_gaps'   : first turn_idx != 0 (starts_at_N) or a jump
      turn_idx > prev+1 (gap_before_missing_K)
    - check='uniqueness'  (include_duplicates=True): duplicate (key,
      order_col) pairs are ADJACENT in the sorted window, so the k-1 extra
      occurrences of a k-duplicated key emit rows where
      turn_idx == prev_idx — detecting duplicates costs nothing beyond the
      exchange already paid.  Callers re-aggregate these sparse rows to
      dup_count form (see runner) — a shuffle over duplicate keys only,
      not the table.  The salted-aggregation `uniqueness_violations` remains
      the standalone skew-safe form for tables NOT already clustered by a
      conversation-style key.

    A row can violate several checks; it then emits several rows (array +
    explode, no second pass).  The standalone operators remain for callers
    that need only one check or the conversation-level aggregate form.

    ``row_checks`` (r7) piggybacks PER-ROW checks (domain membership, null
    columns — anything needing no window) on the same single scan: a list of
    nullable ``struct<check, detail>`` Columns, evaluated against the input
    row and emitted alongside the window checks.  The violating structs are
    filtered into a compact array BEFORE the exchange, so the shuffle widens
    only by the (sparse) violation payload — this replaces one full cache
    scan per narrow check in the runner with zero extra passes.

    ``emit_conv_keys`` (r7) additionally emits one ``check='_conv_key'``
    row per conversation (on each window partition's first row, which the
    pass already identifies via row_number), giving downstream consumers
    the DISTINCT key set — already hash-partitioned by ``key`` straight
    out of this pass's exchange — without a second scan of the table or a
    distinct aggregation.  The runner's referential check anti-joins the
    registry against these rows exchange-free on the big side.  Not a
    violation: callers must filter ``check != '_conv_key'`` out of
    violation sinks.

    Skew note: a conversation is one window group, so a hot conv_id lands in
    one task — acceptable because (a) conversation length is domain-bounded
    (turns per conversation, not rows per table) and (b) Spark's window sort
    is an UnsafeExternalSorter that SPILLS: a pathological conversation gets
    slow, never OOM.  Salting cannot apply here — the checks need the full
    per-conversation ordering (same constraint as any per-conv window).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(order_col)
    pre_cols = [F.col(key), F.col(order_col), F.col(ts_col)]
    if row_checks:
        # evaluate + compact the per-row checks BEFORE the window exchange:
        # the wire carries one (usually empty) array per row, not the
        # checked source columns themselves
        pre_cols.append(
            F.filter(F.array(*row_checks), lambda s: s.isNotNull()).alias("_row_v")
        )
    base = df.select(*pre_cols).select(
        F.col(key),
        F.col(order_col),
        F.col(ts_col),
        *([F.col("_row_v")] if row_checks else []),
        F.lag(ts_col).over(w).alias("_prev_ts"),
        F.lag(order_col).over(w).alias("_prev_idx"),
        # row_number distinguishes "no previous row" from "previous row with
        # NULL order value" so the duplicate check can be null-safe
        (F.row_number().over(w) > 1).alias("_has_prev"),
    )
    mono = F.when(
        F.col("_prev_ts").isNotNull() & (F.col("_prev_ts") >= F.col(ts_col)),
        F.struct(
            F.lit("monotonic_ts").alias("check"),
            F.when(F.col("_prev_ts") == F.col(ts_col), F.lit("duplicate_ts"))
            .otherwise(F.lit("out_of_order_ts"))
            .alias("detail"),
        ),
    )
    gap = F.when(
        F.col("_prev_idx").isNull() & (F.col(order_col) != 0),
        F.struct(
            F.lit("turn_gaps").alias("check"),
            F.format_string("starts_at_%d", F.col(order_col)).alias("detail"),
        ),
    ).when(
        F.col("_prev_idx").isNotNull() & (F.col(order_col) > F.col("_prev_idx") + 1),
        F.struct(
            F.lit("turn_gaps").alias("check"),
            F.format_string(
                "gap_before_missing_%d", F.col(order_col) - F.col("_prev_idx") - 1
            ).alias("detail"),
        ),
    )
    checks = [mono, gap]
    if include_duplicates:
        # null-safe equality: two rows with NULL order values are duplicates
        # of the same key, matching the grouped-aggregation semantics where
        # NULL grouping keys compare equal
        checks.append(
            F.when(
                F.col("_has_prev") & F.col(order_col).eqNullSafe(F.col("_prev_idx")),
                F.struct(
                    F.lit("uniqueness").alias("check"),
                    F.lit("dup_occurrence").alias("detail"),
                ),
            )
        )
    if emit_conv_keys:
        checks.append(
            F.when(
                ~F.col("_has_prev"),
                F.struct(F.lit("_conv_key").alias("check"),
                         F.lit(None).cast("string").alias("detail")),
            )
        )
    emitted = F.filter(F.array(*checks), lambda s: s.isNotNull())
    if row_checks:
        emitted = F.concat(emitted, F.col("_row_v"))
    return (
        base.select(
            F.col(key),
            F.col(order_col),
            F.explode(emitted).alias("v"),
        )
        .select(F.col(key), F.col(order_col), F.col("v.check"), F.col("v.detail"))
    )
