"""Distribution-drift checks — the reference's anomaly scoring as Spark ops.

Derives per-partition timeseries from the transcripts/events table with pure
DataFrame aggregations (one shuffle), then scores each bounded series with
the numpy kernel pipeline inside one Arrow-batched ``mapInArrow`` pass over
the hash-partitioned series rows (no per-row Python).

Scale notes: a series group is capped at MAX_SERIES_POINTS (the reference's
own 8640-point validation bound, univariate_anomaly_detection.py:54-55), so
executor memory per group is bounded regardless of table size; the
aggregation before it reduces 10^12 turns to (#partitions x #buckets) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from anomaly_detector_spark.schema import MAX_SERIES_POINTS, MIN_SERIES_POINTS

DRIFT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("expected_value", T.DoubleType(), True),
        T.StructField("is_anomaly", T.BooleanType(), True),
        T.StructField("is_positive_anomaly", T.BooleanType(), True),
        T.StructField("is_negative_anomaly", T.BooleanType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("period", T.IntegerType(), True),
        T.StructField("model_id", T.StringType(), True),
    ]
)

DRIFT_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("n_anomalies", T.IntegerType(), True),
        T.StructField("max_score", T.DoubleType(), True),
        T.StructField("period", T.IntegerType(), True),
        T.StructField("model_id", T.StringType(), True),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)


def derive_series(df: DataFrame, partition_cols: list[str], ts_col: str = "ts",
                  bucket: str = "1 hour", value_exprs: dict | None = None,
                  num_partitions: int | None = None) -> DataFrame:
    """Long-format drift series: one row per (partition_key, metric, bucket).

    ``value_exprs`` maps metric name -> aggregate Column; defaults cover the
    north-star metrics (turn rate, text length, tool usage).

    ``num_partitions`` pins the explicit partition_key repartition that feeds
    the idx window.  The same hash partitioning co-locates every
    (partition_key, metric) series in one partition (partition_key is a
    subset of the series key), which is all the downstream ``mapInArrow``
    scorer needs, so ``score_drift(assume_partitioned=True)`` adds NO second
    shuffle — one exchange covers both the grid-index window and the kernel
    pass.

    Exchange byte diet (the one shuffle this operator pays):
    - buckets are keyed by an epoch-aligned LONG index (``unix_ts div
      interval`` — identical alignment to ``F.window``'s default epoch
      anchor), so no timestamp columns cross the wire;
    - metrics ride UN-exploded: one row per (partition_key, bucket) carrying
      all metric columns; the per-metric explode happens after the shuffle
      (narrow), cutting exchanged rows by ~len(value_exprs)x.
    The wall-clock ``ts`` column is reconstructed post-shuffle for
    consumers that want it.
    """
    value_exprs = value_exprs or {
        "turn_rate": F.count(F.lit(1)).cast("double"),
        "text_len": F.avg(F.length(F.col("text"))),
        "tool_rate": F.avg(F.when(F.col("tool") != "none", 1.0).otherwise(0.0)),
    }
    # interval length in seconds as a constant-folded expression (no driver
    # round-trip); F.window(ts, bucket) starts are epoch-aligned multiples of
    # the interval, so floor-division of unix seconds gives the same grid
    ival = F.expr(f"unix_timestamp(timestamp'1970-01-01 00:00:00' + interval {bucket})")
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("null")) for c in partition_cols]
    # group on the RAW partition columns; the partition_key concat runs on
    # the aggregated rows (#partitions x #buckets), not per input row
    agg = (
        df.groupBy(
            *partition_cols,
            # defensive cast: for a TimestampType column this is a no-op, but a
            # STRING ts column would otherwise hit unix_timestamp's fixed
            # 'yyyy-MM-dd HH:mm:ss' parse (nulling fractional-second formats);
            # the cast preserves F.window's old string-input tolerance
            F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / ival).alias("bucket_idx"),
        )
        .agg(*[expr.alias(name) for name, expr in value_exprs.items()])
        .select(
            F.concat_ws("/", *parts).alias("partition_key"),
            "bucket_idx",
            *value_exprs.keys(),
        )
    )
    from pyspark.sql.window import Window

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 4
    w = Window.partitionBy("partition_key")
    metrics = [
        F.struct(F.lit(name).alias("metric"), F.col(name).cast("double").alias("value"))
        for name in value_exprs
    ]
    # grid index per partition (helpers.py:194-246 analogue: (ts - first_ts)
    # / interval, exact on the window grid); every metric of a partition
    # shares the same bucket set, so the min over partition_key equals the
    # per-series min and the window runs BEFORE the explode on 1/len(metrics)
    # of the rows
    return (
        agg.repartition(num_partitions, "partition_key")
        .withColumn("idx", (F.col("bucket_idx") - F.min("bucket_idx").over(w)).cast("int"))
        .withColumn("ts", F.timestamp_seconds(F.col("bucket_idx") * ival))
        .select("partition_key", "idx", "ts", F.explode(F.array(*metrics)).alias("m"))
        .select(
            "partition_key",
            F.col("m.metric").alias("metric"),
            "idx",
            "ts",
            F.col("m.value").alias("value"),
        )
    )


def _score_partition_arrow(batches, granularity: str, threshold: float,
                           max_anomaly_ratio: float):
    """Score every series co-located in one partition from raw Arrow batches.

    The ``mapInArrow`` body of :func:`score_drift`: no pandas Block-manager
    conversion on either side of the Python boundary.  Grouping is done in
    C++ (``dictionary_encode`` of each key column) + one numpy ``lexsort``.
    Each group is sorted by idx, gated on the MIN/MAX_SERIES_POINTS length
    bound and fed to ``detect_series``; series outside the gate, or that the
    kernel raises on, produce no rows.  tests/test_drift_planted.py checks
    the output bitwise against a driver-side per-series ``detect_series``
    oracle.
    """
    import numpy as np
    import pyarrow as pa

    from anomaly_detector_spark.kernels.detect import detect_series

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    # group on the (partition_key, metric) PAIR: encode each column
    # separately and combine the integer codes.  Joining the strings first
    # would merge distinct pairs whose concatenations collide (partition
    # values may contain "/"), silently scoring them as one interleaved
    # series.
    enc_pk = tbl.column("partition_key").dictionary_encode().combine_chunks()
    enc_m = tbl.column("metric").dictionary_encode().combine_chunks()
    m_dict = enc_m.dictionary.to_pylist()
    pk_dict = enc_pk.dictionary.to_pylist()
    n_m = max(len(m_dict), 1)
    codes = (enc_pk.indices.to_numpy(zero_copy_only=False).astype(np.int64) * n_m
             + enc_m.indices.to_numpy(zero_copy_only=False))
    # the public series_key is the "/" join of the pair
    keys = {int(c): f"{pk_dict[int(c) // n_m]}/{m_dict[int(c) % n_m]}"
            for c in np.unique(codes)}
    idx = tbl.column("idx").to_numpy(zero_copy_only=False)
    val = tbl.column("value").to_numpy(zero_copy_only=False)
    order = np.lexsort((idx, codes))
    codes_s, idx_s, val_s = codes[order], idx[order], val[order]
    starts = np.flatnonzero(np.r_[True, codes_s[1:] != codes_s[:-1]])
    ends = np.r_[starts[1:], len(codes_s)]

    out: dict[str, list] = {f.name: [] for f in DRIFT_RESULT_SCHEMA.fields}
    for s, e in zip(starts, ends):
        n = int(e - s)
        if n < MIN_SERIES_POINTS or n > MAX_SERIES_POINTS:
            continue
        g_idx = idx_s[s:e]
        try:
            results, period, _, model_id, _ = detect_series(
                val_s[s:e].tolist(), (g_idx - g_idx[0]).tolist(),
                granularity=granularity, interval=1, threshold=threshold,
                max_anomaly_ratio=max_anomaly_ratio,
            )
        except Exception:
            continue
        key = keys[int(codes_s[s])]
        out["series_key"].append(np.full(n, key, dtype=object))
        out["idx"].append(g_idx.astype(np.int32, copy=False))
        out["value"].append(np.asarray(results["value"], dtype=np.float64))
        out["expected_value"].append(np.asarray(results["expected_value"], dtype=np.float64))
        out["is_anomaly"].append(np.asarray(results["is_anomaly"], dtype=bool))
        out["is_positive_anomaly"].append(np.asarray(results["is_positive_anomaly"], dtype=bool))
        out["is_negative_anomaly"].append(np.asarray(results["is_negative_anomaly"], dtype=bool))
        # kernels without a score column report `value * 0.0` (NaN-propagating)
        score = results.get("score", results["value"] * 0.0)
        out["score"].append(np.asarray(score, dtype=np.float64))
        out["period"].append(np.full(n, period, dtype=np.int32))
        out["model_id"].append(np.full(n, model_id, dtype=object))
    if not out["series_key"]:
        return
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate(out["series_key"]), type=pa.string()),
            pa.array(np.concatenate(out["idx"]), type=pa.int32()),
            pa.array(np.concatenate(out["value"]), type=pa.float64()),
            pa.array(np.concatenate(out["expected_value"]), type=pa.float64()),
            pa.array(np.concatenate(out["is_anomaly"]), type=pa.bool_()),
            pa.array(np.concatenate(out["is_positive_anomaly"]), type=pa.bool_()),
            pa.array(np.concatenate(out["is_negative_anomaly"]), type=pa.bool_()),
            pa.array(np.concatenate(out["score"]), type=pa.float64()),
            pa.array(np.concatenate(out["period"]), type=pa.int32()),
            pa.array(np.concatenate(out["model_id"]), type=pa.string()),
        ],
        names=[f.name for f in DRIFT_RESULT_SCHEMA.fields],
    )


def score_drift(series_df: DataFrame, granularity: str = "hourly", threshold: float = 3.5,
                max_anomaly_ratio: float = 0.25, num_partitions: int | None = None,
                assume_partitioned: bool = False) -> DataFrame:
    """Per-point drift scores for every series (one ``mapInArrow`` pass).

    The input is the (partition_key, metric, idx, value) long format from
    :func:`derive_series`; each (partition_key, metric) pair is one series.

    The input is explicitly repartitioned on the series key: the aggregated
    series table is tiny in bytes but heavy in per-group CPU (the scoring
    kernel), so AQE's size-based coalescing would otherwise shrink this
    stage to a handful of tasks and serialize the kernel work.  An explicit
    user repartition pins the parallelism (AQE honors user-specified
    partition counts).

    ``assume_partitioned=True`` skips that repartition for inputs that are
    ALREADY hash-partitioned compatibly (e.g. straight out of
    ``derive_series(num_partitions=...)``, which partitions by
    partition_key — a subset of the series key), so every series' rows are
    already co-located and the kernel pass runs shuffle-free.  Only the key
    pair plus (idx, value) is projected into the Arrow transfer; extra input
    columns never cross to Python.

    Values cross the JVM→Python Arrow channel as float32, halving the value
    bytes.  The scoring kernel consumes Python floats (f64), so this
    quantizes the INPUT values to f32 precision (~1e-7 relative) before
    detection — the reference's own Cython kernels are float32 internally
    (kernels/esd.py:15), so thresholds/flags are insensitive at this scale;
    the golden-corpus and kernel A/B harnesses feed the kernel directly and
    are unaffected.  Values beyond the f32 range clamp to +/-3.4e38
    (huge-but-finite) rather than overflowing to Infinity.
    """
    if assume_partitioned and num_partitions is not None:
        raise ValueError(
            "num_partitions and assume_partitioned are mutually exclusive: "
            "pass num_partitions to derive_series instead"
        )
    group_cols = ["partition_key", "metric"]
    filtered = series_df.select(*group_cols, "idx", F.col("value").cast("double").alias("value")).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    # clamp BEFORE the narrowing cast: Spark's double->float cast sends
    # |v| > f32-max to +/-Infinity, which would poison the kernel's
    # statistics.  Clamping keeps such values huge-but-finite, so a 1e39
    # spike and a 3.4e38 spike are both colossal outliers.  NaNs were
    # filtered above — least/greatest would otherwise absorb them (Spark
    # orders NaN largest).  Genuine +/-inf inputs also clamp to the finite
    # extremes.
    f32_max = 3.4028234663852886e38
    clamped = F.least(F.greatest(F.col("value"), F.lit(-f32_max)), F.lit(f32_max))
    filtered = filtered.withColumn("value", clamped.cast("float"))
    if not assume_partitioned:
        if num_partitions is None:
            # 4 waves of tasks: fine enough that straggling heavy series
            # don't leave cores idle at the tail of the stage
            num_partitions = series_df.sparkSession.sparkContext.defaultParallelism * 4
        filtered = filtered.repartition(num_partitions, *group_cols)

    # the repartition above (or derive_series' pinned partitioning under
    # assume_partitioned) hash-co-locates every series' rows in one
    # partition, so a per-partition scorer sees whole series
    def afn(batches):
        return _score_partition_arrow(batches, granularity, threshold,
                                      max_anomaly_ratio)

    return filtered.mapInArrow(afn, DRIFT_RESULT_SCHEMA)


def drift_verdicts(scored: DataFrame, max_anomaly_rate: float = 0.05) -> DataFrame:
    """Per-series pass/fail rollup (reference per-point flags -> partition
    verdicts)."""
    agg = scored.groupBy("series_key", "period", "model_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_points"),
        F.sum(F.col("is_anomaly").cast("int")).cast("int").alias("n_anomalies"),
        F.round(F.max("score"), 6).alias("max_score"),
    )
    return agg.select(
        "series_key",
        "n_points",
        "n_anomalies",
        "max_score",
        "period",
        "model_id",
        (F.col("n_anomalies") <= F.col("n_points") * max_anomaly_rate).alias("passed"),
        F.format_string("anomaly_rate=%.4f", F.col("n_anomalies") / F.col("n_points")).alias("detail"),
    )
