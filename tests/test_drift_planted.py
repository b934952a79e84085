"""Planted-anomaly truth tests for the Spark-side drift wiring.

The golden corpus proves the numpy kernel; these prove the DataFrame plumbing
(derive_series bucketing/grid indices -> mapInArrow scoring -> verdict
rollup) flags exactly the planted events and nothing structural around them.
"""

import datetime as dt
import math
import struct

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from anomaly_detector_spark.kernels.detect import detect_series
from anomaly_detector_spark.operators.drift import (
    DRIFT_RESULT_SCHEMA, derive_series, drift_verdicts, score_drift)
from anomaly_detector_spark.schema import MAX_SERIES_POINTS, MIN_SERIES_POINTS

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
F32_MAX = float(np.finfo(np.float32).max)


def _mk_events(spark, spikes: dict[str, list[int]], n_hours: int = 200, base_rate: int = 20):
    """Synthetic events: `base_rate` rows per hour per event_type, plus
    `spike x 10` extra rows at the planted hour indices."""
    rows = []
    for etype in spikes:
        for h in range(n_hours):
            n = base_rate + (base_rate * 10 if h in spikes[etype] else 0)
            for i in range(n):
                rows.append((etype, T0 + dt.timedelta(hours=h, seconds=i % 3600), 1.0))
    pdf = pd.DataFrame(rows, columns=["event_type", "ts", "value"])
    return spark.createDataFrame(pdf)


def test_sr_drift_flags_planted_rate_spikes(spark):
    spikes = {"click": [50, 120], "view": []}
    ev = _mk_events(spark, spikes)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    scored = score_drift(series, granularity="hourly").collect()
    flagged = {}
    for r in scored:
        flagged.setdefault(r["series_key"], set())
        if r["is_anomaly"]:
            flagged[r["series_key"]].add(r["idx"])
    # the planted hours are flagged, as positive anomalies
    assert {50, 120} <= flagged["click/event_rate"]
    pos = {r["idx"] for r in scored if r["series_key"] == "click/event_rate" and r["is_positive_anomaly"]}
    assert {50, 120} <= pos
    # a flat series stays quiet
    assert flagged["view/event_rate"] == set()
    # no over-firing: at most a handful of borderline extras
    assert len(flagged["click/event_rate"]) <= 6


def test_drift_verdicts_fail_exactly_spiked_series(spark):
    spikes = {"click": [30, 60, 90, 110, 140, 170], "view": [], "purchase": []}
    ev = _mk_events(spark, spikes, n_hours=180)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    verdicts = {r["series_key"]: r for r in
                drift_verdicts(score_drift(series, granularity="hourly"),
                               max_anomaly_rate=0.02).collect()}
    assert not verdicts["click/event_rate"]["passed"]
    assert verdicts["click/event_rate"]["n_anomalies"] >= 6
    assert verdicts["view/event_rate"]["passed"]
    assert verdicts["purchase/event_rate"]["passed"]
    assert verdicts["view/event_rate"]["n_points"] == 180


def test_derive_series_grid_indices_with_missing_buckets(spark):
    """Bucket grid indices survive empty hours: idx is (ts-first)/bucket, not
    a dense row number — the kernel's fill-up path needs true grid gaps."""
    rows = []
    for h in [0, 1, 2, 5, 6, 10]:
        for i in range(3):
            rows.append(("click", T0 + dt.timedelta(hours=h, minutes=i), 1.0))
    ev = spark.createDataFrame(pd.DataFrame(rows, columns=["event_type", "ts", "value"]))
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    got = sorted(r["idx"] for r in series.collect())
    assert got == [0, 1, 2, 5, 6, 10]


def test_score_drift_skips_too_short_series(spark):
    """Series under the reference's 12-point minimum produce no rows (the
    reference hard-errors; at table scope we skip, never crash the stage)."""
    spikes = {"click": []}
    ev = _mk_events(spark, spikes, n_hours=8)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    assert score_drift(series, granularity="hourly").count() == 0


def _oracle(series_df, granularity="hourly", quantize=True):
    """Driver-side reference for score_drift: collect the series, run
    ``detect_series`` on each (partition_key, metric) group sorted by idx,
    with values clamped and quantized to float32 as the Arrow transport
    does (``quantize=False`` feeds the exact f64 values).  Series outside
    the length gate, or that the kernel raises on, yield no rows."""
    groups: dict[tuple, list] = {}
    for r in series_df.select("partition_key", "metric", "idx", "value").collect():
        if r["value"] is None or math.isnan(r["value"]):
            continue
        groups.setdefault((r["partition_key"], r["metric"]), []).append((r["idx"], r["value"]))
    rows = []
    for (pk, metric), pts in groups.items():
        pts.sort(key=lambda p: p[0])
        if not MIN_SERIES_POINTS <= len(pts) <= MAX_SERIES_POINTS:
            continue
        idx = [i for i, _ in pts]
        vals = np.array([v for _, v in pts], dtype=np.float64)
        if quantize:
            vals = np.clip(vals, -F32_MAX, F32_MAX).astype(np.float32)
        try:
            results, period, _, model_id, _ = detect_series(
                vals.tolist(), [i - idx[0] for i in idx], granularity=granularity,
                interval=1, threshold=3.5, max_anomaly_ratio=0.25)
        except Exception:
            continue
        score = results.get("score", results["value"] * 0.0)
        for j, i in enumerate(idx):
            rows.append({
                "series_key": f"{pk}/{metric}", "idx": i,
                "value": float(results["value"][j]),
                "expected_value": float(results["expected_value"][j]),
                "is_anomaly": bool(results["is_anomaly"][j]),
                "is_positive_anomaly": bool(results["is_positive_anomaly"][j]),
                "is_negative_anomaly": bool(results["is_negative_anomaly"][j]),
                "score": float(score[j]),
                "period": int(period), "model_id": model_id,
            })
    return rows


def _bits(v):
    """Bitwise identity of one output cell (all NaNs compare equal)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack("<d", v)
    return v


def _assert_matches_oracle(scored, oracle):
    """All 10 output columns equal bitwise, row for row.  Rows are keyed on
    (series_key, idx, value) so colliding series keys still pair up."""
    def key(r):
        return (r["series_key"], r["idx"], r["value"])

    got = sorted((r.asDict() for r in scored), key=key)
    want = sorted(oracle, key=key)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        for c in DRIFT_RESULT_SCHEMA.fieldNames():
            assert _bits(g[c]) == _bits(w[c]), (g["series_key"], g["idx"], c, g[c], w[c])


def test_score_drift_matches_driver_oracle(spark):
    """score_drift equals a per-series ``detect_series`` run on the driver,
    bitwise in every column, on a battery of spiky, flat and gappy series.
    ``event_mass`` values are not float32-representable, so the oracle also
    pins the transport quantization."""
    spikes = {"click": [50, 120], "view": [], "purchase": [33]}
    ev = _mk_events(spark, spikes, n_hours=150)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double"),
                                        "value_avg": F.avg("value"),
                                        "event_mass": F.sum(F.col("value") * 0.1)})
    _assert_matches_oracle(score_drift(series, granularity="hourly").collect(),
                           _oracle(series))


def test_float32_transport_flags_match_f64_kernel(spark):
    """float32 transport quantizes inputs at ~1e-7 relative; detection flags
    on the planted battery equal the kernel's flags on the exact f64
    values."""
    spikes = {"click": [50, 120], "view": []}
    ev = _mk_events(spark, spikes)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    f32 = {(r["series_key"], r["idx"]): r["is_anomaly"]
           for r in score_drift(series, granularity="hourly").collect()}
    f64 = {(r["series_key"], r["idx"]): r["is_anomaly"]
           for r in _oracle(series, quantize=False)}
    assert f32 == f64 and len(f32) > 0


def _mk_series(spark, groups: dict[tuple, list[float]]):
    """Series rows straight in the (partition_key, metric, idx, value) shape
    score_drift consumes, bypassing derive_series."""
    rows = []
    for (pk, metric), vals in groups.items():
        for i, v in enumerate(vals):
            rows.append((pk, metric, i, float(v)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["partition_key", "metric", "idx", "value"]))


def test_score_drift_groups_on_pair_not_joined_string(spark):
    """Distinct (partition_key, metric) pairs whose '/'-joined strings collide
    (partition values may contain '/') must be scored as SEPARATE series,
    not merged into one interleaved series."""
    spiky = [20.0] * 30
    spiky[10] = 300.0
    flat = [1000.0] * 30
    # both pairs join to the same public series_key "v/turn/rate"
    series = _mk_series(spark, {("v/turn", "rate"): spiky,
                                ("v", "turn/rate"): flat})
    scored = score_drift(series, granularity="hourly").collect()
    assert len(scored) == 60
    assert {r["series_key"] for r in scored} == {"v/turn/rate"}
    _assert_matches_oracle(scored, _oracle(series))
    # scored independently: the flat series is quiet, the spike is flagged
    flat_rows = [r for r in scored if r["value"] == 1000.0]
    assert flat_rows and not any(r["is_anomaly"] for r in flat_rows)
    assert any(r["is_anomaly"] and r["value"] == 300.0 for r in scored)


def test_float32_transport_clamps_beyond_f32_range(spark):
    """|value| > f32-max clamps to a huge finite float instead of
    overflowing to Infinity (which would poison the kernel statistics);
    anomaly flags match the kernel on the exact float64 values."""
    vals = [10.0] * 30
    vals[15] = 1e39  # overflows a float32
    series = _mk_series(spark, {("p", "m"): vals})
    f32 = sorted(score_drift(series, granularity="hourly").collect(),
                 key=lambda r: r["idx"])
    f64 = sorted(_oracle(series, quantize=False), key=lambda r: r["idx"])
    assert len(f32) == len(f64) == 30
    for r in f32:
        assert not np.isinf(r["value"]) and not np.isnan(r["value"])
    assert [r["is_anomaly"] for r in f32] == [r["is_anomaly"] for r in f64]
    assert f32[15]["is_anomaly"]
