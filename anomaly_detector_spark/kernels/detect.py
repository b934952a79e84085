"""End-to-end univariate detection pipeline — numpy/pandas port.

Single-series port of the reference's model-selection flow (SURVEY.md §3.1):

- get_delta / reverse_delta              <- util/helpers.py:268-278
- seasonal_series_detection              <- model/seasonal_series.py
- dynamic_threshold_detection            <- model/dynamic_threshold.py
- merge_with_delta / direction fixes     <- model/detect_model.py:34-95
- AnomalyDetectionModel.detect           <- model/detect_model.py:97-364
- series validation + timestamp grid     <- univariate_anomaly_detection.py:34-93,
                                            util/helpers.py:194-246, util/date_utils.py
- detect_request (predict equivalent)    <- univariate_anomaly_detection.py:247-322

This is the kernel executed per series inside Spark's ``mapInArrow``
drift scorer and directly by the golden-corpus tests.
"""

from __future__ import annotations

import calendar
import math

import numpy as np
import pandas as pd

from anomaly_detector_spark.kernels import esd as esd_mod
from anomaly_detector_spark.kernels import margins as margins_mod
from anomaly_detector_spark.kernels import sr as sr_mod
from anomaly_detector_spark.kernels import stl as stl_mod
from anomaly_detector_spark.kernels.fillup import FillUp, fill_up_on_demand
from anomaly_detector_spark.kernels.period import period_detection
from anomaly_detector_spark.kernels.trend import interp, normalize, trend_detection

EPS = 1e-8
DEFAULT_MAX_RATIO = 0.25       # fields.py:28
DEFAULT_ALPHA = 0.05           # fields.py:29
DEFAULT_THRESHOLD = 3.5        # fields.py:34
DEFAULT_SENSITIVITY = 99       # fields.py:30
VALUE_LOWER_BOUND = -1.0e100
VALUE_UPPER_BOUND = 1.0e100

GRANULARITY_SECONDS = {
    "yearly": 12 * 4 * 7 * 24 * 3600,
    "monthly": 4 * 7 * 24 * 3600,
    "weekly": 7 * 24 * 3600,
    "daily": 24 * 3600,
    "hourly": 3600,
    "minutely": 60,
    "secondly": 1,
    "microsecond": 0.001,
    "none": 0,
}

DEFAULT_GRAN_WINDOW = {
    "daily": 7 * 4,
    "minutely": 1440,
    "hourly": 24 * 7,
    "weekly": 12,
    "monthly": 12,
    "yearly": 12,
    "secondly": 1440,
    "microsecond": 1000,
    "none": 1440,
}

RESULT_COLS = ("value", "expected_value", "is_anomaly", "is_positive_anomaly",
               "is_negative_anomaly", "score", "trend")


# --- deltas (helpers.py:268-278) ---------------------------------------------


def get_delta(delta: int, values: list) -> list:
    d_values = [values[i] - values[i - 1] for i in range(1, len(values))]
    return [d_values[delta]] * (delta + 1) + d_values[delta:]


def reverse_delta(first_value, delta: int, d_values: list) -> list:
    rd = [first_value] * delta
    for d in d_values[delta:]:
        rd.append(rd[-1] + d)
    return rd


# --- ensemble wrappers --------------------------------------------------------


def _sorted_series(values: np.ndarray) -> esd_mod._SortedSeries:
    order = np.argsort(values, kind="quicksort")
    return esd_mod._SortedSeries(values[order], order)


def _detect_anomaly_indices(data: np.ndarray, alpha: float, ratio: float,
                            remainder: np.ndarray | None, last_detect: bool):
    """Shared detect_anomaly of seasonal_series.py:98-117 /
    dynamic_threshold.py:47-60.  Returns (indices, model_id)."""
    num_obs = len(data)
    max_outliers = min(max(math.ceil(num_obs * ratio), 1), num_obs // 2 - 1)
    sorted_data = _sorted_series(data)
    majority = esd_mod.get_verified_majority_value(sorted_data.values)
    detectors = [
        esd_mod.ESD(sorted_data, max_outliers, majority, alpha),
        esd_mod.ZScoreDetector(sorted_data, max_outliers),
    ]
    mad_flag = majority is not None
    if remainder is not None:
        sorted_rem = _sorted_series(remainder)
        rem_majority = esd_mod.get_verified_majority_value(sorted_rem.values)
        detectors.append(esd_mod.ESD(sorted_rem, max_outliers, rem_majority, alpha))
        mad_flag = mad_flag or rem_majority is not None
        model_id = "AnomalyDetectorMad" if mad_flag else "AnomalyDetector"
    else:
        model_id = "DynamicThresholdMad" if mad_flag else "DynamicThreshold"
    indices = esd_mod.ensemble_detect(detectors, max_outliers, num_obs, last_detect)
    return indices, model_id


def _assemble(series: np.ndarray, expected: np.ndarray, anomaly_indices: np.ndarray,
              trend: np.ndarray | None, need_trend: bool) -> dict:
    """Expected-value frame + direction flags (seasonal_series.py:75-93)."""
    n = len(series)
    is_anomaly = np.zeros(n, dtype=bool)
    is_anomaly[anomaly_indices] = True
    is_neg = np.zeros(n, dtype=bool)
    is_pos = np.zeros(n, dtype=bool)
    is_neg[anomaly_indices] = expected[anomaly_indices] > series[anomaly_indices]
    is_pos[anomaly_indices] = ~is_neg[anomaly_indices]
    out = {
        "value": np.array(series, dtype=float),
        "expected_value": np.array(expected, dtype=float),
        "is_anomaly": is_anomaly,
        "is_positive_anomaly": is_pos,
        "is_negative_anomaly": is_neg,
    }
    if need_trend and trend is not None:
        out["trend"] = np.array(trend, dtype=float)
    return out


def seasonal_series_detection(series, period, max_anomaly_ratio, alpha,
                              adjust_trend=False, need_trend=False, last_value=None):
    """Port of seasonal_series.py:17-95."""
    series = np.asarray(series, dtype=float)
    num_obs = len(series)
    if max_anomaly_ratio > 0.49:
        raise ValueError("max_anomaly_ratio must be less than 50% of the data points")
    max_anomaly_ratio = max(max_anomaly_ratio, 1.0 / num_obs)
    if period is None:
        raise ValueError("must supply period length for time series decomposition")
    if num_obs < period * 2 + 1:
        raise ValueError("Anomaly detection needs at least 2 periods worth of data")

    stl_func = stl_mod.stl_adjust_trend if adjust_trend else stl_mod.stl
    decompose = stl_mod.de_outlier_stl(series, stl_func=stl_func, period=period,
                                       log_transform=False)
    with np.errstate(divide="ignore", invalid="ignore"):
        mape = np.mean(np.abs(decompose["remainder"] / series))
    if mape > stl_mod.MAPE_UB:
        decompose_log = stl_mod.de_outlier_stl(series, stl_func=stl_func, period=period,
                                               log_transform=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            mape_log = np.mean(np.abs(decompose_log["remainder"] / series))
        if mape_log < stl_mod.MAPE_LB:
            decompose = decompose_log

    decompose_trend = np.array(decompose["trend"], dtype=float)
    decompose_season = np.array(decompose["seasonal"], dtype=float)
    de_seasoned = series - decompose_season
    remainder = de_seasoned - decompose_trend

    anomaly_indices, model_id = _detect_anomaly_indices(
        normalize(de_seasoned), alpha, max_anomaly_ratio,
        remainder=normalize(remainder), last_detect=last_value is not None,
    )

    if len(anomaly_indices) != 0:
        decompose_trend[anomaly_indices] = np.nan
        nan_window = period // 2
        if np.sum(anomaly_indices >= num_obs - nan_window) >= 0.5 * nan_window:
            decompose_trend[-nan_window:] = np.nan
        decompose_trend = interp(decompose_trend)

    expected = decompose_trend + decompose_season
    return _assemble(series, expected, anomaly_indices, decompose_trend, need_trend), model_id


def dynamic_threshold_detection(series, trend_values, alpha, max_anomaly_ratio,
                                need_trend=False, last_value=None):
    """Port of dynamic_threshold.py:17-44."""
    series = np.asarray(series, dtype=float)
    anomaly_indices, model_id = _detect_anomaly_indices(
        normalize(series), alpha, max_anomaly_ratio, remainder=None,
        last_detect=last_value is not None,
    )
    trend_values = np.array(trend_values, dtype=float)
    if len(anomaly_indices) != 0:
        de_anomaly = np.array(series, dtype=float)
        de_anomaly[anomaly_indices] = np.nan
        trend_values = trend_detection(interp(de_anomaly))
    return _assemble(series, trend_values, anomaly_indices, trend_values, need_trend), model_id


def spectral_residual_detection(series, threshold, max_anomaly_ratio,
                                need_trend=False, last_value=None):
    """SR detection + optional trend column (spectral_residual_model.py:13-69)."""
    results, model_id = sr_mod.sr_detection(series, threshold, max_anomaly_ratio,
                                            need_trend, last_value)
    if need_trend:
        results["trend"] = trend_detection(results["expected_value"])
    return results, model_id


# --- delta merge (detect_model.py:34-95) --------------------------------------


def _correct_expected_in_delta(pos, ori, new, delta, values):
    if delta == 2:
        new = reverse_delta(values[1] - values[0], delta, list(new))
    res = np.array(ori, dtype=float)
    for p in pos:
        if p == 0:
            continue
        res[p] = ori[p - 1] + new[p]
    return res


def _correct_anomaly_direction(results: dict) -> None:
    pos = (results["is_anomaly"]) & (results["expected_value"] < results["value"])
    neg = (results["is_anomaly"]) & (results["expected_value"] >= results["value"])
    results["is_positive_anomaly"][pos] = True
    results["is_negative_anomaly"][pos] = False
    results["is_positive_anomaly"][neg] = False
    results["is_negative_anomaly"][neg] = True


def merge_with_delta(results: dict, func, args: dict) -> dict:
    from anomaly_detector_spark.kernels.stationarity import should_include_delta

    delta, delta_series = should_include_delta(args["series"])
    if delta <= 0:
        return results
    args = dict(args)
    args["series"] = delta_series
    num_obs = len(delta_series)
    max_outliers = max(int(num_obs * args["max_anomaly_ratio"]), 1)
    outlier_ori = int(np.sum(results["is_anomaly"]))
    outlier_remainder = max_outliers - outlier_ori
    if outlier_remainder <= 0:
        return results
    args["max_anomaly_ratio"] = outlier_remainder * 1.0 / num_obs
    diff_results, _ = func(**args)
    new_a_p = np.where((~results["is_anomaly"]) & (diff_results["is_anomaly"]))[0]
    for col in ("trend", "expected_value"):
        if col in diff_results:
            diff_results[col] = _correct_expected_in_delta(
                new_a_p, results[col], diff_results[col], delta, results["value"]
            )
    diff_results["value"] = np.array(results["value"])
    if len(new_a_p):
        _correct_anomaly_direction(diff_results)
    for col in results:
        if col in diff_results:
            results[col][new_a_p] = diff_results[col][new_a_p]
    return results


# --- model (detect_model.py:97-364) --------------------------------------------


def should_trigger_sr(gran: str, interval: int, values) -> bool:
    has_majority = np.abs(esd_mod.mad(values) - 0.0) < EPS
    is_proper_gran = (gran == "minutely" and interval < 60) or (
        gran == "secondly" and interval < 3600
    )
    return is_proper_gran and not has_majority


DETECTOR_NAMES = ("spectral_residual", "hbos", "seasonal_series", "dynamic_threshold")


def _detect_without_selection(values, fill_up, detector: dict, period,
                              fill_up_mode, fixed_value_to_fill, need_trend,
                              last_value):
    """Explicit-detector path — port of
    detect_model.py:156-250 (``__detect_without_model_selection``): period
    override from parameters, fill-up (period > 1 or fixed mode only),
    dispatch by detector name.  Returns
    (results, period, model_id, do_fill_up, filled_tags); the caller applies
    the shared post-processing (filled-row drop, EPS refine, spectrum period)
    exactly as the reference's ``detect`` does for both paths."""
    from anomaly_detector_spark.kernels.hbos import hbos_detection

    name = detector["name"]
    params = detector["parameters"]
    if period is None and "period" not in params:
        raise ValueError(f"InvalidDetector: {name} requires a period")
    if params.get("period") is not None:
        period = params["period"]
    if period is None or not isinstance(period, int):
        # {'period': None} with no call-level period would otherwise escape
        # the guard above and TypeError on the comparisons below
        raise ValueError(f"InvalidDetector: {name} requires an integer period")

    # per-detector required parameters -> the ValueError error-code contract
    # (a missing key would otherwise surface as a bare KeyError)
    required = {
        "seasonal_series": ("alpha", "maxAnomalyRatio"),
        "hbos": ("threshold", "outlierFraction"),
        "spectral_residual": ("threshold", "maxAnomalyRatio"),
        "dynamic_threshold": ("alpha", "maxAnomalyRatio"),
    }
    missing = [k for k in required.get(name, ()) if k not in params]
    if missing:
        raise ValueError(f"InvalidDetectorParameters: {name} requires {missing}")

    if period > 1 and fill_up.missing_ratio > 0.5:
        raise ValueError("NotEnoughPointsForSeasonalData")

    full_values, filled_tags = None, None
    if period > 1 or fill_up_mode == "fixed":
        full_values, filled_tags = fill_up_on_demand(fill_up, fill_up_mode,
                                                     fixed_value_to_fill, period)
    do_fill_up = full_values is not None and filled_tags is not None
    actual_series = values if full_values is None else full_values

    if name == "seasonal_series":
        if period <= 0:
            raise ValueError("InvalidDetector: seasonal_series requires period > 0")
        results, model_id = seasonal_series_detection(
            series=actual_series, period=period, alpha=params["alpha"],
            adjust_trend=last_value is not None, need_trend=need_trend,
            max_anomaly_ratio=params["maxAnomalyRatio"], last_value=last_value,
        )
    elif name == "hbos":
        results, model_id = hbos_detection(
            actual_series, period=period, threshold=params["threshold"],
            outlier_fraction=params["outlierFraction"], need_trend=need_trend,
            last_value=last_value,
        )
    elif name == "spectral_residual":
        results, model_id = spectral_residual_detection(
            actual_series, threshold=params["threshold"],
            max_anomaly_ratio=params["maxAnomalyRatio"], need_trend=need_trend,
            last_value=last_value,
        )
    elif name == "dynamic_threshold":
        if period != 0:
            raise ValueError("InvalidDetector: dynamic_threshold requires period == 0")
        results, model_id = dynamic_threshold_detection(
            actual_series, trend_values=trend_detection(actual_series),
            alpha=params["alpha"], max_anomaly_ratio=params["maxAnomalyRatio"],
            need_trend=need_trend, last_value=last_value,
        )
    else:
        raise ValueError(f"InvalidDetector: {name}")
    return results, period, model_id, do_fill_up, filled_tags


def detect_series(values: list[float], indices: list[int], granularity: str = "none",
                  interval: int | None = None, period: int | None = None,
                  max_anomaly_ratio: float = DEFAULT_MAX_RATIO, alpha: float = DEFAULT_ALPHA,
                  threshold: float = DEFAULT_THRESHOLD, fill_up_mode: str = "auto",
                  fixed_value_to_fill=None, need_trend: bool = False,
                  need_spectrum_period: bool = False, last_detect: bool = False,
                  detector: dict | None = None):
    """AnomalyDetectionModel(...).detect(...) equivalent.

    ``detector`` (optional): explicit {"name", "parameters"} override — the
    reference's no-model-selection path (detect_model.py:156-250) with names
    spectral_residual / hbos / seasonal_series / dynamic_threshold.
    Returns (results dict incl. 'index' row ids, period, spectrum_period,
    model_id, do_fill_up).
    """
    values = [float(v) for v in values]
    interval_eff = interval if interval is not None else 1
    majority_ratio = -1.0
    try:
        counts = np.histogram(values, bins=20, density=False)[0]
        if np.all(np.isfinite(counts)):
            majority_ratio = float(np.max(counts)) / len(values)
    except Exception:
        pass
    has_majority = majority_ratio > 0.6
    fill_up = FillUp(list(indices), values)
    last_value = values[-1] if last_detect else None

    use_selection = (
        detector is None
        or "name" not in detector
        or "parameters" not in detector
        or (detector.get("name") == "hbos" and majority_ratio <= 0)
    )
    period_source = None
    if not use_selection:
        results, period, model_id, do_fill_up, filled_tags = _detect_without_selection(
            values, fill_up, detector, period, fill_up_mode, fixed_value_to_fill,
            need_trend, last_value,
        )
    else:
        max_ratio = (
            max_anomaly_ratio
            if last_value is None or not has_majority
            else max((1 - majority_ratio) * max_anomaly_ratio, min(0.05, max_anomaly_ratio))
        )

        if period is None:
            if fill_up.missing_ratio > 0.5:
                period = 0
            else:
                period, period_source = _period_with_filled_values(
                    fill_up, fill_up_mode, fixed_value_to_fill, granularity, interval_eff,
                    return_period_source=True,
                )

        if period > 1 and fill_up.missing_ratio > 0.5:
            raise ValueError("NotEnoughPointsForSeasonalData")

        full_values, filled_tags = None, None
        if period > 1 or fill_up_mode in ("fixed", "last", "previous", "linear"):
            full_values, filled_tags = fill_up_on_demand(fill_up, fill_up_mode,
                                                         fixed_value_to_fill, period)
        do_fill_up = full_values is not None and filled_tags is not None
        actual_series = values if full_values is None else full_values

        if period > 1:
            args = {
                "series": actual_series,
                "period": period,
                "alpha": alpha,
                "adjust_trend": last_value is not None,
                "need_trend": need_trend,
                "max_anomaly_ratio": max_ratio,
                "last_value": last_value,
            }
            results, model_id = seasonal_series_detection(**args)
        elif should_trigger_sr(granularity, interval_eff, actual_series):
            args = {
                "series": actual_series,
                "threshold": threshold,
                "max_anomaly_ratio": max_ratio,
                "need_trend": need_trend,
                "last_value": last_value,
            }
            results, model_id = spectral_residual_detection(**args)
            results = merge_with_delta(results, spectral_residual_detection, args)
        else:
            trend_values = trend_detection(actual_series, period=period)
            args = {
                "series": actual_series,
                "trend_values": trend_values,
                "alpha": alpha,
                "max_anomaly_ratio": max_ratio,
                "need_trend": need_trend,
                "last_value": last_value,
            }
            results, model_id = dynamic_threshold_detection(**args)
            results = merge_with_delta(results, dynamic_threshold_detection, args)

    results["index"] = np.arange(len(results["value"]))
    if do_fill_up:
        keep = ~np.array(filled_tags, dtype=bool)
        for col in list(results.keys()):
            results[col] = results[col][keep]

    # EPS refinement (detect_model.py:356-361)
    refine = np.abs(results["value"] - results["expected_value"]) < EPS
    results["is_anomaly"] = np.array(results["is_anomaly"], dtype=bool)
    results["is_anomaly"][refine] = False
    results["is_positive_anomaly"][refine] = False
    results["is_negative_anomaly"][refine] = False

    spectrum_period = None
    if need_spectrum_period:
        spectrum_period = _get_spectrum_period(
            fill_up, fill_up_mode, fixed_value_to_fill, granularity, interval_eff,
            period, period_source, results["is_anomaly"], last_value=last_value,
        )
    return results, period, spectrum_period, model_id, do_fill_up


def _period_with_filled_values(fill_up: FillUp, mode, fixed_value, granularity, interval,
                               skip_simple_detector=False, return_period_source=False):
    """Port of series_compete_processor.py:21-31."""
    if fill_up.need_fill_up:
        if mode == "auto":
            filled, _ = fill_up_on_demand(fill_up, "previous")
        else:
            filled, _ = fill_up_on_demand(fill_up, mode, fixed_value)
        if filled is not None:
            return period_detection(filled, granularity=granularity, interval=interval,
                                    skip_simple_detector=skip_simple_detector,
                                    return_period_source=return_period_source)
    return period_detection(fill_up.init_values, granularity=granularity, interval=interval,
                            skip_simple_detector=skip_simple_detector,
                            return_period_source=return_period_source)


def _get_spectrum_period(fill_up, mode, fixed_value, granularity, interval, period,
                         period_source, anomalies, last_value=None):
    """Port of detect_model.py:330-347 — in latest mode only the final
    point's anomaly flag triggers the on-demand spectrum pass."""
    if period == 0:
        return 0
    if period_source == 1:
        return period
    if last_value is not None:
        has_anomaly = bool(anomalies[-1])
    else:
        has_anomaly = any(bool(a) for a in anomalies)
    if not has_anomaly:
        return None
    return _period_with_filled_values(fill_up, mode, fixed_value, granularity, interval,
                                      skip_simple_detector=True)


# --- request-level API (univariate_anomaly_detection.py) -----------------------


def _date_difference(a, b):
    """Calendar (years, months, days) difference; port of
    util/date_utils.py:get_date_difference."""
    factor = 1
    if a < b:
        a, b = b, a
        factor = -1
    a_dim = calendar.monthrange(a.year, a.month)[1]
    b_dim = calendar.monthrange(b.year, b.month)[1]
    diff_day = diff_month = 0
    if a.year == b.year and a.month == b.month:
        diff_day = a.day - b.day
    elif (a.day == b.day) or (a.day == a_dim and b.day == b_dim) or (
        a_dim != b_dim and (a.day == a_dim and b.day > a.day or b.day == b_dim and a.day > b.day)
    ):
        diff_month = a.month - b.month
    else:
        if a.day > b.day:
            diff_day = a.day - b.day
            diff_month = a.month - b.month
        else:
            diff_day = b_dim - b.day + a.day
            diff_month = a.month - b.month - 1
    diff_year = a.year - b.year
    if diff_month < 0:
        diff_year -= 1
        diff_month += 12
    return factor * diff_year, factor * diff_month, factor * diff_day


def get_indices_from_timestamps(granularity: str, custom_interval, timestamps):
    """Port of helpers.py:194-246 — integer grid indices or first bad index."""
    custom_interval = max(1 if custom_interval is None else custom_interval, 1)
    if timestamps is None or len(timestamps) == 0:
        return [], None
    start = timestamps[0]
    n = len(timestamps)
    if granularity == "monthly":
        indices = []
        for i, t in enumerate(timestamps):
            years, months, days = _date_difference(t, start)
            if days != 0:
                return None, i
            indices.append((months + years * 12) / custom_interval)
    elif granularity == "yearly":
        indices = []
        for i, t in enumerate(timestamps):
            years, months, days = _date_difference(t, start)
            if days != 0 or months != 0:
                return None, i
            indices.append(years / custom_interval)
    elif granularity == "microsecond":
        interval_ms = int(GRANULARITY_SECONDS["microsecond"] * custom_interval * 1000)
        start_ms = int(start.timestamp() * 1000)
        indices = [(int(t.timestamp() * 1000) - start_ms) / interval_ms for t in timestamps]
    else:
        interval_s = GRANULARITY_SECONDS[granularity] * custom_interval
        start_s = start.timestamp()
        indices = [(t.timestamp() - start_s) / interval_s for t in timestamps]
    for i in range(n):
        if not isinstance(indices[i], int):
            if not float(indices[i]).is_integer():
                return None, i
            indices[i] = int(indices[i])
    return indices, None


def detect_request(request: dict, mode: str = "entire") -> dict:
    """Reference ``UnivariateAnomalyDetector.predict`` equivalent over a
    golden-corpus request dict; returns the response fields the reference
    emits (univariate_anomaly_detection.py:247-322)."""
    series = request["series"]
    granularity = request.get("granularity", "none")
    custom_interval = request.get("customInterval")
    sensitivity = request.get("sensitivity", DEFAULT_SENSITIVITY)
    boundary_version = request.get("boundaryVersion", "V1")
    need_trend = boundary_version != "V1"

    if len(series) < 12:
        raise ValueError("NotEnoughPoints")
    if len(series) > 8640:
        raise ValueError("TooManyPoints")
    values = [float(x["value"]) for x in series]
    if np.any(np.less(values, VALUE_LOWER_BOUND)) or np.any(np.greater(values, VALUE_UPPER_BOUND)):
        raise ValueError("ValueOverflow")
    if any(np.isnan(v) for v in values):
        raise ValueError("InvalidSeriesValue")

    if granularity != "none":
        timestamps = pd.to_datetime([x["timestamp"] for x in series]).tolist()
        for i in range(len(timestamps) - 1):
            if timestamps[i] > timestamps[i + 1]:
                raise ValueError("InvalidSeriesOrder")
            if timestamps[i] == timestamps[i + 1]:
                raise ValueError("DuplicateSeriesTimestamp")
        indices, bad = get_indices_from_timestamps(granularity, custom_interval, timestamps)
        if bad is not None:
            raise ValueError(f"InvalidSeriesTimestamp at {bad}")
    else:
        indices = list(range(len(values)))

    fill_up_mode = request.get("imputeMode") or request.get("fillUpMode") or "auto"
    fixed_value = request.get("imputeFixedValue", request.get("fixedValue"))
    if fill_up_mode == "zero":
        fill_up_mode, fixed_value = "fixed", 0

    # Explicit detector (univariate_anomaly_detection.py:213-237): name and
    # parameters dict are required; name is validated case-insensitively but
    # dispatched verbatim, exactly like the reference.
    detector = request.get("detector")
    if detector is not None and not isinstance(detector, dict):
        # Reference only validates when the detector IS a dict
        # (univariate_anomaly_detection.py:214); any other value silently
        # falls through to model selection.
        detector = None
    if detector is not None:
        if "parameters" not in detector:
            raise ValueError("MissingDetectorParameters")
        if not isinstance(detector["parameters"], dict):
            raise ValueError("InvalidDetectorParameters")
        if "name" not in detector:
            raise ValueError("MissingDetectorName")
        if str(detector["name"]).lower() not in DETECTOR_NAMES:
            raise ValueError("InvalidDetector")

    results, period, spectrum_period, model_id, do_fill_up = detect_series(
        values,
        indices,
        granularity=granularity,
        interval=custom_interval,
        period=request.get("period"),
        max_anomaly_ratio=request.get("maxAnomalyRatio", DEFAULT_MAX_RATIO),
        alpha=request.get("alpha", DEFAULT_ALPHA),
        threshold=request.get("threshold", DEFAULT_THRESHOLD),
        fill_up_mode=fill_up_mode,
        fixed_value_to_fill=fixed_value,
        need_trend=need_trend,
        need_spectrum_period=request.get("needSpectrumPeriod", False),
        last_detect=(mode == "last"),
        detector=detector,
    )

    order = np.argsort(results["index"])
    for col in list(results.keys()):
        results[col] = results[col][order]
    if "score" not in results:
        results["score"] = np.zeros(len(results["value"]))

    last = mode == "last"
    margins = margins_mod.get_margins(results, sensitivity, model_id, boundary_version, last)
    expected, upper, lower, neg, pos, anom, severity, units, scores = margins

    if not last:
        return {
            "period": period,
            "spectrumPeriod": spectrum_period,
            "doFillUp": do_fill_up,
            "expectedValues": list(np.atleast_1d(expected)),
            "upperMargins": list(np.atleast_1d(upper)),
            "lowerMargins": list(np.atleast_1d(lower)),
            "isNegativeAnomaly": [bool(x) for x in np.atleast_1d(neg)],
            "isPositiveAnomaly": [bool(x) for x in np.atleast_1d(pos)],
            "isAnomaly": [bool(x) for x in np.atleast_1d(anom)],
            "severity": list(np.atleast_1d(severity)),
            "modelId": model_id,
        }
    if period != 0:
        suggested_window = 4 * period + 1
    elif granularity in DEFAULT_GRAN_WINDOW:
        suggested_window = DEFAULT_GRAN_WINDOW[granularity] + 1
    else:
        suggested_window = 0
    return {
        "period": period,
        "spectrumPeriod": spectrum_period,
        "doFillUp": do_fill_up,
        "expectedValue": float(expected),
        "upperMargin": float(upper),
        "lowerMargin": float(lower),
        "isNegativeAnomaly": bool(neg),
        "isPositiveAnomaly": bool(pos),
        "isAnomaly": bool(anom),
        "severity": severity,
        "suggestedWindow": suggested_window,
        "modelId": model_id,
    }
