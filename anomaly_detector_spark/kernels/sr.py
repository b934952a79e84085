"""Spectral-Residual scoring — vectorized numpy port.

Re-implements the reference's SR saliency pipeline with identical numeric
semantics (operators D1-D6 in SURVEY.md §2.11):

- average_filter      <- univariate/util/helpers.py:37-62
- SR transform        <- univariate/_anomaly_kernel_cython.pyx:281-325
- score / extend      <- univariate/detectors/spectral_residual.py:57-131
- detection + expected value assembly
                      <- univariate/model/spectral_residual_model.py:13-69

These run inside the Arrow-batched ``mapInArrow`` drift scorer on Spark (one
call == one bounded series, <= 8640 points by the reference's own validation), so a
vectorized single-series implementation is exactly the right unit of work.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-8
SKELETON_POINT_SCORE_THRESHOLD = 1.0  # fields.py:41
MIN_SR_RAW_SCORE = 3.5                # fields.py:42
MAX_SR_RAW_SCORE = 15.0               # fields.py:43
DEFAULT_THRESHOLD = 3.5               # fields.py:34


def average_filter(values: np.ndarray, n: int = 3, fill_to_n: bool = False) -> np.ndarray:
    """Trailing moving average, res[i] = mean(values[max(0,i-n+1)..i]).

    Port of helpers.py:37-62 including the short-prefix ``fill_to_n``
    extrapolation used by the SR score's amplitude baseline.
    """
    values = np.asarray(values, dtype=float)
    fill_n = n
    if n >= len(values):
        n = len(values)
    res = np.cumsum(values, dtype=float)
    res[n:] = res[n:] - res[:-n]
    res[n:] = res[n:] / n
    i = np.arange(1, n)
    if len(i):
        if fill_to_n:
            res[1:n] = (res[1:n] + ((res[1:n] - values[1:n]) / i) * (fill_n - i - 1)) / fill_n
        else:
            res[1:n] = res[1:n] / (i + 1)
    return res


def spectral_residual_transform(values) -> np.ndarray:
    """FFT saliency map: magnitude / rolling-geometric-mean(3) of magnitude.

    Port of spectral_residual_transform_core (.pyx:281-325).  The rolling
    geometric mean is computed in log space (mathematically identical to the
    reference's running product of the last ``window`` positive magnitudes;
    log form avoids overflow on long series while agreeing to double
    rounding).
    """
    values = np.asarray(values, dtype=float)
    trans = np.fft.fft(values)
    mag = np.sqrt(trans.real**2 + trans.imag**2)

    window = 3
    n = len(mag)
    # running product of positive magnitudes over the trailing window
    logm = np.where(mag > 0, np.log(np.where(mag > 0, mag, 1.0)), 0.0)
    csum = np.concatenate(([0.0], np.cumsum(logm)))
    amplitude = np.empty(n, dtype=float)
    head = min(window, n)
    idx = np.arange(head)
    amplitude[:head] = np.exp(csum[1 : head + 1] / (idx + 1))
    if n > window:
        amplitude[window:] = np.exp((csum[window + 1 :] - csum[1:-window]) / window)

    scale = np.where(amplitude != 0, 1.0 / np.where(amplitude != 0, amplitude, 1.0), 0.0)
    wave_r = np.fft.ifft(trans * scale)
    return np.sqrt(wave_r.real**2 + wave_r.imag**2)


def predict_next(values: np.ndarray) -> float:
    """Median + averaged-slope forecast (spectral_residual.py:79-99)."""
    values = np.asarray(values, dtype=float)
    if len(values) <= 1:
        raise ValueError("data should contain at least 2 numbers")
    v_last = values[-1]
    n = len(values)
    denom = (n - 1) - np.arange(n - 1)
    slopes = (v_last - values[:-1]) / denom
    return float(np.median(values) + slopes.sum() * 0.5 * (n + 1) / (n - 1))


def extend_series(values: np.ndarray, extend_num: int = 5, look_ahead: int = 5,
                  remove_outlier_in_extend: bool = False) -> np.ndarray:
    """Append ``extend_num`` forecast points (spectral_residual.py:101-131).

    With ``remove_outlier_in_extend`` the lookback window is built from the
    most recent in-IQR-fence values, defaulting to the median (:118-127).
    """
    values = np.asarray(values, dtype=float)
    if remove_outlier_in_extend:
        q75, q50, q25 = np.quantile(values, [0.75, 0.5, 0.25])
        maxv, minv = q75 + 1.5 * (q75 - q25), q25 - 1.5 * (q75 - q25)
        value_ahead = np.full(look_ahead + 1, q50)
        i, j = look_ahead, len(values) - 1
        while i >= 0 and j >= 0:
            if minv <= values[j] <= maxv:
                value_ahead[i] = values[j]
                i -= 1
            j -= 1
    else:
        value_ahead = values[-look_ahead - 2 : -1]
    extension = np.full(extend_num, predict_next(value_ahead))
    return np.concatenate([values, extension])


def generate_spectral_score(series: np.ndarray, remove_outlier_in_extend: bool = False) -> np.ndarray:
    """|mag - avg_mag(100)| / avg_mag per point (spectral_residual.py:57-64)."""
    series = np.asarray(series, dtype=float)
    extended = extend_series(series, remove_outlier_in_extend=remove_outlier_in_extend)
    mag = spectral_residual_transform(extended)[: len(series)]
    ave_mag = average_filter(mag, n=100, fill_to_n=True)
    ave_mag = np.where(np.isclose(ave_mag, EPS), EPS, ave_mag)
    return np.abs(mag - ave_mag) / ave_mag


def sr_detect(series: np.ndarray, threshold: float, max_outliers: int,
              last_detect: bool = False) -> tuple[np.ndarray, np.ndarray, str]:
    """Anomaly scores + flags; port of SpectralResidual._detect
    (spectral_residual.py:20-55).  Returns (scores, is_anomaly, model_id)
    where model_id is 'SpectralResidual' or 'SpectralResidual_ZScore'.
    """
    series = np.asarray(series, dtype=float)
    model_id = "SpectralResidual"
    if last_detect:
        length = len(series)
        anomaly_scores = generate_spectral_score(series)
        max_drop_num = min(max(max_outliers, int(length * 0.1)), int(length * 0.45))
        drop_threshold = 1.5
        mean = np.mean(series)
        std = np.std(series)
        with np.errstate(divide="ignore", invalid="ignore"):
            zscore = np.abs(series - mean) / std
        cut = next(
            (i for i in range(length - max_drop_num, length) if anomaly_scores[i] >= drop_threshold),
            length - 1,
        )
        filtered_series = np.concatenate([series[:cut], [series[-1]]])
        anomaly_scores[len(filtered_series) - 1 : -1] = SKELETON_POINT_SCORE_THRESHOLD * 2
        filtered_scores = generate_spectral_score(filtered_series)
        anomaly_scores[-1] = filtered_scores[-1]
        if zscore[-1] < drop_threshold:
            anomaly_scores[-1] = 0
            model_id = "SpectralResidual_ZScore"
    else:
        anomaly_scores = generate_spectral_score(series, remove_outlier_in_extend=True)
    is_anomaly = anomaly_scores >= threshold
    return anomaly_scores, is_anomaly, model_id


def sr_detection(series, threshold: float, max_anomaly_ratio: float,
                 need_trend: bool = False, last_value=None) -> tuple[dict, str]:
    """Full SR detection result frame (spectral_residual_model.py:13-69).

    Returns a dict of numpy columns: value, expected_value, is_anomaly,
    is_positive_anomaly, is_negative_anomaly, score (normalized [0,1]).
    Trend (for boundary V2/V3) is attached by the caller when needed.
    """
    series = np.asarray(series, dtype=float)
    num_obs = len(series)
    max_outliers = max(int(num_obs * max_anomaly_ratio), 1)
    scores, is_anom_raw, model_id = sr_detect(
        series, threshold, max_outliers, last_detect=last_value is not None
    )

    skeleton = scores <= SKELETON_POINT_SCORE_THRESHOLD
    expected_values = np.copy(series)
    if last_value is not None:
        skeleton_vals = series[skeleton]
        expected_values[-1] = np.mean(skeleton_vals[len(skeleton_vals) // 2 :])
    else:
        # windowed skeleton means over [i//2, i] via prefix sums
        # (spectral_residual_model.py:33-44)
        cnt = np.concatenate(([0], np.cumsum(skeleton)))
        ssum = np.concatenate(([0], np.cumsum(series * skeleton)))
        nonskel = np.where(~skeleton)[0]
        for i in nonskel:
            c = cnt[i + 1] - cnt[i // 2]
            if c == 0:
                expected_values[i] = np.mean(series[: i + 1])
            else:
                expected_values[i] = (ssum[i + 1] - ssum[i // 2]) / c
        expected_values = average_filter(expected_values, 5)

    # top-k anomalies by raw score (spectral_residual_model.py:57-59);
    # mergesort matches pandas sort_values stability on ties.
    anom_idx = np.where(is_anom_raw)[0]
    if len(anom_idx):
        order = anom_idx[np.argsort(-scores[anom_idx], kind="stable")]
        kept = order[: min(max_outliers, len(order))]
    else:
        kept = anom_idx

    is_anomaly = np.zeros(num_obs, dtype=bool)
    is_anomaly[kept] = True
    is_pos = np.zeros(num_obs, dtype=bool)
    is_neg = np.zeros(num_obs, dtype=bool)
    # direction (spectral_residual_model.py:72-78)
    is_neg[kept] = expected_values[kept] > series[kept]
    is_pos[kept] = ~is_neg[kept]

    # normalized score, reference's literal formula (spectral_residual_model.py:54-55)
    norm_scores = np.clip(
        scores - MIN_SR_RAW_SCORE / (MAX_SR_RAW_SCORE - MIN_SR_RAW_SCORE), 0.0, 1.0
    )

    return {
        "value": series,
        "expected_value": expected_values,
        "is_anomaly": is_anomaly,
        "is_positive_anomaly": is_pos,
        "is_negative_anomaly": is_neg,
        "score": norm_scores,
        "raw_score": scores,
    }, model_id
