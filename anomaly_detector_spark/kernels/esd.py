"""Generalized-ESD / dynamic-threshold / z-score detectors — numpy ports.

Ports of the reference's Cython kernels and detector wrappers with the same
numeric behavior (operators D7-D11 in SURVEY.md §2.11):

- sorted_median / find_median_sorted_arrays / check_anomaly_status /
  generalized_esd_test / dynamic_threshold  <- _anomaly_kernel_cython.pyx:64-191
- ESD wrapper (majority truncation, critical values)
                                            <- detectors/esd_filter.py:10-49
- DynamicThreshold wrapper                  <- detectors/dynamic_filter.py:10-33
- ZScoreDetector                            <- detectors/z_score.py:12-33
- ensemble vote                             <- model/detect.py:10-45
- majority value / MAD helpers              <- util/helpers.py:118-134

The Cython kernels work on C ``float`` (float32) arrays; this port keeps
float32 at the same points so borderline comparisons agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np

from anomaly_detector_spark.kernels.special import NORM_PPF_3_4, calculate_esd_value

EPS = 1e-8
DEFAULT_ALPHA = 0.05
_CRITICAL_TABLE_MAX_N = 18000  # reference precomputed table length

_f32 = np.float32

_critical_cache: dict[int, float] = {}


def _critical_value(i: int, alpha: float, n: int) -> float:
    """λ_i for series length n.  The reference precomputes a float32 table for
    alpha=0.05 (util/critical_table_values.py, lookup helpers.py:129-134);
    λ_i(n) == λ_1(n-i+1), so a single-parameter cache reproduces the table."""
    # inline np.isclose(alpha, DEFAULT_ALPHA) — same rtol/atol formula, no
    # ufunc dispatch (this is called max_outliers times per ESD construction)
    if (abs(alpha - DEFAULT_ALPHA) <= 1e-8 + 1e-5 * abs(DEFAULT_ALPHA)
            and n <= _CRITICAL_TABLE_MAX_N):
        key = n - i + 1
        if key not in _critical_cache:
            val = calculate_esd_value(1, DEFAULT_ALPHA, key) if key >= 3 else 0.0
            if not np.isfinite(val):
                val = 0.0
            _critical_cache[key] = float(_f32(val))  # table stores float32
        return _critical_cache[key]
    return calculate_esd_value(i, alpha, n)


def get_critical(alpha: float, num_obs: int, max_outliers: int) -> list[float]:
    """Port of helpers.py:129-134."""
    return [_critical_value(i, alpha, num_obs) for i in range(1, max_outliers + 1)]


def mad(values: np.ndarray) -> float:
    """statsmodels.robust.mad with default c (median center)."""
    values = np.asarray(values, dtype=float)
    center = np.median(values)
    return float(np.median(np.abs(values - center)) / NORM_PPF_3_4)


def get_verified_majority_value(sorted_values: np.ndarray) -> float | None:
    """Port of helpers.py:118-126 (sorted ascending input)."""
    sorted_values = np.asarray(sorted_values, dtype=float)
    num_obs = len(sorted_values)
    if np.isclose(mad(sorted_values), 0):
        majority = sorted_values[(num_obs - 1) // 2]
        if np.isclose(majority, sorted_values[0]) or np.isclose(majority, sorted_values[-1]):
            return None
        return float(majority)
    return None


def _sorted_median(data: np.ndarray, i: int, j: int) -> np.float32:
    """Median of data[i:j] (already sorted); .pyx:64-73."""
    n = j - i
    if n == 0:
        raise ValueError("no median for empty data")
    if n % 2 == 1:
        return data[i + n // 2]
    mid = i + n // 2
    return _f32((data[mid - 1] + data[mid]) / _f32(2.0))


def _find_median_sorted_arrays(a: np.ndarray, b: np.ndarray, median: np.float32) -> np.float32:
    """Median of |x - median| over the merge of two arrays each sorted by
    absolute deviation from ``median``; .pyx:75-109."""
    return _merged_dev_median(np.abs(a - median), np.abs(b - median))


def _merged_dev_median(da: np.ndarray, db: np.ndarray) -> np.float32:
    """Median of the merge of two deviation arrays, each sorted ascending.

    The deviations are precomputed float32 arrays (one vectorized ``np.abs``
    per array), so the binary search below compares plain float32 elements —
    identical comparisons to the original per-step ``np.fabs(x - median)``
    form, without a ufunc dispatch per step."""
    m, n = len(da), len(db)
    i_min, i_max = 0, m
    half_len = (m + n + 1) // 2
    while i_min <= i_max:
        i = (i_min + i_max) // 2
        j = half_len - i
        if i < m and db[j - 1] > da[i]:
            i_min = i + 1
        elif i > 0 and da[i - 1] > db[j]:
            i_max = i - 1
        else:
            if i == 0:
                max_of_left = db[j - 1]
            elif j == 0:
                max_of_left = da[i - 1]
            else:
                max_of_left = max(da[i - 1], db[j - 1])
            if (m + n) % 2 == 1:
                return _f32(max_of_left)
            if i == m:
                min_of_right = db[j]
            elif j == n:
                min_of_right = da[i]
            else:
                min_of_right = min(da[i], db[j])
            return _f32((max_of_left + min_of_right) / 2.0)
    return _f32(0.0)


def _check_anomaly_status(median_value, data_sigma, value, threshold, upper_tail: bool) -> bool:
    """float32 threshold test; .pyx:111-121."""
    median_value = _f32(median_value)
    data_sigma = _f32(data_sigma)
    value = _f32(value)
    threshold = _f32(threshold)
    de_median = _f32(value - median_value) if upper_tail else _f32(median_value - value)
    if data_sigma < _f32(EPS):
        data_sigma = _f32(EPS)
    return bool(_f32(de_median / data_sigma) > threshold)


def _tail_test_loop(sorted_values, sorted_index, max_outliers: int, thresholds,
                    upper_tail: bool, last_index: int) -> list:
    """Shared loop of generalized_esd_test (.pyx:160-191) and
    dynamic_threshold (.pyx:124-157); ``thresholds[k]`` is λ_k for ESD or the
    constant threshold for DT.

    Dispatch: the full-scan case (``last_index == -1`` — every batch scoring
    path) runs :func:`_tail_test_full`, which evaluates the same per-k tests
    with the median/deviation/threshold arithmetic batched (bit-exact, see
    its docstring); the latest-mode (``last_index != -1``) case keeps the
    sequential early-break loop in :func:`_tail_test_loop_seq`."""
    if last_index == -1:
        return _tail_test_full(sorted_values, sorted_index, max_outliers,
                               thresholds, upper_tail)
    return _tail_test_loop_seq(sorted_values, sorted_index, max_outliers,
                               thresholds, upper_tail, last_index)


def _tail_test_loop_seq(sorted_values, sorted_index, max_outliers: int, thresholds,
                        upper_tail: bool, last_index: int) -> list:
    """Sequential reference form of the tail loop (early-break latest-mode
    (``last_index != -1``) case; also the A/B oracle for
    ``_tail_test_full``)."""
    length = len(sorted_values)
    values = np.asarray(sorted_values, dtype=_f32)
    reverse_value = values[::-1].copy()
    num_anoms = -1
    start_index = last_index if last_index != -1 else 0
    # Flagging every point leaves nothing to estimate the median from; the
    # reference's callers always derive max_outliers from a ratio <= 0.49 so
    # its Cython never hits k == length-1, but this public kernel API must not
    # crash on max_outliers >= n (flags beyond n-1 are meaningless anyway).
    max_outliers = min(max_outliers, length - 1)
    for k in range(start_index, max_outliers):
        median_value = _sorted_median(values, k, length)
        lower_half = reverse_value[length - k - (length - k) // 2 : length - k]
        upper_half = values[k + (length - k) // 2 :]
        data_sigma = _f32(
            _merged_dev_median(np.abs(lower_half - median_value),
                               np.abs(upper_half - median_value))
            / _f32(NORM_PPF_3_4)
        )
        is_anomaly = _check_anomaly_status(median_value, data_sigma, values[k], thresholds[k], upper_tail)
        if not is_anomaly:
            tail = values[k:length]
            mean, std = _tail_mean_std(tail)
            is_anomaly = _check_anomaly_status(
                mean, std, values[k], thresholds[k], upper_tail
            )
        if is_anomaly:
            num_anoms = k
        if is_anomaly and last_index != -1:
            break
    return list(sorted_index[: num_anoms + 1])


def _tail_test_full(sorted_values, sorted_index, max_outliers: int, thresholds,
                    upper_tail: bool) -> list:
    """``_tail_test_loop_seq`` for the no-early-break case, with the per-k
    scalar work batched.  Bit-exact with the sequential form by construction:

    - per-k tail medians use the same float32 element / ``(a+b)/2.0``
      arithmetic, evaluated elementwise over all k at once (IEEE ops are
      elementwise, so the array form produces the identical float32 cells);
    - the half-deviation arrays ``|x - median_k|`` the merged-median search
      probes come from ONE vectorized float32 ``|values[k:] - median_k|`` per
      k — the same float32 subtraction/abs per element as the two per-half
      slices, in one op instead of four;
    - the merged-median binary search itself is unchanged (same index
      arithmetic, same comparisons — probes widen float32 to f64 exactly via
      ``.item()``, so every branch matches, and the final midpoint is
      recomputed on the original float32 scalars with the original formula);
    - the first threshold check runs as elementwise float32 array ops
      (identical per-cell results); the mean/std fallback keeps the exact
      per-k ``_tail_mean_std`` calls (their pairwise-summation order cannot
      be batched) and runs only where the first check said "not anomalous",
      exactly as the sequential loop short-circuits.

    Verified by test_esd_tail_fast_matches_seq (randomized A/B vs the
    sequential form) and the kernel_ab bit-exactness battery.
    """
    length = len(sorted_values)
    values = np.asarray(sorted_values, dtype=_f32)
    max_outliers = min(max_outliers, length - 1)
    if max_outliers <= 0:
        return list(sorted_index[:0])
    ks = np.arange(max_outliers)
    rem = length - ks
    half = rem // 2
    mid = ks + half
    # _sorted_median batched: data[k + (n-k)//2] when odd, else the float32
    # midpoint of the two middle elements — same ops, elementwise
    odd = (rem % 2) == 1
    med_even_hi = np.minimum(mid, length - 1)  # clamp only to keep the even
    med_even = (values[med_even_hi - 1] + values[med_even_hi]) / _f32(2.0)
    med = np.where(odd, values[np.minimum(mid, length - 1)], med_even).astype(_f32, copy=False)
    thr = np.asarray(thresholds[:max_outliers], dtype=_f32)

    sigma = np.empty(max_outliers, dtype=_f32)
    for k in range(max_outliers):
        # float32 |tail - median_k| in one op; cells identical to the two
        # per-half np.abs arrays the sequential form builds
        devrow = np.abs(values[k:] - med[k])
        sigma[k] = _merged_dev_median_row(devrow, int(half[k]),
                                          int(rem[k] - half[k]))
    sigma = (sigma / _f32(NORM_PPF_3_4)).astype(_f32, copy=False)

    # _check_anomaly_status batched (pure float32 elementwise)
    vk = values[:max_outliers]
    de_median = (vk - med) if upper_tail else (med - vk)
    safe_sigma = np.where(sigma < _f32(EPS), _f32(EPS), sigma)
    is_anom = (de_median / safe_sigma) > thr

    # mean/std fallback only where the first check failed — same calls, same
    # order-dependent summation as the sequential loop
    for k in np.flatnonzero(~is_anom):
        mean, std = _tail_mean_std(values[k:length])
        is_anom[k] = _check_anomaly_status(mean, std, values[k],
                                           thresholds[k], upper_tail)
    hits = np.flatnonzero(is_anom)
    num_anoms = int(hits[-1]) if len(hits) else -1
    return list(sorted_index[: num_anoms + 1])


def _merged_dev_median_row(devrow: np.ndarray, m: int, n: int) -> np.float32:
    """``_merged_dev_median`` reading its two half-deviation arrays as lazy
    probes into one tail-deviation row: ``da[t] == devrow[m - 1 - t]`` (the
    lower half, reversed so deviations ascend) and ``db[t] == devrow[m + t]``.

    Probes widen float32 cells to f64 exactly via ``.item()`` (float32 ->
    float64 is exact, so every comparison branch matches the float32 form);
    the final midpoint is recomputed from the original float32 scalars with
    the original ``_f32((a + b) / 2.0)`` arithmetic.  O(log(m+n)) probes —
    the halves are never materialized."""
    lo_base = m - 1
    i_min, i_max = 0, m
    half_len = (m + n + 1) // 2
    item = devrow.item
    while i_min <= i_max:
        i = (i_min + i_max) // 2
        j = half_len - i
        if i < m and item(m + (j - 1)) > item(lo_base - i):
            i_min = i + 1
        elif i > 0 and item(lo_base - (i - 1)) > item(m + j):
            i_max = i - 1
        else:
            if i == 0:
                max_left = devrow[m + (j - 1)]
            elif j == 0:
                max_left = devrow[lo_base - (i - 1)]
            else:
                max_left = max(devrow[lo_base - (i - 1)], devrow[m + (j - 1)])
            if (m + n) % 2 == 1:
                return _f32(max_left)
            if i == m:
                min_right = devrow[m + j]
            elif j == n:
                min_right = devrow[lo_base - i]
            else:
                min_right = min(devrow[lo_base - i], devrow[m + j])
            return _f32((max_left + min_right) / 2.0)
    return _f32(0.0)


def _tail_mean_std(tail: np.ndarray):
    """``np.mean(tail), np.std(tail)`` with the ufunc wrappers stripped.

    Replicates numpy's ``_methods._mean`` / ``_var`` op-for-op on the float32
    input (pairwise ``np.add.reduce``, divide by the count, square of the
    centered values) so results are bit-identical to the library calls —
    verified by the kernel A/B harness — at a fraction of the dispatch cost
    (this runs O(max_outliers) times per tail loop)."""
    cnt = tail.shape[0]
    s = np.add.reduce(tail)
    # np.mean scalar path: float64 division, cast back to the input dtype
    mean = s.dtype.type(s / cnt)
    # np.std path: the internal mean is a 0-d ARRAY divided in-place with
    # casting='unsafe' (float32 loop) — a different rounding than the scalar
    # mean above, so both forms are reproduced faithfully
    arrmean = np.asarray(s).copy()
    np.true_divide(arrmean, cnt, out=arrmean, casting="unsafe")
    x = tail - arrmean
    x = x * x
    ret = np.add.reduce(x)
    var = ret.dtype.type(ret / cnt)
    return mean, var.dtype.type(np.sqrt(var))


def generalized_esd_test(sorted_values, sorted_index, max_outliers, critical_values,
                         upper_tail, last_index) -> list:
    return _tail_test_loop(sorted_values, sorted_index, max_outliers, critical_values,
                           upper_tail, last_index)


def dynamic_threshold_test(sorted_values, sorted_index, max_outliers, threshold,
                           upper_tail, last_index) -> list:
    thresholds = [threshold] * max_outliers
    return _tail_test_loop(sorted_values, sorted_index, max_outliers, thresholds,
                           upper_tail, last_index)


class _SortedSeries:
    """(values, index) pair standing in for the pandas sorted Series."""

    __slots__ = ("values", "index")

    def __init__(self, values: np.ndarray, index: np.ndarray):
        self.values = np.asarray(values, dtype=float)
        self.index = np.asarray(index)

    def reversed(self) -> "_SortedSeries":
        return _SortedSeries(self.values[::-1], self.index[::-1])


class ESD:
    """Port of detectors/esd_filter.py:10-49."""

    def __init__(self, sorted_series: _SortedSeries, max_outliers: int,
                 majority_value: float | None, alpha: float):
        self._series = sorted_series
        self._max_outliers = max_outliers
        self._alpha = alpha
        self._majority = majority_value
        self._critical = (
            get_critical(alpha, len(sorted_series.values), max_outliers)
            if majority_value is None
            else None
        )

    def detect(self, upper_tail: bool, last_detect: bool = False) -> list:
        data = self._series.reversed() if upper_tail else self._series
        last_index = -1
        if last_detect:
            last_index = int(np.max(self._series.index))
        if self._majority is not None:
            # truncate past the last element equal to the majority value
            # (esd_filter.py:27-29)
            eq = np.abs(data.values - self._majority) < EPS
            last_eq = np.where(eq)[0]
            if len(last_eq) == 0:
                return []
            cut = last_eq[-1] + 1
            data = _SortedSeries(data.values[:cut], data.index[:cut])
        if last_index != -1:
            pos = np.where(data.index == last_index)[0]
            if len(pos) == 0:
                return []
            last_index = int(pos[0])
        critical = (
            get_critical(self._alpha, len(data.values), self._max_outliers)
            if self._critical is None
            else self._critical
        )
        return generalized_esd_test(data.values, data.index, self._max_outliers,
                                    critical, upper_tail, last_index)


class DynamicThresholdDetector:
    """Port of detectors/dynamic_filter.py:10-33."""

    def __init__(self, sorted_series: _SortedSeries, max_outliers: int, threshold: float):
        self._series = sorted_series
        self._max_outliers = max_outliers
        self._threshold = threshold

    def detect(self, upper_tail: bool, last_detect: bool = False) -> list:
        data = self._series.reversed() if upper_tail else self._series
        last_index = -1
        if last_detect:
            pos = np.where(data.index == int(np.max(data.index)))[0]
            last_index = int(pos[0])
        return dynamic_threshold_test(data.values, data.index, self._max_outliers,
                                      self._threshold, upper_tail, last_index)


class ZScoreDetector:
    """Port of detectors/z_score.py:12-33 (input sorted ascending)."""

    def __init__(self, sorted_series: _SortedSeries, max_outliers: int):
        self._series = sorted_series
        self._max_outliers = max_outliers
        self._median = float(np.median(sorted_series.values))
        self._mad = mad(sorted_series.values)
        if self._mad == 0:
            self._mad = float(np.std(sorted_series.values))
            self._median = float(np.mean(sorted_series.values))

    def detect(self, upper_tail: bool, last_detect: bool = False) -> list:
        if self._mad == 0:
            return []
        data = self._series.reversed() if upper_tail else self._series
        vals = data.values[: self._max_outliers]
        idx = data.index[: self._max_outliers]
        mask = np.abs(vals - self._median) / self._mad > 3
        return list(idx[mask])


def ensemble_detect(detectors: list, max_outliers: int, num_obs: int,
                    last_detect: bool = False) -> np.ndarray:
    """Rank-vote merge across detectors and both tails (model/detect.py:10-45).

    Returns the sorted union of anomaly indices (direction flags are
    recomputed downstream from expected values, so only the set matters).
    """
    selected: list[np.ndarray] = []
    for upper_tail in (True, False):  # Direction.upper_tail, Direction.lower_tail
        anomaly: dict[int, int] = {}
        for i, det in enumerate(detectors):
            hits = det.detect(upper_tail=upper_tail, last_detect=last_detect)
            if hits is None or len(hits) == 0:
                continue
            for k, index in enumerate(hits):
                index = int(index)
                if index in anomaly:
                    anomaly[index] += k
                else:
                    anomaly[index] = k + i * num_obs
        ranked = sorted(anomaly, key=anomaly.get)
        selected.append(np.array(ranked[: min(max_outliers, len(ranked))], dtype=int))
    if not len(selected):
        return np.array([], dtype=int)
    return np.unique(np.concatenate(selected))
