"""Missing-point imputation — numpy port of the reference's fill-up process
(operators F1-F7 in SURVEY.md §2.8).

- gap analysis / fill orchestration <- filling_up/fill_up.py:9-282
- step fill methods                 <- filling_up/fill_up_methods.py
- cubic interpolation: scipy ``interp1d(kind='cubic')`` equals a not-a-knot
  cubic spline; implemented here from the standard moment equations.

On Spark the whole process runs per bounded series inside ``mapInArrow``
(grid capped at 17280 indices by DEFAULT_MAXIMUM_FILLUP_LENGTH,
util/fields.py:32), so a single-series port is the correct unit.
"""

from __future__ import annotations

import numpy as np

DEFAULT_MAXIMUM_FILLUP_LENGTH = 8640 * 2  # fields.py:32


def cubic_spline_interp(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Not-a-knot cubic spline through (x, y), evaluated at xq."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    n = len(x)
    if n < 4:
        raise ValueError("not enough point to do spline interpolation, at least 4 points")
    h = np.diff(x)
    A = np.zeros((n, n))
    rhs = np.zeros(n)
    for i in range(1, n - 1):
        A[i, i - 1] = h[i - 1] / 6.0
        A[i, i] = (h[i - 1] + h[i]) / 3.0
        A[i, i + 1] = h[i] / 6.0
        rhs[i] = (y[i + 1] - y[i]) / h[i] - (y[i] - y[i - 1]) / h[i - 1]
    # not-a-knot: s''' continuous at x[1] and x[n-2]
    A[0, 0] = -1.0 / h[0]
    A[0, 1] = 1.0 / h[0] + 1.0 / h[1]
    A[0, 2] = -1.0 / h[1]
    A[n - 1, n - 3] = -1.0 / h[n - 3]
    A[n - 1, n - 2] = 1.0 / h[n - 3] + 1.0 / h[n - 2]
    A[n - 1, n - 1] = -1.0 / h[n - 2]
    M = np.linalg.solve(A, rhs)
    xq = np.asarray(xq, dtype=float)
    seg = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    x0, x1 = x[seg], x[seg + 1]
    hseg = x1 - x0
    t0, t1 = (x1 - xq), (xq - x0)
    return (
        M[seg] * t0**3 / (6 * hseg)
        + M[seg + 1] * t1**3 / (6 * hseg)
        + (y[seg] / hseg - M[seg] * hseg / 6) * t0
        + (y[seg + 1] / hseg - M[seg + 1] * hseg / 6) * t1
    )


def linear_interp(x, y, xq) -> np.ndarray:
    return np.interp(np.asarray(xq, dtype=float), np.asarray(x, dtype=float),
                     np.asarray(y, dtype=float))


class FillUp:
    """Gap analysis + fill strategies over an integer index grid.

    Behavioral port of FillingUpProcess (fill_up.py:9-282): indices must be
    strictly ascending starting at 0; ``missing_ratio``/``need_fill_up``
    mirror the reference's attributes.
    """

    def __init__(self, indices: list[int], values: list[float],
                 maximum_fillup_length: int = DEFAULT_MAXIMUM_FILLUP_LENGTH):
        if indices is None:
            raise ValueError("indices is None")
        self.indices = list(indices)
        self.init_values = list(values)
        if len(self.indices) == 0:
            self.all_count = 0
            self.need_fill_up = False
            self.all_missing_count = 0
            self.missing_ratio = 0
            return
        if len(self.indices) != len(values):
            raise ValueError("length of indices is not aligned with length of values")
        for i, v in enumerate(values):
            if v is None:
                raise ValueError(f"value at index {self.indices[i]} is None")
        missing_found = False
        self.all_missing_count = 0
        for i in range(1, len(self.indices)):
            if self.indices[i] <= self.indices[i - 1]:
                raise ValueError(f"'timestamp' at index {i} is out of order or duplicated")
            if self.indices[i] > self.indices[i - 1] + 1:
                missing_found = True
                self.all_missing_count += self.indices[i] - self.indices[i - 1] - 1
        if self.indices[0] != 0:
            raise ValueError("indices[0] does not equal to 0")
        self.all_count = self.indices[-1] + 1
        self.missing_ratio = self.all_missing_count / self.all_count
        self.need_fill_up = missing_found and self.all_count <= maximum_fillup_length
        if self.need_fill_up:
            self.missing_tags = [False] * self.all_count
            self.forward_missing_counts = [0] * self.all_count
            self.missing_counts = [0] * self.all_count
            j = 0
            cnt = 0
            for i in range(self.all_count):
                self.forward_missing_counts[i] = self.indices[j] - i
                if self.indices[j] == i:
                    j += 1
                    cnt = 0
                else:
                    self.missing_tags[i] = True
                    if cnt == 0:
                        cnt = self.indices[j] - i
                self.missing_counts[i] = cnt

    # -- helpers --------------------------------------------------------------

    def _sparse_values(self) -> list:
        out = [None] * self.all_count
        for idx, v in zip(self.indices, self.init_values):
            out[idx] = v
        return out

    def _periodical_values(self, array, i, n, period, leverage_filled, short_of_knowledge,
                           direction=-1):
        """Collect up to n values at i ± k*period (fill_up_methods.py:17-43)."""
        result = []
        step = period * direction
        i += step
        try_best = short_of_knowledge == "try_best"
        while 0 <= i < len(array) and n > 0:
            if leverage_filled is False and self.forward_missing_counts[i] > 0:
                result.append(None)
                if direction == 1:
                    i += int(np.ceil((self.forward_missing_counts[i] - period) / period)) * period
                else:
                    i += (
                        int(np.ceil((self.missing_counts[i] - self.forward_missing_counts[i]) / period))
                        * period * -1
                    )
            else:
                result.append(array[i])
                if array[i] is not None and try_best:
                    n -= 1
            i += step
            if not try_best:
                n -= 1
        return result[::direction]

    def _neighbors(self, partial, i, j, period, backward_n, forward_n,
                   leverage_filled, short_of_knowledge):
        """Backward/forward context values (fill_up_methods.py:46-72)."""
        if leverage_filled is False and short_of_knowledge == "try_best" and period == 1:
            backward = self.init_values[j - min(backward_n, j) : j]
            forward = self.init_values[j : j + forward_n]
        else:
            backward = self._periodical_values(partial, i, backward_n, period,
                                               leverage_filled, short_of_knowledge, -1)
            forward = self._periodical_values(partial, i, forward_n, period,
                                              leverage_filled, short_of_knowledge, 1)
        if (None in backward or len(backward) < backward_n
                or None in forward or len(forward) < forward_n):
            if short_of_knowledge == "raise":
                raise ValueError("short of knowledge to fill up")
            if short_of_knowledge in ("ignore", "try_best"):
                backward = [x for x in backward if x is not None]
                forward = [x for x in forward if x is not None]
                if len(backward) == 0 and len(forward) == 0:
                    return None, None
            elif short_of_knowledge == "fill_with_none":
                return None, None
        return backward, forward

    # -- fill strategies -------------------------------------------------------

    def _step_fill(self, func, if_exception="raise", **kwargs):
        if not self.need_fill_up:
            return None, None
        full = self._sparse_values()
        i = j = 0
        while i < self.all_count:
            if self.indices[j] == i:
                j += 1
                i += 1
                continue
            try:
                res = func(full, i, j, **kwargs)
                if isinstance(res, list):
                    full[i : i + len(res)] = res
                    i += len(res)
                else:
                    full[i] = res
                    i += 1
            except Exception:
                if if_exception == "raise":
                    raise
                elif if_exception == "fill_with_none":
                    full[i] = None
                elif if_exception == "fill_with_last":
                    full[i] = self.init_values[j - 1]
                i += 1
        return full, self.missing_tags

    def _fill_last(self, full, i, j, **kwargs):
        return self.init_values[j - 1]

    def _fill_constant(self, full, i, j, number=None, **kwargs):
        return number

    def _fill_weighted_avg(self, full, i, j, backward_n, forward_n, weights,
                           leverage_filled_values=False, consider_period=False,
                           period=None, if_short_of_knowledge="try_best", **kwargs):
        if not (consider_period and period is not None and period > 1):
            period = 1
        backward, forward = self._neighbors(full, i, j, period, backward_n, forward_n,
                                            leverage_filled_values, if_short_of_knowledge)
        if backward is None:
            return None
        covered = weights[backward_n - len(backward) : backward_n + len(forward)]
        return float(np.average(backward + forward, weights=covered))

    def _fill_linear_seg(self, full, i, j, **kwargs):
        lo, hi = self.init_values[j - 1], self.init_values[j]
        num = self.missing_counts[i] + 2
        return list(np.linspace(lo, hi, num=num, endpoint=True)[1:-1])

    def _entire_linear(self):
        return list(linear_interp(self.indices, self.init_values, range(self.all_count)))

    def _entire_spline(self):
        if len(self.init_values) <= 3:
            raise ValueError("not enough point to do spline interpolation, at least 4 points")
        return list(cubic_spline_interp(np.array(self.indices, dtype=float),
                                        np.array(self.init_values, dtype=float),
                                        np.arange(self.all_count, dtype=float)))

    # -- public API ------------------------------------------------------------

    def fill(self, method: str, period: int | None = None, fixed_value=None,
             if_exception: str = "raise"):
        """Fill the grid; returns (full_values, missing_tags) or (None, None)."""
        if not self.need_fill_up:
            return None, None
        period = max(period, 1) if isinstance(period, int) and period >= 0 else 1
        if method == "auto":
            return self._auto_fill(period, if_exception)
        if method == "linear":
            try:
                return self._entire_linear(), self.missing_tags
            except Exception:
                if if_exception == "raise":
                    raise
                return self._sparse_values(), self.missing_tags
        if method == "last":
            return self._step_fill(self._fill_last, if_exception)
        if method == "constant":
            return self._step_fill(self._fill_constant, if_exception, number=fixed_value)
        raise NotImplementedError(f'filling up method "{method}" is not supported yet')

    def _scatter_fill(self, period: int) -> list:
        """Spline fill, voiding long gaps and clipping (fill_up.py:206-244)."""
        full = self._entire_spline()
        vmax = float(np.max(self.init_values))
        vmin = float(np.min(self.init_values))
        i = j = 0
        while i < self.all_count:
            if self.indices[j] == i:
                j += 1
                i += 1
                continue
            mc = self.missing_counts[i]
            if mc > 6 or (period > 1 and mc > period / 4):
                full[i : i + mc] = [None] * mc
                i += mc
            else:
                surrounding = [
                    full[x]
                    for x in [i - 2, i - 1, i + mc, i + mc + 1]
                    if 0 < x < self.all_count and not self.missing_tags[x]
                ]
                if len(surrounding) > 2 and (
                    surrounding == sorted(surrounding)
                    or surrounding == sorted(surrounding, reverse=True)
                ):
                    lo = min(surrounding[0], surrounding[-1])
                    hi = max(surrounding[0], surrounding[-1])
                    if any(full[x] < lo or full[x] > hi for x in range(i, i + mc)):
                        res = self._fill_linear_seg(full, i, j)
                        full[i : i + len(res)] = res
                for x in range(i, i + mc):
                    full[x] = min(max(full[x], vmin), vmax)
                i += mc
        return full

    def _auto_fill(self, period: int, if_exception: str):
        """Seasonal cascade: scatter spline -> periodic weighted avg -> linear
        (fill_up.py:246-282)."""
        try:
            if period > 1:
                filled = self._scatter_fill(period)
                filled_indices = [i for i in range(self.all_count) if filled[i] is not None]
                filled = [x for x in filled if x is not None]
                process = FillUp(filled_indices, filled)
                if process.need_fill_up:
                    filled, _ = process._step_fill(
                        process._fill_weighted_avg,
                        if_exception="fill_with_none",
                        backward_n=3, forward_n=3, consider_period=True, period=period,
                        weights=[0.1, 0.3, 0.6, 0.6, 0.3, 0.1],
                        if_short_of_knowledge="ignore",
                    )
                    filled_indices = [i for i in range(self.all_count) if filled[i] is not None]
                    filled = [x for x in filled if x is not None]
                process = FillUp(filled_indices, filled)
                if process.need_fill_up:
                    filled, _ = process.fill(method="linear")
            else:
                filled = self._entire_linear()
            return filled, self.missing_tags
        except Exception:
            if if_exception == "raise":
                raise
            if if_exception == "fill_with_none":
                return self._sparse_values(), self.missing_tags
            if if_exception == "fill_with_last":
                return self._step_fill(self._fill_last, if_exception="raise")


def fill_up_on_demand(process: FillUp, mode: str, fixed_value=None, period=None):
    """Port of model/series_compete_processor.py:9-18."""
    if mode in ("previous", "last"):
        return process.fill(method="last")
    if mode == "fixed":
        return process.fill(method="constant", fixed_value=fixed_value)
    if mode == "linear":
        return process.fill(method="linear")
    if mode == "auto":
        return process.fill(method="auto", period=period, if_exception="fill_with_last")
    return None, None
