"""Forecast evaluation metrics (``functions.py:21-49``), with the
reference's quirks preserved:

- ``mape`` is mean absolute error divided by the mean absolute true value
  (not the standard per-point percentage, ``functions.py:34-37``);
- ``mae`` is the **median** absolute error (``:40-43``);
- ``pocid`` is the percentage of sign-agreeing consecutive differences
  (``:46-49``);
- all metrics align ``true[-len(pred):]`` with ``pred``.

Provided as NumPy functions (model tier); the registered queries score
prediction tables with their own Spark expressions.
"""

from __future__ import annotations

import numpy as np


def _align(true, pred):
    true = np.asarray(true, dtype=float)
    pred = np.asarray(pred, dtype=float)
    return true[-len(pred):], pred


def r2(true, pred) -> float:
    """Coefficient of determination (``functions.py:21-25``)."""
    true, pred = _align(true, pred)
    return float(1 - np.sum((true - pred) ** 2)
                 / np.sum((true - np.mean(true)) ** 2))


def rmse(true, pred) -> float:
    true, pred = _align(true, pred)
    return float(np.sqrt(np.sum((true - pred) ** 2) / len(pred)))


def mape(true, pred) -> float:
    t, p = _align(true, pred)
    return float(np.mean(np.abs(t - p)) / np.abs(np.asarray(true)).mean())


def mae(true, pred) -> float:
    true, pred = _align(true, pred)
    return float(np.median(np.abs(true - pred)))


def pocid(true, pred) -> float:
    """POCID (``functions.py:46-49``) with one determinism tweak: both
    series are snapped to the 1e-6 grid before the sign comparison.  The
    direction test ``diff(true) * diff(pred) > 0`` is a boolean computed
    from floats, and AR-family forecasts converge toward the series mean,
    so consecutive predictions can differ by ~1 ulp — where independent
    float paths (NumPy vs a SQL replay, or two cluster plans) legitimately
    disagree on the sign.  Quantizing first makes the flag a function of
    the 6-decimal values, which every engine agrees on; diffs ≥ 1e-6 are
    unaffected.  The snap is explicit HALF-AWAY-FROM-ZERO (exact-fraction
    form) so it matches SQL ``round`` bit-for-bit even when a value lands
    exactly on a 6dp tie — ``np.round``'s half-to-even would pick the
    other grid point there."""
    true, pred = _align(true, pred)
    true = _snap6(true)
    pred = _snap6(pred)
    return float(100 * np.mean((np.diff(true) * np.diff(pred)) > 0))


def _snap6(a):
    """Exact half-away-from-zero rounding to 6 decimals (mirrors SQL
    ``round(x, 6)``) — the shared boundary-tested kernel."""
    from orange3_timeseries_spark.functions._rounding import half_up_exact
    return half_up_exact(a * 1e6) / 1e6


def smape(true, pred) -> float:
    """Symmetric MAPE, M4-competition convention: the PERCENTAGE
    ``100 · mean(2|t − p| / (|t| + |p|))`` with zero-denominator terms
    (t = p = 0, a perfect prediction of zero) counted as 0 — they stay
    in the mean's denominator."""
    true, pred = _align(true, pred)
    den = np.abs(true) + np.abs(pred)
    terms = np.where(den > 0, 2 * np.abs(true - pred)
                     / np.where(den > 0, den, 1.0), 0.0)
    return float(100.0 * np.mean(terms))


def mase(true, pred, train, m: int = 1) -> float:
    """Mean absolute scaled error (Hyndman & Koehler 2006): forecast
    MAE scaled by the in-sample one-step seasonal-naive MAE of the
    TRAINING series (period ``m``; ``m=1`` = plain naive) — the
    scale-free companion of the naive/snaive baselines: MASE < 1 beats
    the baseline on the training scale."""
    true, pred = _align(true, pred)
    train = np.asarray(train, dtype=float)
    if len(train) <= m:
        return float("nan")
    scale = np.mean(np.abs(train[m:] - train[:-m]))
    if scale == 0:
        return float("nan")
    return float(np.mean(np.abs(true - pred)) / scale)
