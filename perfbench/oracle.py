"""NumPy restatements of what each workload's op must return, computed
from the generated inputs alone (never from the program's output).

- ``backtest_summary``: the notebook's sliding evaluation
  (notebooks/test.ipynb ``evaluate``) as the flagship configures it —
  keep-last, hourly grid, the flagship's warm-up skip and tail
  validation split, per-split forward fill, z-scored L-windows with P-step
  futures, within-symbol L2 top-``ensemble`` analog forecast, MAE.
- ``featurize_columns`` + ``digest``: the ingest → featurize chain's
  output reduced to (count, sum, sum of |x|) per column.
"""

from __future__ import annotations

import warnings

import numpy as np

EPS = 1e-8
#: digest sums agree to this share of the column's total magnitude
DIGEST_RTOL = 1e-6
ANCHOR_EPOCH = 946_684_800
HOUR_S = 3600


def _ffill_grid(idx: np.ndarray, *cols: np.ndarray):
    """Dense [min, max] grid over sorted ``idx``; every column
    forward-filled. Returns (grid, is_gap, *filled)."""
    grid = np.arange(idx[0], idx[-1] + 1)
    src = np.searchsorted(idx, grid, side="right") - 1
    return (grid, (idx[src] != grid).astype(np.int64), *[c[src] for c in cols])


def _windows(grid: np.ndarray, v: np.ndarray, L: int, P: int):
    """Windows with a full P-step future: (ids, center, scale, xs, fut)."""
    n_full = len(v) - L - P + 1
    if n_full <= 0:
        empty = np.empty((0, L))
        return grid[:0], np.empty(0), np.empty(0), empty, np.empty((0, P))
    raw = np.lib.stride_tricks.sliding_window_view(v, L)[:n_full]
    center = raw.sum(axis=1) / L
    scale = np.sqrt(((raw - center[:, None]) ** 2).sum(axis=1) / L)
    xs = (raw - center[:, None]) / (scale + EPS)[:, None]
    fut = np.lib.stride_tricks.sliding_window_view(v[L:], P)[:n_full]
    return grid[:n_full], center, scale, xs, fut


def symbol_windows(ts_ms, close, params):
    """(train windows, strided val queries) of one symbol's true series:
    the first ``params.skip_frac`` of rows dropped, the last
    ``params.val_ratio`` of the rest validation."""
    idx = (ts_ms // 1000 - ANCHOR_EPOCH) // HOUR_S
    k = int(np.floor(len(idx) * params.skip_frac))
    idx, close = idx[k:], close[k:]
    boundary = len(idx) - int(np.floor(len(idx) * params.val_ratio))
    out = []
    for lo, hi in ((0, boundary), (boundary, len(idx))):
        grid, _, v = _ffill_grid(idx[lo:hi], close[lo:hi])
        out.append(_windows(grid, v, params.L, params.pred_window))
    train, val = out
    if len(idx) > boundary:
        keep = (val[0] - idx[boundary]) % params.stride == 0
        val = tuple(a[keep] for a in val)
    return train, val


def analog_forecast(train, query, ensemble):
    """Per-step (pred, target) for one query against one symbol's
    train windows: L2 top-``ensemble`` (ties by window id), mean of the
    matches' re-standardized futures vs the query's own."""
    ids, center, scale, xs, fut = train
    q_center, q_scale, q_xs, q_fut = query
    d = ((xs - q_xs) ** 2).sum(axis=1)
    top = np.lexsort((ids, d))[:ensemble]
    pred = ((fut[top] - center[top, None]) / (scale[top, None] + EPS)).mean(0)
    target = (q_fut - q_center) / (q_scale + EPS)
    return pred, target


def backtest_summary(panel, params):
    """(mae_mean, mae_std, n_queries) over every symbol's queries, for
    the window shape, stride, ensemble and split of ``FlagshipParams``."""
    maes = []
    for ser in panel.series:
        train, val = symbol_windows(ser.ts_ms, ser.ohlcv[:, 3], params)
        for q in range(len(val[0])):
            query = (val[1][q], val[2][q], val[3][q], val[4][q])
            pred, target = analog_forecast(train, query, params.ensemble)
            maes.append(np.abs(pred - target).mean())
    maes = np.array(maes)
    return float(maes.mean()), float(maes.std()), len(maes)


# ---------------------------------------------------------------- featurize


def _frame(x: np.ndarray, n: int) -> np.ndarray:
    """Trailing n-row frames; the first n-1 rows see a NaN-padded frame."""
    pad = np.concatenate([np.full(n - 1, np.nan), x])
    return np.lib.stride_tricks.sliding_window_view(pad, n)


def _full_from(x: np.ndarray, rn_min: int) -> np.ndarray:
    """Null (NaN) rows whose 1-based row number is below ``rn_min``."""
    out = x.astype(np.float64).copy()
    out[: rn_min - 1] = np.nan
    return out


def _lag(x: np.ndarray, k: int = 1) -> np.ndarray:
    return np.concatenate([np.full(k, np.nan), x[:-k]])


def _savgol(y: np.ndarray, w: int = 21, order: int = 4) -> np.ndarray:
    h = w // 2
    x = np.arange(-h, h + 1, dtype=np.float64)
    v = np.vander(x, order + 1, increasing=True)
    proj = v @ np.linalg.pinv(v)
    inner = np.lib.stride_tricks.sliding_window_view(y, w) @ proj[h]
    return np.concatenate([proj[:h] @ y[:w], inner, proj[h + 1 :] @ y[-w:]])


def featurize_columns(symbol: str, ts_ms: np.ndarray, ohlcv: np.ndarray) -> dict:
    """Every output column of the featurize chain for one symbol's silver
    candles (hourly, sorted, deduplicated)."""
    idx = (ts_ms // 1000 - ANCHOR_EPOCH) // HOUR_S
    grid, is_gap, o, h, lo, c, v = _ffill_grid(idx, *ohlcv.T)
    n = len(grid)
    prev = _lag(c)
    # all-NaN leading frames are expected: their rows are nulled below
    with np.errstate(invalid="ignore", divide="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        cf, hf, lf, vf = _frame(c, 20), _frame(h, 20), _frame(lo, 20), _frame(v, 20)
        mid = np.nanmean(cf, axis=1)
        sd = np.nanstd(cf, axis=1)
        hh14, ll14 = np.nanmax(hf[:, -14:], axis=1), np.nanmin(lf[:, -14:], axis=1)
        du, dl = np.nanmax(hf, axis=1), np.nanmin(lf, axis=1)
        signed = np.sign(c - prev) * v
        obv = np.concatenate([[np.nan], np.cumsum(signed[1:])])
        cols = {
            "ret": c / prev - 1,
            "logret": np.log(c / prev),
            "sma20": _full_from(mid, 20),
            "bb_upper": _full_from(mid + 2 * sd, 20),
            "bb_lower": _full_from(mid - 2 * sd, 20),
            "roc12": 100 * (c / _lag(c, 12) - 1),
            "obv": obv,
            "vwap20": np.nansum(cf * vf, axis=1) / np.nansum(vf, axis=1),
            "willr14": _full_from(-100 * (hh14 - c) / (hh14 - ll14), 14),
            "don_upper": _full_from(du, 20),
            "don_lower": _full_from(dl, 20),
            "don_mid": _full_from((du + dl) / 2, 20),
        }
        k = _full_from(100.0 * (c - ll14) / (hh14 - ll14), 14)
        tp = (h + lo + c) / 3.0
        tpf = _frame(tp, 20)
        tp_sma = np.nanmean(tpf, axis=1)
        mad = np.nanmean(np.abs(tpf - tp_sma[:, None]), axis=1)
        prev_tp = _lag(tp)
        pf = np.where(tp > prev_tp, tp * v, 0.0)
        nf = np.where(tp < prev_tp, tp * v, 0.0)
        pf_sum = np.nansum(_frame(pf, 14), axis=1)
        nf_sum = np.nansum(_frame(nf, 14), axis=1)
        mfi = np.where(nf_sum == 0.0, 100.0, 100.0 - 100.0 / (1.0 + pf_sum / nf_sum))
        cols.update(
            {
                "stoch_k": k,
                "stoch_d": _full_from(np.nanmean(_frame(k, 3), axis=1), 16),
                "cci20": _full_from((tp - tp_sma) / (0.015 * mad), 20),
                "mfi14": _full_from(mfi, 15),
                "ichi_conv": _full_from(
                    (np.nanmax(_frame(h, 9), 1) + np.nanmin(_frame(lo, 9), 1)) / 2, 9
                ),
                "ichi_base": _full_from(
                    (np.nanmax(_frame(h, 26), 1) + np.nanmin(_frame(lo, 26), 1)) / 2,
                    26,
                ),
            }
        )
    cols.update(
        {
            "symbol": np.full(n, float(len(symbol))),
            "datetime": (grid * HOUR_S + ANCHOR_EPOCH).astype(np.float64),
            "open": o,
            "high": h,
            "low": lo,
            "close": c,
            "volume": v,
            "n_rows": np.ones(n),
            "time_idx": grid.astype(np.float64),
            "is_gap": is_gap.astype(np.float64),
            "close_sg": _savgol(c),
        }
    )
    return cols


def digest(columns_per_symbol: list[dict]) -> dict[str, tuple[int, float, float]]:
    """(non-null count, sum, sum of |x|) per column over all symbols."""
    out: dict[str, tuple[int, float, float]] = {}
    for name in columns_per_symbol[0]:
        x = np.concatenate([cols[name] for cols in columns_per_symbol])
        x = x[~np.isnan(x)]
        out[name] = (len(x), float(x.sum()), float(np.abs(x).sum()))
    return out


def digest_mismatches(got: dict, want: dict) -> list[str]:
    """Names of columns whose digest differs (count exactly, sums to
    ``DIGEST_RTOL`` of the column's total magnitude); a column missing
    on either side differs."""
    bad = sorted(set(got) ^ set(want))
    for name in set(got) & set(want):
        (gn, gs, ga), (wn, ws, wa) = got[name], want[name]
        tol = DIGEST_RTOL * (wa + 1.0)
        if gn != wn or abs(gs - ws) > tol or abs(ga - wa) > tol:
            bad.append(name)
    return bad
