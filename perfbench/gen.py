"""Seeded input generator: a dense hourly OHLCV panel shaped like the
reference's candle cache (FIXTURES.md A1).

One panel is emitted in two forms:

- ``write_events``: an events-shaped parquet table (event_id, ts,
  user_id, event_type, value, note) — what ``plans.flagship`` scans;
- ``Exchange``: a ``sources.ingest.FetchFn`` serving the same candles
  as exchange wire rows, whose tail candles are revised in every
  refresh generation.

Irregularities (each decides real rows in some operator):
- ~0.1 % of hours are missing (gap fill has work);
- ~0.5 % of candles get a late correction appended to the table with a
  larger event_id; the correction is the true value (keep-last dedup);
- the first 90 days are noisier (leading junk);
- a sparse ``note`` string column, ~70 % null.

Everything is a pure function of the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

HOUR_MS = 3_600_000
#: 2020-01-01T00:00:00Z
START_MS = 1_577_836_800_000
GAP_SHARE = 0.001
DUP_SHARE = 0.005
NOTE_SHARE = 0.3
JUNK_HOURS = 90 * 24
#: candles at the end of every symbol that a refresh generation revises
REVISED_CANDLES = 24


@dataclass
class Series:
    """One symbol's true candles after keep-last (gaps removed)."""

    ts_ms: np.ndarray  # int64, strictly increasing
    ohlcv: np.ndarray  # float64 (n, 5): open, high, low, close, volume


@dataclass
class Panel:
    series: list[Series]
    # late corrections: (symbol, row in series, stale close) — the
    # stale value arrives first, the true one is appended later
    stale: list[tuple[int, int, float]]
    notes: list[np.ndarray]

    @property
    def n_symbols(self) -> int:
        return len(self.series)


def symbol_name(i: int) -> str:
    return f"S{i:02d}/USD"


def make_panel(seed: int, n_symbols: int, n_hours: int) -> Panel:
    rng = np.random.default_rng(seed)
    series, stale, notes = [], [], []
    for s in range(n_symbols):
        sigma = np.full(n_hours, 0.01)
        sigma[:JUNK_HOURS] = 0.03
        logp = np.log(rng.uniform(20.0, 200.0)) + np.cumsum(
            rng.normal(0.0, 1.0, n_hours) * sigma
        )
        close = np.exp(logp)
        open_ = np.empty(n_hours)
        open_[0] = close[0]
        open_[1:] = close[:-1] * np.exp(rng.normal(0.0, 0.002, n_hours - 1))
        high = np.maximum(open_, close) * (
            1.0 + np.abs(rng.normal(0.0, 0.003, n_hours))
        )
        low = np.minimum(open_, close) * (
            1.0 - np.abs(rng.normal(0.0, 0.003, n_hours))
        )
        volume = (rng.pareto(2.5, n_hours) + 1.0) * 100.0
        keep = rng.random(n_hours) >= GAP_SHARE
        keep[0] = keep[-1] = True
        hours = np.nonzero(keep)[0]
        ts = START_MS + hours.astype(np.int64) * HOUR_MS
        ohlcv = np.stack([open_, high, low, close, volume], axis=1)[keep]
        for r in np.nonzero(rng.random(len(hours)) < DUP_SHARE)[0]:
            stale.append((s, int(r), float(ohlcv[r, 3] * rng.uniform(0.9, 1.1))))
        note = np.where(
            rng.random(len(hours)) < NOTE_SHARE,
            rng.choice(np.array(["halt", "news", "split"]), len(hours)),
            None,
        )
        series.append(Series(ts, ohlcv))
        notes.append(note)
    return Panel(series, stale, notes)


def events_table(panel: Panel):
    """The panel as an arrow table in arrival order: every candle once
    (the stale value where a correction follows), then the corrections
    with larger event_ids."""
    import pyarrow as pa

    ts, sym, val, note = [], [], [], []
    for s, ser in enumerate(panel.series):
        ts.append(ser.ts_ms)
        sym.append(np.full(len(ser.ts_ms), s, dtype=np.int64))
        val.append(ser.ohlcv[:, 3].copy())
        note.append(panel.notes[s])
    for s, r, stale_close in panel.stale:
        val[s][r] = stale_close
    for s, r, _ in panel.stale:
        ts.append(panel.series[s].ts_ms[r : r + 1])
        sym.append(np.array([s], dtype=np.int64))
        val.append(panel.series[s].ohlcv[r : r + 1, 3])
        note.append(np.array([None], dtype=object))
    ts_all = np.concatenate(ts)
    n = len(ts_all)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_all * 1000, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(np.concatenate(sym)),
            "event_type": pa.array(["candle"] * n),
            "value": pa.array(np.concatenate(val)),
            "note": pa.array(np.concatenate(note), pa.string()),
        }
    )


def write_events(panel: Panel, sf_dir: str) -> str:
    """Write ``<sf_dir>/events.parquet`` (the layout
    ``sources.tables.events_series`` reads)."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(panel), path)
    return path


class Exchange:
    """A seeded ``FetchFn``: serves the panel's true candles as
    ``[ts_ms, open, high, low, close, volume]`` wire rows. Set
    ``generation`` before a refresh: for generation g > 0 the last
    ``REVISED_CANDLES`` candles of every symbol carry revised prices and
    volumes, so the refresh's keep-last merge replaces real rows."""

    def __init__(self, panel: Panel, seed: int):
        self.panel = panel
        self.seed = seed
        self.generation = 0
        self._index = {symbol_name(i): i for i in range(panel.n_symbols)}

    def candles(self, s: int, generation: int | None = None) -> np.ndarray:
        """(ts_ms, o, h, l, c, v) rows of symbol ``s`` as served in
        ``generation`` (default: the current one)."""
        g = self.generation if generation is None else generation
        ser = self.panel.series[s]
        ohlcv = ser.ohlcv.copy()
        if g > 0:
            rng = np.random.default_rng([self.seed, g, s])
            r = min(REVISED_CANDLES, len(ohlcv))
            ohlcv[-r:, :4] *= rng.uniform(0.98, 1.02, r)[:, None]
            ohlcv[-r:, 4] *= rng.uniform(0.5, 1.5, r)
        return np.column_stack([ser.ts_ms.astype(np.float64), ohlcv])

    def __call__(self, symbol: str, since_ms: int, limit: int) -> list[list]:
        s = self._index[symbol]
        ts = self.panel.series[s].ts_ms
        lo = int(np.searchsorted(ts, since_ms))
        rows = self.candles(s)[lo : lo + limit]
        return [[int(r[0]), *map(float, r[1:])] for r in rows]

    @property
    def end_ms(self) -> int:
        """One step past the last candle of any symbol."""
        return int(max(s.ts_ms[-1] for s in self.panel.series)) + HOUR_MS
