"""Parity of the fused within-symbol backtest (forecast_within_symbol)
with the composed Spark path it replaces for the flagship:
fill_missing_time_idx → sliding_windows → stride cursors →
forecast_evaluate, on small hand-built split-labeled frames.

Per-step pred/target must be bitwise equal; per-query MAE (a mean
whose summation order the hash aggregate does not fix) to 1e-12
relative. Also: the window kernel's idx precondition and the
get_spark driver-memory fallback on hosts without os.sysconf.
"""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from big_data_stock_price_forecast_spark.operators.forecast import (
    forecast_evaluate,
    forecast_within_symbol,
)
from big_data_stock_price_forecast_spark.operators.gapfill import (
    fill_missing_time_idx,
)
from big_data_stock_price_forecast_spark.operators.windows import (
    ARROW_BUILD_MIN_WIDTH,
    sliding_windows,
)

SCHEMA = "symbol long, split string, time_idx long, close double"


def _labeled_rows(L: int, P: int, seed: int = 5):
    """Symbols exercising every edge the fused pass must match:

    1. gaps (forward fill), a NULL close inside a train frame (drops
       the frames over it and, through the fill, over the gap after
       it), a NULL in a val future, and a constant train stretch (a
       zero-norm window: the cosine -2.0 sentinel);
    2. a plain random walk (the ordinary case);
    3. too short for any window in either split;
    4. train rows only (no val rows);
    5. the first train and val frames hold a NULL, so neither stride
       anchor is the split's first row.
    """
    rng = random.Random(seed)
    rows = []

    def walk(sym, split, idxs, start=10.0):
        x = start
        for t in idxs:
            x += rng.uniform(-1.0, 1.0)
            rows.append((sym, split, t, round(x, 6)))

    n_tr, n_va = 6 * (L + P), 3 * (L + P)
    # symbol 1: gaps, NULLs, a constant stretch
    tr = [t for t in range(n_tr) if t % 11 != 7]
    walk(1, "train", tr)
    # the NULL row is followed by a gap (t % 11 == 7), which the fill
    # turns into more NULLs
    t_null = 3 * L + (6 - 3 * L) % 11
    for i, r in enumerate(rows):
        if r[2] == t_null:
            rows[i] = (1, "train", r[2], None)
        elif L + 5 <= r[2] < 2 * L + 6 + P:
            rows[i] = (1, "train", r[2], 4.25)
    walk(1, "val", range(n_tr, n_tr + n_va))
    for i, r in enumerate(rows):
        if r[0] == 1 and r[2] == n_tr + L + 1:
            rows[i] = (1, "val", r[2], None)
    # symbol 2: dense random walk
    walk(2, "train", range(n_tr))
    walk(2, "val", range(n_tr, n_tr + n_va))
    # symbol 3: shorter than L in both splits
    walk(3, "train", range(L - 1))
    walk(3, "val", range(L - 1, 2 * L - 3))
    # symbol 4: no val rows
    walk(4, "train", range(n_tr))
    # symbol 5: NULL in the first train and val frames
    walk(5, "train", range(n_tr))
    walk(5, "val", range(n_tr, n_tr + n_va))
    for i, r in enumerate(rows):
        if r[0] == 5 and r[2] in (1, n_tr + 1):
            rows[i] = (5, r[1], r[2], None)
    rng.shuffle(rows)  # both paths must sort by time_idx themselves
    return rows


def _composed(labeled, L, P, ensemble, metric, stride, cand_stride,
              query_symbol_mod, return_steps):
    """The pre-fusion flagship path: Spark gap fill + window build +
    min()-anchored stride cursors + the JVM search join."""
    filled = fill_missing_time_idx(
        labeled,
        part_col=["symbol", "split"],
        idx_col="time_idx",
        ts_col="__none__",
        fill_cols=["close"],
    ).select("symbol", "split", "time_idx", "close")
    w = sliding_windows(
        filled, L=L, pred_window=P, part_col=["symbol", "split"]
    )
    by = Window.partitionBy("symbol")
    train = w.filter(F.col("split") == "train").drop("split")
    val = w.filter(F.col("split") == "val").drop("split")
    if query_symbol_mod is not None:
        val = val.filter(F.col("symbol") % query_symbol_mod == 0)
    w0 = F.col("window_id") - F.col("__w0")
    train = train.withColumn("__w0", F.min("window_id").over(by))
    train = train.filter(w0 % cand_stride == 0).drop("__w0")
    val = val.withColumn("__w0", F.min("window_id").over(by))
    val = val.filter(w0 % stride == 0).drop("__w0")
    return forecast_evaluate(
        train, val, pred_window=P, ensemble=ensemble, metric=metric,
        within_symbol=True, dim=L, return_steps=return_steps,
    )


def _both(spark, rows, L, P, ensemble=2, metric="l2", stride=3,
          cand_stride=1, query_symbol_mod=None, return_steps=False):
    labeled = spark.createDataFrame(rows, SCHEMA)
    kw = dict(ensemble=ensemble, metric=metric, stride=stride,
              cand_stride=cand_stride, query_symbol_mod=query_symbol_mod,
              return_steps=return_steps)
    fused = forecast_within_symbol(labeled, L, P, **kw).collect()
    ref = _composed(labeled, L, P, **kw).collect()
    return fused, ref


def _assert_mae_parity(fused, ref):
    f = {(r.symbol, r.window_id): r.mae for r in fused}
    g = {(r.symbol, r.window_id): r.mae for r in ref}
    assert len(f) == len(fused)
    assert set(f) == set(g)
    assert f, "no queries: the fixture lost its point"
    for k, m in f.items():
        assert math.isclose(m, g[k], rel_tol=1e-12, abs_tol=0.0), k
    return f


SHAPES = [(6, 3), (56, 9)]  # L+P below / at-or-above the Arrow width


def test_shapes_straddle_the_arrow_build():
    assert SHAPES[0][0] + SHAPES[0][1] < ARROW_BUILD_MIN_WIDTH
    assert SHAPES[1][0] + SHAPES[1][1] >= ARROW_BUILD_MIN_WIDTH


@pytest.mark.parametrize("L,P", SHAPES)
@pytest.mark.parametrize("metric", ["l1", "l2", "cosine"])
def test_fused_mae_parity(spark, L, P, metric):
    fused, ref = _both(spark, _labeled_rows(L, P), L, P, metric=metric)
    got = _assert_mae_parity(fused, ref)
    # short symbol 3 and val-less symbol 4 emit nothing; the others do
    assert {s for s, _ in got} == {1, 2, 5}


@pytest.mark.parametrize("L,P", SHAPES)
@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_fused_steps_bitwise(spark, L, P, metric):
    fused, ref = _both(
        spark, _labeled_rows(L, P), L, P, metric=metric, return_steps=True
    )
    f = {(r.symbol, r.window_id, r.step): (r.pred, r.target) for r in fused}
    g = {(r.symbol, r.window_id, r.step): (r.pred, r.target) for r in ref}
    assert len(f) == len(fused) and f
    assert f == g
    assert {k[2] for k in f} == set(range(P))


@pytest.mark.parametrize("L,P", SHAPES)
def test_fused_strides_and_query_panel(spark, L, P):
    fused, ref = _both(
        spark, _labeled_rows(L, P), L, P, stride=2, cand_stride=3,
        query_symbol_mod=5,
    )
    got = _assert_mae_parity(fused, ref)
    assert {s for s, _ in got} == {5}


def test_fused_cosine_sentinel_is_hit(spark):
    """Zero-norm (constant) candidates rank LAST under cosine, even
    behind a negative similarity. The fixture's constant stretch puts
    such windows into the parity runs; here a hand-built store holds
    constant windows plus decreasing ones, the query rises, and
    ensemble=1 must pick a decreasing window (cosine < 0 > -2.0)."""
    L, P = 6, 3
    labeled = spark.createDataFrame(_labeled_rows(L, P), SCHEMA)
    w = sliding_windows(
        fill_missing_time_idx(
            labeled, part_col=["symbol", "split"], idx_col="time_idx",
            ts_col="__none__", fill_cols=["close"],
        ).select("symbol", "split", "time_idx", "close"),
        L=L, pred_window=P, part_col=["symbol", "split"],
    )
    assert w.filter(
        (F.col("symbol") == 1) & (F.col("split") == "train")
        & (F.col("scale") == 0.0) & (F.size("future") == P)
    ).count() > 0

    L, P = 4, 2
    train = [5.0] * 6 + [4.0, 3.0, 2.0, 1.0, 0.5, 0.25]
    rows = [(1, "train", t, v) for t, v in enumerate(train)]
    rows += [(1, "val", 50 + t, float(t)) for t in range(L + P)]
    fused, ref = _both(
        spark, rows, L, P, ensemble=1, metric="cosine", stride=1,
        return_steps=True,
    )
    f = {(r.window_id, r.step): (r.pred, r.target) for r in fused}
    assert f == {(r.window_id, r.step): (r.pred, r.target) for r in ref}
    # a constant window's z-scored future is 0 or |x| ~ 1e8 (scale 0)
    assert all(0.0 < abs(p) < 1e3 for p, _ in f.values())


def test_fused_distance_tie_broken_by_window_id(spark):
    """Three train windows with the SAME frame and different futures;
    the query equals that frame, so all three tie at distance 0 and
    ensemble=1 must take the lowest window_id."""
    L, P = 4, 2
    frame = [1.0, 3.0, 2.0, 5.0]
    train = (frame + [10.0, 11.0] + frame + [20.0, 21.0]
             + frame + [30.0, 31.0])
    val = frame + [7.0, 8.0]
    rows = [(1, "train", t, v) for t, v in enumerate(train)]
    rows += [(1, "val", 100 + t, v) for t, v in enumerate(val)]
    for metric in ("l1", "l2", "cosine"):
        fused, ref = _both(
            spark, rows, L, P, ensemble=1, metric=metric, stride=1,
            return_steps=True,
        )
        f = {(r.window_id, r.step): (r.pred, r.target) for r in fused}
        assert f == {
            (r.window_id, r.step): (r.pred, r.target) for r in ref
        }
        center = sum(frame) / L
        scale = math.sqrt(sum((x - center) ** 2 for x in frame) / L)
        assert f[(100, 0)][0] == (10.0 - center) / (scale + 1e-8), metric


def test_fused_chunked_candidates_match(spark, monkeypatch):
    """Candidate blocks smaller than the candidate count (and query
    blocks smaller than the query count) keep the same top matches."""
    from big_data_stock_price_forecast_spark.operators import forecast
    from big_data_stock_price_forecast_spark.operators import windows

    L, P = 6, 3
    rows = _labeled_rows(L, P)
    whole, ref = _both(spark, rows, L, P, stride=1, return_steps=True)
    monkeypatch.setattr(windows, "_ARROW_BUILD_CHUNK", 7)
    monkeypatch.setattr(forecast, "_QUERY_BLOCK", 5)
    blocked, _ = _both(spark, rows, L, P, stride=1, return_steps=True)
    key = lambda r: (r.symbol, r.window_id, r.step)  # noqa: E731
    assert sorted(blocked, key=key) == sorted(whole, key=key)
    assert len(whole) == len(ref)


def test_arrow_window_build_rejects_duplicate_idx(spark):
    df = spark.createDataFrame(
        [(1, t, float(t)) for t in range(80)] + [(1, 40, 0.5)],
        "symbol int, time_idx long, close double",
    )
    with pytest.raises(Exception, match="duplicate idx 40"):
        sliding_windows(df, L=70, pred_window=0).collect()


def test_fused_rejects_duplicate_idx(spark):
    rows = [(1, "train", t, float(t)) for t in range(30)]
    rows += [(1, "val", 30 + t, float(t)) for t in range(10)]
    rows.append((1, "train", 12, 0.5))
    labeled = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(Exception, match="duplicate idx 12"):
        forecast_within_symbol(labeled, L=4, pred_window=2).collect()


def test_get_spark_memory_default_without_sysconf(monkeypatch):
    """Non-POSIX hosts have no os.sysconf: the driver-memory default
    falls back to 12g instead of raising AttributeError."""
    from big_data_stock_price_forecast_spark.session import get_spark

    monkeypatch.delattr(os, "sysconf")
    monkeypatch.delenv("BDSPF_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    assert get_spark()["spark.driver.memory"] == "12g"


def test_fullscale_flagship_matches_duckdb_oracle(spark):
    """The reference window shape (L=256, P=192, stride 64) through
    the fused pass, row-exact against its DuckDB oracle at sf0.01."""
    import duckdb

    from big_data_stock_price_forecast_spark.plans.registry import (
        all_oracles,
        q_flagship_fullscale_mae,
    )

    sf = "/root/testdata/sf0.01"
    got = sorted(
        (r.symbol, r.window_id, r.mae)
        for r in q_flagship_fullscale_mae(spark, sf).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    want = sorted(
        con.sql(
            "SELECT symbol, window_id, mae FROM ("
            f"{all_oracles()['flagship_fullscale_mae']})"
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want
