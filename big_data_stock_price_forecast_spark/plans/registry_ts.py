"""Time-series / flagship query domain (candles from events).

Split mechanically from the monolithic plans/registry.py (r12);
statement order and text preserved verbatim.
"""
from __future__ import annotations

from .registry_common import *  # noqa: F401,F403 — the
# original monolith's prelude + shared helpers; underscore
# names are imported explicitly below
from .registry_common import (  # noqa: F401
    ACF_MAX_LAG,
    ANCHOR_EPOCH,
    BARS_PER_YEAR,
    BT_BASE_FRAC,
    BT_FOLDS,
    BT_STEP_FRAC,
    COINT_TOP_PAIRS,
    CONFORMAL_ALPHA,
    CONFORMAL_CAL_FRAC,
    CORR_MATRIX_TOP_K,
    CUSUM_H_SIGMA,
    CUSUM_K_SIGMA,
    CYCLE_PERIODS,
    DOW_ANCHOR,
    DataFrame,
    EMA_SCAN_ALPHA,
    EMA_SCAN_SEG,
    EWMA_VOL_LAMBDA,
    F,
    FC_SEASON,
    FC_TRAIN_FRAC,
    FlagshipParams,
    GARCH_ALPHA,
    GARCH_BETA,
    GARCH_OMEGA,
    GARCH_SCAN_ALPHA,
    GARCH_SCAN_BETA,
    GARCH_SCAN_OMEGA,
    GARCH_SCAN_SEG,
    GLOBAL_PARAMS,
    GRANGER_MIN_N,
    HAAR_LEVELS,
    HILL_K,
    HOLT_ALPHA,
    HOLT_BETA,
    HURST_SIZES,
    JB_MIN_N,
    KALMAN_Q_FRAC,
    KALMAN_R_FRAC,
    PACF_MIN_N,
    PAIRS_Z_ENTRY,
    PE_MIN_N,
    PINBALL_QS,
    RANGE_WIN_S,
    RISK_MIN_N,
    ROLLUP_GRAINS_US,
    RV_BUCKETS_PER_DAY,
    SEAS_M,
    SQL_FILLED,
    SQL_FILLED_OHLC,
    SQL_RES6H,
    SQL_SERIES,
    STRESS_Q,
    SparkSession,
    TAIL_Q,
    THETA_ALPHA,
    TREND_MIN_N,
    VAR_BT_P,
    VAR_P,
    VOLVOL_MIN_DAYS,
    VR_Q,
    WINSOR_HI,
    WINSOR_LO,
    Window,
    XSEC_FWD_W,
    XSEC_N_Q,
    XSEC_TRAIL_W,
    _FEATURE_SMAS,
    _SQL_FEATURE_FRAME,
    _cycle_angle_rows,
    _feature_frame,
    _filled,
    _filled_ohlc,
    _fracdiff_weights,
    _r6,
    _r6e,
    _rel_returns,
    _resampled,
    _rne,
    _series,
    _sql_ewm,
    _sql_dot,
    _sql_l1,
    _sql_l2,
    _sql_norm,
    _sql_numeric_profile_branch,
    _sql_r6,
    _sql_r6_wrap,
    _sql_r6e,
    _sql_rel_returns,
    _sql_rne,
    _sql_rne_expr,
    add_calendar,
    add_indicators,
    add_time_idx,
    atr,
    events_series,
    flagship_per_query_mae,
    holt_linear,
    load_table,
    macd,
    math,
    require_utc,
    resample_ohlcv,
    rolling_corr,
    rsi,
    sliding_windows,
    time_range_filter,
)



# --------------------------------------------------------------------------
# time-series operator queries (events table)
# --------------------------------------------------------------------------


def q_ts_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _series(spark, sf_dir).select(
        "symbol", F.col("datetime").alias("ts"), "close"
    )


SQL_TS_DEDUP = f"WITH {SQL_SERIES} SELECT symbol, ts, close FROM series"


def q_ts_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return time_range_filter(
        _series(spark, sf_dir), "datetime", "symbol", "7 days"
    ).select("symbol", F.col("datetime").alias("ts"), "close")


SQL_TS_TIME_FILTER = f"""WITH {SQL_SERIES}
SELECT s.symbol, s.ts, s.close
FROM series s
JOIN (SELECT symbol, min(ts) AS mn FROM series GROUP BY 1) m
  ON s.symbol = m.symbol
WHERE s.ts >= m.mn + INTERVAL '7 days'"""


def q_ts_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    df = add_calendar(add_time_idx(ev, "ts", 3600), "ts")
    return df.select(
        "event_id", "hour", "day", "dayofweek", "month", "week", "year", "time_idx"
    )


SQL_TS_CALENDAR = f"""
SELECT event_id,
       hour(ts)::INT AS hour,
       day(ts)::INT AS day,
       (isodow(ts) - 1)::INT AS dayofweek,
       month(ts)::INT AS month,
       weekofyear(ts)::INT AS week,
       year(ts)::INT AS year,
       CAST(floor((epoch(ts) - {ANCHOR_EPOCH}) / 3600) AS BIGINT) AS time_idx
FROM events"""


def q_ts_resample_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _resampled(spark, sf_dir).select(
        "symbol", "datetime", "open", "high", "low", "close", "n_rows"
    )


SQL_TS_RESAMPLE = f"""WITH {SQL_SERIES}, {SQL_RES6H}
SELECT symbol, datetime, open, high, low, close, n_rows FROM idx"""


def q_ts_resample_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's ``drop_ends`` option: trim each symbol's first and last
    (potentially partial) bucket (core/data/preprocess.py:118-119)."""
    r = resample_ohlcv(_series(spark, sf_dir), "6 hours", drop_ends=True)
    return r.select("symbol", "datetime", "open", "high", "low", "close", "n_rows")


SQL_TS_RESAMPLE_TRIM = f"""WITH {SQL_SERIES}, {SQL_RES6H},
ext AS (
  SELECT symbol, min(datetime) AS mn, max(datetime) AS mx
  FROM res GROUP BY 1
)
SELECT r.symbol, r.datetime, r.open, r.high, r.low, r.close, r.n_rows
FROM res r JOIN ext USING (symbol)
WHERE r.datetime > ext.mn AND r.datetime < ext.mx"""


def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _filled(spark, sf_dir)


SQL_TS_GAP_FILL = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED}
SELECT symbol, time_idx, is_gap, close FROM filled"""


def q_ts_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    out = df.withColumn("__rn", F.row_number().over(w))
    for n in (5, 20):
        frame = w.rowsBetween(-(n - 1), 0)
        out = out.withColumn(
            f"sma{n}",
            F.when(
                F.col("__rn") >= n,
                _rne(F.avg("close").over(frame), f"sma{n}", 6),
            ),
        )
    return out.select("symbol", "time_idx", "sma5", "sma20")


def _sql_ts_sma() -> str:
    # route each CASE arm through the guarded rounding so the |x|>=1e12
    # passthrough matches the Spark-side _rne exactly
    def arm(n: int) -> str:
        avg = (
            f"avg(close) OVER (PARTITION BY symbol ORDER BY time_idx "
            f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
        )
        return (
            f"CASE WHEN row_number() OVER w >= {n} "
            f"THEN {_sql_rne_expr(avg)} END AS sma{n}"
        )

    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED}
SELECT symbol, time_idx, {arm(5)}, {arm(20)}
FROM filled
WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)"""


SQL_TS_SMA = _sql_ts_sma()


def q_ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-bar z-score anomaly flags per symbol — the
    monitoring query a data pipeline runs over every series. Variance
    comes from the explicit avg(x^2) - avg(x)^2 identity on BOTH
    engines (never the built-in stddev aggregate, whose accumulation
    algebra differs between engines); the anomaly threshold compares
    the SHARED-ROUNDED z so a last-ulp difference at the 3.0 boundary
    cannot flip the flag."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    w20 = w.rowsBetween(-19, 0)
    m = F.avg("close").over(w20)
    m2 = F.avg(F.col("close") * F.col("close")).over(w20)
    var = m2 - m * m
    zr = F.when(
        var > 0, (F.col("close") - m) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    # z must be computed BEFORE the warm-up filter: window expressions
    # evaluate over the frame they are selected from, and filtering
    # first would re-anchor every symbol's 20-row window on the
    # filtered rows
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("z", _rne(zr, "z"))
        .filter(F.col("__rn") >= 20)
        .select(
            "symbol",
            "time_idx",
            "z",
            (F.abs(F.col("z")) > 3.0).cast("int").alias("is_anomaly"),
        )
    )


def _sql_ts_anomaly() -> str:
    guarded = (
        "CASE WHEN m2 - m * m > 0"
        " THEN (close - m) / sqrt(m2 - m * m) ELSE 0.0 END"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
s AS (
  SELECT symbol, time_idx, close,
         avg(close) OVER w20 AS m,
         avg(close * close) OVER w20 AS m2,
         row_number() OVER wo AS rn
  FROM filled
  WINDOW w20 AS (PARTITION BY symbol ORDER BY time_idx
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         wo AS (PARTITION BY symbol ORDER BY time_idx)
),
z AS (
  SELECT symbol, time_idx, {_sql_rne_expr(guarded)} AS z
  FROM s WHERE rn >= 20
)
SELECT symbol, time_idx, z, (abs(z) > 3.0)::INT AS is_anomaly FROM z"""


def q_ts_delta_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # unix_micros requires an instant (LTZ) timestamp; the testdata's
    # ts is TIMESTAMP_NTZ — the NTZ->LTZ cast preserves the stored
    # micros bitwise only under UTC, which the session factory and the
    # __spark_entry__ wrappers pin (asserted here, never set: mutating
    # global session state at plan-construction time would retroactively
    # change other lazy plans)
    ts = F.col("ts")
    if dict(ev.dtypes)["ts"] == "timestamp_ntz":
        require_utc(spark)
        ts = ts.cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts")
    return (
        ev.withColumn(
            "delta_min",
            F.floor(
                (F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w)))
                / F.lit(60_000_000)
            ),
        )
        .filter(F.col("delta_min").isNotNull())
        .groupBy("delta_min")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_TS_DELTA_HIST = """
SELECT delta_min, count(*) AS cnt FROM (
  SELECT CAST(floor((epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts)) / 60000000) AS BIGINT) AS delta_min
  FROM events)
WHERE delta_min IS NOT NULL
GROUP BY delta_min"""


def q_ts_windows_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = sliding_windows(
        _filled(spark, sf_dir).select("symbol", "time_idx", "close"), L=8
    )
    return w.select(
        "symbol",
        "window_id",
        _r6("center"),
        _r6("scale"),
        _r6e(F.element_at("xs", 1), "z_first"),
        _r6e(F.element_at("xs", 8), "z_last"),
    )


SQL_TS_WINDOWS_STATS = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
win AS (
  SELECT symbol, time_idx AS window_id,
         list(close) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS raw
  FROM filled
),
stats AS (
  SELECT symbol, window_id, raw,
         list_reduce(raw, (a,b) -> a+b) / 8.0 AS center
  FROM win WHERE len(raw) = 8
),
zs AS (
  SELECT symbol, window_id, raw, center,
         sqrt(list_reduce(list_transform(raw, x -> (x-center)*(x-center)),
              (a,b) -> a+b) / 8.0) AS scale
  FROM stats
)
SELECT symbol, window_id, {_sql_r6('center')}, {_sql_r6('scale')},
       {_sql_r6e('(raw[1] - center) / (scale + 1e-8)', 'z_first')},
       {_sql_r6e('(raw[8] - center) / (scale + 1e-8)', 'z_last')}
FROM zs"""


def q_ts_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = add_indicators(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("ret"), r6("logret"), r6("sma20"), r6("bb_upper"), r6("bb_lower"),
        r6("roc12"), r6("obv"), r6("vwap20"), r6("willr14"),
        r6("don_upper"), r6("don_lower"), r6("don_mid"),
    )


def q_ts_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = macd(_filled(spark, sf_dir).select("symbol", "time_idx", "close"))
    r6 = _r6
    return df.select(
        "symbol", "time_idx", r6("ema12"), r6("ema26"), r6("macd"),
        r6("macd_signal"), r6("macd_hist"),
    )


SQL_TS_EMA_MACD = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
pre AS (
  SELECT symbol, time_idx,
         list(close) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS pfx
  FROM filled
),
e AS (
  SELECT symbol, time_idx,
         {_sql_ewm('pfx', '2.0/13.0')} AS ema12,
         {_sql_ewm('pfx', '2.0/27.0')} AS ema26
  FROM pre
),
m AS (SELECT *, ema12 - ema26 AS macd FROM e),
mp AS (
  SELECT symbol, time_idx, ema12, ema26, macd,
         list(macd) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS mpfx
  FROM m
),
s AS (SELECT *, {_sql_ewm('mpfx', '2.0/10.0')} AS macd_signal FROM mp)
SELECT symbol, time_idx, ema12, ema26, macd, macd_signal,
       macd - macd_signal AS macd_hist
FROM s"""

SQL_TS_EMA_MACD = _sql_r6_wrap(
    SQL_TS_EMA_MACD,
    ["symbol", "time_idx"],
    ["ema12", "ema26", "macd", "macd_signal", "macd_hist"],
)


def q_ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = rsi(_filled(spark, sf_dir).select("symbol", "time_idx", "close"))
    return df.select("symbol", "time_idx", _r6("rsi14"))


SQL_TS_RSI = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx,
         greatest(close - lag(close) OVER w, 0.0) AS gain,
         greatest(-(close - lag(close) OVER w), 0.0) AS loss
  FROM filled
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)
),
pre AS (
  SELECT symbol, time_idx,
         list(gain) OVER wc AS gpfx, list(loss) OVER wc AS lpfx
  FROM d
  WINDOW wc AS (PARTITION BY symbol ORDER BY time_idx ROWS UNBOUNDED PRECEDING)
),
sm AS (
  SELECT symbol, time_idx,
         {_sql_ewm('gpfx', '1.0/14.0')} AS ag,
         {_sql_ewm('lpfx', '1.0/14.0')} AS al
  FROM pre
)
SELECT symbol, time_idx,
       CASE WHEN al = 0.0 THEN 100.0
            ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi14
FROM sm"""

SQL_TS_RSI = _sql_r6_wrap(SQL_TS_RSI, ["symbol", "time_idx"], ["rsi14"])


def q_ts_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = atr(_filled_ohlc(spark, sf_dir))
    return df.select("symbol", "time_idx", _r6("atr14"))


SQL_TS_ATR = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED_OHLC},
tr AS (
  SELECT symbol, time_idx,
         greatest(high - low,
                  abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM filled
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)
),
pre AS (
  SELECT symbol, time_idx,
         list(tr) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS pfx
  FROM tr
)
SELECT symbol, time_idx, {_sql_ewm('pfx', '1.0/14.0')} AS atr14
FROM pre"""

SQL_TS_ATR = _sql_r6_wrap(SQL_TS_ATR, ["symbol", "time_idx"], ["atr14"])


def q_ts_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: per-symbol OHLC + row
    count at 1h/6h/1d grains in ONE pass family — the finest grain
    aggregates the (deduped) series, every coarser grain re-aggregates
    the PREVIOUS level (open = min_by over the finer buckets' opens,
    close = max_by, high/low = max/min, n = sum), and the levels union
    under a ``grain`` label. The fact table is scanned once; the 6h
    and 1d exchanges move only aggregate rows — the TimescaleDB
    continuous-aggregate / Druid-rollup cascade, which at 100 TB is
    the difference between one fact scan and three. Buckets are
    left-closed epoch-floor; all outputs are picked or min/max values
    (no float accumulation), so the hash needs no rounding."""
    s = _series(spark, sf_dir)
    dt = F.col("datetime")
    if dict(s.dtypes)["datetime"] == "timestamp_ntz":
        require_utc(spark)
        dt = dt.cast("timestamp")
    ts = F.unix_micros(dt)
    g1 = ROLLUP_GRAINS_US[0][1]
    # integer bucket math (ts - ts % g): double division would round
    # near bucket boundaries where the oracle's `//` does not
    lvl = (
        s.groupBy(
            "symbol", (ts - F.pmod(ts, F.lit(g1))).alias("bucket_us")
        )
        .agg(
            F.min_by("close", "datetime").alias("open"),
            F.max("close").alias("high"),
            F.min("close").alias("low"),
            F.max_by("close", "datetime").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    out = lvl.select(F.lit("1h").alias("grain"), "*")
    for name, g in ROLLUP_GRAINS_US[1:]:
        lvl = (
            lvl.groupBy(
                "symbol",
                (
                    F.col("bucket_us")
                    - F.pmod(F.col("bucket_us"), F.lit(g))
                ).alias("bucket_us"),
            )
            .agg(
                F.min_by("open", "bucket_us").alias("open"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max_by("close", "bucket_us").alias("close"),
                F.sum("n").alias("n"),
            )
        )
        out = out.unionByName(lvl.select(F.lit(name).alias("grain"), "*"))
    return out


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flagship_per_query_mae(spark, sf_dir, FlagshipParams())
    return df.select("symbol", "window_id", _rne(F.col("mae"), "mae", 4))


def q_flagship_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the reference evaluate() return — MAE mean/std/count over
    all queries (summary over the 4-decimal per-query MAEs so the
    join-order-dependent average is stable on both engines)."""
    df = flagship_per_query_mae(spark, sf_dir, FlagshipParams())
    return df.select(_rne(F.col("mae"), "mae", 4)).agg(
        _rne(F.avg("mae"), "mae_mean", 4),
        _rne(F.stddev_pop("mae"), "mae_std", 4),
        F.count(F.lit(1)).alias("n_queries"),
    )


def q_flagship_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-symbol search (the reference's ConcatDataset pooling, J5):
    every query ranks candidates from ALL symbols. The small strided
    query set broadcasts; distances are flat fixed-dim codegen."""
    df = flagship_per_query_mae(spark, sf_dir, GLOBAL_PARAMS)
    return df.select("symbol", "window_id", _rne(F.col("mae"), "mae", 4))


FLAGSHIP_SWEEP_METRICS = ("l1", "l2", "cosine")


def q_flagship_metric_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's HEADLINE eval artifact as one query: forecast
    MAE mean ± std per distance scorer — L1 vs L2 vs cosine — the
    dist_func_eval table (figures/dist_func_eval.png; README.md:
    137-143; notebooks/test.ipynb cells 21-23; BASELINE.md rows 1-3:
    2.61±2.45 / 2.77±2.96 / 2.74±2.88 at the reference's own scale).
    Each scorer branch is the full flagship evaluation with ONLY the
    search metric swapped (one fused within-symbol pass per scorer;
    cosine ranks DESC as a similarity); the L2 branch is therefore
    bitwise-equal to flagship_summary (pytest-pinned). The three
    branches share the labeled grid's one wide exchange
    (ReuseExchange), so the events pipeline runs once. Output: one row
    per metric. (The kNN-level 5-metric surface incl. the
    mu/logvar-weighted scorers lives in knn_topk_metrics; the flagship
    windows are L=8 raw z-scored series, where the reference's
    split-32 latent weighting has no analog.)"""
    from dataclasses import replace

    p = FlagshipParams()
    out = None
    for m in FLAGSHIP_SWEEP_METRICS:
        df = flagship_per_query_mae(spark, sf_dir, replace(p, metric=m))
        row = (
            df.select(_rne(F.col("mae"), "mae", 4))
            .agg(
                _rne(F.avg("mae"), "mae_mean", 4),
                _rne(F.stddev_pop("mae"), "mae_std", 4),
                F.count(F.lit(1)).alias("n_queries"),
            )
            .select(
                F.lit(m).alias("metric"),
                "mae_mean",
                "mae_std",
                "n_queries",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


VOLBAR_T_CENTS = 100_000  # notional per bar: 1000.00 in exact cents


def q_ts_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notional-clock (dollar/volume) bars — the other half of the
    event-time sampling family beside ts_tick_bars: a tick belongs to
    bar floor(cum_notional_before / T), so every bar carries ~T of
    traded notional and bar COUNT adapts to activity (the sampling
    scheme that stabilizes per-bar information content when tick
    sizes vary — tick bars only fix the count). Exactness: notional
    accumulates as integer CENTS (grid-snapped once per tick) through
    a running window sum — order-free exact DECIMAL — and the bar
    index is DECIMAL integral division (``cum_before div T``), never
    a double: above 2^53 cents of per-symbol cumulative (~$90T — a
    decade of a top symbol) a double quantizes and a boundary tick
    lands one bar off, and the streaming twin's Python-int
    ``cum // t_cents`` (streaming/ops.py) is already exact, so the
    integral division is what keeps batch and stream bitwise-equal at
    ANY scale (r13 verdict item 1). OHLC keys on the integer rank,
    span on epoch-microsecond integers. Same one-exchange per-symbol
    plan as tick bars."""
    series = dedup_keep_last(
        events_series(spark, sf_dir), ["symbol", "datetime"], "event_id"
    )
    w = Window.partitionBy("symbol").orderBy(F.col("datetime").asc())
    vq = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("decimal(38,0)")
    ranked = series.select(
        "symbol",
        "close",
        F.unix_micros(F.col("datetime").cast("timestamp")).alias("t_us"),
        F.row_number().over(w).alias("rn"),
        F.coalesce(
            F.sum(vq).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("cum_before"),
        vq.alias("vq"),
    ).withColumn(
        # IntegralDivide on DECIMAL(38,0): exact floor for the
        # non-negative cumulative at any scale (no double in the
        # bar_id lineage)
        "bar_id",
        F.expr(f"cum_before div {VOLBAR_T_CENTS}").cast("long"),
    )
    bars = ranked.groupBy("symbol", "bar_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min_by("close", "rn").alias("open"),
        F.max("close").alias("high"),
        F.min("close").alias("low"),
        F.max_by("close", "rn").alias("close"),
        (F.sum("vq").cast("double") / 100).alias("notional"),
        (F.max("t_us") - F.min("t_us")).cast("long").alias("span_us"),
    )
    return bars.select(
        "symbol", "bar_id", "n_events", "open", "high", "low", "close",
        _rne(F.col("notional"), "notional", 6),
        "span_us",
    )


def _sql_ts_volume_bars() -> str:
    return f"""
WITH {SQL_SERIES},
ranked AS (
  SELECT symbol, close, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY symbol ORDER BY ts ASC) AS rn,
         COALESCE(sum(CAST(floor(close * 100 + 0.5) AS DECIMAL(38,0)))
           OVER (PARTITION BY symbol ORDER BY ts ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0::DECIMAL(38,0)) AS cum_before,
         CAST(floor(close * 100 + 0.5) AS DECIMAL(38,0)) AS vq
  FROM series)
SELECT symbol,
       -- HUGEINT floor division: exact at any cumulative (no double)
       CAST(CAST(cum_before AS HUGEINT) // {VOLBAR_T_CENTS} AS BIGINT)
         AS bar_id,
       count(*)::BIGINT AS n_events,
       arg_min(close, rn) AS open,
       max(close) AS high, min(close) AS low,
       arg_max(close, rn) AS close,
       {_sql_rne('sum(vq)::DOUBLE / 100', 'notional', 6)},
       (max(t_us) - min(t_us))::BIGINT AS span_us
FROM ranked
GROUP BY 1, 2"""


ROLLBETA_W = 28  # trailing return observations (7 days of 6h buckets)


def rollbeta_mkt_returns(base: DataFrame) -> DataFrame:
    """Equal-weight cross-sectional index returns per grid bucket
    (time_idx, x) from the filled frame — ONE definition shared by
    the batch query and the streaming twin's calibration (the
    _bpe_seg_from_tok convention: a shared builder so both engines'
    inputs cannot drift). Exact-DECIMAL close mean per bucket, one
    double division, lag-return over the bucket-count-sized frame."""
    cq = F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)")
    mkt = base.groupBy("time_idx").agg(
        F.sum(cq).alias("sc"), F.count(F.lit(1)).alias("nsym")
    )
    wi = Window.orderBy("time_idx")
    idx = (
        F.col("sc").cast("double") / F.col("nsym").cast("double") / 1e6
    )
    mkt = mkt.select("time_idx", idx.alias("idx"))
    lag_i = F.lag("idx").over(wi)
    return mkt.select(
        "time_idx",
        F.when(lag_i != 0, F.col("idx") / lag_i - 1).alias("x"),
    ).filter(F.col("x").isNotNull())


def q_ts_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling market beta per symbol — the time-varying twin of
    ts_capm_beta (static betas hide regime shifts; the rolling series
    is the production risk feature): per 6h bucket, OLS beta and
    correlation of the symbol's return against the equal-weight
    cross-sectional index return over the trailing ROLLBETA_W return
    observations. Exactness: the index level is an exact-DECIMAL mean
    (grid-snapped closes, one division per bucket), returns are
    per-row doubles, and each window statistic is an EXACT integer
    sum of 1e9-grid-snapped returns (order-free under any
    partitioning — no float window accumulation), with the grid
    factors cancelling in the beta ratio. The index frame is
    bucket-count-sized (time-range/6h — small at ANY corpus width;
    its lag window is one tiny task) and broadcast-joins back to the
    symbol-partitioned return frame; the rolling frame is a
    ROWS-bounded window on the symbol key."""
    base = _filled(spark, sf_dir)
    mkt = rollbeta_mkt_returns(base)
    ws = Window.partitionBy("symbol").orderBy("time_idx")
    lag_c = F.lag("close").over(ws)
    y = base.select(
        "symbol",
        "time_idx",
        F.when(lag_c != 0, F.col("close") / lag_c - 1).alias("y"),
    ).filter(F.col("y").isNotNull())
    j = y.join(F.broadcast(mkt), "time_idx")
    snap9 = lambda c: F.floor(  # noqa: E731
        F.col(c) * F.lit(1e9) + F.lit(0.5)
    ).cast("decimal(38,0)")
    j = j.select("symbol", "time_idx", snap9("x").alias("xq"),
                 snap9("y").alias("yq"))
    wf = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(-(ROLLBETA_W - 1), 0)
    )
    stats = j.select(
        "symbol",
        "time_idx",
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("xq").over(wf).alias("sx"),
        F.sum("yq").over(wf).alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).over(wf).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).over(wf).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).over(wf).alias("syy"),
    ).filter(F.col("n") == ROLLBETA_W)
    nd = F.lit(ROLLBETA_W).cast("decimal(38,0)")
    cov_n = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx_n = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary_n = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    beta = F.when(varx_n > 0, cov_n / varx_n)
    corr = F.when(
        (varx_n > 0) & (vary_n > 0), cov_n / F.sqrt(varx_n * vary_n)
    )
    return stats.select(
        "symbol",
        "time_idx",
        _rne(beta, "beta", 8),
        _rne(corr, "corr", 8),
    )


def _sql_ts_rolling_beta() -> str:
    w = ROLLBETA_W
    return f"""
WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
mkt0 AS (
  SELECT time_idx,
         sum(CAST(floor(close * 1e6 + 0.5) AS DECIMAL(38,0))) AS sc,
         count(*) AS nsym
  FROM filled GROUP BY 1),
mkt1 AS (
  SELECT time_idx, sc::DOUBLE / nsym::DOUBLE / 1e6 AS idx FROM mkt0),
mkt AS (
  SELECT time_idx,
         CASE WHEN lag(idx) OVER (ORDER BY time_idx) <> 0
              THEN idx / lag(idx) OVER (ORDER BY time_idx) - 1 END AS x
  FROM mkt1
  QUALIFY x IS NOT NULL),
y AS (
  SELECT symbol, time_idx,
         CASE WHEN lag(close) OVER ws <> 0
              THEN close / lag(close) OVER ws - 1 END AS y
  FROM filled
  WINDOW ws AS (PARTITION BY symbol ORDER BY time_idx)
  QUALIFY y IS NOT NULL),
jq AS (
  SELECT symbol, y.time_idx,
         CAST(floor(x * 1e9 + 0.5) AS DECIMAL(38,0)) AS xq,
         CAST(floor(y * 1e9 + 0.5) AS DECIMAL(38,0)) AS yq
  FROM y JOIN mkt ON y.time_idx = mkt.time_idx),
stats AS (
  SELECT symbol, time_idx,
         count(*) OVER wf AS n,
         sum(xq) OVER wf AS sx, sum(yq) OVER wf AS sy,
         sum(xq * yq) OVER wf AS sxy,
         sum(xq * xq) OVER wf AS sxx,
         sum(yq * yq) OVER wf AS syy
  FROM jq
  WINDOW wf AS (PARTITION BY symbol ORDER BY time_idx
                ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
  QUALIFY n = {w}),
fin AS (
  SELECT symbol, time_idx,
         ({w}::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE AS cov_n,
         ({w}::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE AS varx_n,
         ({w}::DECIMAL(38,0) * syy - sy * sy)::DOUBLE AS vary_n
  FROM stats)
SELECT symbol, time_idx,
       {_sql_rne('CASE WHEN varx_n > 0 THEN cov_n / varx_n END',
                 'beta', 8)},
       {_sql_rne(
           'CASE WHEN varx_n > 0 AND vary_n > 0'
           ' THEN cov_n / sqrt(varx_n * vary_n) END', 'corr', 8)}
FROM fin"""


TICK_BAR_N = 16


def q_ts_tick_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-clock (tick) bars — the microstructure alternative to
    wall-clock resampling: every bar holds exactly TICK_BAR_N ticks
    per symbol (the trailing partial bar included, flagged by
    n_events), so information flow per bar is constant and bar
    DURATION becomes the signal (short bars = activity bursts; the
    volume/dollar-bar family from the event-time sampling literature
    is this same plan with a different cumulative key). One exchange
    by symbol, one rank window ordered (datetime, event_id) — the
    dedup tie-break order — then a map-side-combined OHLC aggregate
    keyed on the integer arg-min/arg-max rank; span rides exact
    epoch-microsecond integers. Ticks are the keep-last deduped
    series (the engine-wide P5 contract — one tick per (symbol, ts),
    so the rank order is total on datetime alone)."""
    series = dedup_keep_last(
        events_series(spark, sf_dir), ["symbol", "datetime"], "event_id"
    )
    w = Window.partitionBy("symbol").orderBy(F.col("datetime").asc())
    # unix_micros needs an instant; NTZ->LTZ cast is micros-preserving
    # under the UTC-pinned session (the events-family device)
    ranked = series.select(
        "symbol",
        "close",
        F.unix_micros(F.col("datetime").cast("timestamp")).alias("t_us"),
        F.row_number().over(w).alias("rn"),
    ).withColumn(
        "bar_id", ((F.col("rn") - 1) / TICK_BAR_N).cast("long")
    )
    bars = ranked.groupBy("symbol", "bar_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min_by("close", "rn").alias("open"),
        F.max("close").alias("high"),
        F.min("close").alias("low"),
        F.max_by("close", "rn").alias("close"),
        (F.max("t_us") - F.min("t_us")).cast("long").alias("span_us"),
    )
    return bars.select(
        "symbol", "bar_id", "n_events", "open", "high", "low", "close",
        "span_us",
    )


def _sql_ts_tick_bars() -> str:
    return f"""
WITH {SQL_SERIES},
ranked AS (
  SELECT symbol, close, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY symbol ORDER BY ts ASC) AS rn
  FROM series)
SELECT symbol, CAST(floor((rn - 1) / {TICK_BAR_N}) AS BIGINT) AS bar_id,
       count(*)::BIGINT AS n_events,
       arg_min(close, rn) AS open,
       max(close) AS high, min(close) AS low,
       arg_max(close, rn) AS close,
       (max(t_us) - min(t_us))::BIGINT AS span_us
FROM ranked
GROUP BY 1, 2"""


def q_ts_imbalance_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-IMBALANCE bars — the member of the event-time sampling
    family (tick bars → volume bars → imbalance bars) that closes a
    bar when accumulated signed tick flow |θ| crosses an
    EMA-calibrated expectation, so bars end exactly when order flow
    turns one-sided (the informed-trading arrival signal; the
    reference's wall-clock resample, core/data/preprocess.py:99-122,
    is the fixed-clock sibling). The boundary depends on every prior
    bar's statistics — a true per-symbol recursion, ridden on the
    engine's standard Arrow device (operators/bars.py; sequential
    per symbol IS the semantics, parallel across symbols). The pass
    dedups (P5 keep-last, in-line — identical to the window form),
    runs the recursion and folds the OHLC in one walk, so the WHOLE
    query is one exchange on the symbol key with bar-count Arrow
    output (a JVM-side groupBy after a per-tick emission measured a
    THIRD exchange — FlatMapGroupsInPandas doesn't propagate
    partitioning). Exactness: θ and tick counts are integers; the
    only float ops are the two bar-level EMAs and the threshold
    product, evaluated in a pinned operand order the recursive-CTE
    oracle replays bitwise (the Holt/Kalman contract). The trailing
    partial bar is included (flagged by imbalance not having crossed
    thr), matching ts_tick_bars."""
    from ..operators.bars import imbalance_bars

    ev = load_table(spark, sf_dir, "events")
    dt = F.col("ts")
    if dict(ev.dtypes)["ts"] == "timestamp_ntz":
        require_utc(spark)
        dt = dt.cast("timestamp")
    ticks = ev.select(
        F.col("user_id").alias("symbol"),
        F.unix_micros(dt).alias("t_us"),
        F.col("value").alias("close"),
        "event_id",
    )
    bars = imbalance_bars(ticks)
    return bars.select(
        "symbol", "bar_id", "n_events", "open", "high", "low", "close",
        "imbalance",
        _rne(F.col("thr"), "thr", 6),
        "span_us",
    )


def _sql_ts_imbalance_bars(closed_only: bool = False) -> str:
    from ..operators.bars import IMB_SEED_EB, IMB_SEED_ET

    # state carried per tick (post-tick): b, bar_id, theta, t_cur,
    # closed, e_t, e_b, thr (post-close-update; the ACTIVE threshold
    # for the tick's own bar is emitted separately as thr_out).
    # Operand order below matches operators/bars.py line-for-line.
    b_new = (
        "(CASE WHEN r.close > p.close THEN 1"
        " WHEN r.close < p.close THEN -1 ELSE p.b END)"
    )
    theta_new = f"((CASE WHEN p.closed THEN 0 ELSE p.theta END) + {b_new})"
    tcur_new = "((CASE WHEN p.closed THEN 0 ELSE p.t_cur END) + 1)"
    closed_new = f"(abs({theta_new})::DOUBLE >= p.thr)"
    e_t_new = (
        f"(CASE WHEN {closed_new} THEN 0.5 * {tcur_new} + 0.5 * p.e_t"
        " ELSE p.e_t END)"
    )
    e_b_new = (
        f"(CASE WHEN {closed_new} THEN"
        f" 0.5 * ({theta_new}::DOUBLE / {tcur_new}) + 0.5 * p.e_b"
        " ELSE p.e_b END)"
    )
    thr_new = (
        f"(CASE WHEN {closed_new} THEN {e_t_new} * abs({e_b_new})"
        " ELSE p.thr END)"
    )
    # every seed scalar is ::DOUBLE — DuckDB types bare x.y literals
    # as DECIMAL and the seed row would fix the recursion's column
    # types (found as scale-2 truncation of thr)
    et0 = f"{IMB_SEED_ET!r}::DOUBLE"
    eb0 = f"{IMB_SEED_EB!r}::DOUBLE"
    thr0 = f"({et0} * abs({eb0}))"
    return f"""
WITH {SQL_SERIES},
pre AS (
  SELECT symbol, close, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY symbol ORDER BY ts ASC) AS rn
  FROM series)
SELECT symbol, bar_id, count(*)::BIGINT AS n_events,
       arg_min(close, rn) AS open,
       max(close) AS high, min(close) AS low,
       arg_max(close, rn) AS close,
       sum(b)::BIGINT AS imbalance,
       {_sql_rne('min(thr_out)', 'thr', 6)},
       (max(t_us) - min(t_us))::BIGINT AS span_us
FROM (
  WITH RECURSIVE st AS (
    SELECT symbol, rn, t_us, close,
           1 AS b, 0::BIGINT AS bar_id,
           1::BIGINT AS theta, 1::BIGINT AS t_cur,
           (abs(1)::DOUBLE >= {thr0}) AS closed,
           (CASE WHEN abs(1)::DOUBLE >= {thr0}
             THEN 0.5 * 1 + 0.5 * {et0}
             ELSE {et0} END) AS e_t,
           (CASE WHEN abs(1)::DOUBLE >= {thr0}
             THEN 0.5 * (1::DOUBLE / 1) + 0.5 * {eb0}
             ELSE {eb0} END) AS e_b,
           (CASE WHEN abs(1)::DOUBLE >= {thr0}
             THEN (CASE WHEN abs(1)::DOUBLE >= {thr0}
                   THEN 0.5 * 1 + 0.5 * {et0}
                   ELSE {et0} END)
                * abs(CASE WHEN abs(1)::DOUBLE >= {thr0}
                   THEN 0.5 * (1::DOUBLE / 1) + 0.5 * {eb0}
                   ELSE {eb0} END)
             ELSE {thr0} END) AS thr,
           {thr0} AS thr_out
    FROM pre WHERE rn = 1
    UNION ALL
    SELECT r.symbol, r.rn, r.t_us, r.close,
           {b_new} AS b,
           (CASE WHEN p.closed THEN p.bar_id + 1 ELSE p.bar_id END)
             AS bar_id,
           {theta_new} AS theta,
           {tcur_new} AS t_cur,
           {closed_new} AS closed,
           {e_t_new} AS e_t,
           {e_b_new} AS e_b,
           {thr_new} AS thr,
           p.thr AS thr_out
    FROM st p JOIN pre r ON r.symbol = p.symbol AND r.rn = p.rn + 1
  )
  SELECT * FROM st
) ticks
GROUP BY 1, 2{chr(10) + 'HAVING max(CASE WHEN closed THEN 1 ELSE 0 END) = 1'
    if closed_only else ''}"""


def q_ts_run_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-RUN bars — the one-sided sibling of ts_imbalance_bars:
    the bar watches the DOMINANT side's gross count
    θ = max(n_up, n_down) and closes when a same-side run exceeds
    thr = E_T · max(E_p, 1−E_p) (EMA-calibrated size and buy-fraction
    expectations, α=0.5, seeds 8.0/0.5 → thr₀=4). Net-zero two-sided
    chop that never closes an imbalance bar DOES close run bars —
    the pair disagrees exactly when flow is two-sided, which is the
    sampling literature's diagnostic. Same one-exchange Arrow device
    (operators/bars.py run_bars — in-line P5 dedup + recursion + OHLC
    fold in one walk), same bitwise recursive-CTE oracle contract."""
    from ..operators.bars import run_bars

    ev = load_table(spark, sf_dir, "events")
    dt = F.col("ts")
    if dict(ev.dtypes)["ts"] == "timestamp_ntz":
        require_utc(spark)
        dt = dt.cast("timestamp")
    ticks = ev.select(
        F.col("user_id").alias("symbol"),
        F.unix_micros(dt).alias("t_us"),
        F.col("value").alias("close"),
        "event_id",
    )
    bars = run_bars(ticks)
    return bars.select(
        "symbol", "bar_id", "n_events", "open", "high", "low", "close",
        "n_up", "n_dn",
        _rne(F.col("thr"), "thr", 6),
        "span_us",
    )


def _sql_ts_run_bars(closed_only: bool = False) -> str:
    from ..operators.bars import RUN_SEED_EP, RUN_SEED_ET

    # state (post-tick): b, bar_id, n_up, n_dn, closed, e_t, e_p, thr
    # (post-close-update; the active threshold is emitted as thr_out).
    # Operand order matches operators/bars.py run_bar_ticks; every
    # seed scalar is ::DOUBLE (bare x.y literals type the recursion
    # DECIMAL — the imbalance-bars lesson).
    b_new = (
        "(CASE WHEN r.close > p.close THEN 1"
        " WHEN r.close < p.close THEN -1 ELSE p.b END)"
    )
    nup_new = (
        f"((CASE WHEN p.closed THEN 0 ELSE p.n_up END)"
        f" + (CASE WHEN {b_new} = 1 THEN 1 ELSE 0 END))"
    )
    ndn_new = (
        f"((CASE WHEN p.closed THEN 0 ELSE p.n_dn END)"
        f" + (CASE WHEN {b_new} = 1 THEN 0 ELSE 1 END))"
    )
    tcur_new = f"({nup_new} + {ndn_new})"
    closed_new = f"(greatest({nup_new}, {ndn_new})::DOUBLE >= p.thr)"
    e_t_new = (
        f"(CASE WHEN {closed_new} THEN 0.5 * {tcur_new} + 0.5 * p.e_t"
        " ELSE p.e_t END)"
    )
    e_p_new = (
        f"(CASE WHEN {closed_new} THEN"
        f" 0.5 * ({nup_new}::DOUBLE / {tcur_new}) + 0.5 * p.e_p"
        " ELSE p.e_p END)"
    )
    thr_new = (
        f"(CASE WHEN {closed_new} THEN"
        f" {e_t_new} * greatest({e_p_new}, 1.0 - {e_p_new})"
        " ELSE p.thr END)"
    )
    et0 = f"{RUN_SEED_ET!r}::DOUBLE"
    ep0 = f"{RUN_SEED_EP!r}::DOUBLE"
    thr0 = f"({et0} * greatest({ep0}, 1.0 - {ep0}))"
    c0 = f"(greatest(1, 0)::DOUBLE >= {thr0})"
    et1 = f"(CASE WHEN {c0} THEN 0.5 * 1 + 0.5 * {et0} ELSE {et0} END)"
    ep1 = (
        f"(CASE WHEN {c0} THEN 0.5 * (1::DOUBLE / 1) + 0.5 * {ep0}"
        f" ELSE {ep0} END)"
    )
    return f"""
WITH {SQL_SERIES},
pre AS (
  SELECT symbol, close, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY symbol ORDER BY ts ASC) AS rn
  FROM series)
SELECT symbol, bar_id, count(*)::BIGINT AS n_events,
       arg_min(close, rn) AS open,
       max(close) AS high, min(close) AS low,
       arg_max(close, rn) AS close,
       sum(CASE WHEN b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up,
       sum(CASE WHEN b = -1 THEN 1 ELSE 0 END)::BIGINT AS n_dn,
       {_sql_rne('min(thr_out)', 'thr', 6)},
       (max(t_us) - min(t_us))::BIGINT AS span_us
FROM (
  WITH RECURSIVE st AS (
    SELECT symbol, rn, t_us, close,
           1 AS b, 0::BIGINT AS bar_id,
           1::BIGINT AS n_up, 0::BIGINT AS n_dn,
           {c0} AS closed,
           {et1} AS e_t,
           {ep1} AS e_p,
           (CASE WHEN {c0}
             THEN {et1} * greatest({ep1}, 1.0 - {ep1})
             ELSE {thr0} END) AS thr,
           {thr0} AS thr_out
    FROM pre WHERE rn = 1
    UNION ALL
    SELECT r.symbol, r.rn, r.t_us, r.close,
           {b_new} AS b,
           (CASE WHEN p.closed THEN p.bar_id + 1 ELSE p.bar_id END)
             AS bar_id,
           {nup_new} AS n_up,
           {ndn_new} AS n_dn,
           {closed_new} AS closed,
           {e_t_new} AS e_t,
           {e_p_new} AS e_p,
           {thr_new} AS thr,
           p.thr AS thr_out
    FROM st p JOIN pre r ON r.symbol = p.symbol AND r.rn = p.rn + 1
  )
  SELECT * FROM st
) ticks
GROUP BY 1, 2{chr(10) + 'HAVING max(CASE WHEN closed THEN 1 ELSE 0 END) = 1'
    if closed_only else ''}"""


VPIN_W = 8  # trailing volume buckets in the VPIN average


def q_ts_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN bucket toxicity — flow toxicity over the notional-clock
    buckets of ts_volume_bars: each tick's notional is classified
    buy/sell by the tick rule (sign of Δclose, carried through flat
    ticks, seeded +1), each volume bucket scores
    |buy − sell| / (buy + sell), and VPIN is the trailing-VPIN_W
    bucket average — the standard order-flow-toxicity monitor built
    ON TOP of the volume-bar sampling (the composition the r13
    verdict asked for). Exactness end-to-end in integers: cents are
    grid-snapped once per tick, the bucket index is DECIMAL integral
    division (the ts_volume_bars device), buy/sell are DECIMAL sums,
    per-bucket toxicity snaps to an exact 1e9 integer grid via
    integral division, and the trailing average is an integer sum —
    floats appear only in final display divisions, identical in both
    engines. Scale: one symbol exchange (the rank/cumulative window),
    one map-side bucket aggregate, one ROWS window over the
    bucket-count-sized frame. Warm-up follows the
    expanding-until-warm convention: every bucket emits, with the
    average over min(seen, VPIN_W) trailing buckets and ``nw``
    reporting the depth (the testdata's per-symbol tick depth is
    SF-invariant, so a hard count==W gate would be vacuous at every
    SF — and a live monitor wants the early readout anyway)."""
    series = dedup_keep_last(
        events_series(spark, sf_dir), ["symbol", "datetime"], "event_id"
    )
    w = Window.partitionBy("symbol").orderBy(F.col("datetime").asc())
    vq = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("decimal(38,0)")
    d = F.col("close") - F.lag("close").over(w)
    t = series.select(
        "symbol",
        "datetime",
        vq.alias("vq"),
        F.when(d > 0, 1).when(d < 0, -1).alias("sgn_raw"),
        F.coalesce(
            F.sum(vq).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("cum_before"),
    )
    t = t.select(
        "symbol",
        "vq",
        F.coalesce(
            F.last("sgn_raw", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            F.lit(1),
        ).alias("b"),
        F.expr(f"cum_before div {VOLBAR_T_CENTS}").cast("long")
        .alias("bar_id"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    pb = t.groupBy("symbol", "bar_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("b") == 1, F.col("vq")).otherwise(zero))
        .cast("decimal(38,0)").alias("buyq"),
        F.sum(F.when(F.col("b") == -1, F.col("vq")).otherwise(zero))
        .cast("decimal(38,0)").alias("sellq"),
    )
    pb = pb.withColumn(
        "toxq",
        F.expr(
            "CASE WHEN buyq + sellq > 0 THEN"
            " CAST((abs(buyq - sellq) * 1000000000)"
            " div (buyq + sellq) AS BIGINT) END"
        ),
    )
    wv = (
        Window.partitionBy("symbol")
        .orderBy("bar_id")
        .rowsBetween(-(VPIN_W - 1), 0)
    )
    roll = pb.select(
        "symbol", "bar_id", "n_events", "buyq", "sellq", "toxq",
        F.count(F.lit(1)).over(wv).cast("long").alias("nw"),
        F.sum("toxq").over(wv).alias("stox"),
    )
    return roll.select(
        "symbol", "bar_id", "n_events", "nw",
        _rne(F.col("buyq").cast("double") / F.lit(100.0),
             "buy_notional", 6),
        _rne(F.col("sellq").cast("double") / F.lit(100.0),
             "sell_notional", 6),
        _rne(F.col("toxq").cast("double") / F.lit(1.0e9), "tox", 8),
        _rne(
            F.col("stox").cast("double")
            / (F.col("nw").cast("double") * F.lit(1.0e9)),
            "vpin", 8,
        ),
    )


def _sql_ts_vpin() -> str:
    return f"""
WITH {SQL_SERIES},
t AS (
  SELECT symbol, ts,
         CAST(floor(close * 100 + 0.5) AS DECIMAL(38,0)) AS vq,
         CASE WHEN close > lag(close) OVER w THEN 1
              WHEN close < lag(close) OVER w THEN -1 END AS sgn_raw,
         COALESCE(sum(CAST(floor(close * 100 + 0.5) AS DECIMAL(38,0)))
           OVER (PARTITION BY symbol ORDER BY ts ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0::DECIMAL(38,0)) AS cum_before
  FROM series
  WINDOW w AS (PARTITION BY symbol ORDER BY ts ASC)),
tb AS (
  SELECT symbol, vq,
         COALESCE(last_value(sgn_raw IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY ts ASC
           ROWS UNBOUNDED PRECEDING), 1) AS b,
         CAST(CAST(cum_before AS HUGEINT) // {VOLBAR_T_CENTS} AS BIGINT)
           AS bar_id
  FROM t),
pb AS (
  SELECT symbol, bar_id, count(*)::BIGINT AS n_events,
         sum(CASE WHEN b = 1 THEN CAST(vq AS HUGEINT)
             ELSE 0::HUGEINT END) AS buyq,
         sum(CASE WHEN b = -1 THEN CAST(vq AS HUGEINT)
             ELSE 0::HUGEINT END) AS sellq
  FROM tb GROUP BY 1, 2),
tox AS (
  SELECT symbol, bar_id, n_events, buyq, sellq,
         CASE WHEN buyq + sellq > 0 THEN
           CAST((abs(buyq - sellq) * 1000000000)
                // (buyq + sellq) AS BIGINT) END AS toxq
  FROM pb),
roll AS (
  SELECT symbol, bar_id, n_events, buyq, sellq, toxq,
         count(*) OVER wv::BIGINT AS nw, sum(toxq) OVER wv AS stox
  FROM tox
  WINDOW wv AS (PARTITION BY symbol ORDER BY bar_id ASC
                ROWS BETWEEN {VPIN_W - 1} PRECEDING AND CURRENT ROW))
SELECT symbol, bar_id, n_events, nw,
       {_sql_rne('buyq::DOUBLE / 100.0', 'buy_notional', 6)},
       {_sql_rne('sellq::DOUBLE / 100.0', 'sell_notional', 6)},
       {_sql_rne('toxq::DOUBLE / 1000000000.0', 'tox', 8)},
       {_sql_rne('stox::DOUBLE / (nw::DOUBLE * 1000000000.0)',
                 'vpin', 8)}
FROM roll"""


def q_ts_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric RESET-on-trigger CUSUM event filter (the AFML
    getTEvents construction) on the 6h grid — event-trigger sampling,
    the operator a real pipeline runs between the bar family and
    model training: sample WHERE the path moved, not every row. The
    reset is what distinguishes it from ``ts_cusum_alarms`` (whose
    non-reset statistic has a closed running-sum-minus-running-min
    window form): after a trigger the accumulator restarts at 0, so
    the boundary depends on every prior trigger — the same genuine
    per-symbol recursion as the imbalance-bar family, ridden on the
    same Arrow device (operators/labeling.py; sequential per symbol
    IS the semantics, parallel across symbols; event-count output).
    The threshold is vol-calibrated ON-LINE: h = 4·EMA(|Δclose|)
    (α = 1/8 — exact binary, seeded at the first |Δ| so the seed row
    can never trigger). Pinned operand order end-to-end; the DuckDB
    recursive-CTE oracle replays every double bitwise. UP is checked
    before DOWN (pinned priority for the both-sides case); the
    triggered side resets, the other carries (AFML convention).
    Reference: the reference trains on every stride-1 window
    (core/data/dataset.py); this is the event-sampled extension."""
    from ..operators.labeling import cusum_events

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    ev = cusum_events(df)
    return ev.select(
        "symbol",
        "time_idx",
        "event_id",
        "direction",
        _rne(F.col("stat"), "stat", 6),
        _rne(F.col("h"), "h", 6),
        "entry",
    )


def _sql_cusum_events_inner() -> str:
    """Recursive-CTE replay of operators/labeling.py cusum_events on
    the ``filled`` frame: one subquery yielding the UNROUNDED event
    rows (symbol, time_idx, event_id, direction, stat, h, entry) —
    shared by the ts_cusum_events and ts_triple_barrier oracles."""
    from ..operators.labeling import CUSUM_EVT_ALPHA, CUSUM_EVT_H

    a = f"{CUSUM_EVT_ALPHA!r}::DOUBLE"
    b = f"{1.0 - CUSUM_EVT_ALPHA!r}::DOUBLE"
    hm = f"{CUSUM_EVT_H!r}::DOUBLE"
    d = "(r.close - p.close)"
    ema_new = (
        f"(CASE WHEN p.ema IS NULL THEN abs({d})"
        f" ELSE {a} * abs({d}) + {b} * p.ema END)"
    )
    h_new = f"({hm} * {ema_new})"
    sp1 = f"(CASE WHEN (p.sp + {d}) > 0.0 THEN (p.sp + {d}) ELSE 0.0 END)"
    sn1 = f"(CASE WHEN (p.sn + {d}) < 0.0 THEN (p.sn + {d}) ELSE 0.0 END)"
    up = f"({sp1} > {h_new})"
    dn = f"((NOT {up}) AND {sn1} < -{h_new})"
    return f"""(
  WITH RECURSIVE st AS (
    SELECT f.symbol, f.time_idx, f.close,
           CAST(NULL AS DOUBLE) AS ema,
           0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn,
           0::BIGINT AS eid,
           CAST(NULL AS VARCHAR) AS direction,
           CAST(NULL AS DOUBLE) AS stat,
           CAST(NULL AS DOUBLE) AS h
    FROM filled f JOIN (
      SELECT symbol, min(time_idx) AS mn FROM filled GROUP BY 1) m
      ON f.symbol = m.symbol AND f.time_idx = m.mn
    UNION ALL
    SELECT r.symbol, r.time_idx, r.close,
           {ema_new} AS ema,
           (CASE WHEN {up} THEN 0.0 ELSE {sp1} END) AS sp,
           (CASE WHEN {dn} THEN 0.0 ELSE {sn1} END) AS sn,
           (p.eid + CASE WHEN {up} OR {dn} THEN 1 ELSE 0 END) AS eid,
           (CASE WHEN {up} THEN 'up' WHEN {dn} THEN 'down' END)
             AS direction,
           (CASE WHEN {up} THEN {sp1} WHEN {dn} THEN {sn1} END)
             AS stat,
           {h_new} AS h
    FROM st p JOIN filled r
      ON r.symbol = p.symbol AND r.time_idx = p.time_idx + 1
  )
  SELECT symbol, time_idx, (eid - 1)::BIGINT AS event_id, direction,
         stat, h, close AS entry
  FROM st WHERE direction IS NOT NULL
)"""


def _sql_ts_cusum_events(closed_only: bool = False) -> str:
    # closed_only: the streaming twin's bound — events strictly below
    # each symbol's trailing in-flight grid bucket (the max filled
    # time_idx is the bucket the stream has not closed at end-of-data)
    bound = (
        "\nJOIN (SELECT symbol, max(time_idx) AS mx FROM filled"
        " GROUP BY 1) mxx USING (symbol)\nWHERE ev.time_idx < mxx.mx"
        if closed_only
        else ""
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED}
SELECT ev.symbol, ev.time_idx, event_id, direction,
       {_sql_rne('stat', 'stat', 6)},
       {_sql_rne('h', 'h', 6)},
       entry
FROM {_sql_cusum_events_inner()} ev{bound}"""


def q_ts_triple_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier labels for the CUSUM events — the label side of
    the event-sampling pipeline (the reference's fixed-horizon future
    window, notebooks/test.ipynb evaluate, is the vertical-barrier
    degenerate case): horizontal barriers at entry ± 2·h (h = the
    event's own vol-calibrated CUSUM threshold — the barrier width
    rides the same on-line calibration), vertical barrier 16 grid
    rows out. First touch decides: +1 upper / −1 lower / 0 timeout
    (a same-row double-touch resolves UP — pinned). Shape: pure
    DataFrame algebra on the J3 device — each event explodes into
    ≤16 probe offsets and equi-joins the grid on (symbol, time_idx),
    so join traffic is O(events·16), the grid side keeps its
    hash(symbol) partitioning (subset of the join key) and only the
    event-count side shuffles; first-touch resolves via conditional
    min/min_by aggregates in ONE pass, no per-symbol cross product
    anywhere (operators/labeling.py triple_barrier)."""
    from ..operators.labeling import cusum_events, triple_barrier

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    ev = cusum_events(df)
    tb = triple_barrier(df, ev)
    return tb.select(
        "symbol",
        "time_idx",
        "direction",
        "entry",
        "label",
        "exit_idx",
        "exit_px",
        _rne(F.col("ret"), "ret", 6),
    )


def _sql_tb_ctes() -> str:
    """The triple-barrier CTE chain through ``lab`` (events → probe
    join → first-touch aggregate → label) — shared by the
    ts_triple_barrier and ts_label_uniqueness oracles. Expects
    ``filled`` in scope; exposes lab(symbol, t0, direction, entry,
    up/dn/last offsets+prices, label)."""
    from ..operators.labeling import TB_MULT, TB_V

    m = f"{TB_MULT!r}::DOUBLE"
    return f"""ev AS (SELECT * FROM {_sql_cusum_events_inner()} e),
pr AS (
  SELECT e.symbol, e.time_idx AS t0, e.direction, e.entry,
         e.entry + {m} * e.h AS up_b,
         e.entry - {m} * e.h AS dn_b,
         (g.time_idx - e.time_idx)::BIGINT AS off, g.close AS px
  FROM ev e JOIN filled g ON g.symbol = e.symbol
    AND g.time_idx > e.time_idx AND g.time_idx <= e.time_idx + {TB_V}),
ag AS (
  SELECT symbol, t0, direction, entry,
         min(CASE WHEN px >= up_b THEN off END) AS up_off,
         min(CASE WHEN px <= dn_b THEN off END) AS dn_off,
         arg_min(px, CASE WHEN px >= up_b THEN off END) AS up_px,
         arg_min(px, CASE WHEN px <= dn_b THEN off END) AS dn_px,
         max(off) AS last_off, arg_max(px, off) AS last_px
  FROM pr GROUP BY 1, 2, 3, 4),
lab AS (
  SELECT *, CASE WHEN up_off IS NOT NULL
                   AND (dn_off IS NULL OR up_off <= dn_off) THEN 1
                 WHEN dn_off IS NOT NULL THEN -1 ELSE 0 END AS label
  FROM ag)"""


def _sql_ts_triple_barrier() -> str:
    exit_px = (
        "CASE WHEN label = 1 THEN up_px WHEN label = -1 THEN dn_px"
        " ELSE last_px END"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_tb_ctes()}
SELECT symbol, t0 AS time_idx, direction, entry, label,
       (t0 + CASE WHEN label = 1 THEN up_off
                  WHEN label = -1 THEN dn_off
                  ELSE last_off END)::BIGINT AS exit_idx,
       {exit_px} AS exit_px,
       {_sql_rne(f'({exit_px}) - entry', 'ret', 6)}
FROM lab"""


def q_ts_label_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-uniqueness sample weights for the triple-barrier
    labels — the AFML overlapping-outcomes correction and the last
    member of the event-sampling pipeline (filter → label → weight):
    labels whose (t0, exit] spans overlap share the same price path,
    so each gets weight mean(1/concurrency) over its span (1.0 =
    fully unique, 1/k under k-fold overlap) — what a trainer feeds
    as sample_weight. Exactness: 1/c snaps to the 1e9 integer grid
    and sums as a long, so the mean is aggregation-order-free in
    both engines (operators/labeling.py label_uniqueness). Shape:
    spans explode event-sized (≤16 rows each), one concurrency
    groupBy + one join-back — every shuffle is event-count-sized,
    nothing touches the corpus-sized grid."""
    from ..operators.labeling import (
        cusum_events,
        label_uniqueness,
        triple_barrier,
    )

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    labels = triple_barrier(df, cusum_events(df))
    u = label_uniqueness(labels)
    return u.select(
        "symbol",
        "time_idx",
        "n_span",
        "max_conc",
        _rne(F.col("uniqueness"), "uniqueness", 6),
    )


def _sql_ts_label_uniqueness() -> str:
    from ..operators.labeling import TB_V

    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_tb_ctes()},
lab2 AS (
  SELECT symbol, t0,
         (t0 + CASE WHEN label = 1 THEN up_off
                    WHEN label = -1 THEN dn_off
                    ELSE last_off END)::BIGINT AS exit_idx
  FROM lab),
spans AS (
  SELECT l.symbol, l.t0, l.t0 + o.off AS time_idx
  FROM lab2 l
  JOIN (SELECT unnest(generate_series(1, {TB_V})) AS off) o
    ON l.t0 + o.off <= l.exit_idx),
conc AS (
  SELECT symbol, time_idx, count(*)::BIGINT AS c
  FROM spans GROUP BY 1, 2),
uq AS (
  SELECT s.symbol, s.t0,
         count(*)::BIGINT AS n_span,
         max(c.c)::BIGINT AS max_conc,
         sum(CAST(floor(1000000000.0 / c.c::DOUBLE + 0.5) AS BIGINT))
           AS s_q
  FROM spans s JOIN conc c
    ON c.symbol = s.symbol AND c.time_idx = s.time_idx
  GROUP BY 1, 2)
SELECT symbol, t0 AS time_idx, n_span, max_conc,
       {_sql_rne('s_q::DOUBLE / (n_span::DOUBLE * 1000000000.0)',
                 'uniqueness', 6)}
FROM uq"""


FULLSCALE_MAE_PARAMS = FlagshipParams(
    resample_every="10 minutes",
    step_seconds=600,
    L=256,
    pred_window=192,
    k=5,
    ensemble=2,
    stride=64,
    symbol_mod=10,
)


def q_flagship_fullscale_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's REAL window config — seq_len=256,
    pred_window=192, k=5, top-2 ensemble, stride=seq_len//4=64
    (notebooks/test.ipynb evaluate(256, 192, ...); the bench-only
    flagship_fullscale timing twin in bench.py) — as an ORACLE-CHECKED
    query: per-query MAE on the 10-minute grid, hash-pinned against
    DuckDB (r12 verdict item 3: until now only the L=8 smoke analog
    was correctness-gated). Runs on the deterministic symbol panel
    (symbol % 10 — the pipeline never crosses symbols before the
    within-symbol search join, so each panel symbol's rows are
    IDENTICAL to the unfiltered run's; the panel only bounds gate
    cost). Same single-lineage exchange-free plan as the smoke
    flagship — the window length changes the data volume, never the
    plan shape (pinned by tests/test_plans.py)."""
    df = flagship_per_query_mae(spark, sf_dir, FULLSCALE_MAE_PARAMS)
    return df.select("symbol", "window_id", _rne(F.col("mae"), "mae", 4))


def _sql_flagship_metric_sweep() -> str:
    blocks = []
    for m in FLAGSHIP_SWEEP_METRICS:
        blocks.append(
            f"SELECT '{m}' AS metric, "
            f"{_sql_rne('avg(mae)', 'mae_mean', 4)}, "
            f"{_sql_rne('stddev_pop(mae)', 'mae_std', 4)}, "
            f"count(*) AS n_queries FROM "
            f"({_flagship_oracle(FlagshipParams(metric=m))})"
        )
    return " UNION ALL ".join(blocks)


def _flagship_oracle_ctes(
    p: FlagshipParams = FlagshipParams(), val_extra: str = ""
) -> str:
    """``val_extra``: additional AND-predicate on the val_w CTE (the
    streaming twin bounds queries away from the in-flight trailing
    bucket); empty for the batch flagship oracles. The search scorer
    follows ``p.metric`` (l1/l2/cosine — the reference's headline
    dist_func_eval sweep; cosine is a similarity, so its top-2 rank
    orders DESC), matching the left folds of
    forecast_within_symbol bitwise."""
    L, P, stride = p.L, p.pred_window, p.stride
    step = p.step_seconds
    every = p.resample_every
    q_filter = (
        f" AND symbol % {p.query_symbol_mod} = 0"
        if p.query_symbol_mod is not None
        else ""
    )
    s_filter = (
        f" WHERE symbol % {p.symbol_mod} = 0"
        if p.symbol_mod is not None
        else ""
    )
    if p.metric == "l2":
        dist_sql, dist_dir = _sql_l2("t.xs", "q.xs"), "ASC"
    elif p.metric == "l1":
        dist_sql, dist_dir = _sql_l1("t.xs", "q.xs"), "ASC"
    elif p.metric == "cosine":
        # zero-norm guard: identical sentinel in the engine —
        # constant (gap-filled) z-scored windows have ‖xs‖ = 0 and
        # rank last via the -2.0 sentinel (engines disagree on NULL
        # ordering, never on a sentinel)
        dist_sql = (
            f"CASE WHEN {_sql_norm('t.xs')} * {_sql_norm('q.xs')} > 0"
            f" THEN {_sql_dot('t.xs', 'q.xs')}"
            f" / ({_sql_norm('t.xs')} * {_sql_norm('q.xs')})"
            f" ELSE -2.0 END"
        )
        dist_dir = "DESC"
    else:  # pragma: no cover — the engine raises first
        raise ValueError(f"no oracle scorer for metric {p.metric!r}")
    return f"""WITH {SQL_SERIES},
res AS (
  SELECT symbol,
         time_bucket(INTERVAL '{every}', ts - INTERVAL '1 microsecond')
           + INTERVAL '{every}' AS datetime,
         arg_max(close, ts) AS close
  FROM series{s_filter} GROUP BY 1, 2
),
idx AS (
  SELECT symbol,
         CAST(floor((epoch(datetime) - {ANCHOR_EPOCH}) / {step}) AS BIGINT) AS time_idx,
         close
  FROM res
),
pos AS (
  SELECT symbol, time_idx, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn,
         count(*) OVER (PARTITION BY symbol) AS cnt
  FROM idx
),
skipped AS (
  SELECT symbol, time_idx, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn2,
         count(*) OVER (PARTITION BY symbol) AS cnt2
  FROM pos WHERE rn > floor(cnt * {p.skip_frac})
),
labeled AS (
  SELECT symbol, time_idx, close,
         CASE WHEN rn2 <= cnt2 - floor(cnt2 * {p.val_ratio})
              THEN 'train' ELSE 'val' END AS split
  FROM skipped
),
grid AS (
  SELECT symbol, split, unnest(generate_series(mn, mx)) AS time_idx
  FROM (SELECT symbol, split, min(time_idx) AS mn, max(time_idx) AS mx
        FROM labeled GROUP BY 1, 2)
),
filled AS (
  SELECT g.symbol, g.split, g.time_idx,
         last_value(l.close IGNORE NULLS) OVER (
           PARTITION BY g.symbol, g.split ORDER BY g.time_idx
           ROWS UNBOUNDED PRECEDING) AS close
  FROM grid g LEFT JOIN labeled l
    ON g.symbol = l.symbol AND g.split = l.split AND g.time_idx = l.time_idx
),
win AS (
  SELECT symbol, split, time_idx AS window_id,
         list(close) OVER (PARTITION BY symbol, split ORDER BY time_idx
           ROWS BETWEEN CURRENT ROW AND {L - 1} FOLLOWING) AS raw,
         list(close) OVER (PARTITION BY symbol, split ORDER BY time_idx
           ROWS BETWEEN {L} FOLLOWING AND {L + P - 1} FOLLOWING) AS future
  FROM filled
),
stats AS (
  SELECT symbol, split, window_id, raw, future,
         list_reduce(raw, (a,b) -> a+b) / {float(L)} AS center
  FROM win WHERE len(raw) = {L}
),
zz AS (
  SELECT symbol, split, window_id, center, future,
         sqrt(list_reduce(list_transform(raw, x -> (x-center)*(x-center)),
              (a,b) -> a+b) / {float(L)}) AS scale,
         raw
  FROM stats
),
zz2 AS (
  SELECT symbol, split, window_id, center, scale, future,
         list_transform(raw, x -> (x - center) / (scale + 1e-8)) AS xs
  FROM zz
),
train_base AS (SELECT * FROM zz2 WHERE split = 'train'),
t0 AS (SELECT symbol, min(window_id) AS t0 FROM train_base GROUP BY 1),
train_w AS (
  SELECT t.* FROM train_base t JOIN t0 USING (symbol)
  WHERE (t.window_id - t0.t0) % {p.cand_stride} = 0 AND len(t.future) = {P}
),
val_base AS (SELECT * FROM zz2 WHERE split = 'val'{q_filter}),
w0 AS (SELECT symbol, min(window_id) AS w0 FROM val_base GROUP BY 1),
val_w AS (
  SELECT v.* FROM val_base v JOIN w0 USING (symbol)
  WHERE (v.window_id - w0.w0) % {stride} = 0 AND len(v.future) = {P}{val_extra}
),
cand AS (
  SELECT q.symbol AS q_symbol, q.window_id AS q_window_id,
         q.center AS q_center, q.scale AS q_scale, q.future AS q_future,
         t.symbol AS m_symbol, t.window_id AS m_window_id,
         t.center AS m_center,
         t.scale AS m_scale, t.future AS m_future,
         {dist_sql} AS dist
  FROM val_w q JOIN train_w t ON {"q.symbol = t.symbol" if p.within_symbol else "TRUE"}
),
top2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_symbol, q_window_id
              ORDER BY dist {dist_dir}, m_symbol ASC, m_window_id ASC) AS rank
    FROM cand)
  WHERE rank <= {p.ensemble}
),
pred_steps AS (
  SELECT q_symbol, q_window_id, i AS step,
         (m_future[i] - m_center) / (m_scale + 1e-8) AS p
  FROM top2, LATERAL (SELECT unnest(generate_series(1, {P})) AS i)
),
ens AS (
  SELECT q_symbol, q_window_id, step, avg(p) AS pred
  FROM pred_steps GROUP BY 1, 2, 3
),
target_steps AS (
  SELECT symbol AS q_symbol, window_id AS q_window_id, i AS step,
         (future[i] - center) / (scale + 1e-8) AS target
  FROM val_w, LATERAL (SELECT unnest(generate_series(1, {P})) AS i)
)"""


def _flagship_oracle(p: FlagshipParams = FlagshipParams()) -> str:
    return f"""{_flagship_oracle_ctes(p)}
SELECT q_symbol AS symbol, q_window_id AS window_id,
       {_sql_rne('avg(abs(pred - target))', 'mae', 4)}
FROM ens JOIN target_steps USING (q_symbol, q_window_id, step)
GROUP BY 1, 2"""


def q_ts_indicators2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frame-expressible battery: Stochastic %K/%D, CCI, MFI,
    Ichimoku conversion/base (W12 widening)."""
    from ..operators.rolling import add_indicators2

    df = add_indicators2(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("stoch_k"), r6("stoch_d"), r6("cci20"), r6("mfi14"),
        r6("ichi_conv"), r6("ichi_base"),
    )


def q_ts_trend_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPO + Keltner channel — single-level EMA recursions in the
    shared Arrow pass; every output oracle-checked via prefix folds."""
    from ..operators.rolling import trend_battery_arrow

    df = trend_battery_arrow(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("ppo"), r6("kelt_mid"), r6("kelt_upper"), r6("kelt_lower"),
    )


def q_ts_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX (EMA of EMA of EMA, 1-step %change). The TRIPLE-chained
    recursion has no faithful single-fold SQL form (each stage consumes
    the previous stage's running sequence), so this query is rows-only:
    the numeric contract is pinned by tests/test_timeseries.py against
    a pandas ewm chain instead."""
    from ..operators.rolling import trend_battery_arrow

    df = trend_battery_arrow(_filled_ohlc(spark, sf_dir))
    return df.filter(F.col("trix15").isNotNull()).select(
        "symbol", "time_idx", _r6("trix15")
    )


def q_ts_feature_null_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-ratio column pruning (P6, ``df.loc[:, df.notnull().mean() >
    .85]``) with the *decision exposed as data*: one aggregate pass
    computes every column's non-null fraction (exact integer counts,
    divided once), the keep/drop verdict is the >0.85 threshold."""
    frame = _feature_frame(spark, sf_dir)
    cols = ["close", *(f"sma{n}" for n in _FEATURE_SMAS)]
    agg = frame.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(c) for c in cols],
    )
    stack_args = []
    for c in cols:
        stack_args += [F.lit(c), F.col(c)]
    return (
        agg.select(
            F.col("__n"),
            F.stack(F.lit(len(cols)), *stack_args).alias("feature", "nonnull"),
        )
        .withColumn("nonnull_ratio", F.col("nonnull").cast("double") / F.col("__n"))
        .withColumn("kept", (F.col("nonnull_ratio") > 0.85).cast("int"))
        .select("feature", _r6("nonnull_ratio"), "kept")
    )


SQL_TS_FEATURE_NULL_RATIO = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_SQL_FEATURE_FRAME},
agg AS (
  SELECT count(*) AS n, count(close) AS c_close, count(sma10) AS c10,
         count(sma30) AS c30, count(sma50) AS c50
  FROM fr
),
un AS (
  SELECT 'close' AS feature, c_close::DOUBLE / n AS nonnull_ratio FROM agg
  UNION ALL SELECT 'sma10', c10::DOUBLE / n FROM agg
  UNION ALL SELECT 'sma30', c30::DOUBLE / n FROM agg
  UNION ALL SELECT 'sma50', c50::DOUBLE / n FROM agg
)
SELECT feature, {_sql_r6('nonnull_ratio')},
       (nonnull_ratio > 0.85)::INT AS kept
FROM un"""


def q_ts_dropna_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.dropna()`` after feature building (P7): order-insensitive
    per-symbol summary of the surviving frame."""
    from ..operators.cleaning import drop_nulls

    return (
        drop_nulls(_feature_frame(spark, sf_dir))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("sma50").alias("sma50_min"),
            F.max("sma50").alias("sma50_max"),
        )
        .select("symbol", "n_rows", _r6("sma50_min"), _r6("sma50_max"))
    )


SQL_TS_DROPNA = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_SQL_FEATURE_FRAME}
SELECT symbol, count(*) AS n_rows,
       floor(min(sma50) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS sma50_min,
       floor(max(sma50) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS sma50_max
FROM fr
WHERE close IS NOT NULL AND sma10 IS NOT NULL
  AND sma30 IS NOT NULL AND sma50 IS NOT NULL
GROUP BY symbol"""


def q_ts_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered positional split (O3, train.py:35-38) as one labeled
    frame: val = last floor(n*0.15) rows per symbol."""
    from ..operators.cleaning import positional_split_labeled

    return positional_split_labeled(
        _series(spark, sf_dir), "symbol", "datetime", val_ratio=0.15
    ).select("symbol", F.col("datetime").alias("ts"), "close", "split")


SQL_TS_SPLIT = f"""WITH {SQL_SERIES},
pos AS (
  SELECT symbol, ts, close,
         row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY symbol) AS cnt
  FROM series
)
SELECT symbol, ts, close,
       CASE WHEN rn <= cnt - floor(cnt * 0.15) THEN 'train' ELSE 'val' END AS split
FROM pos"""


def q_ts_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cache merge (S7, core/data/cdd.py:101-110): the
    cached history (ts < cutoff) is unioned with a re-fetch that
    overlaps the tail (ts >= cutoff - 2 days); duplicate (symbol, ts)
    rows resolve keep-last by (arrival, event_id). The cutoff derives
    from max(ts) inside the plan (broadcast scalar, no driver collect).
    """
    ev = events_series(spark, sf_dir)
    mx = ev.agg(F.max("datetime").alias("__mx"))
    ev = ev.crossJoin(F.broadcast(mx))
    cutoff = F.col("__mx") - F.expr("INTERVAL 14 DAYS")
    old = ev.filter(F.col("datetime") < cutoff).withColumn("src", F.lit(0))
    new = ev.filter(
        F.col("datetime") >= cutoff - F.expr("INTERVAL 2 DAYS")
    ).withColumn("src", F.lit(1))
    merged = old.unionByName(new)
    w = Window.partitionBy("symbol", "datetime").orderBy(
        F.col("src").desc(), F.col("event_id").desc()
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("symbol", F.col("datetime").alias("ts"), "close", "src")
    )


SQL_TS_UPSERT = """WITH ev AS (
  SELECT user_id AS symbol, ts AS datetime, value AS close, event_id,
         (SELECT max(ts) FROM events) AS mx
  FROM events
),
unioned AS (
  SELECT symbol, datetime, close, event_id, 0 AS src
  FROM ev WHERE datetime < mx - INTERVAL 14 DAY
  UNION ALL
  SELECT symbol, datetime, close, event_id, 1 AS src
  FROM ev WHERE datetime >= mx - INTERVAL 14 DAY - INTERVAL 2 DAY
),
ranked AS (
  SELECT symbol, datetime, close, src,
         row_number() OVER (PARTITION BY symbol, datetime
           ORDER BY src DESC, event_id DESC) AS rn
  FROM unioned
)
SELECT symbol, datetime AS ts, close, src FROM ranked WHERE rn = 1"""


# --------------------------------------------------------------------------
# Savitzky–Golay smoothing (reference W9, core/data/preprocess.py:77-96)
# --------------------------------------------------------------------------


def q_ts_savgol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.smoothing import savgol_smooth_native

    df = savgol_smooth_native(
        _filled(spark, sf_dir).select("symbol", "time_idx", "close"), "close"
    )
    return df.filter(F.col("close_sg").isNotNull()).select(
        "symbol", "time_idx", _r6("close_sg")
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# merged batteries + W12 long tail + data-quality surfaces (round 2)
# --------------------------------------------------------------------------


def q_ts_indicators_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-expressible indicator battery — batteries 1+2 on ONE
    lineage (every window shares the same partition spec, so Catalyst
    plans a single sort and zero extra exchanges; previously two
    queries scanning the pipeline twice)."""
    from ..operators.rolling import add_indicators, add_indicators2

    df = add_indicators2(add_indicators(_filled_ohlc(spark, sf_dir)))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("ret"), r6("logret"), r6("sma20"), r6("bb_upper"), r6("bb_lower"),
        r6("roc12"), r6("obv"), r6("vwap20"), r6("willr14"),
        r6("don_upper"), r6("don_lower"), r6("don_mid"),
        r6("stoch_k"), r6("stoch_d"), r6("cci20"), r6("mfi14"),
        r6("ichi_conv"), r6("ichi_base"),
    )


def q_ts_recursive_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA/MACD/RSI/ATR/TRIX/PPO/Keltner/ADX(±DI)/Force/TSI/PVO/
    MassIndex/KAMA/NVI/StochRSI/PSAR/STC — every recursive indicator in
    ONE Arrow pass (operators/rolling.py ``recursive_battery_arrow``);
    the oracle reproduces each recursion as staged sequential prefix
    folds (each EMA stage materialized as a column, then re-folded);
    the per-step-coefficient / state-machine recursions (KAMA, NVI,
    PSAR) fold over struct elements carrying the native-computed
    inputs."""
    from ..operators.rolling import recursive_battery_arrow

    df = recursive_battery_arrow(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("ema12"), r6("ema26"), r6("macd"), r6("macd_signal"),
        r6("macd_hist"), r6("rsi14"), r6("atr14"), r6("trix15"),
        r6("ppo"), r6("kelt_mid"), r6("kelt_upper"), r6("kelt_lower"),
        r6("adx14"), r6("di_pos14"), r6("di_neg14"), r6("force13"),
        r6("tsi"), r6("pvo"), r6("mass_idx"), r6("kama"), r6("nvi"),
        r6("stoch_rsi"), r6("psar"), r6("psar_dir"), r6("stc"),
    )


def q_ts_indicators3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 long tail, all native frame expressions: Aroon, Vortex, CMF,
    ADI, EOM, Ultimate Oscillator, DPO, KST(+signal), full Ichimoku
    (leading spans A/B + lagging), Awesome Oscillator, WMA,
    Volume-Price Trend, cumulative return, Ulcer Index."""
    from ..operators.rolling import add_indicators3

    df = add_indicators3(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("aroon_up"), r6("aroon_down"), r6("vortex_pos"), r6("vortex_neg"),
        r6("cmf20"), r6("adi"), r6("eom14"), r6("uo"), r6("dpo20"),
        r6("kst"), r6("kst_sig"),
        r6("ichi_span_a"), r6("ichi_span_b"), r6("ichi_lagging"),
        r6("ao"), r6("wma9"), r6("vpt"), r6("cret"), r6("ui14"),
    )


def q_ts_indicators4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 derived-column tail, completing the ta-battery surface
    natively (reference core/data/preprocess.py:11-16): band width /
    %B / band-cross indicators, Donchian width/percent, Aroon and
    Vortex differentials, raw ease-of-movement, percent returns. Every
    expression tree is IDENTICAL to the green base batteries', so the
    oracle parity argument is inherited, and all columns ride the one
    shared sort."""
    from ..operators.rolling import add_indicators4

    df = add_indicators4(_filled_ohlc(spark, sf_dir))
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("dr"), r6("dlr"), r6("em"),
        r6("bb_width"), r6("bb_pband"), r6("bb_hi"), r6("bb_li"),
        r6("don_width"), r6("don_pband"),
        r6("aroon_ind"), r6("vortex_diff"),
    )


def q_ts_indicators5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 recursive-base derived tail, finishing the ta-battery
    surface natively (reference core/data/preprocess.py:11-16): PPO /
    PVO signal lines (EMA-9, ridden inside the battery's single Arrow
    pass) and histograms, Keltner channel width / %B, Stochastic-RSI
    %K / %D (3-SMAs), and the PSAR up/down value splits + trend-flip
    indicators. Emitted IN the battery's single Arrow pass
    (``derived_tail=True``): an ``applyInPandas`` output carries no
    partitioning metadata, so the composable native twin
    (``add_indicators5``, cross-pinned bitwise-equal in tests) would
    re-shuffle the whole battery frame for its Window — in-pass
    emission keeps the full indicator pipeline at ONE shuffle."""
    from ..operators.rolling import recursive_battery_arrow

    df = recursive_battery_arrow(
        _filled_ohlc(spark, sf_dir), derived_tail=True
    )
    r6 = _r6
    return df.select(
        "symbol", "time_idx",
        r6("ppo_signal"), r6("ppo_hist"),
        r6("pvo_signal"), r6("pvo_hist"),
        r6("kc_width"), r6("kc_pband"),
        r6("stochrsi_k"), r6("stochrsi_d"),
        r6("psar_up"), r6("psar_down"),
        r6("psar_up_ind"), r6("psar_down_ind"),
    )


def q_ts_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (reference core/data/dataset.py:9 ``select_dtypes("number")``):
    the dtype-driven numeric projection, then a per-column profile.
    Column selection is schema reflection (metadata on the driver, not
    data), so the query stays fully distributed; the unpivot is a
    single-pass aggregate of every numeric column at once."""
    from ..operators.cleaning import numeric_columns

    ev = load_table(spark, sf_dir, "events")
    cols = numeric_columns(ev)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            # exact decimal sum -> the mean is partition-order
            # independent (a double sum would drift under parallel
            # partial aggregation)
            F.sum(F.col(c).cast("decimal(28,10)")).alias(f"__sum_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    wide = ev.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n_nonnull"),
                (
                    F.col(f"__sum_{c}").cast("double")
                    / F.col(f"__n_{c}")
                ).alias("mean"),
                F.col(f"__min_{c}").alias("min_val"),
                F.col(f"__max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("p"))
        .select("p.column", "p.n_nonnull", "p.mean", "p.min_val", "p.max_val")
        .select(
            "column", "n_nonnull", _r6("mean"), "min_val", "max_val"
        )
    )


SQL_TS_NUMERIC_PROFILE = (
    "SELECT * FROM (\n"
    + _sql_numeric_profile_branch("user_id", first=True)
    + "\nUNION ALL\n"
    + _sql_numeric_profile_branch("value")
    + "\nUNION ALL\n"
    + _sql_numeric_profile_branch("event_id")
    + "\n)"
)


def q_flagship_loss_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (reference train.py loss terms as a QUERY): per-symbol
    MAE/MSE/Huber(δ=1) over the flagship per-step forecast errors.
    Degenerate flat windows make the z-errors huge (scale+1e-8), so
    decimal sums would overflow; instead each symbol's errors are
    collected in a canonical (window_id, step) order and folded
    SEQUENTIALLY — the same order the oracle's ordered list_reduce
    uses, so the double sums are bitwise reproducible at any magnitude.
    Per-symbol step counts are bounded by the strided query cursor, so
    the collect stays small at scale (it is per GROUP, not a driver
    collect)."""
    from ..plans.flagship import flagship_step_errors

    steps = flagship_step_errors(spark, sf_dir, FlagshipParams())
    d = F.col("pred") - F.col("target")
    grouped = steps.groupBy("symbol").agg(
        F.sort_array(
            F.collect_list(
                F.struct("window_id", "step", d.alias("d"))
            )
        ).alias("arr")
    )

    def fold(term):
        return F.aggregate(
            F.transform(F.col("arr"), term), F.lit(0.0), lambda a, x: a + x
        )

    n = F.size("arr")
    huber = lambda x: F.when(  # noqa: E731
        F.abs(x["d"]) <= 1.0, 0.5 * x["d"] * x["d"]
    ).otherwise(F.abs(x["d"]) - 0.5)
    return grouped.select(
        "symbol",
        n.alias("n_steps"),
        _r6e(fold(lambda x: F.abs(x["d"])) / n, "mae"),
        _r6e(fold(lambda x: x["d"] * x["d"]) / n, "mse"),
        _r6e(fold(huber) / n, "huber1"),
    )


def _sql_flagship_loss() -> str:
    return f"""{_flagship_oracle_ctes(FlagshipParams())},
errs AS (
  SELECT q_symbol AS symbol, q_window_id AS window_id, step,
         pred - target AS d
  FROM ens JOIN target_steps USING (q_symbol, q_window_id, step)
),
arrs AS (
  SELECT symbol, list(d ORDER BY window_id, step) AS arr
  FROM errs GROUP BY 1
),
sums AS (
  SELECT symbol, len(arr) AS n_steps,
         list_reduce(list_prepend(0.0, list_transform(arr, x -> abs(x))),
                     (a, b) -> a + b) AS sa,
         list_reduce(list_prepend(0.0, list_transform(arr, x -> x * x)),
                     (a, b) -> a + b) AS ss,
         list_reduce(list_prepend(0.0, list_transform(arr,
                     x -> CASE WHEN abs(x) <= 1.0 THEN 0.5 * x * x
                               ELSE abs(x) - 0.5 END)),
                     (a, b) -> a + b) AS sh
  FROM arrs
)
SELECT symbol, CAST(n_steps AS INT) AS n_steps,
       {_sql_r6e('sa / n_steps', 'mae')},
       {_sql_r6e('ss / n_steps', 'mse')},
       {_sql_r6e('sh / n_steps', 'huber1')}
FROM sums"""


def q_ts_dup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (reference core/data/preprocess.py:42 duplicate assertion) as
    a data-quality QUERY: per symbol, total rows vs distinct timestamps
    and the violation count — the engine-side form of the reference's
    ``assert len == nunique``."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("ts").alias("n_distinct_ts"),
        )
        .withColumn(
            "n_dup_ts", (F.col("n_rows") - F.col("n_distinct_ts"))
        )
        .withColumn("ok", (F.col("n_dup_ts") == 0).cast("int"))
    )


SQL_TS_DUP_QUALITY = """
SELECT user_id AS symbol, count(*) AS n_rows,
       count(DISTINCT ts) AS n_distinct_ts,
       count(*) - count(DISTINCT ts) AS n_dup_ts,
       CAST(count(*) - count(DISTINCT ts) = 0 AS INT) AS ok
FROM events GROUP BY 1"""


def q_ts_range_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 6-HOUR average price per symbol,
    framed by event-TIME distance, not row count — the irregular-
    series rolling statistic a row frame cannot express (gaps and
    bursts change how many rows 6 hours holds; n_6h emits that
    variable width). The frame sum is an exact DECIMAL so the
    result is independent of how either engine walks the frame; one
    symbol-keyed exchange, window sorts locally per symbol."""
    series = events_series(spark, sf_dir)
    # TIMESTAMP_NTZ has no direct long cast; with the session pinned
    # UTC the NTZ->TZ hop is the identity and the long is epoch seconds
    epoch = F.col("datetime").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("symbol")
        .orderBy(epoch)
        .rangeBetween(-RANGE_WIN_S, 0)
    )
    sum_dec = F.sum(F.col("close").cast("decimal(18,6)")).over(w)
    n = F.count(F.lit(1)).over(w)
    return series.select(
        "symbol",
        F.col("datetime").alias("ts"),
        n.alias("n_6h"),
        (sum_dec.cast("double") / n).alias("avg_6h"),
    )


def _sql_ts_range_window_avg() -> str:
    return f"""
WITH {SQL_SERIES}
SELECT symbol, ts,
       count(*) OVER w AS n_6h,
       CAST(sum(CAST(close AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / count(*) OVER w AS avg_6h
FROM series
WINDOW w AS (PARTITION BY symbol
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN {RANGE_WIN_S} PRECEDING AND CURRENT ROW)"""


def q_ts_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point alarms per symbol (upward and downward
    shifts, k = 0.5σ slack, h = 4σ threshold — the standard tuning).
    The textbook statistic s_t = max(0, s_{t-1} + (x_t − μ − k)) looks
    recursive, but the NON-RESET one-sided CUSUM has a closed window
    form: s_t = q_t − min_{j≤t} q_j with q_t = Σ(x_i − μ − k) — a
    running sum minus a running min, two ordinary cumulative windows on
    the ts family's symbol exchange, no Python recursion and no state.
    μ and σ come from a two-pass per-symbol aggregate whose sums run in
    exact DECIMAL (grid-snapped terms), broadcast back to the series.
    Emits only the alarm CROSSINGS (s passes h from below), so output
    is alarm-sized, not series-sized."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    stats = df.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(F.col("close")).cast("decimal(18,6)")).alias("sx"),
        F.sum(
            snap(F.col("close") * F.col("close")).cast("decimal(18,6)")
        ).alias("sxx"),
    )
    stats = stats.select(
        "symbol",
        (F.col("sx").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("sxx").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("sigma"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ws = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.join(F.broadcast(stats), "symbol")
    d = d.withColumn(
        "qup",
        F.sum(
            F.col("close") - F.col("mu") - CUSUM_K_SIGMA * F.col("sigma")
        ).over(w),
    ).withColumn(
        "qdn",
        F.sum(
            F.col("mu") - CUSUM_K_SIGMA * F.col("sigma") - F.col("close")
        ).over(w),
    )
    # the prefix min must include the EMPTY prefix (q_0 = 0): an
    # all-positive run of q would otherwise be measured against its own
    # minimum instead of the 0 start, understating s_t
    d = d.withColumn(
        "s_up", F.col("qup") - F.least(F.min("qup").over(w), F.lit(0.0))
    ).withColumn(
        "s_dn", F.col("qdn") - F.least(F.min("qdn").over(w), F.lit(0.0))
    )
    h = CUSUM_H_SIGMA * F.col("sigma")
    d = d.withColumn("pup", F.lag("s_up").over(ws)).withColumn(
        "pdn", F.lag("s_dn").over(ws)
    )
    up_cross = (F.col("s_up") > h) & (
        F.coalesce(F.col("pup") <= h, F.lit(True))
    )
    dn_cross = (F.col("s_dn") > h) & (
        F.coalesce(F.col("pdn") <= h, F.lit(True))
    )
    ups = d.filter(up_cross).select(
        "symbol",
        "time_idx",
        F.lit("up").alias("direction"),
        _rne(F.col("s_up") / F.nullif(F.col("sigma"), F.lit(0.0)),
             "stat_sigmas", 6),
    )
    dns = d.filter(dn_cross).select(
        "symbol",
        "time_idx",
        F.lit("down").alias("direction"),
        _rne(F.col("s_dn") / F.nullif(F.col("sigma"), F.lit(0.0)),
             "stat_sigmas", 6),
    )
    return ups.unionByName(dns)


def _sql_ts_cusum() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
stats AS (
  SELECT symbol,
         CAST(sum(CAST({snap('close')} AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS mu,
         sqrt(CAST(sum(CAST({snap('close * close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*)
              - (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                   AS DOUBLE) / count(*))
              * (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                   AS DOUBLE) / count(*))) AS sigma
  FROM filled GROUP BY 1),
q AS (
  SELECT f.symbol, f.time_idx, s.sigma,
         sum(f.close - s.mu - {CUSUM_K_SIGMA} * s.sigma) OVER cum AS qup,
         sum(s.mu - {CUSUM_K_SIGMA} * s.sigma - f.close) OVER cum AS qdn
  FROM filled f JOIN stats s USING (symbol)
  WINDOW cum AS (PARTITION BY f.symbol ORDER BY f.time_idx
                 ROWS UNBOUNDED PRECEDING)),
s AS (
  SELECT symbol, time_idx, sigma,
         qup - least(min(qup) OVER cum, 0.0) AS s_up,
         qdn - least(min(qdn) OVER cum, 0.0) AS s_dn
  FROM q
  WINDOW cum AS (PARTITION BY symbol ORDER BY time_idx
                 ROWS UNBOUNDED PRECEDING)),
x AS (
  SELECT *, {CUSUM_H_SIGMA} * sigma AS h,
         lag(s_up) OVER w AS pup, lag(s_dn) OVER w AS pdn
  FROM s
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx))
SELECT symbol, time_idx, 'up' AS direction,
       {_sql_rne('s_up / nullif(sigma, 0.0)', 'stat_sigmas')}
FROM x WHERE s_up > h AND coalesce(pup <= h, TRUE)
UNION ALL
SELECT symbol, time_idx, 'down' AS direction,
       {_sql_rne('s_dn / nullif(sigma, 0.0)', 'stat_sigmas')}
FROM x WHERE s_dn > h AND coalesce(pdn <= h, TRUE)"""


def q_ts_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman smoothing per symbol (operators/smoothing.py
    kalman_local_level), calibrated per symbol from the series
    variance (Q = 0.05σ², R = 0.5σ², the same grid-snapped DECIMAL
    two-pass the CUSUM family uses, floored at 1e-6 so constant
    series stay finite) — the adaptive-gain smoother one tier above
    the EMA battery. Emits every 4th grid row (the smoothed-series
    sample a dashboard reads); the DuckDB oracle is a recursive CTE
    replaying the recursion in the identical operand order, so levels
    and gains match bitwise before the 1e-6 emission rounding."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    stats = (
        df.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(snap(F.col("close")).cast("decimal(18,6)")).alias("sx"),
            F.sum(
                snap(F.col("close") * F.col("close")).cast("decimal(18,6)")
            ).alias("sxx"),
        )
        .select(
            "symbol",
            (
                F.col("sxx").cast("double") / F.col("n")
                - (F.col("sx").cast("double") / F.col("n"))
                * (F.col("sx").cast("double") / F.col("n"))
            ).alias("var"),
        )
        .select(
            "symbol",
            (F.lit(KALMAN_Q_FRAC) * F.col("var")).alias("q_var"),
            F.greatest(
                F.lit(KALMAN_R_FRAC) * F.col("var"), F.lit(1e-6)
            ).alias("r_var"),
        )
    )
    from ..operators.smoothing import kalman_local_level

    smoothed = kalman_local_level(
        df.join(F.broadcast(stats), "symbol"), "close"
    )
    return smoothed.filter(F.col("time_idx") % 4 == 0).select(
        "symbol",
        "time_idx",
        _rne(F.col("level"), "level", 6),
        _rne(F.col("gain"), "gain", 6),
    )


def _sql_ts_kalman() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, time_idx, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
stats AS (
  SELECT symbol,
         {KALMAN_Q_FRAC} * (
           CAST(sum(CAST({snap('close * close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*)
           - (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*))
           * (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*))) AS q_var,
         greatest({KALMAN_R_FRAC} * (
           CAST(sum(CAST({snap('close * close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*)
           - (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*))
           * (CAST(sum(CAST({snap('close')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*))), 1e-6) AS r_var
  FROM filled GROUP BY 1),
kal(symbol, rn, time_idx, l, p, k) AS (
  -- seed k must be CAST to DOUBLE: a bare 1.0 literal types the
  -- recursion's k column as DECIMAL(2,1) and truncates every gain
  SELECT r.symbol, 1, r.time_idx, r.close, s.r_var,
         CAST(1.0 AS DOUBLE)
  FROM rows_ r JOIN stats s USING (symbol) WHERE r.rn = 1
  UNION ALL
  SELECT h.symbol, h.rn + 1, r.time_idx,
         h.l + ((h.p + s.q_var) / ((h.p + s.q_var) + s.r_var))
             * (r.close - h.l),
         (1.0 - ((h.p + s.q_var) / ((h.p + s.q_var) + s.r_var)))
             * (h.p + s.q_var),
         (h.p + s.q_var) / ((h.p + s.q_var) + s.r_var)
  FROM kal h
  JOIN rows_ r ON r.symbol = h.symbol AND r.rn = h.rn + 1
  JOIN stats s ON s.symbol = h.symbol)
SELECT symbol, time_idx,
       {_sql_rne('l', 'level')}, {_sql_rne('k', 'gain')}
FROM kal WHERE time_idx % 4 = 0"""


def q_ts_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Expected Shortfall per symbol at the 95%
    level over 6h returns — the regulatory risk pair beside max
    drawdown. VaR is the EXPLICIT rank pick at floor((n−1)·0.05)+1 of
    the return order (the engine's quantile convention — no
    interpolation arithmetic); ES is the exact mean of the tail at or
    below the pick (grid-snapped DECIMAL sum / integer count). One
    symbol exchange end to end."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rets = (
        r.withColumn(
            "ret",
            F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0))
            - 1,
        )
        .filter(F.col("ret").isNotNull())
        .select("symbol", "time_idx", "ret")
    )
    ws = Window.partitionBy("symbol").orderBy(
        F.col("ret").asc(), F.col("time_idx").asc()
    )
    n = Window.partitionBy("symbol")
    ranked = rets.select(
        "symbol",
        "ret",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    cut = F.floor((F.col("n") - 1) * F.lit(VAR_P)).cast("long") + 1
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    return (
        ranked.withColumn("cut", cut)
        .groupBy("symbol")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("cut"), F.col("ret"))
            ).alias("var_ret"),
            (
                F.sum(
                    F.when(
                        F.col("rn") <= F.col("cut"),
                        snap(F.col("ret")).cast("decimal(18,6)"),
                    )
                )
                .cast("double")
                / F.max("cut")
            ).alias("es_raw"),
            F.max("n").alias("n_rets"),
        )
        .select(
            "symbol",
            "n_rets",
            _rne(F.col("var_ret"), "var95", 6),
            _rne(F.col("es_raw"), "es95", 6),
        )
    )


def _sql_ts_var_es() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
rets AS (
  SELECT symbol, time_idx,
         close / nullif(lag(close) OVER (
           PARTITION BY symbol ORDER BY time_idx), 0.0) - 1 AS ret
  FROM idx),
ranked AS (
  SELECT symbol, ret, time_idx,
         row_number() OVER (PARTITION BY symbol
           ORDER BY ret ASC, time_idx ASC) AS rn,
         count(*) OVER (PARTITION BY symbol) AS n
  FROM rets WHERE ret IS NOT NULL),
cuts AS (
  SELECT *, CAST(floor((n - 1) * {VAR_P}) AS BIGINT) + 1 AS cut
  FROM ranked)
SELECT symbol, CAST(max(n) AS BIGINT) AS n_rets,
       {_sql_rne('max(CASE WHEN rn = cut THEN ret END)', 'var95')},
       {_sql_rne(
           'CAST(sum(CASE WHEN rn <= cut THEN CAST(' + snap('ret')
           + ' AS DECIMAL(18,6)) END) AS DOUBLE) / max(cut)', 'es95')}
FROM cuts GROUP BY 1"""


def _ts_acf_parts(spark: SparkSession, sf_dir: str):
    """Shared ACF plumbing: per-(symbol, lag) exact-DECIMAL numerator
    plus the per-symbol denominator/count frame — consumed by the ACF
    query and the Ljung-Box statistic."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    mu_t = df.groupBy("symbol").agg(
        (
            F.sum(snap(F.col("close")).cast("decimal(18,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    lagged = df.join(F.broadcast(mu_t), "symbol").withColumns(
        {
            f"__xl{lg}": F.lag("close", lg).over(w)
            for lg in range(1, ACF_MAX_LAG + 1)
        }
    )
    lag_arr = F.array(
        *[
            F.struct(
                F.lit(lg).alias("lag"), F.col(f"__xl{lg}").alias("xl")
            )
            for lg in range(1, ACF_MAX_LAG + 1)
        ]
    )
    d = lagged.select(
        "symbol", "close", "mu", F.explode(lag_arr).alias("z")
    )
    num = (
        d.filter(F.col("z.xl").isNotNull())
        .groupBy("symbol", F.col("z.lag").alias("lag"))
        .agg(
            F.sum(
                snap(
                    (F.col("close") - F.col("mu"))
                    * (F.col("z.xl") - F.col("mu"))
                ).cast("decimal(18,6)")
            ).alias("num")
        )
    )
    den = df.join(F.broadcast(mu_t), "symbol").groupBy("symbol").agg(
        F.sum(
            snap(
                (F.col("close") - F.col("mu"))
                * (F.col("close") - F.col("mu"))
            ).cast("decimal(18,6)")
        ).alias("den"),
        F.count(F.lit(1)).alias("n"),
    )
    return num, den


def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic per symbol over ACF lags 1-8 —
    the whiteness test (Q ~ χ²₈ under no autocorrelation) that turns
    the ACF from a picture into a decision. r_k come from the shared
    exact-DECIMAL ACF plumbing; the Q fold runs in lag order over a
    sorted in-row array, so no aggregation-order float ambiguity."""
    num, den = _ts_acf_parts(spark, sf_dir)
    j = num.join(den, "symbol").select(
        "symbol",
        "n",
        "lag",
        (
            F.col("num").cast("double") / F.col("den").cast("double")
        ).alias("r"),
    )
    per_sym = j.groupBy("symbol", "n").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lag", "r"))),
            F.lit(0.0),
            lambda acc, z: acc
            + z["r"] * z["r"] / (F.col("n").cast("double") - z["lag"]),
        ).alias("s")
    )
    nn = F.col("n").cast("double")
    return per_sym.select(
        "symbol",
        F.col("n").alias("n_obs"),
        F.lit(ACF_MAX_LAG).alias("dof"),
        _rne(nn * (nn + 2) * F.col("s"), "q_stat", 6),
    )


def _sql_ts_ljung_box() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    lag_cols = ", ".join(
        f"lag(close, {lg}) OVER w AS xl{lg}"
        for lg in range(1, ACF_MAX_LAG + 1)
    )
    arms = " UNION ALL ".join(
        f"SELECT symbol, mu, close, {lg} AS lag, xl{lg} AS xl FROM lagged"
        for lg in range(1, ACF_MAX_LAG + 1)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
mu_t AS (
  SELECT symbol,
         CAST(sum(CAST({snap('close')} AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS mu
  FROM filled GROUP BY 1),
lagged AS (
  SELECT f.symbol, f.close, m.mu, {lag_cols}
  FROM filled f JOIN mu_t m USING (symbol)
  WINDOW w AS (PARTITION BY f.symbol ORDER BY f.time_idx)),
long AS ({arms}),
num AS (
  SELECT symbol, lag,
         sum(CAST({snap('(close - mu) * (xl - mu)')}
                  AS DECIMAL(18,6))) AS num
  FROM long WHERE xl IS NOT NULL GROUP BY 1, 2),
den AS (
  SELECT symbol,
         sum(CAST({snap('(close - mu) * (close - mu)')}
                  AS DECIMAL(18,6))) AS den,
         count(*) AS n
  FROM lagged GROUP BY 1),
rs AS (
  SELECT n.symbol, d.n,
         list_reduce(list_prepend(0.0, list(
           (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE))
           * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE))
           / (CAST(d.n AS DOUBLE) - n.lag) ORDER BY n.lag)),
           (x, y) -> x + y) AS s
  FROM num n JOIN den d ON n.symbol = d.symbol
  GROUP BY 1, 2)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       {ACF_MAX_LAG} AS dof,
       {_sql_rne(
           'CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2) * s', 'q_stat')}
FROM rs"""


def q_ts_pairs_trading_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading entry signals — the strategy capstone composing
    the correlation matrix with the z-score contract: pick the single
    most-return-correlated symbol pair (deterministic argmax over the
    same DECIMAL pair moments as ts_symbol_corr_matrix), z-score their
    aligned price spread (grid-snapped DECIMAL mean/std), and emit the
    buckets where |z| > 2 — the classic mean-reversion entry. The pair
    pick is a broadcast one-row frame; everything else rides the
    time_idx-aligned join the matrix already uses."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    ret_raw = (
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    )
    rets = (
        r.join(F.broadcast(top), "symbol")
        .withColumn(
            "ret", F.floor(ret_raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        )
        .filter(F.col("ret").isNotNull())
        .select(
            "symbol",
            "time_idx",
            "close",
            F.col("ret").cast("decimal(18,6)").alias("ret"),
        )
    )
    a = rets.select(
        F.col("symbol").alias("sym_a"),
        "time_idx",
        F.col("ret").alias("x"),
        F.col("close").alias("ca"),
    )
    b = rets.select(
        F.col("symbol").alias("sym_b"),
        "time_idx",
        F.col("ret").alias("y"),
        F.col("close").alias("cb"),
    )
    agg = (
        a.join(b, "time_idx")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nn = F.col("n_obs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nn * sxy - sx * sy
    vx = nn * sxx - sx * sx
    vy = nn * syy - sy * sy
    corr = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    best = (
        agg.select("sym_a", "sym_b", corr.alias("corr"))
        .filter(F.col("corr").isNotNull())
        .orderBy(
            F.col("corr").desc(), F.col("sym_a").asc(), F.col("sym_b").asc()
        )
        .limit(1)
    )
    pair = (
        a.join(b, "time_idx")
        .join(F.broadcast(best), ["sym_a", "sym_b"])
        .select(
            "sym_a", "sym_b", "time_idx",
            (F.col("ca") - F.col("cb")).alias("spread"),
        )
    )
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    stats = pair.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(F.col("spread")).cast("decimal(18,6)")).alias("ss"),
        F.sum(
            snap(F.col("spread") * F.col("spread")).cast("decimal(18,6)")
        ).alias("sss"),
    )
    stats = stats.select(
        "sym_a",
        "sym_b",
        (F.col("ss").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("sss").cast("double") / F.col("n")
            - (F.col("ss").cast("double") / F.col("n"))
            * (F.col("ss").cast("double") / F.col("n"))
        ).alias("sigma"),
    )
    z = (F.col("spread") - F.col("mu")) / F.nullif(
        F.col("sigma"), F.lit(0.0)
    )
    return (
        pair.join(F.broadcast(stats), ["sym_a", "sym_b"])
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > PAIRS_Z_ENTRY)
        .select(
            "sym_a",
            "sym_b",
            "time_idx",
            _rne(F.col("spread"), "spread", 6),
            _rne(F.col("z"), "zscore", 6),
            F.when(F.col("z") > 0, "short_spread")
            .otherwise("long_spread")
            .alias("signal"),
        )
    )


def _sql_ts_pairs_signal() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
rets AS (
  SELECT symbol, time_idx, close,
         CAST(floor((close / nullif(lag(close) OVER (
                PARTITION BY symbol ORDER BY time_idx), 0.0) - 1)
              * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS ret
  FROM idx WHERE symbol IN (SELECT symbol FROM top)),
rets2 AS (SELECT * FROM rets WHERE ret IS NOT NULL),
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, count(*) AS n_obs,
         CAST(sum(a.ret) AS DOUBLE) AS sx,
         CAST(sum(b.ret) AS DOUBLE) AS sy,
         CAST(sum(a.ret * b.ret) AS DOUBLE) AS sxy,
         CAST(sum(a.ret * a.ret) AS DOUBLE) AS sxx,
         CAST(sum(b.ret * b.ret) AS DOUBLE) AS syy
  FROM rets2 a JOIN rets2 b
    ON a.time_idx = b.time_idx AND a.symbol < b.symbol
  GROUP BY 1, 2),
best AS (
  SELECT sym_a, sym_b FROM (
    SELECT sym_a, sym_b,
           (CAST(n_obs AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n_obs AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_obs AS DOUBLE) * syy - sy * sy)) AS corr
    FROM agg
    WHERE CAST(n_obs AS DOUBLE) * sxx - sx * sx > 0
      AND CAST(n_obs AS DOUBLE) * syy - sy * sy > 0)
  ORDER BY corr DESC, sym_a ASC, sym_b ASC LIMIT 1),
pair AS (
  SELECT b.sym_a, b.sym_b, a.time_idx, a.close - c.close AS spread
  FROM rets2 a
  JOIN rets2 c ON a.time_idx = c.time_idx
  JOIN best b ON a.symbol = b.sym_a AND c.symbol = b.sym_b),
stats AS (
  SELECT sym_a, sym_b,
         CAST(sum(CAST({snap('spread')} AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS mu,
         sqrt(CAST(sum(CAST({snap('spread * spread')} AS DECIMAL(18,6)))
                AS DOUBLE) / count(*)
              - (CAST(sum(CAST({snap('spread')} AS DECIMAL(18,6)))
                   AS DOUBLE) / count(*))
              * (CAST(sum(CAST({snap('spread')} AS DECIMAL(18,6)))
                   AS DOUBLE) / count(*))) AS sigma
  FROM pair GROUP BY 1, 2)
SELECT p.sym_a, p.sym_b, p.time_idx,
       {_sql_rne('p.spread', 'spread')},
       {_sql_rne('(p.spread - s.mu) / nullif(s.sigma, 0.0)', 'zscore')},
       CASE WHEN (p.spread - s.mu) / nullif(s.sigma, 0.0) > 0
            THEN 'short_spread' ELSE 'long_spread' END AS signal
FROM pair p JOIN stats s USING (sym_a, sym_b)
WHERE abs((p.spread - s.mu) / nullif(s.sigma, 0.0)) > {PAIRS_Z_ENTRY}"""


def q_ts_updown_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz-style runs summary per symbol: consecutive
    up/down move runs over the resampled closes (flat moves dropped),
    with run count, longest run, and its direction — the
    trend-persistence diagnostic beside Ljung-Box. The run id is the
    gaps-and-islands difference of two row_numbers (all integers);
    everything rides the symbol exchange."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    moves = (
        r.withColumn(
            "dir", F.signum(F.col("close") - F.lag("close").over(w))
        )
        .filter(F.col("dir").isin(1.0, -1.0))
        .withColumn("dir", F.col("dir").cast("int"))
    )
    wm = Window.partitionBy("symbol").orderBy("time_idx")
    wd = Window.partitionBy("symbol", "dir").orderBy("time_idx")
    runs = moves.withColumn(
        "run_id", F.row_number().over(wm) - F.row_number().over(wd)
    )
    per_run = runs.groupBy("symbol", "dir", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return per_run.groupBy("symbol").agg(
        F.sum("run_len").alias("n_moves"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("longest_run"),
        F.max_by(
            "dir", F.col("run_len") * 10 + (F.col("dir") + 1)
        ).alias("longest_dir"),
    )


SQL_TS_UPDOWN_RUNS = f"""WITH {SQL_SERIES}, {SQL_RES6H},
moves AS (
  SELECT symbol, time_idx,
         CAST(sign(close - lag(close) OVER (PARTITION BY symbol
           ORDER BY time_idx)) AS INT) AS dir
  FROM idx
  QUALIFY dir IN (1, -1)),
runs AS (
  SELECT symbol, dir,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx)
           - row_number() OVER (PARTITION BY symbol, dir
               ORDER BY time_idx) AS run_id
  FROM moves),
per_run AS (
  SELECT symbol, dir, run_id, count(*) AS run_len
  FROM runs GROUP BY 1, 2, 3)
SELECT symbol, CAST(sum(run_len) AS BIGINT) AS n_moves,
       count(*) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       arg_max(dir, run_len * 10 + (dir + 1)) AS longest_dir
FROM per_run GROUP BY 1"""


def q_ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per symbol for lags 1..8 — the
    Box-Jenkins diagnostic behind ARIMA order selection and the
    seasonal-period check for the decomposition query. One symbol
    window computes all lag columns in a single projection, the lag
    dimension explodes from an in-row array (no per-lag scan), and
    numerator/denominator products snap to the 1e-6 grid before exact
    DECIMAL sums — the ACF ratio is the only float division. Shares
    its plumbing (_ts_acf_parts) with the Ljung-Box statistic."""
    num, den = _ts_acf_parts(spark, sf_dir)
    return num.join(den, "symbol").select(
        "symbol",
        "lag",
        _rne(
            F.col("num").cast("double")
            / F.nullif(F.col("den").cast("double"), F.lit(0.0)),
            "acf",
            6,
        ),
    )


def _sql_ts_acf() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    lag_cols = ", ".join(
        f"lag(close, {lg}) OVER w AS xl{lg}"
        for lg in range(1, ACF_MAX_LAG + 1)
    )
    arms = " UNION ALL ".join(
        f"SELECT symbol, mu, close, {lg} AS lag, xl{lg} AS xl FROM lagged"
        for lg in range(1, ACF_MAX_LAG + 1)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
mu_t AS (
  SELECT symbol,
         CAST(sum(CAST({snap('close')} AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS mu
  FROM filled GROUP BY 1),
lagged AS (
  SELECT f.symbol, f.close, m.mu, {lag_cols}
  FROM filled f JOIN mu_t m USING (symbol)
  WINDOW w AS (PARTITION BY f.symbol ORDER BY f.time_idx)),
long AS ({arms}),
num AS (
  SELECT symbol, lag,
         sum(CAST({snap('(close - mu) * (xl - mu)')}
                  AS DECIMAL(18,6))) AS num
  FROM long WHERE xl IS NOT NULL GROUP BY 1, 2),
den AS (
  SELECT symbol,
         sum(CAST({snap('(close - mu) * (close - mu)')}
                  AS DECIMAL(18,6))) AS den
  FROM lagged GROUP BY 1)
SELECT n.symbol, n.lag,
       {_sql_rne(
           'CAST(n.num AS DOUBLE) / nullif(CAST(d.den AS DOUBLE), 0.0)',
           'acf')}
FROM num n JOIN den d ON n.symbol = d.symbol"""


def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (classical, period 4 = daily on
    the 6h grid): trend = centered 2×m moving average (the textbook
    half-weighted 5-term window), seasonal = phase means of the
    detrended series re-centered to sum to zero, residual = the rest —
    the decomposition behind seasonal-adjustment and anomaly baselines.
    Numerics: the trend is a FIXED 5-term expression (lag/lead — no
    frame-sum accumulation at all), phase means go through
    grid-snapped DECIMAL sums, and the 4-phase centering folds in
    phase order — nothing order-sensitive survives to the hash."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    x = F.col("close")
    trend = (
        0.5 * F.lag("close", 2).over(w)
        + F.lag("close", 1).over(w)
        + x
        + F.lead("close", 1).over(w)
        + 0.5 * F.lead("close", 2).over(w)
    ) / SEAS_M
    d = df.withColumn("trend", trend).withColumn(
        "phase", (F.col("time_idx") % SEAS_M).cast("int")
    )
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    phase_means = (
        d.filter(F.col("trend").isNotNull())
        .groupBy("symbol", "phase")
        .agg(
            (
                F.sum(snap(x - F.col("trend")).cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("pm")
        )
    )
    centered = (
        phase_means.groupBy("symbol")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("phase", "pm"))),
                    lambda z: z["pm"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("pm_sum")
        )
    )
    seas = (
        phase_means.join(centered, "symbol")
        .select(
            "symbol",
            "phase",
            (F.col("pm") - F.col("pm_sum") / SEAS_M).alias("seasonal"),
        )
    )
    return (
        d.join(seas, ["symbol", "phase"])
        .select(
            "symbol",
            "time_idx",
            _rne(F.col("trend"), "trend", 6),
            _rne(F.col("seasonal"), "seasonal", 6),
            _rne(
                F.when(
                    F.col("trend").isNotNull(),
                    x - F.col("trend") - F.col("seasonal"),
                ),
                "residual",
                6,
            ),
        )
    )


def _sql_ts_seasonal() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
t AS (
  SELECT symbol, time_idx, close,
         (0.5 * lag(close, 2) OVER w + lag(close, 1) OVER w + close
          + lead(close, 1) OVER w + 0.5 * lead(close, 2) OVER w)
           / {SEAS_M} AS trend,
         CAST(time_idx % {SEAS_M} AS INT) AS phase
  FROM filled
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
pm AS (
  SELECT symbol, phase,
         CAST(sum(CAST({snap('close - trend')} AS DECIMAL(18,6)))
              AS DOUBLE) / count(*) AS pm
  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
ctr AS (
  SELECT symbol,
         list_reduce(list_prepend(0.0, list(pm ORDER BY phase)),
                     (x, y) -> x + y) AS pm_sum
  FROM pm GROUP BY 1),
seas AS (
  SELECT pm.symbol, pm.phase, pm.pm - ctr.pm_sum / {SEAS_M} AS seasonal
  FROM pm JOIN ctr USING (symbol))
SELECT t.symbol, t.time_idx,
       {_sql_rne('t.trend', 'trend')},
       {_sql_rne('s.seasonal', 'seasonal')},
       {_sql_rne('CASE WHEN t.trend IS NOT NULL '
                 'THEN t.close - t.trend - s.seasonal END', 'residual')}
FROM t JOIN seas s ON t.symbol = s.symbol AND t.phase = s.phase"""


def q_ts_winsorize_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling per symbol: winsorize close at the
    explicit p1/p99 rank picks, then robust-z against the median/MAD
    (both exact rank statistics) — the outlier-resistant
    normalization a feature pipeline prefers over mean/std when fat
    tails are real. All cut points are EXPLICIT row picks (the decile
    query's convention), so no engine interpolation arithmetic is
    load-bearing; the per-row transform is pure projection. Emits the
    per-symbol stats table (symbol, p1, p99, median, mad) — the
    artifact the transform broadcasts at apply time."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy(
        F.col("close").asc(), F.col("time_idx").asc()
    )
    n = Window.partitionBy("symbol")
    ranked = df.select(
        "symbol",
        "close",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    pick = lambda p: (  # noqa: E731
        F.floor((F.col("n") - 1) * F.lit(p)).cast("long") + 1
    )
    stats = (
        ranked.groupBy("symbol")
        .agg(
            F.max(
                F.when(F.col("rn") == pick(WINSOR_LO), F.col("close"))
            ).alias("p1"),
            F.max(
                F.when(F.col("rn") == pick(WINSOR_HI), F.col("close"))
            ).alias("p99"),
            F.max(
                F.when(F.col("rn") == pick(0.5), F.col("close"))
            ).alias("median"),
        )
    )
    dev = (
        df.join(stats.select("symbol", "median"), "symbol")
        .select(
            "symbol",
            F.abs(F.col("close") - F.col("median")).alias("adev"),
            "time_idx",
        )
    )
    wd = Window.partitionBy("symbol").orderBy(
        F.col("adev").asc(), F.col("time_idx").asc()
    )
    mad = (
        dev.select(
            "symbol",
            "adev",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(n).alias("n"),
        )
        .filter(F.col("rn") == pick(0.5))
        .groupBy("symbol")
        .agg(F.max("adev").alias("mad"))
    )
    return stats.join(mad, "symbol").select(
        "symbol",
        _rne(F.col("p1"), "p1", 6),
        _rne(F.col("p99"), "p99", 6),
        _rne(F.col("median"), "median", 6),
        _rne(F.col("mad"), "mad", 6),
    )


def _sql_ts_winsorize() -> str:
    def pick(p: float) -> str:
        return f"CAST(floor((n - 1) * {p}) AS BIGINT) + 1"

    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
ranked AS (
  SELECT symbol, close,
         row_number() OVER (PARTITION BY symbol
           ORDER BY close ASC, time_idx ASC) AS rn,
         count(*) OVER (PARTITION BY symbol) AS n
  FROM filled),
stats AS (
  SELECT symbol,
         max(CASE WHEN rn = {pick(WINSOR_LO)} THEN close END) AS p1,
         max(CASE WHEN rn = {pick(WINSOR_HI)} THEN close END) AS p99,
         max(CASE WHEN rn = {pick(0.5)} THEN close END) AS median
  FROM ranked GROUP BY 1),
dev AS (
  SELECT f.symbol, abs(f.close - s.median) AS adev, f.time_idx
  FROM filled f JOIN stats s USING (symbol)),
dranked AS (
  SELECT symbol, adev,
         row_number() OVER (PARTITION BY symbol
           ORDER BY adev ASC, time_idx ASC) AS rn,
         count(*) OVER (PARTITION BY symbol) AS n
  FROM dev),
mad AS (
  SELECT symbol, max(CASE WHEN rn = {pick(0.5)} THEN adev END) AS mad
  FROM dranked GROUP BY 1)
SELECT s.symbol, {_sql_rne('s.p1', 'p1')}, {_sql_rne('s.p99', 'p99')},
       {_sql_rne('s.median', 'median')}, {_sql_rne('m.mad', 'mad')}
FROM stats s JOIN mad m USING (symbol)"""


def q_ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast per symbol (operators/rolling.py
    holt_linear): fit on the 80% head, forecast the holdout as
    level + h·trend, scored with grid-snapped exact-DECIMAL MAE — the
    exponential-smoothing forecaster beside the kNN flagship and the
    naive/drift/seasonal baselines. The fit emits per-symbol SCALARS
    from one Arrow pass (series-count-sized, never row-sized), joined
    back to the holdout; the coupled recursion is evaluated in the
    precise operand order the DuckDB recursive-CTE oracle uses, so
    level/trend match bitwise before the final rounding."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rows = df.withColumn("rn", F.row_number().over(w))
    counts = rows.groupBy("symbol").agg(
        F.greatest(
            F.floor(F.max("rn") * F.lit(FC_TRAIN_FRAC)).cast("int"),
            F.lit(FC_SEASON + 1),
        ).alias("n_train")
    )
    tagged = rows.join(counts, "symbol")
    train = tagged.filter(F.col("rn") <= F.col("n_train")).select(
        "symbol", "time_idx", "close"
    )
    fit = holt_linear(train, "close", HOLT_ALPHA, HOLT_BETA)
    test = tagged.filter(F.col("rn") > F.col("n_train")).select(
        "symbol", "rn", "close",
        F.col("n_train").alias("nt"),
    )
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    fc = test.join(fit, "symbol").withColumn(
        "yhat",
        F.col("level") + (F.col("rn") - F.col("nt")) * F.col("trend"),
    )
    return (
        fc.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.max("n_fit").alias("n_fit"),
            F.max("level").alias("level"),
            F.max("trend").alias("trend"),
            F.sum(
                snap(F.abs(F.col("yhat") - F.col("close"))).cast(
                    "decimal(18,6)"
                )
            ).alias("sae"),
        )
        .select(
            "symbol",
            "n_fit",
            "n_test",
            _rne(F.col("level"), "level", 6),
            _rne(F.col("trend"), "trend", 6),
            _rne(
                F.col("sae").cast("double") / F.col("n_test"), "mae", 6
            ),
        )
    )


def _sql_ts_holt() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    new_l = f"{a} * r.close + (1.0 - {a}) * (h.l + h.b)"
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, close, row_number() OVER (
    PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
counts AS (
  SELECT symbol,
         greatest(CAST(floor(max(rn) * {FC_TRAIN_FRAC}) AS INT),
                  {FC_SEASON + 1}) AS n_train
  FROM rows_ GROUP BY 1),
train AS (
  SELECT r.symbol, r.close, r.rn, c.n_train
  FROM rows_ r JOIN counts c USING (symbol) WHERE r.rn <= c.n_train),
holt(symbol, t, l, b) AS (
  SELECT r1.symbol, 1, r1.close, r2.close - r1.close
  FROM train r1 JOIN train r2
    ON r1.symbol = r2.symbol AND r1.rn = 1 AND r2.rn = 2
  UNION ALL
  SELECT h.symbol, h.t + 1,
         {new_l},
         {b} * ({new_l} - h.l) + (1.0 - {b}) * h.b
  FROM holt h JOIN train r
    ON r.symbol = h.symbol AND r.rn = h.t + 1),
fit AS (
  SELECT h.symbol, h.l AS level, h.b AS trend, c.n_train AS n_fit
  FROM holt h JOIN counts c ON h.symbol = c.symbol AND h.t = c.n_train),
test AS (
  SELECT r.symbol, r.close, r.rn - c.n_train AS h
  FROM rows_ r JOIN counts c USING (symbol) WHERE r.rn > c.n_train),
scored AS (
  SELECT t.symbol, f.n_fit, f.level, f.trend,
         CAST({snap('abs(f.level + t.h * f.trend - t.close)')}
              AS DECIMAL(18,6)) AS abs_err
  FROM test t JOIN fit f USING (symbol))
SELECT symbol, CAST(n_fit AS BIGINT) AS n_fit, count(*) AS n_test,
       {_sql_rne('level', 'level')},
       {_sql_rne('trend', 'trend')},
       {_sql_rne('CAST(sum(abs_err) AS DOUBLE) / count(*)', 'mae')}
FROM scored GROUP BY symbol, n_fit, level, trend"""


def q_ts_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average price per symbol over the RAW
    irregular series — each observation weighted by how long it was
    the live value (micros until the next observation, within the
    day; the day's last observation carries to midnight). TWAP is the
    duration-weighted complement of the battery's volume-weighted
    VWAP and the standard aggregate for irregular sensor/tick data.
    One symbol-keyed LEAD window then a (symbol, day) aggregate;
    weights are exact integer micros, weighted terms snap to the 1e-6
    grid and sum in exact DECIMAL, so the aggregate is
    partitioning-independent."""
    require_utc(spark)
    s = _series(spark, sf_dir)
    ts = F.col("datetime").cast("timestamp")
    base = s.select(
        "symbol", F.to_date(ts).alias("day"), ts.alias("tsi"), "close"
    )
    w = Window.partitionBy("symbol", "day").orderBy(F.col("tsi").asc())
    day_end = F.unix_micros(
        F.date_add(F.col("day"), 1).cast("timestamp")
    )
    wt_us = (
        F.coalesce(F.unix_micros(F.lead("tsi").over(w)), day_end)
        - F.unix_micros(F.col("tsi"))
    )
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    rows = base.select(
        "symbol", "day", "close", (wt_us / F.lit(1e6)).alias("wt_s")
    )
    return (
        rows.groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(
                snap(F.col("close") * F.col("wt_s")).cast("decimal(18,6)")
            ).alias("swx"),
            F.sum(snap(F.col("wt_s")).cast("decimal(18,6)")).alias("sw"),
        )
        .select(
            "symbol",
            "day",
            "n_obs",
            _rne(
                F.col("swx").cast("double")
                / F.nullif(F.col("sw").cast("double"), F.lit(0.0)),
                "twap",
                6,
            ),
        )
    )


def _sql_ts_twap() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES},
rows_ AS (
  SELECT symbol, CAST(ts AS DATE) AS day, close,
         (coalesce(epoch_us(lead(ts) OVER w),
                   epoch_us((CAST(ts AS DATE) + INTERVAL 1 DAY)::TIMESTAMP))
          - epoch_us(ts)) / 1000000.0 AS wt_s
  FROM series
  WINDOW w AS (PARTITION BY symbol, CAST(ts AS DATE) ORDER BY ts ASC))
SELECT symbol, day, count(*) AS n_obs,
       {_sql_rne(
           'CAST(sum(CAST(' + snap('close * wt_s') + ' AS DECIMAL(18,6))) '
           'AS DOUBLE) / nullif(CAST(sum(CAST(' + snap('wt_s')
           + ' AS DECIMAL(18,6))) AS DOUBLE), 0.0)',
           'twap',
       )}
FROM rows_ GROUP BY 1, 2"""


def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per symbol — the canonical risk metric: the
    deepest peak-to-trough fall of the gap-filled close, as a fraction
    of the running peak. Two stacked windows on the ts family's single
    symbol exchange: a running max (rows unbounded preceding) and a
    per-symbol min aggregate of the per-row drawdown. The division
    happens per-row on identical doubles; only the final min is
    emitted (rounded on the shared 1e-6 grid), with the trough's
    time_idx via min_by for audit."""
    df = _filled(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = df.withColumn(
        "ddraw",
        (F.col("close") - F.max("close").over(w))
        / F.nullif(F.max("close").over(w), F.lit(0.0)),
    )
    # deterministic trough: EARLIEST time_idx achieving the per-symbol
    # minimum (equal drawdowns are common across ffilled gap runs, so a
    # bare min_by tie-breaks arbitrarily)
    mn = F.min("ddraw").over(Window.partitionBy("symbol"))
    return (
        dd.withColumn("__mn", mn)
        .filter(F.col("ddraw") == F.col("__mn"))
        .groupBy("symbol")
        .agg(
            _rne(F.min("ddraw"), "max_drawdown", 6),
            F.min("time_idx").alias("trough_time_idx"),
        )
    )


SQL_TS_DRAWDOWN = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
dd AS (
  SELECT symbol, time_idx,
         (close - max(close) OVER rm) / nullif(max(close) OVER rm, 0.0)
           AS ddraw
  FROM filled
  WINDOW rm AS (PARTITION BY symbol ORDER BY time_idx
                ROWS UNBOUNDED PRECEDING))
SELECT symbol, {_sql_rne('min(ddraw)', 'max_drawdown')},
       min(time_idx) AS trough_time_idx
FROM (SELECT *, min(ddraw) OVER (PARTITION BY symbol) AS mn FROM dd)
WHERE ddraw = mn
GROUP BY 1"""


def q_ts_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation per symbol — naive (last value),
    drift (first-to-last line), and seasonal-naive (last season
    repeated) forecasts over each symbol's 20% holdout tail, scored
    with MAE, sMAPE, and MASE (scaled by the train-set one-step naive
    MAE, Hyndman's convention; the reference's headline metric is
    forecast MAE — BASELINE.md). Everything rides the ts family's
    symbol exchange: the train scalars (n, first/last close, last
    season, in-sample naive MAE) reduce per symbol and join back to
    the test rows; per-row error terms snap to the 1e-6 grid and the
    per-(symbol, method) means sum in exact DECIMAL, so aggregation
    order cannot perturb the scores."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rows = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "prev", F.lag("close").over(w)
    )
    counts = rows.groupBy("symbol").agg(F.max("rn").alias("n_rows"))
    counts = counts.withColumn(
        "n_train",
        F.greatest(
            F.floor(F.col("n_rows") * F.lit(FC_TRAIN_FRAC)).cast("int"),
            F.lit(FC_SEASON + 1),
        ),
    )
    # two consumers (train reduce + test scoring): pin the tagged
    # frame once instead of replaying the gap-fill lineage per branch
    tagged = rows.join(counts, "symbol").localCheckpoint(eager=True)
    train = tagged.filter(F.col("rn") <= F.col("n_train"))
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    train_stats = train.groupBy("symbol").agg(
        F.max("n_train").alias("n_train"),
        F.min_by("close", "rn").alias("first_close"),
        F.max_by("close", "rn").alias("last_close"),
        F.sum(
            F.when(
                F.col("rn") > 1,
                snap(F.abs(F.col("close") - F.col("prev"))).cast(
                    "decimal(18,6)"
                ),
            )
        ).alias("sum_naive_err"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("rn") > F.col("n_train") - FC_SEASON,
                    F.struct("rn", "close"),
                )
            )
        ).alias("season_tail"),
    )
    train_stats = train_stats.select(
        "symbol",
        "n_train",
        "first_close",
        "last_close",
        (
            F.col("sum_naive_err").cast("double")
            / (F.col("n_train") - 1)
        ).alias("mase_scale"),
        F.col("season_tail.close").alias("season"),
    )
    test = (
        tagged.filter(F.col("rn") > F.col("n_train"))
        .select("symbol", "rn", "close")
        .join(train_stats, "symbol")
    )
    h = F.col("rn") - F.col("n_train")
    drift_slope = (F.col("last_close") - F.col("first_close")) / (
        F.col("n_train") - 1
    )
    fc = test.select(
        "symbol",
        "close",
        "mase_scale",
        F.col("last_close").alias("naive"),
        (F.col("last_close") + h * drift_slope).alias("drift"),
        F.element_at(
            "season", ((h - 1) % FC_SEASON + 1).cast("int")
        ).alias("seasonal"),
    )
    # one stack() pass instead of a 3-arm union that re-scored the fc
    # frame per method — identical per-row expressions on identical
    # yhat values, and the (symbol, method) aggregate is order-free
    # (DECIMAL sums), so the fold is bitwise-neutral
    stacked = fc.select(
        "symbol",
        "close",
        "mase_scale",
        F.expr(
            "stack(3, 'naive', naive, 'drift', drift,"
            " 'seasonal', seasonal) as (method, yhat)"
        ),
    )
    err = F.abs(F.col("yhat") - F.col("close"))
    denom = F.abs(F.col("yhat")) + F.abs(F.col("close"))
    union = stacked.select(
        "symbol",
        "method",
        snap(err).cast("decimal(18,6)").alias("abs_err"),
        F.when(denom > 0, snap(2 * err / denom))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
        .alias("sm"),
        "mase_scale",
    )
    agg = union.groupBy("symbol", "method").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum("abs_err").alias("sae"),
        F.sum("sm").alias("ssm"),
        F.max("mase_scale").alias("mase_scale"),
    )
    mae = F.col("sae").cast("double") / F.col("n_test")
    return agg.select(
        "symbol",
        "method",
        "n_test",
        _rne(mae, "mae", 6),
        _rne(F.col("ssm").cast("double") / F.col("n_test"), "smape", 6),
        _rne(mae / F.nullif(F.col("mase_scale"), F.lit(0.0)), "mase", 6),
    )


def _sql_ts_forecast_baselines() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, time_idx, close,
         row_number() OVER w AS rn, lag(close) OVER w AS prev
  FROM filled
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
counts AS (
  SELECT symbol,
         greatest(CAST(floor(max(rn) * {FC_TRAIN_FRAC}) AS INT),
                  {FC_SEASON + 1}) AS n_train
  FROM rows_ GROUP BY 1),
train AS (
  SELECT r.* , c.n_train FROM rows_ r JOIN counts c USING (symbol)
  WHERE rn <= n_train),
train_stats AS (
  SELECT symbol, max(n_train) AS n_train,
         arg_min(close, rn) AS first_close,
         arg_max(close, rn) AS last_close,
         CAST(sum(CASE WHEN rn > 1 THEN
             CAST({snap('abs(close - prev)')} AS DECIMAL(18,6)) END)
           AS DOUBLE) / (max(n_train) - 1) AS mase_scale,
         list(close ORDER BY rn)
           FILTER (rn > n_train - {FC_SEASON}) AS season
  FROM train GROUP BY 1),
test AS (
  SELECT r.symbol, r.close, r.rn - s.n_train AS h,
         s.mase_scale, s.last_close,
         s.last_close + (r.rn - s.n_train)
           * (s.last_close - s.first_close) / (s.n_train - 1) AS drift,
         s.season[CAST((r.rn - s.n_train - 1) % {FC_SEASON} + 1 AS INT)]
           AS seasonal
  FROM rows_ r
  JOIN counts c USING (symbol)
  JOIN train_stats s USING (symbol)
  WHERE r.rn > c.n_train),
long AS (
  SELECT symbol, 'naive' AS method, close, last_close AS fc, mase_scale
  FROM test
  UNION ALL
  SELECT symbol, 'drift', close, drift, mase_scale FROM test
  UNION ALL
  SELECT symbol, 'seasonal', close, seasonal, mase_scale FROM test),
terms AS (
  SELECT symbol, method, mase_scale,
         CAST({snap('abs(fc - close)')} AS DECIMAL(18,6)) AS abs_err,
         CAST(CASE WHEN abs(fc) + abs(close) > 0
              THEN {snap('2 * abs(fc - close) / (abs(fc) + abs(close))')}
              ELSE 0.0 END AS DECIMAL(18,6)) AS sm
  FROM long),
agg AS (
  SELECT symbol, method, count(*) AS n_test,
         CAST(sum(abs_err) AS DOUBLE) AS sae,
         CAST(sum(sm) AS DOUBLE) AS ssm,
         max(mase_scale) AS mase_scale
  FROM terms GROUP BY 1, 2)
SELECT symbol, method, n_test,
       {_sql_rne('sae / n_test', 'mae')},
       {_sql_rne('ssm / n_test', 'smape')},
       {_sql_rne('(sae / n_test) / nullif(mase_scale, 0.0)', 'mase')}
FROM agg"""


def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-bucket Pearson correlation of close vs volume per
    symbol (operators/rolling.py rolling_corr) on the gap-filled OHLCV
    grid — rides the ts family's single up-front symbol exchange like
    every other window operator. The five frame sums are sequential
    list folds (see rolling_corr's numeric contract), so the oracle
    reproduces them bitwise and only the final closed form needs the
    engine-safe 1e-6 rounding."""
    df = rolling_corr(_filled_ohlc(spark, sf_dir), "close", "volume", n=20)
    return df.select(
        "symbol", "time_idx", _rne(F.col("corr20"), "corr20", 6)
    )


def _sql_ts_rolling_corr() -> str:
    fold = "(a, b) -> a + b"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED_OHLC},
lists AS (
  SELECT symbol, time_idx,
         row_number() OVER w AS rn,
         list(close) OVER f20 AS xs,
         list(volume) OVER f20 AS ys,
         list(close * volume) OVER f20 AS xys,
         list(close * close) OVER f20 AS xxs,
         list(volume * volume) OVER f20 AS yys
  FROM filled
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx),
         f20 AS (PARTITION BY symbol ORDER BY time_idx
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
sums AS (
  -- sequential left folds; 0.0-seeded to mirror Spark's aggregate init
  SELECT symbol, time_idx, rn,
         list_reduce(list_prepend(0.0, xs), {fold}) AS sx,
         list_reduce(list_prepend(0.0, ys), {fold}) AS sy,
         list_reduce(list_prepend(0.0, xys), {fold}) AS sxy,
         list_reduce(list_prepend(0.0, xxs), {fold}) AS sxx,
         list_reduce(list_prepend(0.0, yys), {fold}) AS syy
  FROM lists
),
calc AS (
  SELECT symbol, time_idx, rn,
         20.0 * sxy - sx * sy AS cov,
         20.0 * sxx - sx * sx AS vx,
         20.0 * syy - sy * sy AS vy
  FROM sums
)
SELECT symbol, time_idx,
       CASE WHEN rn >= 20 AND vx > 1e-12 AND vy > 1e-12
            THEN {_sql_rne_expr('cov / sqrt(vx * vy)')} END AS corr20
FROM calc"""


def q_ts_symbol_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of 6h returns across the
    top-k most-liquid symbols — the portfolio-comovement query beside
    the per-symbol indicator battery. Scale design: the top-k cut (an
    aggregate + deterministic limit) broadcasts into the resampled
    series, so the all-pairs self-join is k-bounded per time bucket
    (k²/2 rows per bucket, never corpus²); returns snap to the 1e-6
    grid and the five pair moments accumulate in EXACT DECIMAL, so the
    per-pair aggregation is partitioning-independent and only the
    closed-form division runs in (identical-input) floating point."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    ret_raw = (
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    )
    rets = (
        r.join(F.broadcast(top), "symbol")
        .withColumn(
            "ret", F.floor(ret_raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        )
        .filter(F.col("ret").isNotNull())
        .select(
            "symbol", "time_idx", F.col("ret").cast("decimal(18,6)").alias("ret")
        )
    )
    a = rets.select(
        F.col("symbol").alias("sym_a"), "time_idx", F.col("ret").alias("x")
    )
    b = rets.select(
        F.col("symbol").alias("sym_b"), "time_idx", F.col("ret").alias("y")
    )
    agg = (
        a.join(b, "time_idx")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nn = F.col("n_obs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nn * sxy - sx * sy
    vx = nn * sxx - sx * sx
    vy = nn * syy - sy * sy
    corr = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select("sym_a", "sym_b", "n_obs", _rne(corr, "corr", 6))


def _sql_ts_symbol_corr_matrix() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
rets AS (
  SELECT symbol, time_idx,
         CAST(floor((close / nullif(lag(close) OVER (
                PARTITION BY symbol ORDER BY time_idx), 0.0) - 1)
              * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS ret
  FROM idx WHERE symbol IN (SELECT symbol FROM top)),
rets2 AS (SELECT * FROM rets WHERE ret IS NOT NULL),
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, count(*) AS n_obs,
         CAST(sum(a.ret) AS DOUBLE) AS sx,
         CAST(sum(b.ret) AS DOUBLE) AS sy,
         CAST(sum(a.ret * b.ret) AS DOUBLE) AS sxy,
         CAST(sum(a.ret * a.ret) AS DOUBLE) AS sxx,
         CAST(sum(b.ret * b.ret) AS DOUBLE) AS syy
  FROM rets2 a JOIN rets2 b
    ON a.time_idx = b.time_idx AND a.symbol < b.symbol
  GROUP BY 1, 2),
calc AS (
  SELECT sym_a, sym_b, n_obs,
         CAST(n_obs AS DOUBLE) * sxy - sx * sy AS cov,
         CAST(n_obs AS DOUBLE) * sxx - sx * sx AS vx,
         CAST(n_obs AS DOUBLE) * syy - sy * sy AS vy
  FROM agg)
SELECT sym_a, sym_b, n_obs,
       CASE WHEN vx > 0 AND vy > 0
            THEN {_sql_rne_expr('cov / sqrt(vx * vy)')} END AS corr
FROM calc"""


def q_ts_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by Yule-Walker per symbol over the 6h log returns,
    with the one-step-ahead forecast and residual variance — the
    classical linear baseline beside the Holt / Kalman / analogical
    forecasters. Determinism by construction: returns snap to the 1e-6
    grid, every moment (Σx, Σx², Σx·x_lag1, Σx·x_lag2 and the lag-
    range sums) accumulates as EXACT DECIMAL(38,0) integers — so the
    autocovariances come out of the computational formula
    γ_k = (P_k − m·A_k − m·B_k + (n−k)·m²)/n as identical doubles in
    both engines regardless of aggregation order — and the float tail
    (ρ, φ via the 2×2 Yule-Walker solve, forecast, σ²) is the same
    expression tree on identical inputs. One lag window + one
    map-side-combined groupBy; guards: n ≥ 5, γ₀ > 0 (constant series
    → null fit), 1 − ρ₁² ≠ 0."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    base = (
        df.select("symbol", "time_idx", lr.alias("lr"))
        .filter(F.col("lr").isNotNull())
        .select(
            "symbol",
            "time_idx",
            F.floor(F.col("lr") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    b = (
        base.withColumn("q1", F.lag("q", 1).over(w))
        .withColumn("q2", F.lag("q", 2).over(w))
        .withColumn(
            "rnd",
            F.row_number().over(
                Window.partitionBy("symbol").orderBy(
                    F.col("time_idx").desc()
                )
            ),
        )
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    agg = b.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(dec(F.col("q"))).alias("s"),
        F.sum(dec(F.col("q") * F.col("q"))).alias("p0"),
        F.sum(dec(F.col("q") * F.col("q1"))).alias("p1"),
        F.sum(F.when(F.col("q1").isNotNull(), dec(F.col("q")))).alias("a1"),
        F.sum(dec(F.col("q1"))).alias("b1"),
        F.sum(dec(F.col("q") * F.col("q2"))).alias("p2"),
        F.sum(F.when(F.col("q2").isNotNull(), dec(F.col("q")))).alias("a2"),
        F.sum(dec(F.col("q2"))).alias("b2"),
        F.max(F.when(F.col("rnd") == 1, F.col("q"))).alias("xl1"),
        F.max(F.when(F.col("rnd") == 2, F.col("q"))).alias("xl2"),
    )
    n = F.col("n_obs").cast("double")
    m = F.col("s").cast("double") / n

    def gam(p, a, bb, k):
        return (
            F.col(p).cast("double")
            - m * F.col(a).cast("double")
            - m * F.col(bb).cast("double")
            + (n - F.lit(float(k))) * m * m
        ) / n

    g0, g1, g2 = gam("p0", "s", "s", 0), gam("p1", "a1", "b1", 1), gam(
        "p2", "a2", "b2", 2
    )
    fit = agg.select(
        "symbol", "n_obs", "xl1", "xl2",
        m.alias("m"), g0.alias("g0"), g1.alias("g1"), g2.alias("g2"),
    ).select(
        "symbol", "n_obs", "m", "g0", "xl1", "xl2",
        F.when(
            (F.col("n_obs") >= 5) & (F.col("g0") > 0),
            F.col("g1") / F.col("g0"),
        ).alias("rho1"),
        F.when(
            (F.col("n_obs") >= 5) & (F.col("g0") > 0),
            F.col("g2") / F.col("g0"),
        ).alias("rho2"),
    )
    den = 1.0 - F.col("rho1") * F.col("rho1")
    fit = fit.select(
        "symbol", "n_obs", "m", "g0", "xl1", "xl2", "rho1", "rho2",
        F.when(den != 0.0, F.col("rho1") * (1.0 - F.col("rho2")) / den)
        .alias("phi1"),
        F.when(den != 0.0, (F.col("rho2") - F.col("rho1") * F.col("rho1")) / den)
        .alias("phi2"),
    )
    next_hat = (
        F.col("m")
        + F.col("phi1") * (F.col("xl1").cast("double") - F.col("m"))
        + F.col("phi2") * (F.col("xl2").cast("double") - F.col("m"))
    ) / 1e6
    sigma2 = (
        F.col("g0")
        * (
            1.0
            - F.col("phi1") * F.col("rho1")
            - F.col("phi2") * F.col("rho2")
        )
        / 1e12
    )
    return fit.select(
        "symbol",
        "n_obs",
        _rne(F.col("phi1"), "phi1", 6),
        _rne(F.col("phi2"), "phi2", 6),
        _rne(next_hat, "next_ret_hat", 8),
        _rne(sigma2, "sigma2_resid", 10),
    )


def _sql_ts_ar2_forecast() -> str:
    gam = (
        lambda p, a, bb, k: f"(({p})::DOUBLE - m * ({a})::DOUBLE"
        f" - m * ({bb})::DOUBLE + (n_d - {float(k)}) * m * m) / n_d"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
rets AS (
  SELECT symbol, time_idx,
         floor(ln(close / prev) * 1000000.0 + 0.5)::BIGINT AS q
  FROM lagged WHERE close > 0 AND prev > 0),
lags AS (
  SELECT symbol, q,
         lag(q, 1) OVER wo AS q1, lag(q, 2) OVER wo AS q2,
         row_number() OVER (PARTITION BY symbol
                            ORDER BY time_idx DESC) AS rnd
  FROM rets
  WINDOW wo AS (PARTITION BY symbol ORDER BY time_idx)),
agg AS (
  SELECT symbol, count(*) AS n_obs,
         sum(q::DECIMAL(38,0)) AS s,
         sum((q * q)::DECIMAL(38,0)) AS p0,
         sum((q * q1)::DECIMAL(38,0)) AS p1,
         sum(CASE WHEN q1 IS NOT NULL THEN q::DECIMAL(38,0) END) AS a1,
         sum(q1::DECIMAL(38,0)) AS b1,
         sum((q * q2)::DECIMAL(38,0)) AS p2,
         sum(CASE WHEN q2 IS NOT NULL THEN q::DECIMAL(38,0) END) AS a2,
         sum(q2::DECIMAL(38,0)) AS b2,
         max(CASE WHEN rnd = 1 THEN q END) AS xl1,
         max(CASE WHEN rnd = 2 THEN q END) AS xl2
  FROM lags GROUP BY symbol),
gams AS (
  SELECT symbol, n_obs, xl1, xl2, m, g0,
         CASE WHEN n_obs >= 5 AND g0 > 0 THEN g1 / g0 END AS rho1,
         CASE WHEN n_obs >= 5 AND g0 > 0 THEN g2 / g0 END AS rho2
  FROM (
    SELECT *, {gam('p0', 's', 's', 0)} AS g0,
           {gam('p1', 'a1', 'b1', 1)} AS g1,
           {gam('p2', 'a2', 'b2', 2)} AS g2
    FROM (SELECT *, n_obs::DOUBLE AS n_d,
                 s::DOUBLE / n_obs::DOUBLE AS m FROM agg))),
phis AS (
  SELECT symbol, n_obs, m, g0, xl1, xl2, rho1, rho2,
         CASE WHEN 1.0 - rho1 * rho1 <> 0.0
              THEN rho1 * (1.0 - rho2) / (1.0 - rho1 * rho1) END AS phi1,
         CASE WHEN 1.0 - rho1 * rho1 <> 0.0
              THEN (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) END AS phi2
  FROM gams)
SELECT symbol, n_obs,
       {_sql_rne('phi1', 'phi1', 6)},
       {_sql_rne('phi2', 'phi2', 6)},
       {_sql_rne(
           '(m + phi1 * (xl1::DOUBLE - m) + phi2 * (xl2::DOUBLE - m))'
           ' / 1000000.0', 'next_ret_hat', 8)},
       {_sql_rne(
           'g0 * (1.0 - phi1 * rho1 - phi2 * rho2) / 1000000000000.0',
           'sigma2_resid', 10)}
FROM phis"""


def q_ts_cycle_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic-energy scan per symbol: the DFT-bin amplitude of the
    daily / weekly / monthly cycle (periods 4 / 28 / 120 at 6h bars)
    in the log returns, plus its ratio to the series RMS — the
    seasonality-detection readout (a calendar-cycle periodogram
    restricted to the named periods). Determinism: returns snap to
    the 1e-6 grid; the cos/sin table is pasted literals (one python
    evaluation — neither engine's trig is trusted); each q·cos term
    snaps to a 1e-3 grid and sums in exact DECIMAL, so the (a, b)
    accumulators are aggregation-order-free; Σq² is an exact integer
    sum. One lag window + a 3× period explode joined to the broadcast
    152-row angle table, collapsed map-side to (symbol, period)."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    base = (
        df.select("symbol", "time_idx", lr.alias("lr"))
        .filter(F.col("lr").isNotNull())
        .select(
            "symbol",
            "time_idx",
            F.floor(F.col("lr") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    angles = spark.createDataFrame(
        _cycle_angle_rows(), "p int, r int, c double, s double"
    )
    e = (
        base.select(
            "symbol",
            "time_idx",
            "q",
            F.explode(
                F.array(*[F.lit(p) for p in CYCLE_PERIODS])
            ).alias("p"),
        )
        .withColumn("r", (F.col("time_idx") % F.col("p")).cast("int"))
        .join(F.broadcast(angles), ["p", "r"])
    )

    def snap3(col):
        return F.floor(col * 1e3 + F.lit(0.5)).cast("decimal(38,0)")

    agg = e.groupBy("symbol", "p").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(snap3(F.col("q") * F.col("c"))).alias("sa"),
        F.sum(snap3(F.col("q") * F.col("s"))).alias("sb"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("sq2"),
    )
    nn = F.col("n_obs").cast("double")
    a = F.col("sa").cast("double") / 1e3
    b = F.col("sb").cast("double") / 1e3
    amp = 2.0 * F.sqrt(a * a + b * b) / nn / 1e6
    rms = F.sqrt(F.col("sq2").cast("double") / nn) / 1e6
    return agg.select(
        "symbol",
        F.col("p").cast("long").alias("period_bars"),
        "n_obs",
        _rne(amp, "cycle_amp", 10),
        _rne(F.when(rms > 0, amp / rms), "cycle_ratio", 6),
    )


def _sql_ts_cycle_power() -> str:
    vals = ", ".join(
        f"({p}, {r}, {c!r}, {s!r})" for p, r, c, s in _cycle_angle_rows()
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
rets AS (
  SELECT symbol, time_idx,
         floor(ln(close / prev) * 1000000.0 + 0.5)::BIGINT AS q
  FROM lagged WHERE close > 0 AND prev > 0),
ang(p, r, c, s) AS (VALUES {vals}),
e AS (
  SELECT t.symbol, t.q, a.p, a.c, a.s
  FROM rets t JOIN ang a ON a.r = (t.time_idx % a.p)),
agg AS (
  SELECT symbol, p, count(*) AS n_obs,
         sum(floor(q * c * 1000.0 + 0.5)::DECIMAL(38,0)) AS sa,
         sum(floor(q * s * 1000.0 + 0.5)::DECIMAL(38,0)) AS sb,
         sum((q * q)::DECIMAL(38,0)) AS sq2
  FROM e GROUP BY 1, 2)
SELECT symbol, p::BIGINT AS period_bars, n_obs,
       {_sql_rne(
           '2.0 * sqrt((sa::DOUBLE / 1000.0) * (sa::DOUBLE / 1000.0)'
           ' + (sb::DOUBLE / 1000.0) * (sb::DOUBLE / 1000.0))'
           ' / n_obs::DOUBLE / 1000000.0', 'cycle_amp', 10)},
       {_sql_rne(
           'CASE WHEN sqrt(sq2::DOUBLE / n_obs::DOUBLE) / 1000000.0 > 0'
           ' THEN (2.0 * sqrt((sa::DOUBLE / 1000.0) * (sa::DOUBLE / 1000.0)'
           ' + (sb::DOUBLE / 1000.0) * (sb::DOUBLE / 1000.0))'
           ' / n_obs::DOUBLE / 1000000.0)'
           ' / (sqrt(sq2::DOUBLE / n_obs::DOUBLE) / 1000000.0) END',
           'cycle_ratio', 6)}
FROM agg"""


def q_ts_fracdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional differentiation of log price (d=0.4, 20-lag
    truncation) — the quant feature-engineering classic: stationary
    like a return series but retaining long memory the integer diff
    destroys. A fixed 20-term linear combination of lags — no
    cross-row float accumulation at all, so parity needs nothing but
    identical weight literals and the same left-associated sum chain;
    one lag window riding the ts family's symbol exchange. Emitted
    from the 20th bar (every lag defined); ln guarded on positive
    closes."""
    k = 20
    ws = _fracdiff_weights(0.4, k)
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    x = F.when(F.col("close") > 0, F.log("close"))
    b = df.select(
        "symbol", "time_idx", x.alias("x"),
        F.row_number().over(w).alias("rn"),
    )
    acc = F.lit(ws[0]) * F.col("x")
    for j in range(1, k):
        acc = acc + F.lit(ws[j]) * F.lag("x", j).over(w)
    return (
        b.withColumn("fd", acc)
        .filter(F.col("rn") >= k)
        .select("symbol", "time_idx", _rne(F.col("fd"), "fracdiff", 8))
    )


def _sql_ts_fracdiff() -> str:
    ws = _fracdiff_weights(0.4, 20)
    terms = " + ".join(
        f"{w!r} * lag(x, {j}) OVER wo" if j else f"{ws[0]!r} * x"
        for j, w in enumerate(ws)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
xs AS (
  SELECT symbol, time_idx,
         CASE WHEN close > 0 THEN ln(close) END AS x
  FROM filled),
fd AS (
  SELECT symbol, time_idx,
         row_number() OVER wo AS rn,
         {terms} AS fdv
  FROM xs
  WINDOW wo AS (PARTITION BY symbol ORDER BY time_idx))
SELECT symbol, time_idx, {_sql_rne('fdv', 'fracdiff', 8)}
FROM fd WHERE rn >= 20"""


def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (α=0.2, β=0.1, γ=0.3, period=4 — the
    daily cycle at 6h bars) per symbol over close, emitting the full
    fitted series: level, trend, this bar's seasonal, and the
    one-step-ahead in-sample forecast. Completes the classical
    forecasting ladder (naive/SES → Holt → Holt-Winters → AR(2) →
    Kalman → analogical/VAE). Three coupled recursions with a lag-p
    seasonal ring ride ONE Arrow pass per series
    (operators/rolling.py ``holt_winters_arrow``); the oracle is a
    recursive CTE stepping each symbol one bar per iteration with the
    p+2 states as scalar columns, operand order identical."""
    from ..operators.rolling import holt_winters_arrow

    df = holt_winters_arrow(_filled(spark, sf_dir))
    return df.select(
        "symbol", "time_idx",
        _r6("hw_level"), _r6("hw_trend"),
        _r6("hw_seasonal"), _r6("hw_fitted"),
    )


def _sql_ts_holt_winters() -> str:
    a, bt, g = 0.2, 0.1, 0.3
    sold = (
        "(CASE (r.rn - 1) % 4 WHEN 0 THEN p.s0 WHEN 1 THEN p.s1"
        " WHEN 2 THEN p.s2 ELSE p.s3 END)"
    )
    nl = f"({a} * (r.close - {sold}) + (1.0 - {a}) * (p.l + p.b))"
    snew = f"({g} * (r.close - {nl}) + (1.0 - {g}) * {sold})"
    body = f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
pre AS (
  SELECT symbol, time_idx, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled)
SELECT symbol, time_idx, l AS hw_level, b AS hw_trend,
       seas AS hw_seasonal, fitted AS hw_fitted
FROM (
  WITH RECURSIVE hw AS (
    SELECT symbol, time_idx, rn, close AS l, 0.0::DOUBLE AS b,
           0.0::DOUBLE AS s0, 0.0::DOUBLE AS s1,
           0.0::DOUBLE AS s2, 0.0::DOUBLE AS s3,
           0.0::DOUBLE AS seas, NULL::DOUBLE AS fitted
    FROM pre WHERE rn = 1
    UNION ALL
    SELECT r.symbol, r.time_idx, r.rn,
           {nl} AS l,
           ({bt} * ({nl} - p.l) + (1.0 - {bt}) * p.b) AS b,
           CASE WHEN (r.rn - 1) % 4 = 0 THEN {snew} ELSE p.s0 END AS s0,
           CASE WHEN (r.rn - 1) % 4 = 1 THEN {snew} ELSE p.s1 END AS s1,
           CASE WHEN (r.rn - 1) % 4 = 2 THEN {snew} ELSE p.s2 END AS s2,
           CASE WHEN (r.rn - 1) % 4 = 3 THEN {snew} ELSE p.s3 END AS s3,
           {snew} AS seas,
           (p.l + p.b + {sold}) AS fitted
    FROM hw p JOIN pre r ON r.symbol = p.symbol AND r.rn = p.rn + 1
  )
  SELECT * FROM hw
) h"""
    return _sql_r6_wrap(
        body,
        ["symbol", "time_idx"],
        ["hw_level", "hw_trend", "hw_seasonal", "hw_fitted"],
    )


def q_ts_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift changepoint per symbol (binary segmentation,
    depth 1 — the CUSUM-style two-sample scan): the split t* maximizing
    |mean(r[1..t]) − mean(r[t+1..n])| · sqrt(t·(n−t)/n) over the 6h log
    returns, with the segment means. Determinism: returns snap to the
    1e-6 grid and the per-candidate statistic is a float formula over
    EXACT integer prefix sums (integer addition is associative — the
    running cumsum is exact under any plan), so every candidate's
    statistic is bit-identical in both engines and the argmax
    (tie-broken by earlier split) cannot flip. Scale shape: one
    symbol-partitioned cumsum window + one argmax window — both ride
    the ts family's single symbol exchange; no cross-row float
    accumulation anywhere. Segments shorter than 5 are not considered
    (min-segment rule); symbols with n < 10 emit nothing."""
    minseg = 5
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    base = (
        df.select("symbol", "time_idx", lr.alias("lr"))
        .filter(F.col("lr").isNotNull())
        .select(
            "symbol",
            "time_idx",
            F.floor(F.col("lr") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    b = base.select(
        "symbol",
        "time_idx",
        F.row_number().over(w).alias("t"),
        F.sum("q").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pfx"),
        F.count(F.lit(1))
        .over(Window.partitionBy("symbol"))
        .alias("n"),
        F.sum("q").over(Window.partitionBy("symbol")).alias("s"),
    ).filter(
        (F.col("t") >= minseg) & (F.col("t") <= F.col("n") - minseg)
    )
    n1 = F.col("t").cast("double")
    n2 = (F.col("n") - F.col("t")).cast("double")
    nn = F.col("n").cast("double")
    m1 = F.col("pfx").cast("double") / n1
    m2 = (F.col("s") - F.col("pfx")).cast("double") / n2
    stat = F.abs(m1 - m2) * F.sqrt(n1 * n2 / nn)
    cand = b.select(
        "symbol", "time_idx", "t", "n",
        m1.alias("m1"), m2.alias("m2"), stat.alias("stat"),
    )
    wr = Window.partitionBy("symbol").orderBy(
        F.col("stat").desc(), F.col("t").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "symbol",
            F.col("n").alias("n_obs"),
            F.col("t").cast("long").alias("t_star"),
            F.col("time_idx").alias("split_time_idx"),
            _rne(F.col("stat") / 1e6, "shift_stat", 8),
            _rne(F.col("m1") / 1e6, "mean_before", 8),
            _rne(F.col("m2") / 1e6, "mean_after", 8),
        )
    )


def _sql_ts_changepoint_meanshift() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
rets AS (
  SELECT symbol, time_idx,
         floor(ln(close / prev) * 1000000.0 + 0.5)::BIGINT AS q
  FROM lagged WHERE close > 0 AND prev > 0),
cands AS (
  SELECT symbol, time_idx,
         row_number() OVER wo AS t,
         sum(q) OVER (PARTITION BY symbol ORDER BY time_idx
                      ROWS UNBOUNDED PRECEDING) AS pfx,
         count(*) OVER (PARTITION BY symbol) AS n,
         sum(q) OVER (PARTITION BY symbol) AS s
  FROM rets
  WINDOW wo AS (PARTITION BY symbol ORDER BY time_idx)),
stats AS (
  SELECT symbol, time_idx, t, n,
         pfx::DOUBLE / t::DOUBLE AS m1,
         (s - pfx)::DOUBLE / (n - t)::DOUBLE AS m2,
         abs(pfx::DOUBLE / t::DOUBLE
             - (s - pfx)::DOUBLE / (n - t)::DOUBLE)
           * sqrt(t::DOUBLE * (n - t)::DOUBLE / n::DOUBLE) AS stat
  FROM cands WHERE t >= 5 AND t <= n - 5),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY symbol
                               ORDER BY stat DESC, t ASC) AS rk
  FROM stats)
SELECT symbol, n AS n_obs, t::BIGINT AS t_star,
       time_idx AS split_time_idx,
       {_sql_rne('stat / 1000000.0', 'shift_stat', 8)},
       {_sql_rne('m1 / 1000000.0', 'mean_before', 8)},
       {_sql_rne('m2 / 1000000.0', 'mean_after', 8)}
FROM ranked WHERE rk = 1"""


def q_ts_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility per symbol — sqrt of the sum of
    squared log returns within each day, the standard high-frequency
    vol estimator (RV converges to integrated variance as the grid
    refines). Rides the ts family's single symbol exchange: one lag
    window for the log return, then a (symbol, day) aggregate whose
    squared terms snap to the 1e-12 grid and sum in exact
    DECIMAL(30,12) — summation order cannot perturb the result; only
    the final sqrt runs in float (rounded on the shared grid). A log
    return is defined only when BOTH closes are positive (zero prices
    occur in the raw feed; under ANSI mode an unguarded division
    throws) — undefined returns are excluded from count and sum
    identically in both engines."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    )
    r2 = (
        F.floor(lr * lr * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    day = F.floor(F.col("time_idx") / RV_BUCKETS_PER_DAY).cast("long")
    return (
        df.select("symbol", day.alias("day"), r2.alias("r2"))
        .filter(F.col("r2").isNotNull())
        .groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rets"),
            _rne(F.sqrt(F.sum("r2").cast("double")), "rv", 8),
        )
    )


def _sql_ts_realized_vol() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
lr AS (
  SELECT symbol,
         CAST(floor(time_idx / {RV_BUCKETS_PER_DAY}) AS BIGINT) AS day,
         CAST(floor(pow(CASE WHEN close > 0 AND prev > 0
                             THEN ln(close / prev) END, 2)
                * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(30,12)) AS r2
  FROM lagged)
SELECT symbol, day, count(*) AS n_rets,
       {_sql_rne('sqrt(CAST(sum(r2) AS DOUBLE))', 'rv', 8)}
FROM lr WHERE r2 IS NOT NULL GROUP BY 1, 2"""


def q_ts_ewma_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility per symbol: the recursion
    v_t = λ·v_{t−1} + (1−λ)·r²_t over squared log returns, σ_t = √v_t
    — the industry-standard decayed vol estimator beside the
    window-sum realized vol. The squared return snaps to the 1e-12
    grid BEFORE the recursion in both engines, so the Arrow-pass
    recursion (operators/rolling.py ewm_smooth — the W4 EMA machinery
    reused on r²) and the DuckDB recursive CTE consume identical
    inputs and reproduce v bitwise; only the final √ rounds. Rides the
    ts family's single symbol exchange; the first grid row (no lagged
    close) emits no vol row, matching the CTE seed at rn=2. A return
    with a non-positive close on either side (zero prices occur in
    the raw feed; ANSI division would throw) contributes r² = 0 — a
    flat tick — so the recursion stays TOTAL after rn=1 and the CTE
    chain never hits a state-killing NULL."""
    from ..operators.rolling import ewm_smooth

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    ).otherwise(
        F.when(prev.isNotNull(), F.lit(0.0))  # rn=1 stays NULL
    )
    base = df.withColumn(
        "r2", F.floor(lr * lr * 1e12 + F.lit(0.5)) / 1e12
    )
    sm = ewm_smooth(base, {"v": ("r2", 1.0 - EWMA_VOL_LAMBDA)})
    return sm.filter(F.col("v").isNotNull()).select(
        "symbol", "time_idx", _rne(F.sqrt(F.col("v")), "ewma_vol", 8)
    )


def _sql_ts_ewma_vol() -> str:
    a = 1.0 - EWMA_VOL_LAMBDA
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
rr AS (
  SELECT symbol, time_idx, rn,
         floor(pow(CASE WHEN close > 0 AND prev > 0
                        THEN ln(close / prev) ELSE 0.0 END, 2)
               * 1000000000000.0 + 0.5) / 1000000000000.0 AS r2
  FROM lagged),
rec(symbol, rn, time_idx, v) AS (
  SELECT symbol, rn, time_idx, r2 FROM rr WHERE rn = 2
  UNION ALL
  SELECT r.symbol, r.rn, r.time_idx,
         (1.0 - {a}) * rec.v + {a} * r.r2
  FROM rec JOIN rr r ON r.symbol = rec.symbol AND r.rn = rec.rn + 1)
SELECT symbol, time_idx, {_sql_rne('sqrt(v)', 'ewma_vol', 8)}
FROM rec"""


def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per symbol via classical rescaled-range (R/S)
    analysis over dyadic block sizes {8,16,32,64}: H ≈ 0.5 for a
    random walk, > 0.5 for trend persistence, < 0.5 for mean
    reversion — the long-memory diagnostic beside the up/down runs
    test and Ljung-Box. Per (symbol, size): full blocks of close
    DELTAS, per-block two-pass mean/σ (grid-snapped terms in exact
    DECIMAL — no engine stddev formula is load-bearing), range of the
    ordered cumulative deviation (a deterministic left-to-right
    running sum in both engines), mean R/S per size, then the
    4-point log2-log2 least-squares slope. One symbol exchange per
    size, unioned; blocks are row-number-derived so the frame never
    sorts globally."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    dx = df.select(
        "symbol",
        "time_idx",
        snap(F.col("close") - F.lag("close", 1).over(w)).alias("x"),
    ).filter(F.col("x").isNotNull())
    # materialize the delta frame once: each of the 4 block sizes
    # replays the resample→gap-fill→lag lineage otherwise
    dx = dx.withColumn("rn", F.row_number().over(w) - 1).localCheckpoint(
        eager=True
    )
    # all four block sizes ride ONE grouped chain keyed (symbol, n,
    # blk) — the shape the oracle already uses — instead of four
    # unrolled per-size subplans (4x the shuffle stages for 1/4-sized
    # groups each; per-group math is unchanged, so every double is
    # identical)
    blk = dx.select(
        "symbol",
        "time_idx",
        "x",
        F.explode(
            F.array(*[F.lit(int(n)) for n in HURST_SIZES])
        ).alias("n"),
        "rn",
    ).select(
        "symbol",
        "time_idx",
        "x",
        "n",
        F.floor(F.col("rn") / F.col("n")).cast("long").alias("blk"),
    )
    nd = F.col("n").cast("double")
    stats = (
        blk.groupBy("symbol", "n", "blk")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("x").cast("decimal(18,6)")).alias("sx"),
        )
        .filter(F.col("cnt") == F.col("n"))
        .select(
            "symbol",
            "n",
            "blk",
            (F.col("sx").cast("double") / nd).alias("mu"),
        )
    )
    j = blk.join(stats, ["symbol", "n", "blk"])
    wcum = (
        Window.partitionBy("symbol", "n", "blk")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = j.select(
        "symbol",
        "n",
        "blk",
        (F.col("x") - F.col("mu")).alias("d"),
        F.sum(F.col("x") - F.col("mu")).over(wcum).alias("z"),
    )
    rs = (
        dev.groupBy("symbol", "n", "blk")
        .agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sqrt(
                F.sum(
                    (
                        F.floor(
                            F.col("d") * F.col("d") * 1e12 + F.lit(0.5)
                        )
                        / 1e12
                    ).cast("decimal(30,12)")
                ).cast("double")
                / F.col("n").cast("double")
            ).alias("s"),
        )
        .filter(F.col("s") > 0)
        .select(
            "symbol", "n", snap(F.col("r") / F.col("s")).alias("rs")
        )
    )
    allsz = rs.groupBy("symbol", "n").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        (
            F.sum(F.col("rs").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_rs"),
    )
    pts = allsz.filter(F.col("mean_rs") > 0).select(
        "symbol",
        snap(F.log2(F.col("n").cast("double"))).alias("lx"),
        snap(F.log2("mean_rs")).alias("ly"),
    )
    reg = pts.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("lx").cast("decimal(18,6)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(18,6)")).alias("sy"),
        F.sum(
            (F.col("lx") * F.col("ly")).cast("decimal(28,12)")
        ).alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(28,12)")).alias(
            "sxx"
        ),
    )
    k = F.col("k").cast("double")
    num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / k
    den = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / k
    return reg.filter(F.col("k") >= 3).select(
        "symbol", "k", _rne(num / den, "hurst", 6)
    )


def _sql_ts_hurst() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    arms = "\nUNION ALL\n".join(
        f"SELECT symbol, time_idx, x, {n} AS n, CAST(floor(rn / {n}) AS BIGINT) AS blk FROM dx"
        for n in HURST_SIZES
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
dx0 AS (
  SELECT symbol, time_idx,
         {snap('close - lag(close) OVER (PARTITION BY symbol ORDER BY time_idx)')}
           AS x
  FROM filled),
dx AS (
  SELECT symbol, time_idx, x,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) - 1
           AS rn
  FROM dx0 WHERE x IS NOT NULL),
blocks AS ({arms}),
stats AS (
  SELECT symbol, n, blk, count(*) AS cnt,
         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / n AS mu
  FROM blocks GROUP BY 1, 2, 3),
j AS (
  SELECT b.symbol, b.n, b.blk, b.time_idx, b.x - s.mu AS d,
         sum(b.x - s.mu) OVER (PARTITION BY b.symbol, b.n, b.blk
           ORDER BY b.time_idx ROWS UNBOUNDED PRECEDING) AS z
  FROM blocks b JOIN stats s
    ON s.symbol = b.symbol AND s.n = b.n AND s.blk = b.blk
  WHERE s.cnt = s.n),
rs AS (
  SELECT symbol, n, blk,
         {snap(
             '(max(z) - min(z)) / sqrt(CAST(sum(CAST('
             'floor(d * d * 1000000000000.0 + 0.5) / 1000000000000.0'
             ' AS DECIMAL(30,12))) AS DOUBLE) / n)'
         )} AS rs
  FROM j GROUP BY 1, 2, 3
  HAVING sqrt(CAST(sum(CAST(floor(d * d * 1000000000000.0 + 0.5)
    / 1000000000000.0 AS DECIMAL(30,12))) AS DOUBLE) / n) > 0),
msz AS (
  SELECT symbol, n, count(*) AS n_blocks,
         CAST(sum(CAST(rs AS DECIMAL(18,6))) AS DOUBLE) / count(*)
           AS mean_rs
  FROM rs GROUP BY 1, 2),
pts AS (
  SELECT symbol, {snap('log2(CAST(n AS DOUBLE))')} AS lx,
         {snap('log2(mean_rs)')} AS ly
  FROM msz WHERE mean_rs > 0),
reg AS (
  SELECT symbol, count(*) AS k,
         CAST(sum(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(lx * ly AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(lx * lx AS DECIMAL(28,12))) AS DOUBLE) AS sxx
  FROM pts GROUP BY 1)
SELECT symbol, k,
       {_sql_rne(
           '(sxy - sx * sy / CAST(k AS DOUBLE))'
           ' / (sxx - sx * sx / CAST(k AS DOUBLE))', 'hurst')}
FROM reg WHERE k >= 3"""


def q_ts_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation with pinball loss: the train
    split's exact rank-picked quantiles (type-7-lower, the engine's
    standard explicit pick) serve as constant q-quantile forecasts
    for the holdout, scored with
    L_q = mean(max(q·(y−ŷ), (q−1)·(y−ŷ))) — the metric that makes
    quantile forecasts comparable (and the reference's MAE is exactly
    2·L_{0.5}). Per-term losses snap to the 1e-6 grid and sum in
    exact DECIMAL; the split mirrors the Holt/baselines 80% head."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rows = df.withColumn("rn", F.row_number().over(w))
    counts = rows.groupBy("symbol").agg(
        F.floor(F.max("rn") * F.lit(FC_TRAIN_FRAC))
        .cast("int")
        .alias("n_train")
    )
    tagged = rows.join(counts, "symbol")
    train = tagged.filter(F.col("rn") <= F.col("n_train"))
    wv = Window.partitionBy("symbol").orderBy(
        F.col("close").asc(), F.col("time_idx").asc()
    )
    ranked = train.select(
        "symbol",
        "close",
        F.row_number().over(wv).alias("vrn"),
        F.col("n_train"),
    )
    qs = None
    for q in PINBALL_QS:
        pick = F.floor((F.col("n_train") - 1) * F.lit(q)).cast(
            "int"
        ) + F.lit(1)
        part = ranked.filter(F.col("vrn") == pick).select(
            "symbol",
            F.lit(q).alias("q"),
            F.col("close").alias("qhat"),
        )
        qs = part if qs is None else qs.unionByName(part)
    test = tagged.filter(F.col("rn") > F.col("n_train")).select(
        "symbol", "close"
    )
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    e = F.col("close") - F.col("qhat")
    loss = F.greatest(F.col("q") * e, (F.col("q") - 1) * e)
    scored = test.join(qs, "symbol").select(
        "symbol", "q", "qhat", snap(loss).cast("decimal(18,6)").alias("l")
    )
    return scored.groupBy("symbol", "q").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.max("qhat").alias("qhat"),
        _rne(
            F.sum("l").cast("double") / F.count(F.lit(1)), "pinball", 6
        ),
    )


def _sql_ts_pinball() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    qarms = "\nUNION ALL\n".join(
        f"""SELECT symbol, CAST({q} AS DOUBLE) AS q, close AS qhat FROM ranked
  WHERE vrn = CAST(floor((n_train - 1) * {q}) AS INT) + 1"""
        for q in PINBALL_QS
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, time_idx, close, row_number() OVER (
    PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
counts AS (
  SELECT symbol, CAST(floor(max(rn) * {FC_TRAIN_FRAC}) AS INT)
           AS n_train
  FROM rows_ GROUP BY 1),
ranked AS (
  SELECT r.symbol, r.close, c.n_train,
         row_number() OVER (PARTITION BY r.symbol
           ORDER BY r.close ASC, r.time_idx ASC) AS vrn
  FROM rows_ r JOIN counts c USING (symbol)
  WHERE r.rn <= c.n_train),
qs AS ({qarms}),
test AS (
  SELECT r.symbol, r.close FROM rows_ r JOIN counts c USING (symbol)
  WHERE r.rn > c.n_train),
scored AS (
  SELECT t.symbol, q.q, q.qhat,
         CAST({snap(
             'greatest(q.q * (t.close - q.qhat),'
             ' (q.q - 1) * (t.close - q.qhat))'
         )} AS DECIMAL(18,6)) AS l
  FROM test t JOIN qs q USING (symbol))
SELECT symbol, q, count(*) AS n_test, max(qhat) AS qhat,
       {_sql_rne('CAST(sum(l) AS DOUBLE) / count(*)', 'pinball')}
FROM scored GROUP BY 1, 2"""


def q_ts_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest harness — the evaluation scaffolding
    every forecaster in the registry should be judged by (a single
    80/20 split is ONE sample; rolling folds measure stability):
    ``BT_FOLDS`` expanding-window folds per symbol, each training on
    the first 60% + f·10% of the grid and scoring the naive
    last-value forecast on the next 10%, MAE per (symbol, fold) in
    grid-snapped exact DECIMAL. All boundaries are integer rank
    arithmetic (floor of fractions of n) — no date math, no
    engine-specific rounding. One symbol exchange; the fold dimension
    unions three rank-window filters of the SAME ranked frame, so the
    plan reuses one sort."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rows = df.withColumn("rn", F.row_number().over(w))
    n = rows.groupBy("symbol").agg(F.max("rn").alias("n"))
    # six consumers (anchor + test per fold): pin the ranked frame
    # once instead of replaying the resample/gap-fill lineage per arm
    rows = rows.join(n, "symbol").localCheckpoint(eager=True)
    grid = F.lit(1e6)
    snap = lambda c: F.floor(c * grid + F.lit(0.5)) / grid  # noqa: E731
    out = None
    for f in range(BT_FOLDS):
        train_end = (
            F.floor(F.col("n") * BT_BASE_FRAC)
            + F.lit(f) * F.floor(F.col("n") * BT_STEP_FRAC)
        ).cast("int")
        h = F.floor(F.col("n") * BT_STEP_FRAC).cast("int")
        anchor = rows.filter(F.col("rn") == train_end).select(
            "symbol",
            F.col("close").alias("yhat"),
            F.col("rn").alias("n_train"),
        )
        test = rows.filter(
            (F.col("rn") > train_end) & (F.col("rn") <= train_end + h)
        ).select("symbol", "close")
        fold = (
            test.join(anchor, "symbol")
            .groupBy("symbol")
            .agg(
                F.max("n_train").alias("n_train"),
                F.count(F.lit(1)).alias("n_test"),
                F.sum(
                    snap(F.abs(F.col("close") - F.col("yhat"))).cast(
                        "decimal(18,6)"
                    )
                ).alias("sae"),
            )
            .select(
                "symbol",
                F.lit(f).alias("fold"),
                "n_train",
                "n_test",
                _rne(
                    F.col("sae").cast("double") / F.col("n_test"),
                    "naive_mae",
                    6,
                ),
            )
        )
        out = fold if out is None else out.unionByName(fold)
    return out


def _sql_ts_backtest() -> str:
    snap = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    arms = []
    for f in range(BT_FOLDS):
        arms.append(f"""
SELECT t.symbol, {f} AS fold, a.n_train, count(*) AS n_test,
       {_sql_rne('CAST(sum(CAST(' + snap('abs(t.close - a.yhat)')
                 + ' AS DECIMAL(18,6))) AS DOUBLE) / count(*)',
                 'naive_mae')}
FROM (
  SELECT r.symbol, r.close FROM ranked r
  WHERE r.rn > CAST(floor(r.n * {BT_BASE_FRAC}) AS INT)
               + {f} * CAST(floor(r.n * {BT_STEP_FRAC}) AS INT)
    AND r.rn <= CAST(floor(r.n * {BT_BASE_FRAC}) AS INT)
               + {f + 1} * CAST(floor(r.n * {BT_STEP_FRAC}) AS INT)
) t
JOIN (
  SELECT r.symbol, r.close AS yhat, r.rn AS n_train FROM ranked r
  WHERE r.rn = CAST(floor(r.n * {BT_BASE_FRAC}) AS INT)
               + {f} * CAST(floor(r.n * {BT_STEP_FRAC}) AS INT)
) a USING (symbol)
GROUP BY 1, 2, 3""")
    body = "\nUNION ALL\n".join(arms)
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, time_idx, close, row_number() OVER (
    PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
ranked AS (
  SELECT r.*, n.n FROM rows_ r
  JOIN (SELECT symbol, max(rn) AS n FROM rows_ GROUP BY 1) n
    USING (symbol))
{body}"""


def q_ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonality/trend strength per symbol, computed from
    the classical decomposition's own components: F_s = max(0, 1 −
    Var(resid)/Var(seasonal+resid)) and F_t likewise against
    trend+resid — the one-number-per-series summary that ranks which
    symbols have exploitable seasonal structure (feeds the
    seasonal-naive forecaster choice). Composes q_ts_seasonal_decompose
    verbatim; variances are two-pass with grid-snapped squared
    deviations in exact DECIMAL — no engine variance formula involved."""
    dec = q_ts_seasonal_decompose(spark, sf_dir).select(
        "symbol",
        "time_idx",
        "seasonal",
        "trend",
        "residual",
    ).filter(F.col("trend").isNotNull())
    sr = (F.col("seasonal") + F.col("residual")).alias("sr")
    tr = (F.col("trend") + F.col("residual")).alias("tr")
    # two consumers (mean pass + deviation pass): pin the decomposed
    # frame once instead of replaying the decomposition per pass
    base = dec.select(
        "symbol", F.col("residual").alias("r"), sr, tr
    ).localCheckpoint(eager=True)
    # two-pass per column: mean via DECIMAL sums, then snapped squared
    # deviations in DECIMAL
    means = base.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("r").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu_r"),
        (
            F.sum(F.col("sr").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu_sr"),
        (
            F.sum(F.col("tr").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu_tr"),
    )
    jj = base.join(means, "symbol")
    sq = lambda c, mu: (  # noqa: E731
        F.floor(
            (F.col(c) - F.col(mu)) * (F.col(c) - F.col(mu)) * 1e6
            + F.lit(0.5)
        )
        / 1e6
    ).cast("decimal(28,6)")
    vs = jj.groupBy("symbol", "n").agg(
        (F.sum(sq("r", "mu_r")).cast("double") / F.col("n")).alias(
            "var_r"
        ),
        (F.sum(sq("sr", "mu_sr")).cast("double") / F.col("n")).alias(
            "var_sr"
        ),
        (F.sum(sq("tr", "mu_tr")).cast("double") / F.col("n")).alias(
            "var_tr"
        ),
    )
    # Intentional: a constant series makes var_sr/var_tr = 0, so the
    # DOUBLE division yields -Inf (no ANSI throw — operands are
    # DOUBLE) and the greatest() clamp maps it to 0.0, identically in
    # both engines. Do NOT "fix" the division with a WHEN guard — the
    # clamp IS the guard, and changing it would alter the emitted 0.0.
    fs = F.greatest(
        F.lit(0.0), 1.0 - F.col("var_r") / F.col("var_sr")
    )
    ft = F.greatest(
        F.lit(0.0), 1.0 - F.col("var_r") / F.col("var_tr")
    )
    return vs.select(
        "symbol",
        F.col("n").alias("n_obs"),
        _rne(fs, "seasonal_strength", 6),
        _rne(ft, "trend_strength", 6),
    )


def _sql_ts_seasonality_strength() -> str:
    dec = _sql_ts_seasonal()
    sq = lambda c, mu: (  # noqa: E731
        f"CAST(floor(({c} - {mu}) * ({c} - {mu}) * 1000000.0 + 0.5)"
        f" / 1000000.0 AS DECIMAL(28,6))"
    )
    return f"""
WITH dec AS ({dec}),
base AS (
  SELECT symbol, residual AS r, seasonal + residual AS sr,
         trend + residual AS tr
  FROM dec WHERE trend IS NOT NULL),
means AS (
  SELECT symbol, count(*) AS n,
         CAST(sum(CAST(r AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           AS mu_r,
         CAST(sum(CAST(sr AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           AS mu_sr,
         CAST(sum(CAST(tr AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           AS mu_tr
  FROM base GROUP BY 1),
vs AS (
  SELECT b.symbol, m.n,
         CAST(sum({sq('b.r', 'm.mu_r')}) AS DOUBLE) / m.n AS var_r,
         CAST(sum({sq('b.sr', 'm.mu_sr')}) AS DOUBLE) / m.n AS var_sr,
         CAST(sum({sq('b.tr', 'm.mu_tr')}) AS DOUBLE) / m.n AS var_tr
  FROM base b JOIN means m USING (symbol)
  GROUP BY 1, 2)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       {_sql_rne('greatest(0.0, 1.0 - var_r / var_sr)',
                 'seasonal_strength')},
       {_sql_rne('greatest(0.0, 1.0 - var_r / var_tr)',
                 'trend_strength')}
FROM vs"""


def q_ts_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility per symbol (fixed ω/α/β —
    the filtering pass a risk engine runs between refits):
    v_t = ω + α·r²_t + β·v_{t−1}, σ_t = √v_t, seeded v = r² at the
    first return like the EWMA twin. Squared returns snap to the
    1e-12 grid BEFORE the recursion so the Arrow pass
    (operators/rolling.py garch_filter) and the DuckDB recursive CTE
    consume identical inputs and reproduce v bitwise; only the final
    √ rounds (r8). Rides the ts family's single symbol exchange; a
    non-positive close on either side of a return contributes r² = 0
    (flat tick) so the recursion stays TOTAL after rn=1."""
    from ..operators.rolling import garch_filter

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    ).otherwise(
        F.when(prev.isNotNull(), F.lit(0.0))  # rn=1 stays NULL
    )
    base = df.withColumn(
        "r2", F.floor(lr * lr * 1e12 + F.lit(0.5)) / 1e12
    )
    g = garch_filter(
        base, "r2", "v",
        omega=GARCH_OMEGA, alpha=GARCH_ALPHA, beta=GARCH_BETA,
    )
    return g.filter(F.col("v").isNotNull()).select(
        "symbol", "time_idx", _rne(F.sqrt(F.col("v")), "garch_vol", 8)
    )


def _sql_ts_garch_vol() -> str:
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
rr AS (
  SELECT symbol, time_idx, rn,
         floor(pow(CASE WHEN close > 0 AND prev > 0
                        THEN ln(close / prev) ELSE 0.0 END, 2)
               * 1000000000000.0 + 0.5) / 1000000000000.0 AS r2
  FROM lagged),
rec(symbol, rn, time_idx, v) AS (
  SELECT symbol, rn, time_idx, r2 FROM rr WHERE rn = 2
  UNION ALL
  SELECT r.symbol, r.rn, r.time_idx,
         {GARCH_OMEGA} + {GARCH_ALPHA} * r.r2 + {GARCH_BETA} * rec.v
  FROM rec JOIN rr r ON r.symbol = rec.symbol AND r.rn = rec.rn + 1)
SELECT symbol, time_idx, {_sql_rne('sqrt(v)', 'garch_vol', 8)}
FROM rec"""


def q_ts_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the one-step naive
    forecast (ŷ_t = y_{t−1}), the distribution-free uncertainty wrap
    a forecasting engine puts around ANY point model: per symbol,
    the first 70% of residual rows (time order) are calibration, the
    conformal radius q̂ is the ⌈(n_cal+1)·(1−α)⌉-th smallest absolute
    residual (clamped to n_cal when the finite-sample index exceeds
    it), and the reported coverage is the fraction of TEST residuals
    ≤ q̂ — finite-sample-valid ≥ 1−α regardless of the error
    distribution. The k-th order statistic is tie-order-free, so the
    only rounding is q̂ (r8) and the coverage ratio (r6). Windows +
    one groupBy per symbol — rides the ts family's single exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    res = (
        df.withColumn("prev", F.lag("close", 1).over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn("aresid", F.abs(F.col("close") - F.col("prev")))
    )
    res = res.withColumn("rn", F.row_number().over(w)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy("symbol"))
    )
    res = res.withColumn(
        "n_cal", F.floor(F.col("m") * F.lit(CONFORMAL_CAL_FRAC))
    )
    cal = res.filter(F.col("rn") <= F.col("n_cal"))
    test = res.filter(F.col("rn") > F.col("n_cal"))
    k = F.least(
        F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONFORMAL_ALPHA)),
        F.col("n_cal"),
    )
    wq = Window.partitionBy("symbol").orderBy(
        F.col("aresid").asc(), F.col("time_idx").asc()
    )
    qhat = (
        cal.withColumn("qrn", F.row_number().over(wq))
        .filter(F.col("qrn") == k)
        .select("symbol", F.col("aresid").alias("q_hat"), "n_cal")
    )
    cov = (
        test.join(qhat.select("symbol", "q_hat"), "symbol")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (F.col("aresid") <= F.col("q_hat")).cast("long")
            ).alias("n_covered"),
        )
    )
    return (
        qhat.join(cov, "symbol")
        .select(
            "symbol",
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            _rne(F.col("q_hat"), "q_hat", 8),
            _rne(F.col("n_covered") / F.col("n_test"), "coverage", 6),
        )
    )


def _sql_ts_conformal_interval() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
resid AS (
  SELECT symbol, time_idx,
         abs(close - lag(close) OVER (PARTITION BY symbol ORDER BY time_idx))
           AS aresid
  FROM filled
  QUALIFY aresid IS NOT NULL),
rr AS (
  SELECT symbol, time_idx, aresid,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn,
         count(*) OVER (PARTITION BY symbol) AS m
  FROM resid),
rc AS (
  SELECT *, CAST(floor(m * {CONFORMAL_CAL_FRAC}) AS BIGINT) AS n_cal
  FROM rr),
qhat AS (
  SELECT symbol, aresid AS q_hat, n_cal
  FROM (
    SELECT symbol, aresid, n_cal,
           row_number() OVER (PARTITION BY symbol
                              ORDER BY aresid ASC, time_idx ASC) AS qrn
    FROM rc WHERE rn <= n_cal)
  WHERE qrn = least(CAST(ceil((n_cal + 1) * {1.0 - CONFORMAL_ALPHA}) AS BIGINT),
                    n_cal)),
cov AS (
  SELECT t.symbol, count(*) AS n_test,
         sum((t.aresid <= q.q_hat)::BIGINT) AS n_covered
  FROM rc t JOIN qhat q ON t.symbol = q.symbol
  WHERE t.rn > t.n_cal
  GROUP BY 1)
SELECT q.symbol, q.n_cal, c.n_test,
       {_sql_rne('q.q_hat', 'q_hat', 8)},
       {_sql_rne('c.n_covered::DOUBLE / c.n_test', 'coverage', 6)}
FROM qhat q JOIN cov c ON q.symbol = c.symbol"""


def q_ts_topdown_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation (grouped time series):
    the aggregate (sum-over-symbols) series is forecast ONCE with a
    trailing SMA-8 and split back to symbols by their calibration-
    period share of the total (top-down proportional), compared
    against each symbol's DIRECT SMA-8 — the classic
    coherency-vs-accuracy trade every hierarchical forecaster
    measures. Restricted to the time window where EVERY symbol's
    filled grid is dense (max of mins .. min of maxes) so the total
    is well-defined at each step; calibration = first 70% of that
    window, test = rest; forecasts use ROWS 8..1 PRECEDING (past
    only, full frames). Determinism: closes snap to the 1e-6 grid
    and every sum (totals, shares, SMA numerators) rides exact
    DECIMAL; shares and forecasts come from identical snapped sums
    in both engines, abs errors snap to 1e-9 before the exact MAE
    sum. The total series is calendar-bounded (one row per 6h
    bucket) so its unpartitioned window is NOT a scale risk; the
    symbol-level windows ride the ts family's symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    q = df.select(
        "symbol",
        "time_idx",
        F.floor(F.col("close") * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("qc"),
    )
    bounds = (
        q.groupBy("symbol")
        .agg(F.min("time_idx").alias("mn"), F.max("time_idx").alias("mx"))
        .agg(F.max("mn").alias("lo"), F.min("mx").alias("hi"))
        .withColumn(
            "cut",
            F.col("lo")
            + F.floor((F.col("hi") - F.col("lo")) * F.lit(0.7)),
        )
    )
    qb = q.join(F.broadcast(bounds), on=F.expr("time_idx BETWEEN lo AND hi"))
    tot = qb.groupBy("time_idx", "cut").agg(F.sum("qc").alias("qt"))
    # calibration shares: exact DECIMAL sums, one double division
    cal_sym = (
        qb.filter(F.col("time_idx") <= F.col("cut"))
        .groupBy("symbol")
        .agg(F.sum("qc").alias("qs_cal"))
    )
    cal_tot = (
        tot.filter(F.col("time_idx") <= F.col("cut"))
        .agg(F.sum("qt").alias("qt_cal"))
    )
    # NULL share (→ symbol dropped) when the calibration total is 0:
    # a double 0-division would be Inf/NaN poison downstream
    share = cal_sym.crossJoin(F.broadcast(cal_tot)).select(
        "symbol",
        F.when(
            F.col("qt_cal") != 0,
            F.col("qs_cal").cast("double") / F.col("qt_cal").cast("double"),
        ).alias("p"),
    )
    fr = (
        Window.orderBy("time_idx").rowsBetween(-8, -1)
    )
    tot_fc = tot.select(
        "time_idx",
        "cut",
        (
            F.sum("qt").over(fr).cast("double")
            / F.lit(8.0) / F.lit(1e6)
        ).alias("fc_total"),
        F.count(F.lit(1)).over(fr).alias("nf_t"),
    )
    frs = (
        Window.partitionBy("symbol").orderBy("time_idx").rowsBetween(-8, -1)
    )
    sym_fc = qb.select(
        "symbol",
        "time_idx",
        "cut",
        (F.col("qc").cast("double") / F.lit(1e6)).alias("actual"),
        (
            F.sum("qc").over(frs).cast("double") / F.lit(8.0) / F.lit(1e6)
        ).alias("fc_direct"),
        F.count(F.lit(1)).over(frs).alias("nf_s"),
    )
    test = (
        sym_fc.filter(
            (F.col("time_idx") > F.col("cut")) & (F.col("nf_s") == 8)
        )
        .join(
            tot_fc.filter(F.col("nf_t") == 8).select(
                "time_idx", "fc_total"
            ),
            "time_idx",
        )
        .join(F.broadcast(share), "symbol")
        .withColumn("fc_topdown", F.col("p") * F.col("fc_total"))
    )
    snap = lambda c: F.floor(F.abs(c) * 1e9 + F.lit(0.5)).cast(  # noqa: E731
        "decimal(38,0)"
    )
    out = test.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(snap(F.col("actual") - F.col("fc_direct"))).alias("ed"),
        F.sum(snap(F.col("actual") - F.col("fc_topdown"))).alias("et"),
        F.first("p").alias("p"),
    )
    return out.select(
        "symbol",
        F.col("n_test").cast("long").alias("n_test"),
        _rne(F.col("p"), "share", 8),
        _rne(
            F.col("ed").cast("double") / F.col("n_test") / F.lit(1e9),
            "mae_direct",
            8,
        ),
        _rne(
            F.col("et").cast("double") / F.col("n_test") / F.lit(1e9),
            "mae_topdown",
            8,
        ),
    )


def _sql_ts_topdown_reconcile() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
q AS (
  SELECT symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled),
bounds AS (
  SELECT max(mn) AS lo, min(mx) AS hi,
         max(mn) + CAST(floor((min(mx) - max(mn)) * 0.7) AS BIGINT) AS cut
  FROM (SELECT symbol, min(time_idx) AS mn, max(time_idx) AS mx
        FROM q GROUP BY 1)),
qb AS (
  SELECT q.*, b.cut FROM q, bounds b
  WHERE q.time_idx BETWEEN b.lo AND b.hi),
tot AS (
  SELECT time_idx, cut, sum(qc) AS qt FROM qb GROUP BY 1, 2),
share AS (
  SELECT symbol,
         CASE WHEN (SELECT sum(qt) FROM tot WHERE time_idx <= cut) <> 0
              THEN (SELECT sum(qc) FROM qb s
                    WHERE s.symbol = c.symbol AND s.time_idx <= s.cut)
                     ::DOUBLE
                   / (SELECT sum(qt) FROM tot
                      WHERE time_idx <= cut)::DOUBLE
         END AS p
  FROM (SELECT DISTINCT symbol FROM qb) c),
tot_fc AS (
  SELECT time_idx, cut,
         (sum(qt) OVER w)::DOUBLE / 8.0 / 1000000.0 AS fc_total,
         count(*) OVER w AS nf_t
  FROM tot
  WINDOW w AS (ORDER BY time_idx ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
sym_fc AS (
  SELECT symbol, time_idx, cut,
         qc::DOUBLE / 1000000.0 AS actual,
         (sum(qc) OVER ws)::DOUBLE / 8.0 / 1000000.0 AS fc_direct,
         count(*) OVER ws AS nf_s
  FROM qb
  WINDOW ws AS (PARTITION BY symbol ORDER BY time_idx
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
test AS (
  SELECT s.symbol, s.actual, s.fc_direct, sh.p,
         sh.p * t.fc_total AS fc_topdown
  FROM sym_fc s
  JOIN tot_fc t ON s.time_idx = t.time_idx AND t.nf_t = 8
  JOIN share sh ON s.symbol = sh.symbol
  WHERE s.time_idx > s.cut AND s.nf_s = 8),
agg AS (
  SELECT symbol, count(*) AS n_test, any_value(p) AS p,
         sum(floor(abs(actual - fc_direct) * 1000000000.0 + 0.5)
             ::DECIMAL(38,0)) AS ed,
         sum(floor(abs(actual - fc_topdown) * 1000000000.0 + 0.5)
             ::DECIMAL(38,0)) AS et
  FROM test GROUP BY 1)
SELECT symbol, n_test::BIGINT AS n_test,
       {_sql_rne('p', 'share', 8)},
       {_sql_rne('ed::DOUBLE / n_test / 1000000000.0', 'mae_direct', 8)},
       {_sql_rne('et::DOUBLE / n_test / 1000000000.0', 'mae_topdown', 8)}
FROM agg"""


def q_ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast backtest (Assimakopoulos &
    Nikolopoulos / the M4 benchmark convention with FIXED smoothing):
    per symbol, fit on the first 70% of the filled grid — level ℓ =
    SES(α=0.2) fold over the calibration closes, drift b = OLS slope
    of close on the row index — then the fixed-origin h-step forecast
    ŷ(h) = ℓ + (b/2)·((h−1) + 1/α) is scored against the test rows.
    Determinism: closes snap to the 1e-6 grid first; the SES fold is
    a sequential left fold over the ordered calibration array
    (Spark ``aggregate`` ≡ DuckDB ``list_reduce`` seeded with the
    first element — bitwise); the OLS slope is one double division
    of exact DECIMAL sums; abs errors snap 1e-9 before the exact MAE
    sum. Symbols need ≥ 4 grid rows (slope needs 2 calibration
    points and 1 test row). The SES level runs as the W4 ``ewm_smooth``
    Arrow pass (same recurrence, same seed — bitwise equal to the
    oracle's ``list_reduce`` fold) and the level is read off the LAST
    calibration row, so no aggregate ever materializes the series in
    a single row (r10 advice: the previous ``collect_list`` fold held
    the whole calibration series in one aggregate buffer); the OLS
    sums ride the same per-symbol exchange."""
    from ..operators.rolling import ewm_smooth

    a = THETA_ALPHA
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    base = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("symbol"))
        )
        .filter(F.col("n") >= 4)
        .withColumn("n_cal", F.floor(F.col("n") * F.lit(0.7)))
        .withColumn(
            "qc",
            F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast(
                "decimal(38,0)"
            ),
        )
    )
    cal = base.filter(F.col("rn") <= F.col("n_cal"))
    lev = ewm_smooth(
        cal.select(
            "symbol",
            "time_idx",
            "rn",
            "n_cal",
            (F.col("qc").cast("double") / F.lit(1e6)).alias("y"),
        ),
        {"level": ("y", a)},
    )
    lev_last = lev.filter(F.col("rn") == F.col("n_cal")).select(
        "symbol", "level"
    )
    sums = cal.groupBy("symbol").agg(
        F.max("n_cal").alias("n_cal"),
        F.sum("rn").cast("decimal(38,0)").alias("sx"),
        F.sum("qc").alias("sy"),
        F.sum(F.col("qc") * F.col("rn")).alias("sxy"),
        F.sum(F.col("rn") * F.col("rn")).cast("decimal(38,0)").alias("sxx"),
    )
    fit = sums.join(lev_last, "symbol").select(
        "symbol",
        "n_cal",
        "level",
        (
            (
                F.col("n_cal").cast("decimal(38,0)") * F.col("sxy")
                - F.col("sx") * F.col("sy")
            ).cast("double")
            / (
                F.col("n_cal").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).cast("double")
            / F.lit(1e6)  # sy/sxy are in 1e-6 close units
        ).alias("slope"),
    )
    test = base.filter(F.col("rn") > F.col("n_cal")).select(
        "symbol",
        (F.col("rn") - F.col("n_cal")).alias("h"),
        (F.col("qc").cast("double") / F.lit(1e6)).alias("actual"),
    )
    j = test.join(fit, "symbol").withColumn(
        "fc",
        F.col("level")
        + (F.col("slope") * F.lit(0.5))
        * ((F.col("h") - 1).cast("double") + F.lit(1.0 / a)),
    )
    out = j.groupBy("symbol").agg(
        F.max("n_cal").cast("long").alias("n_cal"),
        F.count(F.lit(1)).alias("n_test"),
        F.first("level").alias("level"),
        F.first("slope").alias("slope"),
        F.sum(
            F.floor(F.abs(F.col("actual") - F.col("fc")) * 1e9 + F.lit(0.5))
            .cast("decimal(38,0)")
        ).alias("eq"),
    )
    return out.select(
        "symbol",
        "n_cal",
        F.col("n_test").cast("long").alias("n_test"),
        _rne(F.col("level"), "level", 8),
        _rne(F.col("slope"), "slope", 8),
        _rne(
            F.col("eq").cast("double") / F.col("n_test") / F.lit(1e9),
            "mae",
            8,
        ),
    )


def _sql_ts_theta_forecast() -> str:
    a = THETA_ALPHA
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
base AS (
  SELECT symbol, time_idx,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn,
         count(*) OVER (PARTITION BY symbol) AS n,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled QUALIFY n >= 4),
b2 AS (
  SELECT *, CAST(floor(n * 0.7) AS BIGINT) AS n_cal FROM base),
fit AS (
  SELECT symbol, max(n_cal) AS n_cal,
         list(qc::DOUBLE / 1000000.0 ORDER BY rn) AS vs,
         sum(rn)::DECIMAL(38,0) AS sx, sum(qc) AS sy,
         sum(qc * rn) AS sxy, sum(rn * rn)::DECIMAL(38,0) AS sxx
  FROM b2 WHERE rn <= n_cal GROUP BY 1),
fs AS (
  SELECT symbol, n_cal,
         list_reduce(vs, (acc, x) -> (1.0 - {a}) * acc + {a} * x)
           AS level,
         (n_cal::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE
           / (n_cal::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
           / 1000000.0 AS slope
  FROM fit),
test AS (
  SELECT symbol, rn - n_cal AS h, qc::DOUBLE / 1000000.0 AS actual
  FROM b2 WHERE rn > n_cal),
j AS (
  SELECT t.symbol, f.n_cal, f.level, f.slope, t.actual,
         f.level + (f.slope * 0.5)
           * ((t.h - 1)::DOUBLE + {1.0 / a}) AS fc
  FROM test t JOIN fs f ON t.symbol = f.symbol),
agg AS (
  SELECT symbol, max(n_cal) AS n_cal, count(*) AS n_test,
         any_value(level) AS level, any_value(slope) AS slope,
         sum(floor(abs(actual - fc) * 1000000000.0 + 0.5)
             ::DECIMAL(38,0)) AS eq
  FROM j GROUP BY 1)
SELECT symbol, n_cal::BIGINT AS n_cal, n_test::BIGINT AS n_test,
       {_sql_rne('level', 'level', 8)},
       {_sql_rne('slope', 'slope', 8)},
       {_sql_rne('eq::DOUBLE / n_test / 1000000000.0', 'mae', 8)}
FROM agg"""


def q_ts_ou_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ornstein-Uhlenbeck mean-reversion half-life per symbol — the
    quant screen for tradeable mean reversion: regress
    Δx_t = a + b·x_{t−1} over the filled grid (closes snapped to the
    1e-6 grid, so Δ and the OLS moments are exact DECIMAL integers;
    b is unitless — the micro units cancel in the moment ratio),
    half-life = −ln 2 / ln(1+b) for −1 < b < 0, NULL otherwise
    (non-mean-reverting). One lag window + one map-side groupBy
    riding the ts family's symbol exchange; per-symbol state is five
    moment cells."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    q = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    q = q.withColumn("qp", F.lag("qc", 1).over(w)).filter(
        F.col("qp").isNotNull()
    )
    q = q.withColumn("dy", F.col("qc") - F.col("qp"))
    agg = q.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qp").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("qp") * F.col("dy")).alias("sxy"),
        F.sum(F.col("qp") * F.col("qp")).alias("sxx"),
    )
    agg = agg.filter(F.col("n") >= 3)
    nn = F.col("n").cast("decimal(38,0)")
    b = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    agg = agg.withColumn("b", b)
    hl = F.when(
        (F.col("b") > -1.0) & (F.col("b") < 0.0),
        -F.log(F.lit(2.0)) / F.log(F.lit(1.0) + F.col("b")),
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(F.col("b"), "b", 8),
        _rne(hl, "halflife", 8),
    )


def _sql_ts_ou_halflife() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
q AS (
  SELECT symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled),
lagd AS (
  SELECT symbol, qc,
         lag(qc) OVER (PARTITION BY symbol ORDER BY time_idx) AS qp
  FROM q QUALIFY qp IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n, sum(qp) AS sx, sum(qc - qp) AS sy,
         sum(qp * (qc - qp)) AS sxy, sum(qp * qp) AS sxx
  FROM lagd GROUP BY 1 HAVING count(*) >= 3),
fit AS (
  SELECT symbol, n,
         (n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE
           / (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE AS b
  FROM agg)
SELECT symbol, n::BIGINT AS n, {_sql_rne('b', 'b', 8)},
       {_sql_rne(
           'CASE WHEN b > -1.0 AND b < 0.0 '
           'THEN -ln(2.0) / ln(1.0 + b) END',
           'halflife', 8)}
FROM fit"""


def q_ts_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR backtest with the Kupiec proportion-of-failures test — the
    regulatory check beside the point estimate (ts_var_es): per
    symbol, the 95% historical VaR is the ⌈0.05·n_cal⌉-th smallest
    log return of the FIRST 70% of the filled grid (an order
    statistic over 1e-9-snapped returns — tie-order-free), then the
    held-out 30% counts exceedances (r < −VaR) and
    LR_pof = −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x/n) − x·ln(x/n)]
    measures whether the observed failure rate is consistent with
    p = 5% (x = 0 and x = n use the 0·ln 0 = 0 convention,
    CASE-guarded identically in both engines; ln p constants are
    Python-computed literals shared verbatim). Windows + one groupBy
    per symbol — rides the ts family's symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    ).otherwise(F.when(prev.isNotNull(), F.lit(0.0)))
    base = (
        df.withColumn("r", F.floor(lr * 1e9 + F.lit(0.5)) / 1e9)
        .filter(F.col("r").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "m", F.count(F.lit(1)).over(Window.partitionBy("symbol"))
        )
        .filter(F.col("m") >= 30)
        .withColumn("n_cal", F.floor(F.col("m") * F.lit(0.7)))
    )
    cal = base.filter(F.col("rn") <= F.col("n_cal"))
    k = F.ceil(F.col("n_cal") * F.lit(VAR_BT_P))
    wq = Window.partitionBy("symbol").orderBy(
        F.col("r").asc(), F.col("time_idx").asc()
    )
    var = (
        cal.withColumn("qrn", F.row_number().over(wq))
        .filter(F.col("qrn") == k)
        .select("symbol", (-F.col("r")).alias("var95"), "n_cal")
    )
    test = base.filter(F.col("rn") > F.col("n_cal")).select("symbol", "r")
    cnt = (
        test.join(var, "symbol")
        .groupBy("symbol")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("var95").alias("var95"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("r") < -F.col("var95")).cast("long")
            ).alias("x"),
        )
    )
    lnp = math.log(VAR_BT_P)
    ln1p = math.log(1.0 - VAR_BT_P)
    n, x = F.col("n").cast("double"), F.col("x").cast("double")
    t_obs = F.when(F.col("x") == 0, F.lit(0.0)).otherwise(
        x * F.log(x / n)
    ) + F.when(F.col("x") == F.col("n"), F.lit(0.0)).otherwise(
        (n - x) * F.log(F.lit(1.0) - x / n)
    )
    lr_pof = F.lit(-2.0) * (
        (n - x) * F.lit(ln1p) + x * F.lit(lnp) - t_obs
    )
    return cnt.select(
        "symbol",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("n").cast("long").alias("n_test"),
        F.col("x").cast("long").alias("n_exceed"),
        _rne(F.col("var95"), "var95", 8),
        _rne(lr_pof, "kupiec_lr", 8),
    )


def _sql_ts_var_backtest() -> str:
    lnp = math.log(VAR_BT_P)
    ln1p = math.log(1.0 - VAR_BT_P)
    t_obs = (
        "(CASE WHEN x = 0 THEN 0.0"
        " ELSE x::DOUBLE * ln(x::DOUBLE / n::DOUBLE) END"
        " + CASE WHEN x = n THEN 0.0"
        " ELSE (n - x)::DOUBLE * ln(1.0 - x::DOUBLE / n::DOUBLE) END)"
    )
    lr_pof = (
        f"-2.0 * ((n - x)::DOUBLE * {ln1p!r} + x::DOUBLE * {lnp!r}"
        f" - {t_obs})"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
rets AS (
  SELECT symbol, time_idx,
         floor(CASE WHEN close > 0 AND prev > 0
                    THEN ln(close / prev) ELSE 0.0 END
               * 1000000000.0 + 0.5) / 1000000000.0 AS r
  FROM lagged WHERE prev IS NOT NULL),
base AS (
  SELECT symbol, time_idx, r,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn,
         count(*) OVER (PARTITION BY symbol) AS m
  FROM rets QUALIFY m >= 30),
b2 AS (SELECT *, CAST(floor(m * 0.7) AS BIGINT) AS n_cal FROM base),
var AS (
  SELECT symbol, -r AS var95, n_cal FROM (
    SELECT symbol, r, n_cal,
           row_number() OVER (PARTITION BY symbol
                              ORDER BY r ASC, time_idx ASC) AS qrn
    FROM b2 WHERE rn <= n_cal)
  WHERE qrn = CAST(ceil(n_cal * {VAR_BT_P}) AS BIGINT)),
cnt AS (
  SELECT t.symbol, max(v.n_cal) AS n_cal, max(v.var95) AS var95,
         count(*) AS n, sum((t.r < -v.var95)::BIGINT) AS x
  FROM b2 t JOIN var v ON t.symbol = v.symbol
  WHERE t.rn > t.n_cal GROUP BY 1)
SELECT symbol, n_cal::BIGINT AS n_cal, n::BIGINT AS n_test,
       x::BIGINT AS n_exceed,
       {_sql_rne('var95', 'var95', 8)},
       {_sql_rne(lr_pof, 'kupiec_lr', 8)}
FROM cnt"""


def q_ts_macd_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD signal-cross strategy backtest — the capstone that turns
    the indicator battery into a measured trading readout: position
    at t is long (+1) iff macd > signal at t−1 (else short), strategy
    return = position · log-return, emitting per symbol the total
    return, unannualized Sharpe (exact-moment population variance),
    and the trade count (position flips). Determinism: the MACD/
    signal chained recursions are the W4 Arrow pass (bitwise vs the
    oracle's two-stage prefix folds — same contract as ts_ema_macd);
    log returns snap to 1e-9 so strategy returns live on the grid
    exactly, and Σsr / Σsr² ride exact DECIMAL (the ar2
    computational-formula device) — aggregation order cannot perturb
    the Sharpe. One symbol exchange + one Arrow pass."""
    from ..operators.rolling import macd

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    m = macd(df)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    ).otherwise(F.when(prev.isNotNull(), F.lit(0.0)))
    base = (
        m.withColumn("r", F.floor(lr * 1e9 + F.lit(0.5)) / 1e9)
        .withColumn(
            "pos",
            F.when(
                F.lag("macd", 1).over(w) > F.lag("macd_signal", 1).over(w),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        .filter(F.col("r").isNotNull())
        .withColumn("pos_prev", F.lag("pos", 1).over(w))
        .withColumn("sr", F.col("pos").cast("double") * F.col("r"))
    )
    agg = base.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("sr") * 1e9 + F.lit(0.5)).cast("decimal(38,0)")
        ).alias("sq"),
        F.sum(
            F.floor(F.col("sr") * F.col("sr") * 1e12 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("sq2"),
        F.sum(
            (
                F.col("pos_prev").isNotNull()
                & (F.col("pos") != F.col("pos_prev"))
            ).cast("long")
        ).alias("n_trades"),
    )
    mean = F.col("sq").cast("double") / F.col("n") / F.lit(1e9)
    ex2 = F.col("sq2").cast("double") / F.col("n") / F.lit(1e12)
    var = ex2 - mean * mean
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        F.col("n_trades").cast("long").alias("n_trades"),
        _rne(F.col("sq").cast("double") / F.lit(1e9), "total_return", 8),
        _rne(
            F.when(var > 0, mean / F.sqrt(var)),
            "sharpe",
            6,
        ),
    )


def _sql_ts_macd_backtest() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
pre AS (
  SELECT symbol, time_idx, close,
         list(close) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS pfx
  FROM filled),
e AS (
  SELECT symbol, time_idx, close,
         {_sql_ewm('pfx', '2.0/13.0')} AS ema12,
         {_sql_ewm('pfx', '2.0/27.0')} AS ema26
  FROM pre),
m AS (SELECT symbol, time_idx, close, ema12 - ema26 AS macd FROM e),
mp AS (
  SELECT symbol, time_idx, close, macd,
         list(macd) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS mpfx
  FROM m),
s AS (SELECT symbol, time_idx, close, macd,
             {_sql_ewm('mpfx', '2.0/10.0')} AS sig
      FROM mp),
lagd AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER wsym AS cprev,
         lag(macd) OVER wsym AS mprev,
         lag(sig) OVER wsym AS sprev
  FROM s
  WINDOW wsym AS (PARTITION BY symbol ORDER BY time_idx)),
rows_ AS (
  SELECT symbol, time_idx,
         floor(CASE WHEN close > 0 AND cprev > 0
                    THEN ln(close / cprev) ELSE 0.0 END
               * 1000000000.0 + 0.5) / 1000000000.0 AS r,
         CASE WHEN mprev > sprev THEN 1 ELSE -1 END AS pos
  FROM lagd WHERE cprev IS NOT NULL),
sr_ AS (
  SELECT symbol, pos::DOUBLE * r AS sr,
         lag(pos) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS pos_prev, pos
  FROM rows_),
agg AS (
  SELECT symbol, count(*) AS n,
         sum(floor(sr * 1000000000.0 + 0.5)::DECIMAL(38,0)) AS sq,
         sum(floor(sr * sr * 1000000000000.0 + 0.5)::DECIMAL(38,0))
           AS sq2,
         sum((pos_prev IS NOT NULL AND pos <> pos_prev)::BIGINT)
           AS n_trades
  FROM sr_ GROUP BY 1)
SELECT symbol, n::BIGINT AS n, n_trades::BIGINT AS n_trades,
       {_sql_rne('sq::DOUBLE / 1000000000.0', 'total_return', 8)},
       {_sql_rne(
           'CASE WHEN (sq2::DOUBLE / n / 1000000000000.0)'
           ' - (sq::DOUBLE / n / 1000000000.0)'
           ' * (sq::DOUBLE / n / 1000000000.0) > 0'
           ' THEN (sq::DOUBLE / n / 1000000000.0)'
           ' / sqrt((sq2::DOUBLE / n / 1000000000000.0)'
           ' - (sq::DOUBLE / n / 1000000000.0)'
           ' * (sq::DOUBLE / n / 1000000000.0)) END',
           'sharpe', 6)}
FROM agg"""


def q_ts_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown DURATION analysis — the time dimension ts_drawdown's
    depth readout lacks: per symbol, the longest underwater spell
    (consecutive grid rows strictly below the running peak), its start
    time_idx (earliest among ties), and the length of the CURRENT
    trailing spell. Underwater flags come from one running-max window;
    spells from the established rn − row_number() run-merge device —
    every output is an exact integer, so nothing rounds. The first
    grid row is never underwater (close == peak), so the trailing-
    spell subtraction always has an anchor. Two windows + one groupBy
    riding the ts family's symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    base = df.withColumn(
        "peak",
        F.max("close").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("rn", F.row_number().over(w))
    uw = base.withColumn("under", (F.col("close") < F.col("peak")))
    runs = uw.filter(F.col("under")).withColumn(
        "run_id",
        F.col("rn")
        - F.row_number().over(Window.partitionBy("symbol").orderBy("rn")),
    )
    per_run = runs.groupBy("symbol", "run_id").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("time_idx").alias("start"),
        F.max("rn").alias("last_rn"),
    )
    tot = uw.groupBy("symbol").agg(
        F.max("rn").alias("m"),
        F.max(F.when(~F.col("under"), F.col("rn"))).alias("last_dry"),
    )
    best = per_run.groupBy("symbol").agg(
        F.max(
            F.struct(
                F.col("len"),
                (-F.col("start")).alias("neg_start"),
            )
        ).alias("b"),
    )
    out = tot.join(best, "symbol", "left")
    return out.select(
        "symbol",
        F.coalesce(F.col("b.len"), F.lit(0)).cast("long").alias(
            "longest_uw"
        ),
        (-F.col("b.neg_start")).cast("long").alias("longest_uw_start"),
        (F.col("m") - F.col("last_dry")).cast("long").alias("current_uw"),
    )


def _sql_ts_underwater_duration() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
base AS (
  SELECT symbol, time_idx, close,
         max(close) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS peak,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled),
uw AS (SELECT *, close < peak AS under FROM base),
runs AS (
  SELECT symbol, time_idx, rn,
         rn - row_number() OVER (PARTITION BY symbol ORDER BY rn)
           AS run_id
  FROM uw WHERE under),
per_run AS (
  SELECT symbol, run_id, count(*) AS len, min(time_idx) AS start
  FROM runs GROUP BY 1, 2),
best AS (
  SELECT symbol, len, start FROM (
    SELECT symbol, len, start,
           row_number() OVER (PARTITION BY symbol
                              ORDER BY len DESC, start ASC) AS rk
    FROM per_run)
  WHERE rk = 1),
tot AS (
  SELECT symbol, max(rn) AS m,
         max(CASE WHEN NOT under THEN rn END) AS last_dry
  FROM uw GROUP BY 1)
SELECT t.symbol,
       coalesce(b.len, 0)::BIGINT AS longest_uw,
       b.start::BIGINT AS longest_uw_start,
       (t.m - t.last_dry)::BIGINT AS current_uw
FROM tot t LEFT JOIN best b ON t.symbol = b.symbol"""


def q_ts_ema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA final state per symbol via the two-phase SEGMENT-COMPOSED
    affine scan (operators/twophase.py affine_ema_scan) — the
    parallel-prefix answer to the W4 recursion constraint: instead of
    one sequential Arrow task per symbol (ewm_smooth), each 32-row
    segment reduces MAP-SIDE to its affine map (c^len, B) and the
    per-symbol fold runs over n/32 segment summaries. α = 0.5 makes
    every c^k and m_i multiplication an exact exponent shift, so the
    scan is cross-engine BITWISE against the oracle's recursive-CTE
    segment chain — and agrees with the sequential ewm_smooth fold to
    <1e-8 (pytest-pinned; the only divergence is the 1e-12 term-grid
    snap and per-segment add reassociation). Per-symbol driver-side
    state: none; per-symbol in-row state: n/32 structs. This is the
    scale path for recursions over very long series — the sequential
    pass keeps last-ulp parity with pandas replays, the scan keeps
    the cluster busy."""
    from ..operators.twophase import affine_ema_scan

    out = affine_ema_scan(
        _filled(spark, sf_dir).select("symbol", "time_idx", "close"),
        "close",
        "symbol",
        "time_idx",
        alpha=EMA_SCAN_ALPHA,
        seg_len=EMA_SCAN_SEG,
    )
    return out.select(
        "symbol", "n", "n_seg", _rne(F.col("ema_last"), "ema_last", 8)
    )


def _sql_ts_ema_scan() -> str:
    a, c, seg, ts = (
        EMA_SCAN_ALPHA,
        1.0 - EMA_SCAN_ALPHA,
        EMA_SCAN_SEG,
        "1e12",
    )
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
rows_ AS (
  SELECT symbol, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM filled WHERE close IS NOT NULL),
segrows AS (
  SELECT symbol, close, rn,
         (rn - 1) // {seg} AS seg, (rn - 1) % {seg} + 1 AS i
  FROM rows_),
withlen AS (
  SELECT *, count(*) OVER (PARTITION BY symbol, seg) AS len
  FROM segrows),
segs AS (
  SELECT symbol, seg, max(len) AS len,
         sum(floor(close * (CASE WHEN rn = 1 THEN 1.0 ELSE {a} END)
             * pow({c}, (len - i)) * {ts} + 0.5)::DECIMAL(38,0)) AS bq
  FROM withlen GROUP BY 1, 2),
sb AS (SELECT symbol, seg, len, bq::DOUBLE / {ts} AS B FROM segs),
scan AS (
  SELECT symbol, seg, v FROM (SELECT symbol, seg, B AS v FROM sb WHERE seg = 0)
  UNION ALL
  SELECT s.symbol, s.seg, pow({c}, s.len) * scan.v + s.B AS v
  FROM sb s JOIN scan ON s.symbol = scan.symbol AND s.seg = scan.seg + 1),
lastv AS (
  SELECT symbol, v FROM scan
  QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY seg DESC) = 1),
agg AS (
  SELECT symbol, sum(len)::BIGINT AS n, count(*)::BIGINT AS n_seg
  FROM sb GROUP BY 1)
SELECT agg.symbol, n, n_seg, {_sql_rne('v', 'ema_last', 8)}
FROM agg JOIN lastv ON agg.symbol = lastv.symbol"""


def q_ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per symbol — the classic
    random-walk screen (VR(q) = Var of overlapping q-period price
    changes / (q · Var of 1-period changes); VR < 1 → mean reversion,
    > 1 → momentum): both change series are integer diffs of the
    1e-6-snapped close (the q-period sum telescopes to qc_t −
    qc_{t−q}, so ONE lag window yields both), population variances
    ride the exact-DECIMAL moment identity n·Σx² − (Σx)², and the
    only float ops are the final ratio and the homoskedastic z-stat —
    identical IEEE expressions in both engines. One window + one
    map-side groupBy on the ts family's symbol exchange; per-symbol
    state is six moment cells."""
    q = VR_Q
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    d = d.withColumn("x", F.col("qc") - F.lag("qc", 1).over(w)).withColumn(
        "y", F.col("qc") - F.lag("qc", q).over(w)
    )
    agg = d.groupBy("symbol").agg(
        F.count("x").alias("n1"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count("y").alias("nq"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    agg = agg.filter((F.col("n1") >= q + 2) & (F.col("nq") >= 2))
    n1d = F.col("n1").cast("decimal(38,0)")
    nqd = F.col("nq").cast("decimal(38,0)")
    var1_num = (n1d * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    varq_num = (nqd * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    n1sq = (n1d * n1d).cast("double")
    nqsq = (nqd * nqd).cast("double")
    vr = F.when(
        var1_num > 0,
        (varq_num / nqsq) / (F.lit(float(q)) * (var1_num / n1sq)),
    )
    z = (vr - F.lit(1.0)) / F.sqrt(
        F.lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q))
        / F.col("nq").cast("double")
    )
    return agg.select(
        "symbol",
        F.col("n1").cast("long").alias("n1"),
        F.col("nq").cast("long").alias("nq"),
        _rne(vr, "vr", 8),
        _rne(z, "z", 8),
    )


def _sql_ts_variance_ratio() -> str:
    q = VR_Q
    zden = 2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc,
         lag(floor(close * 1000000.0 + 0.5)::DECIMAL(38,0), 1)
           OVER (PARTITION BY symbol ORDER BY time_idx) AS l1,
         lag(floor(close * 1000000.0 + 0.5)::DECIMAL(38,0), {q})
           OVER (PARTITION BY symbol ORDER BY time_idx) AS lq
  FROM filled),
dd AS (SELECT symbol, qc - l1 AS x, qc - lq AS y FROM d),
agg AS (
  SELECT symbol, count(x) AS n1, sum(x) AS sx, sum(x * x) AS sxx,
         count(y) AS nq, sum(y) AS sy, sum(y * y) AS syy
  FROM dd GROUP BY 1
  HAVING count(x) >= {q + 2} AND count(y) >= 2),
fit AS (
  SELECT symbol, n1, nq,
         CASE WHEN (n1::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0 THEN
           ((nq::DECIMAL(38,0) * syy - sy * sy)::DOUBLE
              / (nq::DECIMAL(38,0) * nq::DECIMAL(38,0))::DOUBLE)
           / ({q}.0 * ((n1::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
              / (n1::DECIMAL(38,0) * n1::DECIMAL(38,0))::DOUBLE))
         END AS vr
  FROM agg)
SELECT symbol, n1::BIGINT AS n1, nq::BIGINT AS nq,
       {_sql_rne('vr', 'vr', 8)},
       {_sql_rne(f'(vr - 1.0) / sqrt({zden!r} / nq::DOUBLE)', 'z', 8)}
FROM fit"""


def q_ts_capm_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM beta/alpha/R² per symbol against the equal-weight market
    index — the cross-sectional factor regression every risk model
    starts with. The index close at each grid time is the mean of the
    1e-6-snapped member closes (exact DECIMAL sum, ONE division,
    re-snapped to the 1e-6 grid → integer market series, so all OLS
    moments are exact integer products); member and market returns
    are integer diffs over each symbol's own contiguous grid (one lag
    window each). The market frame is CALENDAR-BOUNDED (one row per
    grid bucket regardless of symbol count) and broadcasts to the
    member join — the only data-sized shuffles are the per-time
    aggregate and the ts family's symbol window. β = exact-DECIMAL
    normal-equation ratio; α and R² are the standard identities,
    identical IEEE expressions in both engines."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    mkt = d.groupBy("time_idx").agg(
        F.floor(
            F.sum("qc").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("mq")
    )
    j = d.join(F.broadcast(mkt), "time_idx")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    r = (
        j.withColumn("x", F.col("qc") - F.lag("qc", 1).over(w))
        .withColumn("m", F.col("mq") - F.lag("mq", 1).over(w))
        .filter(F.col("x").isNotNull())
    )
    agg = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("m").alias("sm"),
        F.sum(F.col("x") * F.col("m")).alias("sxm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    agg = agg.filter(F.col("n") >= 3)
    nd = F.col("n").cast("decimal(38,0)")
    cov_n = nd * F.col("sxm") - F.col("sx") * F.col("sm")
    varm_n = nd * F.col("smm") - F.col("sm") * F.col("sm")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = F.when(
        varm_n.cast("double") > 0,
        cov_n.cast("double") / varm_n.cast("double"),
    )
    alpha = (
        F.col("sx").cast("double") / F.col("n").cast("double")
        - beta * (F.col("sm").cast("double") / F.col("n").cast("double"))
    ) / F.lit(1e6)
    r2 = F.when(
        (varm_n.cast("double") > 0) & (varx_n.cast("double") > 0),
        (cov_n.cast("double") * cov_n.cast("double"))
        / (varm_n.cast("double") * varx_n.cast("double")),
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(beta, "beta", 8),
        _rne(alpha, "alpha", 8),
        _rne(r2, "r2", 8),
    )


def _sql_ts_capm_beta() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled),
mkt AS (
  SELECT time_idx,
         floor(sum(qc)::DOUBLE / count(*) + 0.5)::DECIMAL(38,0) AS mq
  FROM d GROUP BY 1),
r AS (
  SELECT symbol,
         qc - lag(qc, 1) OVER (PARTITION BY symbol ORDER BY d.time_idx)
           AS x,
         mq - lag(mq, 1) OVER (PARTITION BY symbol ORDER BY d.time_idx)
           AS m
  FROM d JOIN mkt ON d.time_idx = mkt.time_idx
  QUALIFY x IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n, sum(x) AS sx, sum(m) AS sm,
         sum(x * m) AS sxm, sum(m * m) AS smm, sum(x * x) AS sxx
  FROM r GROUP BY 1 HAVING count(*) >= 3),
fit AS (
  SELECT symbol, n,
         CASE WHEN (n::DECIMAL(38,0) * smm - sm * sm)::DOUBLE > 0 THEN
           (n::DECIMAL(38,0) * sxm - sx * sm)::DOUBLE
             / (n::DECIMAL(38,0) * smm - sm * sm)::DOUBLE
         END AS beta,
         (n::DECIMAL(38,0) * sxm - sx * sm)::DOUBLE AS cov_n,
         (n::DECIMAL(38,0) * smm - sm * sm)::DOUBLE AS varm_n,
         (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE AS varx_n,
         sx::DOUBLE AS sxd, sm::DOUBLE AS smd
  FROM agg)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('beta', 'beta', 8)},
       {_sql_rne(
           '(sxd / n::DOUBLE - beta * (smd / n::DOUBLE)) / 1000000.0',
           'alpha', 8)},
       {_sql_rne(
           'CASE WHEN varm_n > 0 AND varx_n > 0 '
           'THEN (cov_n * cov_n) / (varm_n * varx_n) END',
           'r2', 8)}
FROM fit"""


def q_ts_amihud_illiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per symbol (×10⁶ convention) — the standard
    price-impact proxy mean(|Δprice| / dollar volume) over the OHLCV
    grid, with dollar volume = close × per-bucket trade count (the
    fixture's volume column). Gap buckets carry a zero numerator
    (ffilled close) and the ffilled volume — they dilute the mean
    deterministically on both engines, like a no-trade interval.
    Determinism: Δ is the integer diff of 1e-6-snapped closes; each
    per-row ratio is ONE IEEE division then snapped to the 1e-12 grid;
    the mean rides an exact DECIMAL sum. One lag window + one map-side
    groupBy on the ts family's symbol exchange."""
    df = _filled_ohlc(spark, sf_dir).select(
        "symbol", "time_idx", "close", "volume"
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    ).withColumn("vq", F.col("volume").cast("decimal(38,0)"))
    d = d.withColumn("x", F.col("qc") - F.lag("qc", 1).over(w)).filter(
        # a bucket with a non-positive (zero) price has no dollar
        # volume — the ratio is undefined there, and under ANSI the
        # unguarded division THROWS (zero closes exist in the raw
        # feed at sf0.1 — caught by the bench noop pass, r11); the
        # row leaves count and sum identically in both engines, the
        # realized-vol convention
        F.col("x").isNotNull() & (F.col("qc") > 0) & (F.col("vq") > 0)
    )
    ratio = F.abs(F.col("x")).cast("double") / (
        F.col("qc") * F.col("vq")
    ).cast("double")
    rq = F.floor(ratio * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
    agg = d.withColumn("rq", rq).groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rq").alias("sq")
    )
    illiq = (
        F.col("sq").cast("double")
        / F.col("n").cast("double")
        / F.lit(1e12)
        * F.lit(1e6)
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(illiq, "illiq_x1e6", 8),
    )


def _sql_ts_amihud_illiq() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED_OHLC},
d AS (
  SELECT symbol,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc,
         volume::DECIMAL(38,0) AS vq,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0)
           - lag(floor(close * 1000000.0 + 0.5)::DECIMAL(38,0), 1)
             OVER (PARTITION BY symbol ORDER BY time_idx) AS x
  FROM filled QUALIFY x IS NOT NULL AND qc > 0 AND vq > 0),
r AS (
  SELECT symbol,
         floor(abs(x)::DOUBLE / (qc * vq)::DOUBLE * 1e12
               + 0.5)::DECIMAL(38,0) AS rq
  FROM d),
agg AS (SELECT symbol, count(*) AS n, sum(rq) AS sq FROM r GROUP BY 1)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('sq::DOUBLE / n::DOUBLE / 1e12 * 1e6',
                 'illiq_x1e6', 8)}
FROM agg"""


def q_ts_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per symbol — the price-impact regression
    |Δprice| = α + λ·volume the microstructure literature pairs with
    Amihud's ratio (ts_amihud_illiq is the mean-ratio form; this is
    the OLS form, so the two cards cross-check each other). Inputs
    are exact integers (|Δ| of 1e-6-snapped closes; volume = the
    per-bucket trade count), so the normal equations ride exact
    DECIMAL products; λ and α are each ONE IEEE division/expression
    identical in both engines, reported in price units (÷1e6). One
    lag window + one map-side groupBy on the ts family's symbol
    exchange — no extra shuffle at any scale."""
    df = _filled_ohlc(spark, sf_dir).select(
        "symbol", "time_idx", "close", "volume"
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    ).withColumn("vq", F.col("volume").cast("decimal(38,0)"))
    r = d.withColumn(
        "y", F.abs(F.col("qc") - F.lag("qc", 1).over(w))
    ).filter(F.col("y").isNotNull())
    agg = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("vq") * F.col("y")).alias("sxy"),
        F.sum(F.col("vq") * F.col("vq")).alias("sxx"),
    ).filter(F.col("n") >= 3)
    nd = F.col("n").cast("decimal(38,0)")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    lam = F.when(
        den.cast("double") > 0, num.cast("double") / den.cast("double")
    )
    alpha = (
        F.col("sy").cast("double") / F.col("n").cast("double")
        - lam * (F.col("sx").cast("double") / F.col("n").cast("double"))
    ) / F.lit(1e6)
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(lam / F.lit(1e6), "lam", 12),
        _rne(alpha, "alpha", 8),
    )


def _sql_ts_kyle_lambda() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED_OHLC},
d AS (
  SELECT symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc,
         volume::DECIMAL(38,0) AS vq
  FROM filled),
r AS (
  SELECT symbol, vq,
         abs(qc - lag(qc, 1) OVER (PARTITION BY symbol ORDER BY time_idx))
           AS y
  FROM d QUALIFY y IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n, sum(vq) AS sx, sum(y) AS sy,
         sum(vq * y) AS sxy, sum(vq * vq) AS sxx
  FROM r GROUP BY 1 HAVING count(*) >= 3),
fit AS (
  SELECT symbol, n,
         CASE WHEN (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0 THEN
           (n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE
             / (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
         END AS lam,
         sx::DOUBLE AS sxd, sy::DOUBLE AS syd
  FROM agg)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('lam / 1000000.0', 'lam', 12)},
       {_sql_rne(
           '(syd / n::DOUBLE - lam * (sxd / n::DOUBLE)) / 1000000.0',
           'alpha', 8)}
FROM fit"""


def q_ts_garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility card per symbol — Parkinson,
    Garman–Klass, and Rogers–Satchell estimators over the REAL
    resampled OHLC buckets (no gap-fill: a ffilled bar would re-count
    a stale range, so this reads the resample output directly —
    unlike the return-based ts_realized_vol, range estimators need
    true bars). Each per-bar term (squared / cross products of lns of
    positive-price ratios) snaps to the 1e-12 grid and sums in exact
    DECIMAL — summation order cannot perturb the result (the
    ts_realized_vol device); the estimator means and sqrts are single
    IEEE expressions on the snapped sums. GK/RS can go negative on
    pathological bars — negative means yield NULL vol identically in
    both engines. One resample aggregate + one map-side groupBy on
    the symbol exchange."""
    r = _resampled(spark, sf_dir).select(
        "symbol", "open", "high", "low", "close"
    ).filter(
        (F.col("open") > 0) & (F.col("high") > 0)
        & (F.col("low") > 0) & (F.col("close") > 0)
    )
    u = F.log(F.col("high") / F.col("low"))
    c = F.log(F.col("close") / F.col("open"))
    k = F.lit(2.0) * F.log(F.lit(2.0)) - F.lit(1.0)
    rs = (
        F.log(F.col("high") / F.col("close"))
        * F.log(F.col("high") / F.col("open"))
        + F.log(F.col("low") / F.col("close"))
        * F.log(F.col("low") / F.col("open"))
    )
    snap12 = lambda e: (  # noqa: E731
        F.floor(e * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    d = r.select(
        "symbol",
        snap12(u * u).alias("pk"),
        snap12(F.lit(0.5) * u * u - k * c * c).alias("gk"),
        snap12(rs).alias("rs"),
    )
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pk").alias("spk"),
        F.sum("gk").alias("sgk"),
        F.sum("rs").alias("srs"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    ln2x4 = F.lit(4.0) * F.log(F.lit(2.0))
    park = F.sqrt(F.col("spk").cast("double") / (ln2x4 * nd))
    mgk = F.col("sgk").cast("double") / nd
    mrs = F.col("srs").cast("double") / nd
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(park, "parkinson", 8),
        _rne(F.when(mgk >= 0, F.sqrt(mgk)), "garman_klass", 8),
        _rne(F.when(mrs >= 0, F.sqrt(mrs)), "rogers_satchell", 8),
    )


def _sql_ts_garman_klass_vol() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
bars AS (
  SELECT symbol, open, high, low, close FROM idx
  WHERE open > 0 AND high > 0 AND low > 0 AND close > 0),
terms AS (
  SELECT symbol,
         CAST(floor(pow(ln(high / low), 2) * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(30,12)) AS pk,
         CAST(floor((0.5 * pow(ln(high / low), 2)
                     - (2.0 * ln(2.0) - 1.0) * pow(ln(close / open), 2))
                * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(30,12)) AS gk,
         CAST(floor((ln(high / close) * ln(high / open)
                     + ln(low / close) * ln(low / open))
                * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(30,12)) AS rs
  FROM bars),
agg AS (
  SELECT symbol, count(*) AS n, sum(pk) AS spk, sum(gk) AS sgk,
         sum(rs) AS srs
  FROM terms GROUP BY 1 HAVING count(*) >= 2)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(
           'sqrt(spk::DOUBLE / (4.0 * ln(2.0) * n::DOUBLE))',
           'parkinson', 8)},
       {_sql_rne(
           'CASE WHEN sgk::DOUBLE / n::DOUBLE >= 0 '
           'THEN sqrt(sgk::DOUBLE / n::DOUBLE) END',
           'garman_klass', 8)},
       {_sql_rne(
           'CASE WHEN srs::DOUBLE / n::DOUBLE >= 0 '
           'THEN sqrt(srs::DOUBLE / n::DOUBLE) END',
           'rogers_satchell', 8)}
FROM agg"""


def q_ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order m=3) per symbol — the
    complexity/predictability measure of Bandt–Pompe: classify every
    consecutive close triple into one of 6 ordinal patterns (ties
    broken toward the EARLIER index, the stable-sort convention, so
    the ffilled flat stretches map deterministically) and report the
    Shannon entropy of the pattern distribution normalized by ln 6 —
    1.0 = white noise, low = persistent structure. Patterns come from
    two lead windows on the integer-snapped closes (pure integer
    comparisons — no float anywhere until the entropy); pattern
    counts are exact, each of the ≤6 entropy terms snaps to the 1e-12
    grid and sums in DECIMAL. Rides the ts family's symbol exchange;
    the per-symbol output is one row."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    d = df.withColumn(
        "qa",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("long"),
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = (
        d.withColumn("qb", F.lead("qa", 1).over(w))
        .withColumn("qc3", F.lead("qa", 2).over(w))
        .filter(F.col("qc3").isNotNull())
    )
    lt = lambda x, y: F.when(F.col(x) < F.col(y), 1).otherwise(0)  # noqa: E731
    le = lambda x, y: F.when(F.col(x) <= F.col(y), 1).otherwise(0)  # noqa: E731
    code = (
        (lt("qb", "qa") + lt("qc3", "qa")) * 9
        + (le("qa", "qb") + lt("qc3", "qb")) * 3
        + (le("qa", "qc3") + le("qb", "qc3"))
    )
    cnts = (
        d.select("symbol", code.alias("code"))
        .groupBy("symbol", "code")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cnts.groupBy("symbol").agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_patterns")
    )
    jn = cnts.join(tot, "symbol").filter(F.col("n") >= PE_MIN_N)
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = (
        F.floor(-p * F.log(p) * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    h = jn.groupBy("symbol", "n", "n_patterns").agg(
        F.sum(term).alias("sh")
    )
    return h.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        F.col("n_patterns").cast("long").alias("n_patterns"),
        _rne(
            F.col("sh").cast("double") / F.log(F.lit(6.0)),
            "perm_entropy",
            8,
        ),
    )


def _sql_ts_permutation_entropy() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
q AS (
  SELECT symbol, time_idx,
         CAST(floor(close * 1000000.0 + 0.5) AS BIGINT) AS qa
  FROM filled),
trip AS (
  SELECT symbol, qa,
         lead(qa, 1) OVER w AS qb,
         lead(qa, 2) OVER w AS qc3
  FROM q WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)
  QUALIFY qc3 IS NOT NULL),
coded AS (
  SELECT symbol,
         ((qb < qa)::INT + (qc3 < qa)::INT) * 9
         + ((qa <= qb)::INT + (qc3 < qb)::INT) * 3
         + ((qa <= qc3)::INT + (qb <= qc3)::INT) AS code
  FROM trip),
cnts AS (
  SELECT symbol, code, count(*) AS cnt FROM coded GROUP BY 1, 2),
tot AS (
  SELECT symbol, sum(cnt) AS n, count(*) AS n_patterns
  FROM cnts GROUP BY 1),
terms AS (
  SELECT c.symbol, t.n, t.n_patterns,
         CAST(floor(-(c.cnt::DOUBLE / t.n::DOUBLE)
                    * ln(c.cnt::DOUBLE / t.n::DOUBLE)
                * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(30,12)) AS term
  FROM cnts c JOIN tot t ON c.symbol = t.symbol
  WHERE t.n >= {PE_MIN_N})
SELECT symbol, n::BIGINT AS n, n_patterns::BIGINT AS n_patterns,
       {_sql_rne('sum(term)::DOUBLE / ln(6.0)', 'perm_entropy', 8)}
FROM terms GROUP BY symbol, n, n_patterns"""


def q_ts_garch_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) final filter state per symbol via the SEGMENT-
    COMPOSED affine scan — the proof that ts_ema_scan's parallel-
    prefix device lifts the per-symbol recursion constraint for the
    WHOLE affine family, not just EMA: v_t = ω + α·r²_t + β·v_{t−1}
    is affine with constant multiplier β and varying intercept
    b_t = ω + α·r²_t (seed v₁ = r²₁, the garch_filter convention), so
    each 32-row segment reduces map-side to (β^len, B) and the per-
    symbol fold runs over n/32 summaries — NO applyInPandas, no
    single task per symbol. Dyadic β/α and ω = 2⁻¹⁰ make every term a
    single identical IEEE expression → cross-engine bitwise vs the
    oracle's recursive-CTE segment chain. Squared returns snap to the
    1e-12 grid first (the garch_vol convention: non-positive closes →
    flat tick r² = 0 after rn 1)."""
    from ..operators.twophase import affine_scan

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0),
        F.log(F.col("close") / prev),
    ).otherwise(
        F.when(prev.isNotNull(), F.lit(0.0))  # rn=1 stays NULL
    )
    base = df.withColumn(
        "r2", F.floor(lr * lr * 1e12 + F.lit(0.5)) / 1e12
    )
    base = base.withColumn(
        "b",
        F.lit(GARCH_SCAN_OMEGA)
        + F.lit(GARCH_SCAN_ALPHA) * F.col("r2"),
    ).withColumn("b_seed", F.col("r2"))
    out = affine_scan(
        base.select("symbol", "time_idx", "b", "b_seed"),
        "b",
        "b_seed",
        "symbol",
        "time_idx",
        mult=GARCH_SCAN_BETA,
        seg_len=GARCH_SCAN_SEG,
        out_col="v_last",
    )
    return out.select(
        "symbol",
        "n",
        "n_seg",
        _rne(
            F.when(F.col("v_last") >= 0, F.sqrt(F.col("v_last"))),
            "garch_vol_last",
            8,
        ),
    )


def _sql_ts_garch_scan() -> str:
    om, al, be, seg, ts = (
        GARCH_SCAN_OMEGA,
        GARCH_SCAN_ALPHA,
        GARCH_SCAN_BETA,
        GARCH_SCAN_SEG,
        "1e12",
    )
    return f"""WITH RECURSIVE {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lagged AS (
  SELECT symbol, time_idx, close,
         lag(close) OVER (PARTITION BY symbol ORDER BY time_idx) AS prev
  FROM filled),
rr AS (
  SELECT symbol, time_idx,
         CASE WHEN prev IS NOT NULL THEN
           floor(pow(CASE WHEN close > 0 AND prev > 0
                          THEN ln(close / prev) ELSE 0.0 END, 2)
                 * 1000000000000.0 + 0.5) / 1000000000000.0
         END AS r2
  FROM lagged),
rows_ AS (
  SELECT symbol, r2,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) AS rn
  FROM rr WHERE r2 IS NOT NULL),
segrows AS (
  SELECT symbol, rn,
         CASE WHEN rn = 1 THEN r2 ELSE {om} + {al} * r2 END AS b,
         (rn - 1) // {seg} AS seg, (rn - 1) % {seg} + 1 AS i
  FROM rows_),
withlen AS (
  SELECT *, count(*) OVER (PARTITION BY symbol, seg) AS len
  FROM segrows),
segs AS (
  SELECT symbol, seg, max(len) AS len,
         sum(floor(b * pow({be}, (len - i)) * {ts}
             + 0.5)::DECIMAL(38,0)) AS bq
  FROM withlen GROUP BY 1, 2),
sb AS (SELECT symbol, seg, len, bq::DOUBLE / {ts} AS B FROM segs),
scan AS (
  SELECT symbol, seg, v FROM (SELECT symbol, seg, B AS v FROM sb WHERE seg = 0)
  UNION ALL
  SELECT s.symbol, s.seg, pow({be}, s.len) * scan.v + s.B AS v
  FROM sb s JOIN scan ON s.symbol = scan.symbol AND s.seg = scan.seg + 1),
lastv AS (
  SELECT symbol, v FROM scan
  QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY seg DESC) = 1),
agg AS (
  SELECT symbol, sum(len)::BIGINT AS n, count(*)::BIGINT AS n_seg
  FROM sb GROUP BY 1)
SELECT agg.symbol, n, n_seg,
       {_sql_rne('CASE WHEN v >= 0 THEN sqrt(v) END',
                 'garch_vol_last', 8)}
FROM agg JOIN lastv ON agg.symbol = lastv.symbol"""


def q_ts_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle–Granger two-step cointegration card — the statistical
    backbone under ts_pairs_trading_signal's spread z-score: for the
    top-|corr| symbol pairs, fit the hedge ratio y = α + β·x by OLS on
    the aligned snapped closes, then run the lag-0 Dickey–Fuller test
    on the residual (Δe_t = φ·e_{t−1}: φ < 0 and a large-negative t
    ⇒ the spread mean-reverts ⇒ the pair is tradeable). Candidate
    universe is the same bounded top-``CORR_MATRIX_TOP_K``-symbol cut
    as the corr matrix (pair frame ≤ K²/2 · buckets rows at ANY corpus
    scale); the ``COINT_TOP_PAIRS`` selection is a
    TakeOrderedAndProject over the 28-row pair-moment frame, broadcast
    back to the aligned series. Determinism: closes snap to 1e-6
    integers so the OLS moments are exact DECIMAL products; β/α are
    single IEEE expressions; the residual e_t (one float expression of
    identical per-row scalars) re-snaps to the integer grid, so the DF
    moments are exact again; φ, its standard error, and the t-stat are
    closed-form combinations of those exact moments."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    d = r.join(F.broadcast(top), "symbol").withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    a = d.select(
        F.col("symbol").alias("sym_a"), "time_idx", F.col("qc").alias("xq")
    )
    b = d.select(
        F.col("symbol").alias("sym_b"), "time_idx", F.col("qc").alias("yq")
    )
    pairs = a.join(b, "time_idx").filter(F.col("sym_a") < F.col("sym_b"))
    mom = pairs.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    ).filter(F.col("n") >= 8)
    nd = F.col("n").cast("decimal(38,0)")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (varx_n.cast("double") > 0) & (vary_n.cast("double") > 0),
        cov_n.cast("double")
        / F.sqrt(varx_n.cast("double") * vary_n.cast("double")),
    )
    beta = F.when(
        varx_n.cast("double") > 0,
        cov_n.cast("double") / varx_n.cast("double"),
    )
    alpha_q = (
        F.col("sy").cast("double") / F.col("n").cast("double")
        - beta * (F.col("sx").cast("double") / F.col("n").cast("double"))
    )
    sel = (
        mom.select(
            "sym_a",
            "sym_b",
            "n",
            corr.alias("corr"),
            beta.alias("beta"),
            alpha_q.alias("alpha_q"),
        )
        .filter(F.col("beta").isNotNull())
        .orderBy(F.abs(F.col("corr")).desc(), "sym_a", "sym_b")
        .limit(COINT_TOP_PAIRS)
    )
    al = pairs.join(F.broadcast(sel), ["sym_a", "sym_b"])
    e = (
        F.col("yq").cast("double")
        - F.col("alpha_q")
        - F.col("beta") * F.col("xq").cast("double")
    )
    al = al.withColumn(
        "eq", F.floor(e + F.lit(0.5)).cast("decimal(38,0)")
    )
    w = Window.partitionBy("sym_a", "sym_b").orderBy("time_idx")
    al = (
        al.withColumn("el", F.lag("eq", 1).over(w))
        .withColumn("de", F.col("eq") - F.col("el"))
        .filter(F.col("el").isNotNull())
    )
    df_mom = al.groupBy(
        "sym_a", "sym_b", "n", "corr", "beta", "alpha_q"
    ).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("el") * F.col("el")).alias("see"),
        F.sum(F.col("el") * F.col("de")).alias("sed"),
        F.sum(F.col("de") * F.col("de")).alias("sdd"),
    ).filter((F.col("m") >= 8) & (F.col("see").cast("double") > 0))
    seed = F.col("see").cast("double")
    sedd = F.col("sed").cast("double")
    sddd = F.col("sdd").cast("double")
    md = F.col("m").cast("double")
    phi = sedd / seed
    sse = sddd - F.lit(2.0) * phi * sedd + phi * phi * seed
    se = F.sqrt((sse / (md - F.lit(1.0))) / seed)
    adf_t = F.when(se > 0, phi / se)
    return df_mom.select(
        "sym_a",
        "sym_b",
        F.col("n").cast("long").alias("n"),
        _rne(F.col("corr"), "corr", 8),
        _rne(F.col("beta"), "beta", 8),
        _rne(F.col("alpha_q") / F.lit(1e6), "alpha", 8),
        F.col("m").cast("long").alias("m"),
        _rne(phi, "phi", 8),
        _rne(adf_t, "adf_t", 8),
    )


def _sql_ts_engle_granger() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
d AS (
  SELECT idx.symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM idx JOIN top ON idx.symbol = top.symbol),
pairs AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.time_idx,
         a.qc AS xq, b.qc AS yq
  FROM d a JOIN d b ON a.time_idx = b.time_idx AND a.symbol < b.symbol),
mom AS (
  SELECT sym_a, sym_b, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
         sum(xq * yq) AS sxy, sum(xq * xq) AS sxx, sum(yq * yq) AS syy
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 8),
fit AS (
  SELECT sym_a, sym_b, n,
         CASE WHEN (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0
                AND (n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE > 0 THEN
           (n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE
             / sqrt((n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
                    * (n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE)
         END AS corr,
         CASE WHEN (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0 THEN
           (n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE
             / (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
         END AS beta,
         sx::DOUBLE AS sxd, sy::DOUBLE AS syd
  FROM mom),
sel AS (
  SELECT sym_a, sym_b, n, corr, beta,
         syd / n::DOUBLE - beta * (sxd / n::DOUBLE) AS alpha_q
  FROM fit WHERE beta IS NOT NULL
  ORDER BY abs(corr) DESC, sym_a ASC, sym_b ASC
  LIMIT {COINT_TOP_PAIRS}),
resid AS (
  SELECT p.sym_a, p.sym_b, s.n, s.corr, s.beta, s.alpha_q, p.time_idx,
         floor(p.yq::DOUBLE - s.alpha_q - s.beta * p.xq::DOUBLE
               + 0.5)::DECIMAL(38,0) AS eq
  FROM pairs p JOIN sel s ON p.sym_a = s.sym_a AND p.sym_b = s.sym_b),
lagged AS (
  SELECT sym_a, sym_b, n, corr, beta, alpha_q, eq,
         lag(eq, 1) OVER (
           PARTITION BY sym_a, sym_b ORDER BY time_idx) AS el
  FROM resid QUALIFY el IS NOT NULL),
dfm AS (
  SELECT sym_a, sym_b, n, corr, beta, alpha_q, count(*) AS m,
         sum(el * el) AS see, sum(el * (eq - el)) AS sed,
         sum((eq - el) * (eq - el)) AS sdd
  FROM lagged GROUP BY 1, 2, 3, 4, 5, 6
  HAVING count(*) >= 8 AND sum(el * el)::DOUBLE > 0),
stat AS (
  SELECT sym_a, sym_b, n, corr, beta, alpha_q, m,
         sed::DOUBLE / see::DOUBLE AS phi,
         sqrt(((sdd::DOUBLE
                - 2.0 * (sed::DOUBLE / see::DOUBLE) * sed::DOUBLE
                + (sed::DOUBLE / see::DOUBLE)
                  * (sed::DOUBLE / see::DOUBLE) * see::DOUBLE)
               / (m::DOUBLE - 1.0)) / see::DOUBLE) AS se
  FROM dfm)
SELECT sym_a, sym_b, n::BIGINT AS n,
       {_sql_rne('corr', 'corr', 8)},
       {_sql_rne('beta', 'beta', 8)},
       {_sql_rne('alpha_q / 1000000.0', 'alpha', 8)},
       m::BIGINT AS m,
       {_sql_rne('phi', 'phi', 8)},
       {_sql_rne('CASE WHEN se > 0 THEN phi / se END', 'adf_t', 8)}
FROM stat"""


def q_ts_runs_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs TEST per symbol — the inferential stat on
    top of ts_updown_runs' descriptive summary: same move
    classification (sign of the close diff, flat moves dropped), but
    reporting R (runs), n_up/n_down, E[R] = 2·n₁n₂/(n₁+n₂)+1,
    Var[R], and z = (R−E)/√Var — |z| ≥ 2 rejects randomness (z < 0 =
    trending/clustered, z > 0 = oscillating). R and the counts are
    exact integers off one lag window (runs = 1 + sign changes); E,
    Var, z are single IEEE expressions of those integers, identical
    in both engines. Rides the symbol exchange; one map-side
    groupBy."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    moves = (
        r.withColumn(
            "dir", F.signum(F.col("close") - F.lag("close").over(w))
        )
        .filter(F.col("dir").isin(1.0, -1.0))
        .withColumn("dir", F.col("dir").cast("int"))
    )
    wm = Window.partitionBy("symbol").orderBy("time_idx")
    m = moves.withColumn(
        "chg",
        F.when(
            F.lag("dir").over(wm).isNull()
            | (F.col("dir") != F.lag("dir").over(wm)),
            1,
        ).otherwise(0),
    )
    agg = m.groupBy("symbol").agg(
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0)).alias(
            "n_down"
        ),
        F.sum("chg").alias("runs"),
    ).filter((F.col("n_up") >= 1) & (F.col("n_down") >= 1))
    n1 = F.col("n_up").cast("double")
    n2 = F.col("n_down").cast("double")
    nn = n1 + n2
    e_r = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    var_r = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    z = F.when(
        var_r > 0, (F.col("runs").cast("double") - e_r) / F.sqrt(var_r)
    )
    return agg.select(
        "symbol",
        F.col("n_up").cast("long").alias("n_up"),
        F.col("n_down").cast("long").alias("n_down"),
        F.col("runs").cast("long").alias("runs"),
        _rne(e_r, "e_runs", 8),
        _rne(z, "z", 8),
    )


def _sql_ts_runs_ztest() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
moves AS (
  SELECT symbol, time_idx,
         CAST(sign(close - lag(close) OVER w) AS INT) AS dir
  FROM idx WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)
  QUALIFY dir IN (1, -1)),
m AS (
  SELECT symbol, dir,
         CASE WHEN lag(dir) OVER w2 IS NULL
                OR dir <> lag(dir) OVER w2 THEN 1 ELSE 0 END AS chg
  FROM moves WINDOW w2 AS (PARTITION BY symbol ORDER BY time_idx)),
agg AS (
  SELECT symbol,
         sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS n_up,
         sum(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS n_down,
         sum(chg) AS runs
  FROM m GROUP BY 1
  HAVING sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) >= 1
     AND sum(CASE WHEN dir = -1 THEN 1 ELSE 0 END) >= 1),
st AS (
  SELECT symbol, n_up, n_down, runs,
         2.0 * n_up::DOUBLE * n_down::DOUBLE
           / (n_up::DOUBLE + n_down::DOUBLE) + 1.0 AS e_r,
         2.0 * n_up::DOUBLE * n_down::DOUBLE
           * (2.0 * n_up::DOUBLE * n_down::DOUBLE
              - (n_up::DOUBLE + n_down::DOUBLE))
           / ((n_up::DOUBLE + n_down::DOUBLE)
              * (n_up::DOUBLE + n_down::DOUBLE)
              * (n_up::DOUBLE + n_down::DOUBLE - 1.0)) AS var_r
  FROM agg)
SELECT symbol, n_up::BIGINT AS n_up, n_down::BIGINT AS n_down,
       runs::BIGINT AS runs,
       {_sql_rne('e_r', 'e_runs', 8)},
       {_sql_rne(
           'CASE WHEN var_r > 0 '
           'THEN (runs::DOUBLE - e_r) / sqrt(var_r) END',
           'z', 8)}
FROM st"""


def q_ts_adf_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root screen per symbol (with intercept):
    Δy_t = a + b·y_{t−1} + ε — the stationarity test a forecasting
    pipeline runs BEFORE differencing/fracdiff decisions (b ≈ 0 →
    random walk, keep differencing; large-negative t → already
    mean-reverting). The per-pair Engle–Granger card runs this on
    SPREAD residuals; this is the univariate screen on each symbol's
    own snapped closes. Two-regressor OLS entirely from six exact
    DECIMAL moments of integer inputs (one lag window); b̂, â, SSE,
    se(b̂) and the t-stat are closed-form float combinations of those
    moments — identical IEEE expressions in both engines. One window
    + one map-side groupBy on the symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    d = (
        d.withColumn("xl", F.lag("qc", 1).over(w))
        .withColumn("dy", F.col("qc") - F.col("xl"))
        .filter(F.col("xl").isNotNull())
    )
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xl").alias("sx"),
        F.sum("dy").alias("sd"),
        F.sum(F.col("xl") * F.col("dy")).alias("sxd"),
        F.sum(F.col("xl") * F.col("xl")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("sdd"),
    ).filter(F.col("n") >= 8)
    nd = F.col("n").cast("decimal(38,0)")
    varx_n = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    cov_n = (nd * F.col("sxd") - F.col("sx") * F.col("sd")).cast(
        "double"
    )
    n_ = F.col("n").cast("double")
    sx_ = F.col("sx").cast("double")
    sd_ = F.col("sd").cast("double")
    sxd_ = F.col("sxd").cast("double")
    sxx_ = F.col("sxx").cast("double")
    sdd_ = F.col("sdd").cast("double")
    b = F.when(varx_n > 0, cov_n / varx_n)
    a = (sd_ - b * sx_) / n_
    sse = (
        sdd_
        + n_ * a * a
        + b * b * sxx_
        - F.lit(2.0) * a * sd_
        - F.lit(2.0) * b * sxd_
        + F.lit(2.0) * a * b * sx_
    )
    se = F.sqrt(
        F.greatest(sse, F.lit(0.0)) / (n_ - F.lit(2.0)) * n_ / varx_n
    )
    t = F.when(se > 0, b / se)
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(b, "phi", 10),
        _rne(a / F.lit(1e6), "drift", 8),
        _rne(t, "adf_t", 8),
    )


def _sql_ts_adf_unit_root() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol,
         lag(qc, 1) OVER (PARTITION BY symbol ORDER BY time_idx) AS xl,
         qc - lag(qc, 1) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS dy
  FROM (SELECT symbol, time_idx,
               floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
        FROM filled)
  QUALIFY xl IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n, sum(xl) AS sx, sum(dy) AS sd,
         sum(xl * dy) AS sxd, sum(xl * xl) AS sxx, sum(dy * dy) AS sdd
  FROM d GROUP BY 1 HAVING count(*) >= 8),
fit AS (
  SELECT symbol, n,
         n::DOUBLE AS n_, sx::DOUBLE AS sx_, sd::DOUBLE AS sd_,
         sxd::DOUBLE AS sxd_, sxx::DOUBLE AS sxx_, sdd::DOUBLE AS sdd_,
         (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE AS varx_n,
         CASE WHEN (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0 THEN
           (n::DECIMAL(38,0) * sxd - sx * sd)::DOUBLE
             / (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE
         END AS b
  FROM agg),
st AS (
  SELECT symbol, n, b,
         (sd_ - b * sx_) / n_ AS a,
         sqrt(greatest(
           sdd_ + n_ * ((sd_ - b * sx_) / n_) * ((sd_ - b * sx_) / n_)
           + b * b * sxx_
           - 2.0 * ((sd_ - b * sx_) / n_) * sd_
           - 2.0 * b * sxd_
           + 2.0 * ((sd_ - b * sx_) / n_) * b * sx_, 0.0)
           / (n_ - 2.0) * n_ / varx_n) AS se
  FROM fit)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('b', 'phi', 10)},
       {_sql_rne('a / 1000000.0', 'drift', 8)},
       {_sql_rne('CASE WHEN se > 0 THEN b / se END', 'adf_t', 8)}
FROM st"""


def q_ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum per symbol — multiresolution
    variance decomposition (which time scale carries the movement:
    level 1 = bucket-to-bucket noise, level 3 = 8-bucket swings; the
    scale-localized complement of ts_cycle_power's frequency view).
    At level k the contiguous grid splits into 2^k-row blocks; the
    detail coefficient is (Σleft − Σright)/2^k and the level energy
    is Σ d² = (Σ (Σleft − Σright)²)/4^k — the numerators are exact
    DECIMAL integer sums of snapped closes, so the ONLY float op per
    level is the final 4^k division (no per-row snapping needed at
    all). Partial trailing blocks drop identically in both engines.
    One row_number window + one groupBy per level, all riding the
    symbol exchange; output is |symbols|·|levels| rows."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    ).withColumn("rn0", F.row_number().over(w) - F.lit(1))
    out = None
    for k in HAAR_LEVELS:
        blk = 1 << k
        half = blk >> 1
        sgn = F.when(
            (F.col("rn0") % blk) < half, F.lit(1)
        ).otherwise(F.lit(-1))
        lvl = (
            d.withColumn("bid", F.expr(f"rn0 div {blk}"))
            .groupBy("symbol", "bid")
            .agg(
                F.count(F.lit(1)).alias("bn"),
                F.sum(sgn * F.col("qc")).alias("num"),
            )
            .filter(F.col("bn") == blk)  # full blocks only
            .groupBy("symbol")
            .agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum(F.col("num") * F.col("num")).alias("ssq"),
            )
            .select(
                "symbol",
                F.lit(k).cast("long").alias("level"),
                F.col("n_blocks").cast("long").alias("n_blocks"),
                _rne(
                    F.col("ssq").cast("double")
                    / F.lit(float(4 ** k))
                    / F.lit(1e12),
                    "energy",
                    6,
                ),
            )
        )
        out = lvl if out is None else out.unionAll(lvl)
    return out


def _sql_ts_haar_energy() -> str:
    blocks = []
    for k in HAAR_LEVELS:
        blk = 1 << k
        half = blk >> 1
        blocks.append(f"""
SELECT symbol, {k}::BIGINT AS level,
       count(*)::BIGINT AS n_blocks,
       {_sql_rne(
           f'sum(num * num)::DOUBLE / {float(4 ** k)} / 1e12',
           'energy', 6)}
FROM (
  SELECT symbol, rn0 // {blk} AS bid, count(*) AS bn,
         sum(CASE WHEN rn0 % {blk} < {half} THEN qc ELSE -qc END)
           AS num
  FROM base GROUP BY 1, 2)
WHERE bn = {blk} GROUP BY symbol""")
    sels = " UNION ALL ".join(blocks)
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
base AS (
  SELECT symbol,
         row_number() OVER (PARTITION BY symbol ORDER BY time_idx) - 1
           AS rn0,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled)
{sels}"""


def q_ts_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality screen per symbol — the distributional
    gate a risk model runs before assuming Gaussian returns (fat tails
    → VaR underestimates; the JB stat is n/6·(S² + (K−3)²/4) ~ χ²(2)).
    Returns are 1e-6-snapped relative changes of the snapped close
    (``_rel_returns``), so all four raw moments are exact DECIMAL
    integer sums; skewness / kurtosis / JB are closed-form float
    combinations of those sums (central moments via the raw-moment
    identities, m2^1.5 as m2·√m2 — sqrt is correctly-rounded IEEE,
    pow is not) — identical expressions in both engines. One lag
    window + one map-side groupBy on the ts family's symbol
    exchange."""
    d = _rel_returns(spark, sf_dir, 1e6)
    r2 = (F.col("rq") * F.col("rq")).alias("r2")
    agg = (
        d.select("symbol", "rq", r2)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rq").alias("s1"),
            F.sum("r2").alias("s2"),
            F.sum(F.col("r2") * F.col("rq")).alias("s3"),
            F.sum(F.col("r2") * F.col("r2")).alias("s4"),
        )
        .filter(F.col("n") >= JB_MIN_N)
    )
    n_ = F.col("n").cast("double")
    s1_ = F.col("s1").cast("double")
    s2_ = F.col("s2").cast("double")
    s3_ = F.col("s3").cast("double")
    s4_ = F.col("s4").cast("double")
    m = s1_ / n_
    m2 = s2_ / n_ - m * m
    m3 = s3_ / n_ - F.lit(3.0) * m * (s2_ / n_) + F.lit(2.0) * m * m * m
    m4 = (
        s4_ / n_
        - F.lit(4.0) * m * (s3_ / n_)
        + F.lit(6.0) * m * m * (s2_ / n_)
        - F.lit(3.0) * m * m * m * m
    )
    skew = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    kurt = F.when(m2 > 0, m4 / (m2 * m2))
    jb = (
        n_
        / F.lit(6.0)
        * (
            skew * skew
            + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0)
        )
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(m / F.lit(1e6), "mean_ret", 10),
        _rne(skew, "skew", 8),
        _rne(kurt, "kurt", 8),
        _rne(jb, "jb", 6),
    )


def _sql_ts_jarque_bera() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('1000000.0')},
agg AS (
  SELECT symbol, count(*) AS n, sum(rq) AS s1, sum(rq * rq) AS s2,
         sum((rq * rq) * rq) AS s3, sum((rq * rq) * (rq * rq)) AS s4
  FROM ret GROUP BY 1 HAVING count(*) >= {JB_MIN_N}),
mom AS (
  SELECT symbol, n, n::DOUBLE AS n_,
         s1::DOUBLE / n::DOUBLE AS m,
         s2::DOUBLE / n::DOUBLE - (s1::DOUBLE / n::DOUBLE)
           * (s1::DOUBLE / n::DOUBLE) AS m2,
         s3::DOUBLE / n::DOUBLE
           - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s2::DOUBLE / n::DOUBLE)
           + 2.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
             * (s1::DOUBLE / n::DOUBLE) AS m3,
         s4::DOUBLE / n::DOUBLE
           - 4.0 * (s1::DOUBLE / n::DOUBLE) * (s3::DOUBLE / n::DOUBLE)
           + 6.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
             * (s2::DOUBLE / n::DOUBLE)
           - 3.0 * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
             * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS m4
  FROM agg),
st AS (
  SELECT symbol, n, n_, m,
         CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew,
         CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt
  FROM mom)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('m / 1000000.0', 'mean_ret', 10)},
       {_sql_rne('skew', 'skew', 8)},
       {_sql_rne('kurt', 'kurt', 8)},
       {_sql_rne(
           'n_ / 6.0 * (skew * skew'
           ' + (kurt - 3.0) * (kurt - 3.0) / 4.0)', 'jb', 6)}
FROM st"""


def q_ts_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharpe / Sortino / hit-rate card per symbol — the risk-adjusted
    summary next to ts_var_es and ts_drawdown (Sharpe = mean/σ of
    per-bucket returns, Sortino divides by downside deviation only,
    both population; the annualized column scales by √1460 for the 6h
    grid). Returns are 1e-8-snapped relative changes (``_rel_returns``
    — only squares here, so the finer grid is safe), and every moment
    (n, Σr, Σr², Σ_{r<0} r², #r>0) is an exact DECIMAL/integer sum; the
    ratios are final float combinations — identical IEEE expressions in
    both engines. One lag window + one map-side groupBy on the symbol
    exchange."""
    d = _rel_returns(spark, sf_dir, 1e8)
    agg = (
        d.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rq").alias("s1"),
            F.sum(F.col("rq") * F.col("rq")).alias("s2"),
            F.sum(
                F.when(F.col("rq") < 0, F.col("rq") * F.col("rq")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("sneg2"),
            F.sum(F.when(F.col("rq") > 0, 1).otherwise(0)).alias("npos"),
        )
        .filter(F.col("n") >= RISK_MIN_N)
    )
    n_ = F.col("n").cast("double")
    s1_ = F.col("s1").cast("double")
    s2_ = F.col("s2").cast("double")
    sneg_ = F.col("sneg2").cast("double")
    mean = s1_ / n_ / F.lit(1e8)
    var = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast("double")
        / (n_ * n_)
        / F.lit(1e16)
    )
    vol = F.sqrt(F.greatest(var, F.lit(0.0)))
    downside = F.sqrt(sneg_ / n_) / F.lit(1e8)
    sharpe = F.when(vol > 0, mean / vol)
    sortino = F.when(downside > 0, mean / downside)
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(mean, "mean_ret", 10),
        _rne(vol, "vol", 10),
        _rne(sharpe, "sharpe", 8),
        _rne(sortino, "sortino", 8),
        _rne(
            sharpe * F.lit(math.sqrt(BARS_PER_YEAR)), "sharpe_ann", 8
        ),
        _rne(
            F.col("npos").cast("double") / n_, "hit_rate", 8
        ),
    )


def _sql_ts_risk_ratios() -> str:
    mean = "s1::DOUBLE / n::DOUBLE / 100000000.0"
    var = (
        "(n::DECIMAL(38,0) * s2 - s1 * s1)::DOUBLE"
        " / (n::DOUBLE * n::DOUBLE) / 1e16"
    )
    vol = f"sqrt(greatest({var}, 0.0))"
    downside = "sqrt(sneg2::DOUBLE / n::DOUBLE) / 100000000.0"
    sharpe = f"CASE WHEN {vol} > 0 THEN ({mean}) / {vol} END"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('100000000.0')},
agg AS (
  SELECT symbol, count(*) AS n, sum(rq) AS s1, sum(rq * rq) AS s2,
         sum(CASE WHEN rq < 0 THEN rq * rq
                  ELSE 0::DECIMAL(38,0) END) AS sneg2,
         sum(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS npos
  FROM ret GROUP BY 1 HAVING count(*) >= {RISK_MIN_N})
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(mean, 'mean_ret', 10)},
       {_sql_rne(vol, 'vol', 10)},
       {_sql_rne(sharpe, 'sharpe', 8)},
       {_sql_rne(
           f'CASE WHEN {downside} > 0 THEN ({mean}) / ({downside}) END',
           'sortino', 8)},
       {_sql_rne(
           f'({sharpe}) * {math.sqrt(BARS_PER_YEAR)!r}',
           'sharpe_ann', 8)},
       {_sql_rne('npos::DOUBLE / n::DOUBLE', 'hit_rate', 8)}
FROM agg"""


def q_ts_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator per symbol — the heavy-tail
    complement of ts_jarque_bera (α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the
    k largest |price changes|; α < 2 means infinite variance, α < 4
    invalidates kurtosis — exactly the regime JB flags). |Δqc| is an
    exact integer, the top-(k+1) order statistics come from ONE
    per-symbol rank window that the optimizer runs as WindowGroupLimit
    (per-partition top-k, never a full sort), the (k+1)-th value
    broadcasts back to the k tail rows, and each ln term — one IEEE op
    on an exact-integer ratio — snaps to the 1e-12 grid before an
    exact DECIMAL sum (the garman_klass ln device). Symbols with fewer
    than k+1 nonzero changes drop in both engines."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    d = d.withColumn(
        "absx", F.abs(F.col("qc") - F.lag("qc", 1).over(w))
    ).filter(F.col("absx").isNotNull() & (F.col("absx") > 0))
    wr = Window.partitionBy("symbol").orderBy(
        F.col("absx").desc(), F.col("time_idx").asc()
    )
    r = d.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") <= HILL_K + 1
    )
    thr = r.filter(F.col("rn") == HILL_K + 1).select(
        "symbol", F.col("absx").alias("xk")
    )
    tail = r.filter(F.col("rn") <= HILL_K).join(
        F.broadcast(thr), "symbol"
    )
    tq = F.floor(
        F.log(F.col("absx").cast("double") / F.col("xk").cast("double"))
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    agg = tail.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(tq).alias("sq"),
        F.max("xk").alias("xk"),
    ).filter(F.col("n_tail") == HILL_K)
    alpha = F.when(
        F.col("sq") > 0,
        F.lit(float(HILL_K)) * F.lit(1e12) / F.col("sq").cast("double"),
    )
    return agg.select(
        "symbol",
        F.lit(HILL_K).cast("long").alias("k"),
        _rne(F.col("xk").cast("double") / F.lit(1e6), "threshold", 8),
        _rne(alpha, "hill_alpha", 8),
    )


def _sql_ts_hill_tail() -> str:
    k = HILL_K
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx,
         abs(qc - lag(qc, 1) OVER (PARTITION BY symbol ORDER BY time_idx))
           AS absx
  FROM (SELECT symbol, time_idx,
               floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
        FROM filled)
  QUALIFY absx IS NOT NULL AND absx > 0),
r AS (
  SELECT symbol, absx,
         row_number() OVER (PARTITION BY symbol
                            ORDER BY absx DESC, time_idx) AS rn
  FROM d QUALIFY rn <= {k + 1}),
thr AS (SELECT symbol, absx AS xk FROM r WHERE rn = {k + 1}),
agg AS (
  SELECT r.symbol, count(*) AS n_tail, max(t.xk) AS xk,
         sum(floor(ln(r.absx::DOUBLE / t.xk::DOUBLE)
                   * 1000000000000.0 + 0.5)::DECIMAL(38,0)) AS sq
  FROM r JOIN thr t ON r.symbol = t.symbol
  WHERE r.rn <= {k}
  GROUP BY 1 HAVING count(*) = {k})
SELECT symbol, {k}::BIGINT AS k,
       {_sql_rne('xk::DOUBLE / 1000000.0', 'threshold', 8)},
       {_sql_rne(
           f'CASE WHEN sq > 0 THEN {float(k)!r} * 1000000000000.0'
           ' / sq::DOUBLE END', 'hill_alpha', 8)}
FROM agg"""


def q_ts_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation matrix over the top-k most-liquid
    symbols — the outlier-robust twin of ts_symbol_corr_matrix (a
    single fat-tailed bucket, which ts_jarque_bera shows these feeds
    have, can dominate a Pearson estimate; ranks bound its
    influence). Ranks are per symbol over its full resampled return
    series (the streaming-friendly definition — re-ranking per pair
    would be O(pairs·n)) with average-rank ties in DOUBLED integer
    units (2·rankavg = 2·rank(min) + ties − 1, rank() and one
    (symbol, ret) count window — both integers), so the five pair
    moments ride exact DECIMAL and only the closed-form ratio is
    float. The top-k cut broadcasts; the pair join is k-bounded per
    time bucket, never corpus²."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    ret_raw = (
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    )
    rets = (
        r.join(F.broadcast(top), "symbol")
        .withColumn(
            "ret", F.floor(ret_raw * F.lit(1e6) + F.lit(0.5))
        )
        .filter(F.col("ret").isNotNull())
        .select("symbol", "time_idx", "ret")
    )
    wrk = Window.partitionBy("symbol").orderBy("ret")
    weq = Window.partitionBy("symbol", "ret")
    dr = (
        F.lit(2) * F.rank().over(wrk)
        + F.count(F.lit(1)).over(weq)
        - F.lit(1)
    ).cast("decimal(38,0)")
    rk = rets.select("symbol", "time_idx", dr.alias("dr"))
    a = rk.select(
        F.col("symbol").alias("sym_a"), "time_idx", F.col("dr").alias("x")
    )
    b = rk.select(
        F.col("symbol").alias("sym_b"), "time_idx", F.col("dr").alias("y")
    )
    agg = (
        a.join(b, "time_idx")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n_obs").cast("decimal(38,0)")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy))
    return agg.select(
        "sym_a", "sym_b", "n_obs", _rne(rho, "spearman", 6)
    )


def _sql_ts_spearman_corr() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
rets AS (
  SELECT symbol, time_idx,
         floor((close / nullif(lag(close) OVER (
                PARTITION BY symbol ORDER BY time_idx), 0.0) - 1)
              * 1000000.0 + 0.5) AS ret
  FROM idx WHERE symbol IN (SELECT symbol FROM top)
  QUALIFY ret IS NOT NULL),
rk AS (
  SELECT symbol, time_idx,
         (2 * rank() OVER (PARTITION BY symbol ORDER BY ret)
          + count(*) OVER (PARTITION BY symbol, ret)
          - 1)::DECIMAL(38,0) AS dr
  FROM rets),
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, count(*) AS n_obs,
         sum(a.dr) AS sx, sum(b.dr) AS sy, sum(a.dr * b.dr) AS sxy,
         sum(a.dr * a.dr) AS sxx, sum(b.dr * b.dr) AS syy
  FROM rk a JOIN rk b ON a.time_idx = b.time_idx
    AND a.symbol < b.symbol
  GROUP BY 1, 2)
SELECT sym_a, sym_b, n_obs,
       {_sql_rne(
           'CASE WHEN (n_obs::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0'
           ' AND (n_obs::DECIMAL(38,0) * syy - sy * sy)::DOUBLE > 0 THEN'
           ' (n_obs::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE'
           ' / sqrt((n_obs::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE)'
           ' / sqrt((n_obs::DECIMAL(38,0) * syy - sy * sy)::DOUBLE) END',
           'spearman', 6)}
FROM agg"""


def q_ts_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per symbol — RMS percentage drawdown (Martin's
    downside-pain measure: unlike max-drawdown it weighs DURATION,
    unlike σ it ignores upside), next to ts_drawdown /
    ts_underwater_duration. The running peak is an exact integer
    cummax window over the snapped close; each drawdown ratio is one
    IEEE division snapped to the 1e-9 grid so the squared sum rides
    exact DECIMAL; sqrt/percent are final ops. Rows before the first
    positive peak drop identically in both engines (zero closes
    exist in the raw feed at sf0.1 — the Amihud lesson). One window
    + one map-side groupBy on the symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    ).withColumn("pk", F.max("qc").over(w)).filter(F.col("pk") > 0)
    dd = (F.col("qc") - F.col("pk")).cast("double") / F.col("pk").cast(
        "double"
    )
    d = d.withColumn(
        "ddq",
        F.floor(dd * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)"),
    )
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ddq") * F.col("ddq")).alias("sq2"),
        F.min("ddq").alias("mndd"),
        F.sum(
            F.when(F.col("qc") < F.col("pk"), 1).otherwise(0)
        ).alias("nuw"),
    )
    n_ = F.col("n").cast("double")
    ulcer = (
        F.sqrt(F.col("sq2").cast("double") / n_) / F.lit(1e9) * F.lit(100.0)
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(ulcer, "ulcer", 8),
        _rne(
            -F.col("mndd").cast("double") / F.lit(1e9) * F.lit(100.0),
            "max_dd_pct",
            8,
        ),
        _rne(F.col("nuw").cast("double") / n_, "pct_underwater", 8),
    )


def _sql_ts_ulcer_index() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, qc,
         max(qc) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS pk
  FROM (SELECT symbol, time_idx,
               floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
        FROM filled)
  QUALIFY pk > 0),
dq AS (
  SELECT symbol, qc, pk,
         floor((qc - pk)::DOUBLE / pk::DOUBLE * 1000000000.0 + 0.5)
           ::DECIMAL(38,0) AS ddq
  FROM d),
agg AS (
  SELECT symbol, count(*) AS n, sum(ddq * ddq) AS sq2, min(ddq) AS mndd,
         sum(CASE WHEN qc < pk THEN 1 ELSE 0 END) AS nuw
  FROM dq GROUP BY 1)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(
           'sqrt(sq2::DOUBLE / n::DOUBLE) / 1000000000.0 * 100.0',
           'ulcer', 8)},
       {_sql_rne(
           '-(mndd::DOUBLE) / 1000000000.0 * 100.0', 'max_dd_pct', 8)},
       {_sql_rne('nuw::DOUBLE / n::DOUBLE', 'pct_underwater', 8)}
FROM agg"""


def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation screen per symbol (lags 1–3, Durbin–
    Levinson) — the AR-order selector that completes the Box–Jenkins
    pair with ts_autocorrelation (ACF tails off for AR processes;
    the PACF CUTS OFF at the true order — the diagnostic that picks
    p for ts_ar2_forecast). Computed on the 1e-6-snapped relative
    returns (``_rel_returns``): the three lag products, head/tail
    sums and squares are exact DECIMAL integer moments (full-series-
    mean ACF convention, mean folded in algebraically in float);
    ρ₁..ρ₃ and the Durbin–Levinson ratios are identical closed-form
    IEEE expressions in both engines. Three lag columns in ONE window
    projection + one map-side groupBy on the symbol exchange."""
    d = _rel_returns(spark, sf_dir, 1e6, with_idx=True)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    for k in (1, 2, 3):
        d = d.withColumn(f"l{k}", F.lag("rq", k).over(w))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("rq").alias("s1"),
        F.sum(F.col("rq") * F.col("rq")).alias("s2"),
    ]
    for k in (1, 2, 3):
        lk = F.col(f"l{k}")
        valid = lk.isNotNull()
        aggs += [
            F.sum(F.when(valid, 1).otherwise(0)).alias(f"nk{k}"),
            F.sum(F.when(valid, F.col("rq") * lk)).alias(f"pk{k}"),
            F.sum(F.when(valid, F.col("rq"))).alias(f"hk{k}"),
            F.sum(F.when(valid, lk)).alias(f"tk{k}"),
        ]
    agg = d.groupBy("symbol").agg(*aggs).filter(F.col("n") >= PACF_MIN_N)
    n_ = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n_
    den = F.col("s2").cast("double") - F.col("s1").cast("double") * mu
    rho = {}
    for k in (1, 2, 3):
        num = (
            F.col(f"pk{k}").cast("double")
            - mu
            * (F.col(f"hk{k}").cast("double") + F.col(f"tk{k}").cast("double"))
            + F.col(f"nk{k}").cast("double") * mu * mu
        )
        rho[k] = F.when(den > 0, num / den)
    d2 = F.lit(1.0) - rho[1] * rho[1]
    phi22 = F.when(d2 > 0, (rho[2] - rho[1] * rho[1]) / d2)
    phi21 = F.when(d2 > 0, rho[1] * (F.lit(1.0) - rho[2]) / d2)
    d3 = F.lit(1.0) - phi21 * rho[1] - phi22 * rho[2]
    phi33 = F.when(
        d3 != 0, (rho[3] - phi21 * rho[2] - phi22 * rho[1]) / d3
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(rho[1], "acf1", 8),
        _rne(rho[2], "acf2", 8),
        _rne(rho[3], "acf3", 8),
        _rne(phi22, "pacf2", 8),
        _rne(phi33, "pacf3", 8),
    )


def _sql_ts_pacf() -> str:
    mu = "s1::DOUBLE / n::DOUBLE"
    den = f"s2::DOUBLE - s1::DOUBLE * ({mu})"
    rho = {
        k: (
            f"CASE WHEN {den} > 0 THEN (pk{k}::DOUBLE - ({mu})"
            f" * (hk{k}::DOUBLE + tk{k}::DOUBLE)"
            f" + nk{k}::DOUBLE * ({mu}) * ({mu})) / ({den}) END"
        )
        for k in (1, 2, 3)
    }
    lag_cols = ",\n         ".join(
        f"lag(rq, {k}) OVER (PARTITION BY symbol ORDER BY time_idx)"
        f" AS l{k}"
        for k in (1, 2, 3)
    )
    mom_cols = ",\n         ".join(
        f"sum(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END) AS nk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN rq * l{k} END) AS pk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN rq END) AS hk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN l{k} END) AS tk{k}"
        for k in (1, 2, 3)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('1000000.0')},
lagged AS (
  SELECT symbol, rq,
         {lag_cols}
  FROM ret),
agg AS (
  SELECT symbol, count(*) AS n, sum(rq) AS s1, sum(rq * rq) AS s2,
         {mom_cols}
  FROM lagged GROUP BY 1 HAVING count(*) >= {PACF_MIN_N}),
rhos AS (
  SELECT symbol, n,
         {rho[1]} AS r1, {rho[2]} AS r2, {rho[3]} AS r3
  FROM agg),
dl AS (
  SELECT symbol, n, r1, r2, r3,
         CASE WHEN 1.0 - r1 * r1 > 0
              THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22,
         CASE WHEN 1.0 - r1 * r1 > 0
              THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) END AS phi21
  FROM rhos)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('r1', 'acf1', 8)},
       {_sql_rne('r2', 'acf2', 8)},
       {_sql_rne('r3', 'acf3', 8)},
       {_sql_rne('phi22', 'pacf2', 8)},
       {_sql_rne(
           'CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 <> 0 THEN'
           ' (r3 - phi21 * r2 - phi22 * r1)'
           ' / (1.0 - phi21 * r1 - phi22 * r2) END', 'pacf3', 8)}
FROM dl"""


def q_ts_xsec_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum card — quintile portfolios formed on
    trailing 7-day return, evaluated on next-day forward return (the
    Jegadeesh–Titman sort; a monotone quintile→forward-return profile
    is THE cross-sectional momentum signal, the portfolio-level
    complement of the per-symbol ts_macd_backtest). Trailing/forward
    returns are IEEE divisions of exact integer closes; the
    per-rebalance quintile assignment ranks (trail DESC, symbol) —
    a total order — INSIDE each time bucket (partition size = the
    symbol cross-section, never data-sized) and uses the engine-
    neutral even-split ntile_from_rank; forward returns snap to the
    1e-8 grid so quintile means ride exact DECIMAL. Output: 5
    rows."""
    from ..operators.twophase import ntile_from_rank

    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    d = (
        d.withColumn("bk", F.lag("qc", XSEC_TRAIL_W).over(w))
        .withColumn("fw", F.lead("qc", XSEC_FWD_W).over(w))
        .filter(
            F.col("bk").isNotNull()
            & (F.col("bk") > 0)
            & (F.col("qc") > 0)
            & F.col("fw").isNotNull()
        )
    )
    tr = (F.col("qc") - F.col("bk")).cast("double") / F.col("bk").cast(
        "double"
    )
    fw = (F.col("fw") - F.col("qc")).cast("double") / F.col("qc").cast(
        "double"
    )
    d = d.select(
        "time_idx",
        "symbol",
        tr.alias("tr"),
        F.floor(fw * F.lit(1e8) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("fwq"),
        F.floor(tr * F.lit(1e8) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("trq"),
    )
    wt = Window.partitionBy("time_idx").orderBy(
        F.col("tr").desc(), F.col("symbol").asc()
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("time_idx"))
    d = d.withColumn(
        "q",
        ntile_from_rank(F.row_number().over(wt), cnt, XSEC_N_Q),
    )
    agg = d.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("fwq").alias("sf"),
        F.sum("trq").alias("st"),
    )
    n_ = F.col("n_obs").cast("double")
    return agg.select(
        F.col("q").cast("long").alias("quintile"),
        F.col("n_obs").cast("long").alias("n_obs"),
        _rne(F.col("st").cast("double") / n_ / F.lit(1e8),
             "mean_trail_ret", 10),
        _rne(F.col("sf").cast("double") / n_ / F.lit(1e8),
             "mean_fwd_ret", 10),
    )


def _sql_ts_xsec_momentum() -> str:
    wq, fq = XSEC_TRAIL_W, XSEC_FWD_W
    nq = XSEC_N_Q
    # ntile_from_rank's even-split rule, verbatim in SQL
    ntile = f"""CASE WHEN rnk <= (cnt % {nq}) * (cnt // {nq} + 1)
         THEN (rnk - 1) // (cnt // {nq} + 1) + 1
         ELSE (cnt % {nq})
              + (rnk - (cnt % {nq}) * (cnt // {nq} + 1) - 1)
                // (cnt // {nq}) + 1 END"""
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx, qc,
         lag(qc, {wq}) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS bk,
         lead(qc, {fq}) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS fw
  FROM (SELECT symbol, time_idx,
               floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
        FROM filled)
  QUALIFY bk IS NOT NULL AND bk > 0 AND qc > 0 AND fw IS NOT NULL),
r AS (
  SELECT time_idx, symbol,
         (qc - bk)::DOUBLE / bk::DOUBLE AS tr,
         floor((fw - qc)::DOUBLE / qc::DOUBLE * 100000000.0 + 0.5)
           ::DECIMAL(38,0) AS fwq,
         floor((qc - bk)::DOUBLE / bk::DOUBLE * 100000000.0 + 0.5)
           ::DECIMAL(38,0) AS trq
  FROM d),
rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY time_idx
                            ORDER BY tr DESC, symbol) AS rnk,
         count(*) OVER (PARTITION BY time_idx) AS cnt
  FROM r),
qd AS (SELECT *, {ntile} AS q FROM rk),
agg AS (
  SELECT q, count(*) AS n_obs, sum(fwq) AS sf, sum(trq) AS st
  FROM qd GROUP BY 1)
SELECT q::BIGINT AS quintile, n_obs::BIGINT AS n_obs,
       {_sql_rne('st::DOUBLE / n_obs::DOUBLE / 100000000.0',
                 'mean_trail_ret', 10)},
       {_sql_rne('sf::DOUBLE / n_obs::DOUBLE / 100000000.0',
                 'mean_fwd_ret', 10)}
FROM agg"""


def q_ts_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week return seasonality, pooled across symbols — the
    calendar-anomaly screen (the 'weekend effect' class; a dow whose
    |t| clears ~2 is a candidate seasonal term for the forecast
    ensemble, and the return-space twin of events_chisq_type_dow's
    volume view). The dow of a bucket is pure integer arithmetic off
    time_idx ((idx div 4 + 5) mod 7 — engine-neutral, no dayofweek()
    numbering trap); returns ride the shared 1e-8-snapped
    `_rel_returns` frame so per-dow mean/σ/t come from exact DECIMAL
    moments; output is exactly 7 rows."""
    d = _rel_returns(spark, sf_dir, 1e8, with_idx=True)
    dow = (F.expr("time_idx div 4") + F.lit(DOW_ANCHOR)) % 7
    agg = (
        d.select(dow.alias("dow"), "rq")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rq").alias("s1"),
            F.sum(F.col("rq") * F.col("rq")).alias("s2"),
            F.sum(F.abs(F.col("rq"))).alias("sa"),
        )
    )
    n_ = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n_ / F.lit(1e8)
    var = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast("double")
        / (n_ * n_)
        / F.lit(1e16)
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    t = F.when(sd > 0, mean / (sd / F.sqrt(n_)))
    return agg.select(
        F.col("dow").cast("long").alias("dow"),
        F.col("n").cast("long").alias("n"),
        _rne(mean, "mean_ret", 10),
        _rne(F.col("sa").cast("double") / n_ / F.lit(1e8),
             "mean_abs_ret", 10),
        _rne(t, "t_stat", 8),
    )


def _sql_ts_dow_seasonality() -> str:
    mean = "s1::DOUBLE / n::DOUBLE / 100000000.0"
    var = (
        "(n::DECIMAL(38,0) * s2 - s1 * s1)::DOUBLE"
        " / (n::DOUBLE * n::DOUBLE) / 1e16"
    )
    sd = f"sqrt(greatest({var}, 0.0))"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('100000000.0')},
agg AS (
  SELECT ((time_idx // 4) + {DOW_ANCHOR}) % 7 AS dow,
         count(*) AS n, sum(rq) AS s1, sum(rq * rq) AS s2,
         sum(abs(rq)) AS sa
  FROM ret GROUP BY 1)
SELECT dow::BIGINT AS dow, n::BIGINT AS n,
       {_sql_rne(mean, 'mean_ret', 10)},
       {_sql_rne('sa::DOUBLE / n::DOUBLE / 100000000.0',
                 'mean_abs_ret', 10)},
       {_sql_rne(
           f'CASE WHEN {sd} > 0 THEN ({mean})'
           f' / ({sd} / sqrt(n::DOUBLE)) END', 't_stat', 8)}
FROM agg"""


def q_ts_vol_of_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vol-of-vol per symbol — the dispersion of DAILY realized
    volatility (the quantity a GARCH/vol-targeting layer actually has
    to track: two symbols with equal mean vol but different vol-of-vol
    need very different risk buffers; reads next to ts_garch_vol /
    ts_ewma_vol). Daily RV = √(Σr²) over each day's four 6h buckets —
    the inner sum is an exact DECIMAL integer aggregate per (symbol,
    day idx div 4), the √ is one IEEE op snapped to the 1e-9 grid —
    and the across-day mean/σ ride exact DECIMAL moments of the
    snapped RVs. Two map-side-combined aggregates on the symbol
    exchange."""
    d = _rel_returns(spark, sf_dir, 1e8, with_idx=True)
    day = F.expr("time_idx div 4")
    daily = (
        d.select("symbol", day.alias("day"), "rq")
        .groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.col("rq") * F.col("rq")).alias("s2"),
        )
        .filter(F.col("nb") >= 2)
    )
    rv = F.sqrt(F.col("s2").cast("double")) / F.lit(1e8)
    rvq = F.floor(rv * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    agg = (
        daily.select("symbol", rvq.alias("rvq"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("rvq").alias("s1"),
            F.sum(F.col("rvq") * F.col("rvq")).alias("s2"),
        )
        .filter(F.col("n_days") >= VOLVOL_MIN_DAYS)
    )
    n_ = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / n_ / F.lit(1e9)
    var = (
        (
            F.col("n_days").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast("double")
        / (n_ * n_)
        / F.lit(1e18)
    )
    return agg.select(
        "symbol",
        F.col("n_days").cast("long").alias("n_days"),
        _rne(mean, "mean_rv", 10),
        _rne(F.sqrt(F.greatest(var, F.lit(0.0))), "vol_of_vol", 10),
    )


def _sql_ts_vol_of_vol() -> str:
    var = (
        "(n_days::DECIMAL(38,0) * s2 - s1 * s1)::DOUBLE"
        " / (n_days::DOUBLE * n_days::DOUBLE) / 1e18"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('100000000.0')},
daily AS (
  SELECT symbol, time_idx // 4 AS day, count(*) AS nb,
         sum(rq * rq) AS s2
  FROM ret GROUP BY 1, 2 HAVING count(*) >= 2),
rvs AS (
  SELECT symbol,
         floor(sqrt(s2::DOUBLE) / 100000000.0 * 1000000000.0 + 0.5)
           ::DECIMAL(38,0) AS rvq
  FROM daily),
agg AS (
  SELECT symbol, count(*) AS n_days, sum(rvq) AS s1,
         sum(rvq * rvq) AS s2
  FROM rvs GROUP BY 1 HAVING count(*) >= {VOLVOL_MIN_DAYS})
SELECT symbol, n_days::BIGINT AS n_days,
       {_sql_rne('s1::DOUBLE / n_days::DOUBLE / 1000000000.0',
                 'mean_rv', 10)},
       {_sql_rne(f'sqrt(greatest({var}, 0.0))', 'vol_of_vol', 10)}
FROM agg"""


def q_ts_granger_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger-causality screen over the top-k liquid symbols —
    does B's LAGGED return predict A's return beyond A's own lag?
    Stated as the PARTIAL correlation of (rA_t, rB_{t−1}) controlling
    rA_{t−1} — algebraically the single-restriction Granger test, but
    closed-form from three plain correlations (r_p = (r_xy −
    r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)), t = r_p·√((n−3)/(1−r_p²))) so
    no 3×3 normal-equation solve. Returns snap to the 1e-6 grid; all
    nine pair moments ride exact DECIMAL through ONE k-bounded join
    on time_idx (lags precomputed per symbol, so the join is
    point-to-point, not lagged); correlations and t are identical
    IEEE expressions in both engines. Both orientations emitted
    (cause, effect): |pairs| = k(k−1) rows."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    ret_raw = (
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    )
    rets = (
        r.join(F.broadcast(top), "symbol")
        .withColumn(
            "ret",
            F.floor(ret_raw * F.lit(1e6) + F.lit(0.5)).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn("lret", F.lag("ret", 1).over(w))
        .filter(F.col("ret").isNotNull() & F.col("lret").isNotNull())
        .select("symbol", "time_idx", "ret", "lret")
    )
    a = rets.select(
        F.col("symbol").alias("effect"),
        "time_idx",
        F.col("ret").alias("x"),   # rA_t
        F.col("lret").alias("z"),  # rA_{t-1}
    )
    b = rets.select(
        F.col("symbol").alias("cause"),
        "time_idx",
        F.col("lret").alias("y"),  # rB_{t-1}
    )
    j = a.join(b, "time_idx").filter(F.col("effect") != F.col("cause"))
    agg = j.groupBy("cause", "effect").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    ).filter(F.col("n") >= GRANGER_MIN_N)
    nd = F.col("n").cast("decimal(38,0)")

    def corr(sab, sa, sb, saa, sbb):
        cov = (nd * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        va = (nd * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        vb = (nd * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        return F.when((va > 0) & (vb > 0), cov / F.sqrt(va) / F.sqrt(vb))

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    den = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    rp = F.when(den > 0, (rxy - rxz * ryz) / F.sqrt(den))
    n_ = F.col("n").cast("double")
    t = F.when(
        F.lit(1.0) - rp * rp > 0,
        rp * F.sqrt((n_ - F.lit(3.0)) / (F.lit(1.0) - rp * rp)),
    )
    return agg.select(
        "cause",
        "effect",
        F.col("n").cast("long").alias("n"),
        _rne(rp, "partial_corr", 8),
        _rne(t, "granger_t", 8),
    )


def _sql_ts_granger_screen() -> str:
    def corr(sab, sa, sb, saa, sbb):
        cov = f"(n::DECIMAL(38,0) * {sab} - {sa} * {sb})::DOUBLE"
        va = f"(n::DECIMAL(38,0) * {saa} - {sa} * {sa})::DOUBLE"
        vb = f"(n::DECIMAL(38,0) * {sbb} - {sb} * {sb})::DOUBLE"
        return (
            f"CASE WHEN {va} > 0 AND {vb} > 0 THEN {cov}"
            f" / sqrt({va}) / sqrt({vb}) END"
        )

    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
rets AS (
  SELECT symbol, time_idx, ret,
         lag(ret, 1) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS lret
  FROM (
    SELECT symbol, time_idx,
           floor((close / nullif(lag(close) OVER (
                  PARTITION BY symbol ORDER BY time_idx), 0.0) - 1)
                * 1000000.0 + 0.5)::DECIMAL(38,0) AS ret
    FROM idx WHERE symbol IN (SELECT symbol FROM top))
  QUALIFY ret IS NOT NULL AND lret IS NOT NULL),
agg AS (
  SELECT b.symbol AS cause, a.symbol AS effect, count(*) AS n,
         sum(a.ret) AS sx, sum(b.lret) AS sy, sum(a.lret) AS sz,
         sum(a.ret * b.lret) AS sxy, sum(a.ret * a.lret) AS sxz,
         sum(b.lret * a.lret) AS syz, sum(a.ret * a.ret) AS sxx,
         sum(b.lret * b.lret) AS syy, sum(a.lret * a.lret) AS szz
  FROM rets a JOIN rets b ON a.time_idx = b.time_idx
    AND a.symbol <> b.symbol
  GROUP BY 1, 2 HAVING count(*) >= {GRANGER_MIN_N}),
pc AS (
  SELECT cause, effect, n,
         {corr('sxy', 'sx', 'sy', 'sxx', 'syy')} AS rxy,
         {corr('sxz', 'sx', 'sz', 'sxx', 'szz')} AS rxz,
         {corr('syz', 'sy', 'sz', 'syy', 'szz')} AS ryz
  FROM agg),
rp AS (
  SELECT cause, effect, n,
         CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
              THEN (rxy - rxz * ryz)
                / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END AS rp
  FROM pc)
SELECT cause, effect, n::BIGINT AS n,
       {_sql_rne('rp', 'partial_corr', 8)},
       {_sql_rne(
           'CASE WHEN 1.0 - rp * rp > 0 THEN'
           ' rp * sqrt((n::DOUBLE - 3.0) / (1.0 - rp * rp)) END',
           'granger_t', 8)}
FROM rp"""


def q_ts_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend OLS per symbol (close on time_idx): slope, R² and
    the slope t-stat — the trend-strength screen beside the ADF
    unit-root test (ADF asks 'does the level predict the change';
    this asks 'is there a deterministic drift and how much variance
    does it explain' — fracdiff/detrending decisions read both).
    time_idx and the 1e-6-snapped close are integers, so ALL OLS
    moments ride exact DECIMAL; slope/R²/t are identical closed-form
    IEEE expressions (SSE via the Syy − b·Sxy_c identity). One
    map-side groupBy on the symbol exchange; slope is reported per
    DAY (×4 buckets) in price units."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    d = df.select(
        "symbol",
        F.col("time_idx").cast("decimal(38,0)").alias("x"),
        F.floor(F.col("close") * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).filter(F.col("n") >= TREND_MIN_N)
    nd = F.col("n").cast("decimal(38,0)")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    n_ = F.col("n").cast("double")
    b = F.when(vx > 0, cov / vx)
    r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    sse_n2 = F.when(vx > 0, (vy - b * cov) / (n_ * (n_ - F.lit(2.0))))
    t = F.when(sse_n2 > 0, b / F.sqrt(sse_n2 * n_ / vx))
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(b * F.lit(4.0) / F.lit(1e6), "slope_per_day", 10),
        _rne(r2, "r2", 8),
        _rne(t, "trend_t", 8),
    )


def _sql_ts_trend_ols() -> str:
    vx = "(n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE"
    vy = "(n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE"
    cov = "(n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE"
    b = f"CASE WHEN {vx} > 0 THEN {cov} / {vx} END"
    sse = (
        f"CASE WHEN {vx} > 0 THEN ({vy} - ({b}) * {cov})"
        f" / (n::DOUBLE * (n::DOUBLE - 2.0)) END"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx::DECIMAL(38,0) AS x,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS y
  FROM filled),
agg AS (
  SELECT symbol, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM d GROUP BY 1 HAVING count(*) >= {TREND_MIN_N})
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(f'({b}) * 4.0 / 1000000.0', 'slope_per_day', 10)},
       {_sql_rne(
           f'CASE WHEN {vx} > 0 AND {vy} > 0 THEN ({cov}) * ({cov})'
           f' / (({vx}) * ({vy})) END', 'r2', 8)},
       {_sql_rne(
           f'CASE WHEN {sse} > 0 THEN ({b})'
           f' / sqrt(({sse}) * n::DOUBLE / ({vx})) END', 'trend_t', 8)}
FROM agg"""


def q_ts_drawdown_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-EPISODE statistics per symbol — count, mean/max
    duration and mean/max depth of contiguous underwater spells: the
    distributional view that ulcer (RMS) and underwater-duration
    (longest spell) summarize away (two symbols with equal ulcer can
    be 'many shallow dips' vs 'one crater' — opposite hedging
    problems). The running peak is an exact integer cummax; episodes
    are gaps-and-islands (difference of two row_numbers — all
    integers) over the underwater flag; depths are snapped ratios
    with exact DECIMAL episode minima. Two windows + two map-side
    aggregates on the symbol exchange."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    ).withColumn("pk", F.max("qc").over(w)).filter(F.col("pk") > 0)
    uw = d.filter(F.col("qc") < F.col("pk"))
    wall = Window.partitionBy("symbol").orderBy("time_idx")
    dd = (F.col("qc") - F.col("pk")).cast("double") / F.col("pk").cast(
        "double"
    )
    ddq = F.floor(dd * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    # gaps-and-islands: underwater rows consecutive in the FULL grid
    # share (time_idx - row_number-over-underwater)
    uw = uw.withColumn(
        "ep",
        F.col("time_idx") - F.row_number().over(wall),
    ).withColumn("ddq", ddq)
    eps = uw.groupBy("symbol", "ep").agg(
        F.count(F.lit(1)).alias("dur"),
        F.min("ddq").alias("depth_q"),
    )
    agg = eps.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_episodes"),
        F.sum("dur").alias("sdur"),
        F.max("dur").alias("max_dur"),
        F.sum("depth_q").alias("sdepth"),
        F.min("depth_q").alias("min_depth_q"),
    )
    n_ = F.col("n_episodes").cast("double")
    return agg.select(
        "symbol",
        F.col("n_episodes").cast("long").alias("n_episodes"),
        _rne(F.col("sdur").cast("double") / n_, "mean_duration", 8),
        F.col("max_dur").cast("long").alias("max_duration"),
        _rne(
            -F.col("sdepth").cast("double") / n_ / F.lit(1e9) * F.lit(100.0),
            "mean_depth_pct",
            8,
        ),
        _rne(
            -F.col("min_depth_q").cast("double") / F.lit(1e9) * F.lit(100.0),
            "max_depth_pct",
            8,
        ),
    )


def _sql_ts_drawdown_episodes() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx, qc,
         max(qc) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS pk
  FROM (SELECT symbol, time_idx,
               floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
        FROM filled)
  QUALIFY pk > 0),
uw AS (
  SELECT symbol, time_idx,
         floor((qc - pk)::DOUBLE / pk::DOUBLE * 1000000000.0 + 0.5)
           ::DECIMAL(38,0) AS ddq,
         time_idx - row_number() OVER (PARTITION BY symbol
                                       ORDER BY time_idx) AS ep
  FROM d WHERE qc < pk),
eps AS (
  SELECT symbol, ep, count(*) AS dur, min(ddq) AS depth_q
  FROM uw GROUP BY 1, 2),
agg AS (
  SELECT symbol, count(*) AS n_episodes, sum(dur) AS sdur,
         max(dur) AS max_dur, sum(depth_q) AS sdepth,
         min(depth_q) AS min_depth_q
  FROM eps GROUP BY 1)
SELECT symbol, n_episodes::BIGINT AS n_episodes,
       {_sql_rne('sdur::DOUBLE / n_episodes::DOUBLE',
                 'mean_duration', 8)},
       max_dur::BIGINT AS max_duration,
       {_sql_rne(
           '-(sdepth::DOUBLE) / n_episodes::DOUBLE / 1000000000.0'
           ' * 100.0', 'mean_depth_pct', 8)},
       {_sql_rne(
           '-(min_depth_q::DOUBLE) / 1000000000.0 * 100.0',
           'max_depth_pct', 8)}
FROM agg"""


def q_ts_volatility_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility-clustering screen per symbol — the ACF of |returns|
    at lags 1–3: returns themselves are near-white (ts_pacf shows it)
    but their MAGNITUDES are persistent in real markets; |r|-ACF
    significantly > 0 is the ARCH effect that justifies the
    GARCH/EWMA-vol stack (and near 0 says a constant-vol model is
    fine — the model-selection gate before ts_garch_vol). Same
    exact-DECIMAL lag-moment device as ts_pacf, applied to |rq| on
    the shared 1e-6-snapped relative-return frame; one window
    projection + one map-side groupBy on the symbol exchange."""
    d = _rel_returns(spark, sf_dir, 1e6, with_idx=True).withColumn(
        "aq", F.abs(F.col("rq"))
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    for k in (1, 2, 3):
        d = d.withColumn(f"l{k}", F.lag("aq", k).over(w))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("aq").alias("s1"),
        F.sum(F.col("aq") * F.col("aq")).alias("s2"),
    ]
    for k in (1, 2, 3):
        lk = F.col(f"l{k}")
        valid = lk.isNotNull()
        aggs += [
            F.sum(F.when(valid, 1).otherwise(0)).alias(f"nk{k}"),
            F.sum(F.when(valid, F.col("aq") * lk)).alias(f"pk{k}"),
            F.sum(F.when(valid, F.col("aq"))).alias(f"hk{k}"),
            F.sum(F.when(valid, lk)).alias(f"tk{k}"),
        ]
    agg = d.groupBy("symbol").agg(*aggs).filter(
        F.col("n") >= PACF_MIN_N
    )
    n_ = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n_
    den = F.col("s2").cast("double") - F.col("s1").cast("double") * mu
    outs = ["symbol", F.col("n").cast("long").alias("n")]
    for k in (1, 2, 3):
        num = (
            F.col(f"pk{k}").cast("double")
            - mu
            * (
                F.col(f"hk{k}").cast("double")
                + F.col(f"tk{k}").cast("double")
            )
            + F.col(f"nk{k}").cast("double") * mu * mu
        )
        outs.append(_rne(F.when(den > 0, num / den), f"acf{k}_abs", 8))
    return agg.select(*outs)


def _sql_ts_volatility_clustering() -> str:
    mu = "s1::DOUBLE / n::DOUBLE"
    den = f"s2::DOUBLE - s1::DOUBLE * ({mu})"
    rho = {
        k: (
            f"CASE WHEN {den} > 0 THEN (pk{k}::DOUBLE - ({mu})"
            f" * (hk{k}::DOUBLE + tk{k}::DOUBLE)"
            f" + nk{k}::DOUBLE * ({mu}) * ({mu})) / ({den}) END"
        )
        for k in (1, 2, 3)
    }
    lag_cols = ",\n         ".join(
        f"lag(aq, {k}) OVER (PARTITION BY symbol ORDER BY time_idx)"
        f" AS l{k}"
        for k in (1, 2, 3)
    )
    mom_cols = ",\n         ".join(
        f"sum(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END) AS nk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN aq * l{k} END) AS pk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN aq END) AS hk{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN l{k} END) AS tk{k}"
        for k in (1, 2, 3)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('1000000.0')},
lagged AS (
  SELECT symbol, aq,
         {lag_cols}
  FROM (SELECT symbol, time_idx, abs(rq) AS aq FROM ret)),
agg AS (
  SELECT symbol, count(*) AS n, sum(aq) AS s1, sum(aq * aq) AS s2,
         {mom_cols}
  FROM lagged GROUP BY 1 HAVING count(*) >= {PACF_MIN_N})
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(rho[1], 'acf1_abs', 8)},
       {_sql_rne(rho[2], 'acf2_abs', 8)},
       {_sql_rne(rho[3], 'acf3_abs', 8)}
FROM agg"""


def q_ts_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower-tail dependence for the top-k symbol pairs — do they
    crash TOGETHER? λ = P(A below its own 10th percentile | B below
    its) — the co-crash statistic a correlation matrix systematically
    understates (Gaussian copulas have λ = 0 at any ρ < 1; portfolio
    risk lives exactly there). Per-symbol thresholds use the exact
    sort-based percentile on the snapped return (the quantile-family
    device); the flagged series then pair-join k-bounded on time_idx
    and every output is a ratio of exact integer counts. Reads next
    to ts_symbol_corr_matrix / ts_spearman_corr."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    top = (
        r.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    ret_raw = (
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    )
    rets = (
        r.join(F.broadcast(top), "symbol")
        .withColumn(
            "ret", F.floor(ret_raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        )
        .filter(F.col("ret").isNotNull())
        .select("symbol", "time_idx", "ret")
    )
    thr = rets.groupBy("symbol").agg(
        F.expr(f"percentile(ret, {TAIL_Q}D)").alias("q10")
    )
    flagged = rets.join(F.broadcast(thr), "symbol").select(
        "symbol",
        "time_idx",
        (F.col("ret") <= F.col("q10")).cast("int").alias("fl"),
    )
    a = flagged.select(
        F.col("symbol").alias("sym_a"), "time_idx", F.col("fl").alias("fa")
    )
    b = flagged.select(
        F.col("symbol").alias("sym_b"), "time_idx", F.col("fl").alias("fb")
    )
    agg = (
        a.join(b, "time_idx")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("fa").alias("na"),
            F.sum("fb").alias("nb"),
            F.sum(F.col("fa") * F.col("fb")).alias("n_both"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    n_ = F.col("n_obs").cast("double")
    lam = F.col("n_both").cast("double") / F.col("nb").cast("double")
    lift = (
        F.col("n_both").cast("double")
        * n_
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return agg.select(
        "sym_a",
        "sym_b",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_both").cast("long").alias("n_both"),
        _rne(lam, "tail_lambda", 8),
        _rne(lift, "tail_lift", 8),
    )


def _sql_ts_tail_dependence() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM idx GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
rets AS (
  SELECT symbol, time_idx,
         floor((close / nullif(lag(close) OVER (
                PARTITION BY symbol ORDER BY time_idx), 0.0) - 1)
              * 1000000.0 + 0.5) / 1000000.0 AS ret
  FROM idx WHERE symbol IN (SELECT symbol FROM top)
  QUALIFY ret IS NOT NULL),
thr AS (
  SELECT symbol, quantile_cont(ret, {TAIL_Q}) AS q10
  FROM rets GROUP BY 1),
flagged AS (
  SELECT r.symbol, r.time_idx,
         (r.ret <= t.q10)::INT AS fl
  FROM rets r JOIN thr t ON r.symbol = t.symbol),
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, count(*) AS n_obs,
         sum(a.fl) AS na, sum(b.fl) AS nb, sum(a.fl * b.fl) AS n_both
  FROM flagged a JOIN flagged b ON a.time_idx = b.time_idx
    AND a.symbol < b.symbol
  GROUP BY 1, 2 HAVING sum(a.fl) > 0 AND sum(b.fl) > 0)
SELECT sym_a, sym_b, n_obs::BIGINT AS n_obs, n_both::BIGINT AS n_both,
       {_sql_rne('n_both::DOUBLE / nb::DOUBLE', 'tail_lambda', 8)},
       {_sql_rne(
           'n_both::DOUBLE * n_obs::DOUBLE'
           ' / (na::DOUBLE * nb::DOUBLE)', 'tail_lift', 8)}
FROM agg"""


def q_ts_month_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year return seasonality pooled across symbols — the
    annual-calendar twin of ts_dow_seasonality ('sell in May',
    January-effect class screens; a month whose |t| clears ~2 is a
    candidate seasonal regressor). The bucket's calendar month comes
    from one engine-neutral date construction (anchor date + integer
    day index — month() numbering is 1–12 in both engines, unlike
    dayofweek); returns ride the shared 1e-8-snapped `_rel_returns`
    frame with exact DECIMAL moments; ≤12 output rows."""
    d = _rel_returns(spark, sf_dir, 1e8, with_idx=True)
    day_idx = F.expr("time_idx div 4").cast("int")
    mon = F.month(F.date_add(F.lit("2000-01-01").cast("date"), day_idx))
    agg = (
        d.select(mon.alias("month"), "rq")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rq").alias("s1"),
            F.sum(F.col("rq") * F.col("rq")).alias("s2"),
        )
    )
    n_ = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n_ / F.lit(1e8)
    var = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast("double")
        / (n_ * n_)
        / F.lit(1e16)
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    t = F.when(sd > 0, mean / (sd / F.sqrt(n_)))
    return agg.select(
        F.col("month").cast("long").alias("month"),
        F.col("n").cast("long").alias("n"),
        _rne(mean, "mean_ret", 10),
        _rne(t, "t_stat", 8),
    )


def _sql_ts_month_seasonality() -> str:
    mean = "s1::DOUBLE / n::DOUBLE / 100000000.0"
    var = (
        "(n::DECIMAL(38,0) * s2 - s1 * s1)::DOUBLE"
        " / (n::DOUBLE * n::DOUBLE) / 1e16"
    )
    sd = f"sqrt(greatest({var}, 0.0))"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('100000000.0')},
agg AS (
  SELECT month(DATE '2000-01-01'
               + CAST(time_idx // 4 AS INT)) AS month,
         count(*) AS n, sum(rq) AS s1, sum(rq * rq) AS s2
  FROM ret GROUP BY 1)
SELECT month::BIGINT AS month, n::BIGINT AS n,
       {_sql_rne(mean, 'mean_ret', 10)},
       {_sql_rne(
           f'CASE WHEN {sd} > 0 THEN ({mean})'
           f' / ({sd} / sqrt(n::DOUBLE)) END', 't_stat', 8)}
FROM agg"""


def q_ts_leverage_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leverage-effect screen per symbol — corr(r_t, |r|_{t+1}):
    negative in equity-like markets (down moves raise NEXT-period
    volatility more than up moves — the asymmetry that motivates
    EGARCH/GJR over plain GARCH; the signed complement of
    ts_volatility_clustering's |r|-ACF). One lead window on the
    shared 1e-6-snapped return frame; five exact DECIMAL pair
    moments; corr and its t are final IEEE expressions."""
    d = _rel_returns(spark, sf_dir, 1e6, with_idx=True)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    d = d.withColumn("y", F.abs(F.lead("rq", 1).over(w))).filter(
        F.col("y").isNotNull()
    )
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rq").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("rq") * F.col("y")).alias("sxy"),
        F.sum(F.col("rq") * F.col("rq")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).filter(F.col("n") >= PACF_MIN_N)
    nd = F.col("n").cast("decimal(38,0)")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy))
    n_ = F.col("n").cast("double")
    t = F.when(
        F.lit(1.0) - rho * rho > 0,
        rho * F.sqrt((n_ - F.lit(2.0)) / (F.lit(1.0) - rho * rho)),
    )
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(rho, "leverage_corr", 8),
        _rne(t, "t_stat", 8),
    )


def _sql_ts_leverage_effect() -> str:
    cov = "(n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE"
    vx = "(n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE"
    vy = "(n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE"
    rho = (
        f"CASE WHEN {vx} > 0 AND {vy} > 0 THEN {cov}"
        f" / sqrt({vx}) / sqrt({vy}) END"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('1000000.0')},
dl AS (
  SELECT symbol, rq,
         abs(lead(rq, 1) OVER (PARTITION BY symbol ORDER BY time_idx))
           AS y
  FROM ret QUALIFY y IS NOT NULL),
agg AS (
  SELECT symbol, count(*) AS n, sum(rq) AS sx, sum(y) AS sy,
         sum(rq * y) AS sxy, sum(rq * rq) AS sxx, sum(y * y) AS syy
  FROM dl GROUP BY 1 HAVING count(*) >= {PACF_MIN_N}),
rh AS (SELECT symbol, n, {rho} AS rho FROM agg)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne('rho', 'leverage_corr', 8)},
       {_sql_rne(
           'CASE WHEN 1.0 - rho * rho > 0 THEN rho'
           ' * sqrt((n::DOUBLE - 2.0) / (1.0 - rho * rho)) END',
           't_stat', 8)}
FROM rh"""


def q_ts_stress_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation breakdown under stress — pair correlations of the
    top-k symbols computed SEPARATELY inside high-|market-move|
    buckets (top decile of |equal-weight index return|) vs calm
    buckets: diversification that exists in the calm regime and
    vanishes under stress is THE classic portfolio failure, invisible
    to the unconditional ts_symbol_corr_matrix. The market series is
    the capm_beta device (exact DECIMAL mean of member closes,
    calendar-bounded frame); the stress threshold is the exact
    percentile of |market return|; per-(pair, regime) moments ride
    exact DECIMAL through the k-bounded time join. Output: one row
    per pair with both regime correlations and the difference."""
    df = _filled(spark, sf_dir).select("symbol", "time_idx", "close")
    d = df.withColumn(
        "qc",
        F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("decimal(38,0)"),
    )
    top = (
        d.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("symbol").asc())
        .limit(CORR_MATRIX_TOP_K)
        .select("symbol")
    )
    # equal-weight market index over ALL symbols (calendar-bounded)
    mkt = d.groupBy("time_idx").agg(
        F.sum("qc").alias("sq"), F.count(F.lit(1)).alias("nm")
    )
    mq = F.floor(
        F.col("sq").cast("double") / F.col("nm").cast("double")
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    mkt = mkt.select("time_idx", mq.alias("mq"))
    wm = Window.orderBy("time_idx")  # calendar-bounded frame
    mret = (
        (F.col("mq") - F.lag("mq", 1).over(wm)).cast("double")
        / F.lag("mq", 1).over(wm).cast("double")
    )
    mkt = mkt.withColumn("mret", mret).filter(
        F.col("mret").isNotNull()
    )
    thr = mkt.agg(
        F.expr(f"percentile(abs(mret), {STRESS_Q}D)").alias("thr")
    )
    flags = mkt.crossJoin(F.broadcast(thr)).select(
        "time_idx",
        (F.abs(F.col("mret")) >= F.col("thr")).cast("int").alias(
            "stress"
        ),
    )
    w = Window.partitionBy("symbol").orderBy("time_idx")
    rets = (
        d.join(F.broadcast(top), "symbol")
        .withColumn("l1", F.lag("qc", 1).over(w))
        .filter(F.col("l1").isNotNull() & (F.col("l1") > 0))
        .withColumn(
            "rq",
            F.floor(
                (F.col("qc") - F.col("l1")).cast("double")
                / F.col("l1").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("decimal(38,0)"),
        )
        .join(flags, "time_idx")
        .select("symbol", "time_idx", "rq", "stress")
    )
    a = rets.select(
        F.col("symbol").alias("sym_a"),
        "time_idx",
        F.col("rq").alias("x"),
        "stress",
    )
    b = rets.select(
        F.col("symbol").alias("sym_b"), "time_idx", F.col("rq").alias("y")
    )
    agg = (
        a.join(b, "time_idx")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b", "stress")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .filter(F.col("n") >= 4)
    )
    nd = F.col("n").cast("decimal(38,0)")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy))
    per = agg.select("sym_a", "sym_b", "stress", "n", rho.alias("rho"))
    out = per.groupBy("sym_a", "sym_b").agg(
        F.sum(F.when(F.col("stress") == 1, F.col("n"))).alias(
            "n_stress"
        ),
        F.sum(F.when(F.col("stress") == 0, F.col("n"))).alias("n_calm"),
        F.max(F.when(F.col("stress") == 1, F.col("rho"))).alias(
            "corr_stress"
        ),
        F.max(F.when(F.col("stress") == 0, F.col("rho"))).alias(
            "corr_calm"
        ),
    )
    return out.select(
        "sym_a",
        "sym_b",
        F.col("n_stress").cast("long").alias("n_stress"),
        F.col("n_calm").cast("long").alias("n_calm"),
        _rne(F.col("corr_stress"), "corr_stress", 8),
        _rne(F.col("corr_calm"), "corr_calm", 8),
        _rne(
            F.col("corr_stress") - F.col("corr_calm"), "corr_shift", 8
        ),
    )


def _sql_ts_stress_corr() -> str:
    rho = (
        "CASE WHEN (n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE > 0"
        " AND (n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE > 0 THEN"
        " (n::DECIMAL(38,0) * sxy - sx * sy)::DOUBLE"
        " / sqrt((n::DECIMAL(38,0) * sxx - sx * sx)::DOUBLE)"
        " / sqrt((n::DECIMAL(38,0) * syy - sy * sy)::DOUBLE) END"
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
q AS (
  SELECT symbol, time_idx,
         floor(close * 1000000.0 + 0.5)::DECIMAL(38,0) AS qc
  FROM filled),
top AS (
  SELECT symbol FROM (
    SELECT symbol, count(*) AS n FROM q GROUP BY 1
    ORDER BY n DESC, symbol ASC LIMIT {CORR_MATRIX_TOP_K})),
mkt AS (
  SELECT time_idx,
         floor(sum(qc)::DOUBLE / count(*)::DOUBLE + 0.5)
           ::DECIMAL(38,0) AS mq
  FROM q GROUP BY 1),
mret AS (
  SELECT time_idx,
         (mq - lag(mq) OVER (ORDER BY time_idx))::DOUBLE
           / (lag(mq) OVER (ORDER BY time_idx))::DOUBLE AS mret
  FROM mkt QUALIFY mret IS NOT NULL),
thr AS (SELECT quantile_cont(abs(mret), {STRESS_Q}) AS thr FROM mret),
flags AS (
  SELECT time_idx, (abs(mret) >= thr)::INT AS stress
  FROM mret, thr),
rets AS (
  SELECT q.symbol, q.time_idx,
         floor((qc - l1)::DOUBLE / l1::DOUBLE * 1000000.0 + 0.5)
           ::DECIMAL(38,0) AS rq,
         f.stress
  FROM (SELECT symbol, time_idx, qc,
               lag(qc, 1) OVER (PARTITION BY symbol ORDER BY time_idx)
                 AS l1
        FROM q WHERE symbol IN (SELECT symbol FROM top)) q
  JOIN flags f ON q.time_idx = f.time_idx
  WHERE l1 IS NOT NULL AND l1 > 0),
agg AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.stress,
         count(*) AS n, sum(a.rq) AS sx, sum(b.rq) AS sy,
         sum(a.rq * b.rq) AS sxy, sum(a.rq * a.rq) AS sxx,
         sum(b.rq * b.rq) AS syy
  FROM rets a JOIN rets b
    ON a.time_idx = b.time_idx AND a.symbol < b.symbol
  GROUP BY 1, 2, 3 HAVING count(*) >= 4),
per AS (SELECT sym_a, sym_b, stress, n, {rho} AS rho FROM agg)
SELECT sym_a, sym_b,
       sum(CASE WHEN stress = 1 THEN n END)::BIGINT AS n_stress,
       sum(CASE WHEN stress = 0 THEN n END)::BIGINT AS n_calm,
       {_sql_rne(
           'max(CASE WHEN stress = 1 THEN rho END)', 'corr_stress', 8)},
       {_sql_rne(
           'max(CASE WHEN stress = 0 THEN rho END)', 'corr_calm', 8)},
       {_sql_rne(
           'max(CASE WHEN stress = 1 THEN rho END)'
           ' - max(CASE WHEN stress = 0 THEN rho END)',
           'corr_shift', 8)}
FROM per GROUP BY 1, 2"""


def q_ts_round_price_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number clustering audit — do raw tick prices pile up on
    round cents? (Classic microstructure bias: humans quote round
    levels; a synthetic/bot feed is uniform. The χ² against the
    uniform last-two-cents-digit law is the screen.) Runs on the RAW
    event feed (not the resampled grid — resampling destroys quote
    granularity): digit = ⌊price·100⌋ mod 100 (exact integer off the
    snapped cents), observed counts vs N/100 expected, per-digit
    contribution + the round-digit (00/50/25/75) share. Output: 100
    rows + the digit domain is fixed, never data-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    ).filter(F.col("cents").isNotNull() & (F.col("cents") >= 0))
    d = ev.select((F.col("cents") % 100).alias("digit"))
    cells = d.groupBy("digit").agg(F.count(F.lit(1)).alias("obs"))
    nn = F.sum("obs").over(Window.partitionBy())
    c = cells.select("digit", "obs", nn.alias("nn"))
    e = F.col("nn").cast("double") / F.lit(100.0)
    o = F.col("obs").cast("double")
    return c.select(
        F.col("digit").cast("long").alias("digit"),
        F.col("obs").cast("long").alias("observed"),
        _rne(e, "expected", 6),
        _rne((o - e) * (o - e) / e, "chi2_contrib", 8),
        _rne(o / F.col("nn").cast("double"), "share", 8),
    )


def _sql_ts_round_price_bias() -> str:
    e = "nn::DOUBLE / 100.0"
    return f"""
WITH d AS (
  SELECT (floor(value * 100 + 0.5)::BIGINT % 100) AS digit
  FROM events
  WHERE value IS NOT NULL AND floor(value * 100 + 0.5)::BIGINT >= 0),
cells AS (SELECT digit, count(*) AS obs FROM d GROUP BY 1),
tot AS (SELECT digit, obs, sum(obs) OVER () AS nn FROM cells)
SELECT digit::BIGINT AS digit, obs::BIGINT AS observed,
       {_sql_rne(e, 'expected', 6)},
       {_sql_rne(
           f'(obs::DOUBLE - ({e})) * (obs::DOUBLE - ({e})) / ({e})',
           'chi2_contrib', 8)},
       {_sql_rne('obs::DOUBLE / nn::DOUBLE', 'share', 8)}
FROM tot"""


def q_ts_intraday_vol_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volatility clock — mean |return| and share of total
    absolute movement per 6h bucket-of-day, pooled across symbols
    (which quarter of the day moves the market: the session-overlap
    signature in FX/crypto, the execution-scheduling input for any
    TWAP/VWAP split — reads next to ts_dow_seasonality on the weekly
    axis). Bucket-of-day = time_idx mod 4, pure integer; |returns|
    ride the shared 1e-8-snapped frame with exact DECIMAL sums; 4
    output rows."""
    d = _rel_returns(spark, sf_dir, 1e8, with_idx=True)
    bod = F.col("time_idx") % 4
    agg = (
        d.select(bod.alias("bucket_of_day"), F.abs(F.col("rq")).alias("aq"))
        .groupBy("bucket_of_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("aq").alias("sa"),
        )
    )
    tot = F.sum("sa").over(Window.partitionBy())
    c = agg.select(
        "bucket_of_day", "n", "sa", tot.alias("ta")
    )
    n_ = F.col("n").cast("double")
    return c.select(
        F.col("bucket_of_day").cast("long").alias("bucket_of_day"),
        F.col("n").cast("long").alias("n"),
        _rne(F.col("sa").cast("double") / n_ / F.lit(1e8),
             "mean_abs_ret", 10),
        _rne(
            F.col("sa").cast("double") / F.col("ta").cast("double"),
            "movement_share",
            8,
        ),
    )


def _sql_ts_intraday_vol_profile() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
{_sql_rel_returns('100000000.0')},
agg AS (
  SELECT time_idx % 4 AS bucket_of_day, count(*) AS n,
         sum(abs(rq)) AS sa
  FROM ret GROUP BY 1),
tot AS (SELECT *, sum(sa) OVER () AS ta FROM agg)
SELECT bucket_of_day::BIGINT AS bucket_of_day, n::BIGINT AS n,
       {_sql_rne('sa::DOUBLE / n::DOUBLE / 100000000.0',
                 'mean_abs_ret', 10)},
       {_sql_rne('sa::DOUBLE / ta::DOUBLE', 'movement_share', 8)}
FROM tot"""


def q_ts_jump_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Barndorff-Nielsen–Shephard jump diagnostic per symbol: realized
    variance (Σr²) against bipower variation ((π/2)·Σ|r_t||r_{t-1}|) —
    BV is jump-robust, so the relative jump measure
    RJ = (RV−BV)/RV isolates the discontinuous share of total
    variance (the quant screen run before fitting any continuous-vol
    model). Same determinism device as ts_realized_vol: each per-row
    term (r², |r_t||r_{t-1}|) snaps to the 1e-12 grid and sums in
    exact DECIMAL; π enters once as the nearest-double literal in a
    single IEEE expression on the snapped sums. One lag window on the
    ts family's shared symbol exchange + one map-side aggregate."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    d = df.select("symbol", "time_idx", lr.alias("lr")).filter(
        F.col("lr").isNotNull()
    )
    lr_prev = F.lag("lr", 1).over(w)
    snap12 = lambda e: (  # noqa: E731
        F.floor(e * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    terms = d.select(
        "symbol",
        snap12(F.col("lr") * F.col("lr")).alias("r2"),
        snap12(F.abs(F.col("lr")) * F.abs(lr_prev)).alias("bp"),
    )
    agg = terms.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_rets"),
        F.sum("r2").alias("srv"),
        F.sum("bp").alias("sbp"),
    ).filter(F.col("n_rets") >= 3)
    rv = F.col("srv").cast("double")
    bv = F.lit(math.pi / 2.0) * F.col("sbp").cast("double")
    return agg.select(
        "symbol",
        F.col("n_rets").cast("long").alias("n_rets"),
        _rne(rv, "rv", 10),
        _rne(bv, "bv", 10),
        _rne(F.when(rv > 0, (rv - bv) / rv), "rel_jump", 8),
    )


def _sql_ts_jump_test() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lr AS (
  SELECT symbol, time_idx,
         CASE WHEN close > 0 AND lag(close) OVER w > 0
              THEN ln(close / lag(close) OVER w) END AS lr
  FROM filled WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
lr2 AS (
  SELECT symbol, lr, lag(lr) OVER (PARTITION BY symbol ORDER BY time_idx) AS lrp
  FROM (SELECT symbol, time_idx, lr FROM lr WHERE lr IS NOT NULL)),
terms AS (
  SELECT symbol,
         CAST(floor(lr * lr * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12)) AS r2,
         CAST(floor(abs(lr) * abs(lrp) * 1e12 + 0.5) / 1e12
              AS DECIMAL(30,12)) AS bp
  FROM lr2),
agg AS (
  SELECT symbol, count(*) AS n_rets, sum(r2) AS srv, sum(bp) AS sbp
  FROM terms GROUP BY 1 HAVING count(*) >= 3)
SELECT symbol, n_rets::BIGINT AS n_rets,
       {_sql_rne('srv::DOUBLE', 'rv', 10)},
       {_sql_rne('(pi() / 2.0) * sbp::DOUBLE', 'bv', 10)},
       {_sql_rne(
           'CASE WHEN srv::DOUBLE > 0 THEN '
           '(srv::DOUBLE - (pi() / 2.0) * sbp::DOUBLE) / srv::DOUBLE END',
           'rel_jump', 8)}
FROM agg"""


def q_ts_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin–Schultz (2012) bid-ask spread estimator from high/low
    ranges: over each ADJACENT pair of real resampled bars (no
    gap-fill — a ffilled bar has a stale zero range),
    β = ln(H₁/L₁)² + ln(H₂/L₂)², γ = ln(max(H)/min(L))²,
    α = (√(2β)−√β)/(3−2√2) − √(γ/(3−2√2)), S = 2(eᵅ−1)/(1+eᵅ); the
    per-pair spread is floored at 0 (the paper's negative-estimate
    convention) and averaged per symbol, with the raw-negative share
    kept as a diagnostic. Per-pair values snap to the 1e-12 grid and
    average in exact DECIMAL. One lag window + one aggregate on the
    shared symbol exchange."""
    r = _resampled(spark, sf_dir).select(
        "symbol", "time_idx", "high", "low"
    ).filter((F.col("high") > 0) & (F.col("low") > 0))
    w = Window.partitionBy("symbol").orderBy("time_idx")
    hp, lp = F.lag("high", 1).over(w), F.lag("low", 1).over(w)
    d = r.select(
        "symbol", "high", "low", hp.alias("hp"), lp.alias("lp")
    ).filter(F.col("hp").isNotNull())
    lhl = F.log(F.col("high") / F.col("low"))
    lhlp = F.log(F.col("hp") / F.col("lp"))
    beta = lhl * lhl + lhlp * lhlp
    gw = F.log(
        F.greatest(F.col("high"), F.col("hp"))
        / F.least(F.col("low"), F.col("lp"))
    )
    gamma = gw * gw
    den = F.lit(3.0 - 2.0 * math.sqrt(2.0))
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / den - F.sqrt(
        gamma / den
    )
    s = F.lit(2.0) * (F.exp(alpha) - F.lit(1.0)) / (F.exp(alpha) + F.lit(1.0))
    snap12 = lambda e: (  # noqa: E731
        F.floor(e * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    terms = d.select(
        "symbol",
        snap12(F.greatest(s, F.lit(0.0))).alias("sp"),
        (s < 0).cast("long").alias("neg"),
    )
    agg = terms.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sp").alias("ssp"),
        F.sum("neg").alias("n_neg"),
    ).filter(F.col("n_pairs") >= 2)
    return agg.select(
        "symbol",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        _rne(
            F.col("ssp").cast("double") / F.col("n_pairs").cast("double"),
            "cs_spread",
            10,
        ),
        _rne(
            F.col("n_neg").cast("double") / F.col("n_pairs").cast("double"),
            "neg_share",
            8,
        ),
    )


def _sql_ts_corwin_schultz() -> str:
    den = "(3.0 - 2.0 * sqrt(2.0))"
    alpha = (
        f"((sqrt(2.0 * beta) - sqrt(beta)) / {den}"
        f" - sqrt(gamma / {den}))"
    )
    s = f"(2.0 * (exp({alpha}) - 1.0) / (exp({alpha}) + 1.0))"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
bars AS (
  SELECT symbol, time_idx, high, low,
         lag(high) OVER w AS hp, lag(low) OVER w AS lp
  FROM idx WHERE high > 0 AND low > 0
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
bg AS (
  SELECT symbol,
         pow(ln(high / low), 2) + pow(ln(hp / lp), 2) AS beta,
         pow(ln(greatest(high, hp) / least(low, lp)), 2) AS gamma
  FROM bars WHERE hp IS NOT NULL),
terms AS (
  SELECT symbol,
         CAST(floor(greatest({s}, 0.0) * 1e12 + 0.5) / 1e12
              AS DECIMAL(30,12)) AS sp,
         CASE WHEN {s} < 0 THEN 1 ELSE 0 END AS neg
  FROM bg),
agg AS (
  SELECT symbol, count(*) AS n_pairs, sum(sp) AS ssp,
         CAST(sum(neg) AS BIGINT) AS n_neg
  FROM terms GROUP BY 1 HAVING count(*) >= 2)
SELECT symbol, n_pairs::BIGINT AS n_pairs,
       {_sql_rne('ssp::DOUBLE / n_pairs::DOUBLE', 'cs_spread', 10)},
       {_sql_rne('n_neg::DOUBLE / n_pairs::DOUBLE', 'neg_share', 8)}
FROM agg"""


def q_ts_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implied effective spread: under the bid-ask bounce
    model, spread = 2·√(−cov(Δp_t, Δp_{t−1})); a non-negative first
    autocovariance has no Roll solution and yields NULL (reported
    alongside the autocovariance itself, which is the useful
    diagnostic either way). Population autocovariance from exact
    sums: Δp products snap to the 1e-10 grid and sum in DECIMAL, the
    (Σxy − ΣxΣy/n)/n combination runs once on the snapped sums. One
    lag window + one aggregate on the shared symbol exchange."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    dp = F.col("close") - F.lag("close", 1).over(w)
    d = df.select("symbol", "time_idx", dp.alias("dp")).filter(
        F.col("dp").isNotNull()
    )
    dpp = F.lag("dp", 1).over(w)
    snap10 = lambda e: (  # noqa: E731
        F.floor(e * 1e10 + F.lit(0.5)) / 1e10
    ).cast("decimal(32,10)")
    pairs = d.select(
        "symbol",
        snap10(F.col("dp") * dpp).alias("xy"),
        snap10(F.col("dp")).alias("x"),
        snap10(dpp).alias("y"),
    ).filter(F.col("xy").isNotNull())
    agg = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xy").alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / nd
    ) / nd
    return agg.select(
        "symbol",
        F.col("n").cast("long").alias("n"),
        _rne(cov, "autocov", 8),
        _rne(
            F.when(cov < 0, F.lit(2.0) * F.sqrt(-cov)), "roll_spread", 8
        ),
    )


def _sql_ts_roll_spread() -> str:
    cov = "((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / n::DOUBLE)"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
dp AS (
  SELECT symbol, time_idx,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY time_idx)
           AS dp
  FROM filled),
pairs AS (
  SELECT symbol,
         CAST(floor(dp * lag(dp) OVER w * 1e10 + 0.5) / 1e10
              AS DECIMAL(32,10)) AS xy,
         CAST(floor(dp * 1e10 + 0.5) / 1e10 AS DECIMAL(32,10)) AS x,
         CAST(floor(lag(dp) OVER w * 1e10 + 0.5) / 1e10
              AS DECIMAL(32,10)) AS y
  FROM (SELECT * FROM dp WHERE dp IS NOT NULL)
  WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
agg AS (
  SELECT symbol, count(*) AS n, sum(xy) AS sxy, sum(x) AS sx,
         sum(y) AS sy
  FROM pairs WHERE xy IS NOT NULL GROUP BY 1 HAVING count(*) >= 2)
SELECT symbol, n::BIGINT AS n,
       {_sql_rne(cov, 'autocov', 8)},
       {_sql_rne(
           f'CASE WHEN {cov} < 0 THEN 2.0 * sqrt(-{cov}) END',
           'roll_spread', 8)}
FROM agg"""


def q_ts_vwap_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(symbol, day) VWAP and mean |close/VWAP − 1|: the execution
    benchmark every trading desk reconciles against, over the real
    resampled buckets with the per-bucket row count as the volume
    proxy (the tables' documented convention). The day VWAP is a
    window aggregate over the (symbol, day) frame — no second join —
    and rides the ts family's single symbol exchange. Determinism:
    close·volume terms snap to the 1e-8 grid and sum in DECIMAL;
    volume is integer; per-bucket deviations snap and average in
    DECIMAL."""
    r = _resampled(spark, sf_dir).select(
        "symbol",
        F.floor(F.col("time_idx") / RV_BUCKETS_PER_DAY)
        .cast("long")
        .alias("day"),
        "close",
        F.col("n_rows").cast("long").alias("vol"),
    )
    snap8 = lambda e: (  # noqa: E731
        F.floor(e * 1e8 + F.lit(0.5)) / 1e8
    ).cast("decimal(30,8)")
    d = r.select(
        "symbol", "day", "close", "vol", snap8(F.col("close") * F.col("vol")).alias("pv")
    )
    wd = Window.partitionBy("symbol", "day")
    d = d.withColumn(
        "vwap",
        F.sum("pv").over(wd).cast("double")
        / F.sum("vol").over(wd).cast("double"),
    )
    dev = snap8(F.abs(F.col("close") / F.col("vwap") - F.lit(1.0)))
    agg = (
        d.select("symbol", "day", "vwap", dev.alias("dev"))
        .groupBy("symbol", "day")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.first("vwap").alias("vwap"),
            F.sum("dev").alias("sdev"),
        )
    )
    return agg.select(
        "symbol",
        "day",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        _rne(F.col("vwap"), "vwap", 8),
        _rne(
            F.col("sdev").cast("double")
            / F.col("n_buckets").cast("double"),
            "mean_abs_dev",
            8,
        ),
    )


def _sql_ts_vwap_deviation() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
d AS (
  SELECT symbol,
         CAST(floor(time_idx / {RV_BUCKETS_PER_DAY}) AS BIGINT) AS day,
         close, n_rows::BIGINT AS vol,
         CAST(floor(close * n_rows * 1e8 + 0.5) / 1e8
              AS DECIMAL(30,8)) AS pv
  FROM idx),
v AS (
  SELECT symbol, day, close,
         (sum(pv) OVER w)::DOUBLE / (sum(vol) OVER w)::DOUBLE AS vwap
  FROM d WINDOW w AS (PARTITION BY symbol, day)),
dev AS (
  SELECT symbol, day, vwap,
         CAST(floor(abs(close / vwap - 1.0) * 1e8 + 0.5) / 1e8
              AS DECIMAL(30,8)) AS dev
  FROM v),
agg AS (
  SELECT symbol, day, count(*) AS n_buckets, first(vwap) AS vwap,
         sum(dev) AS sdev
  FROM dev GROUP BY 1, 2)
SELECT symbol, day, n_buckets::BIGINT AS n_buckets,
       {_sql_rne('vwap', 'vwap', 8)},
       {_sql_rne('sdev::DOUBLE / n_buckets::DOUBLE', 'mean_abs_dev', 8)}
FROM agg"""


DFA_BOXES = (8, 16, 32)


def q_ts_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis per symbol — the scaling
    exponent α that complements ts_hurst's R/S view (α≈0.5 random
    walk, >0.5 persistent): integrate demeaned log returns into a
    profile, split it into boxes of 8/16/32 (sized so even the smoke-scale
    series carries ≥2 boxes of the largest size — no vacuous green), remove each box's OLS
    line in closed form (residual SS = Syy − Sxy²/Sxx on exact
    sums; Sxx is a literal per box size), and regress log₂F(n) on
    log₂n over the three sizes. Determinism: returns snap to the
    1e-12 grid so their mean is exact; the profile is an ordered
    running sum (sequential fold — bitwise identical in both
    engines); per-box sums snap profile values to the 1e-8 grid and
    run in DECIMAL. The three box passes share one profile frame;
    everything rides the symbol exchange."""
    df = _filled(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    lr = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    snap12 = lambda e: (  # noqa: E731
        F.floor(e * 1e12 + F.lit(0.5)) / 1e12
    ).cast("decimal(30,12)")
    d = df.select("symbol", "time_idx", snap12(lr).alias("r")).filter(
        F.col("r").isNotNull()
    )
    wsym = Window.partitionBy("symbol")
    d = d.withColumn(
        "mr",
        F.sum("r").over(wsym).cast("double")
        / F.count(F.lit(1)).over(wsym).cast("double"),
    )
    wrun = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prof = d.select(
        "symbol",
        (F.row_number().over(w) - 1).alias("pos"),
        F.sum(F.col("r").cast("double") - F.col("mr")).over(wrun).alias("y"),
    # three consumers (one per box size): pin the profile once
    # instead of replaying the return/demean/running-sum lineage
    ).localCheckpoint(eager=True)
    snap8 = lambda e: (  # noqa: E731
        F.floor(e * 1e8 + F.lit(0.5)) / 1e8
    ).cast("decimal(30,8)")
    fs = []
    for nb in DFA_BOXES:
        # per (symbol, box): closed-form OLS residual variance with
        # x = 0..nb-1 (Sxx, Sx literals); partial tail boxes dropped
        sx = nb * (nb - 1) / 2.0
        sxx = (nb - 1) * nb * (2 * nb - 1) / 6.0
        den = sxx - sx * sx / nb
        box = prof.select(
            "symbol",
            F.floor(F.col("pos") / nb).cast("long").alias("box"),
            (F.col("pos") % nb).cast("double").alias("x"),
            "y",
        )
        bagg = box.groupBy("symbol", "box").agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum(snap8(F.col("y"))).alias("sy"),
            F.sum(snap8(F.col("y") * F.col("y"))).alias("syy"),
            F.sum(snap8(F.col("x") * F.col("y"))).alias("sxy"),
        ).filter(F.col("bn") == nb)
        syd = F.col("sy").cast("double")
        rss = (
            F.col("syy").cast("double")
            - syd * syd / F.lit(float(nb))
            - (F.col("sxy").cast("double") - F.lit(sx / nb) * syd)
            * (F.col("sxy").cast("double") - F.lit(sx / nb) * syd)
            / F.lit(den)
        )
        f = bagg.groupBy("symbol").agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(snap8(rss / F.lit(float(nb)))).alias("srv"),
        ).filter(F.col("k") >= 2).select(
            "symbol",
            F.sqrt(
                F.col("srv").cast("double") / F.col("k").cast("double")
            ).alias(f"f{nb}"),
        )
        fs.append(f)
    out = fs[0].join(fs[1], "symbol").join(fs[2], "symbol")
    # 3-point log-log OLS slope: alpha = Σ(u−ū)(v−v̄) / Σ(u−ū)²
    us = [math.log2(nb) for nb in DFA_BOXES]
    um = sum(us) / 3.0
    duu = sum((u - um) ** 2 for u in us)
    num = None
    for nb, u in zip(DFA_BOXES, us):
        t = F.lit((u - um) / duu) * F.log2(F.col(f"f{nb}"))
        num = t if num is None else num + t
    return out.select(
        "symbol",
        _rne(F.col("f8"), "f8", 10),
        _rne(F.col("f16"), "f16", 10),
        _rne(F.col("f32"), "f32", 10),
        _rne(num, "alpha", 6),
    )


def _sql_ts_dfa() -> str:
    box_ctes = []
    joins = []
    for nb in DFA_BOXES:
        sx = nb * (nb - 1) / 2.0
        sxx = (nb - 1) * nb * (2 * nb - 1) / 6.0
        den = sxx - sx * sx / nb
        rss = (
            f"(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / {float(nb)}"
            f" - (sxy::DOUBLE - {sx / nb} * sy::DOUBLE)"
            f" * (sxy::DOUBLE - {sx / nb} * sy::DOUBLE) / {den})"
        )
        box_ctes.append(
            f"""b{nb} AS (
  SELECT symbol, floor(pos / {nb})::BIGINT AS box, count(*) AS bn,
         sum(CAST(floor(y * 1e8 + 0.5) / 1e8 AS DECIMAL(30,8))) AS sy,
         sum(CAST(floor(y * y * 1e8 + 0.5) / 1e8 AS DECIMAL(30,8)))
           AS syy,
         sum(CAST(floor((pos % {nb}) * y * 1e8 + 0.5) / 1e8
                  AS DECIMAL(30,8))) AS sxy
  FROM prof GROUP BY 1, 2 HAVING count(*) = {nb}),
f{nb} AS (
  SELECT symbol,
         sqrt(sum(CAST(floor({rss} / {float(nb)} * 1e8 + 0.5) / 1e8
                       AS DECIMAL(30,8)))::DOUBLE / count(*)) AS f{nb}
  FROM b{nb} GROUP BY 1 HAVING count(*) >= 2)"""
        )
        joins.append(f"f{nb}")
    us = [math.log2(nb) for nb in DFA_BOXES]
    um = sum(us) / 3.0
    duu = sum((u - um) ** 2 for u in us)
    alpha = " + ".join(
        f"({(u - um) / duu}) * log2(f{nb})"
        for nb, u in zip(DFA_BOXES, us)
    )
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
lr AS (
  SELECT symbol, time_idx,
         CAST(floor(CASE WHEN close > 0 AND lag(close) OVER w > 0
                    THEN ln(close / lag(close) OVER w) END * 1e12 + 0.5)
              / 1e12 AS DECIMAL(30,12)) AS r
  FROM filled WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
rr AS (
  SELECT symbol, time_idx, r,
         (sum(r) OVER (PARTITION BY symbol))::DOUBLE
           / (count(*) OVER (PARTITION BY symbol)) AS mr
  FROM lr WHERE r IS NOT NULL),
prof AS (
  SELECT symbol,
         row_number() OVER w - 1 AS pos,
         sum(r::DOUBLE - mr) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS UNBOUNDED PRECEDING) AS y
  FROM rr WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
{','.join(box_ctes)}
SELECT symbol,
       {_sql_rne('f8', 'f8', 10)},
       {_sql_rne('f16', 'f16', 10)},
       {_sql_rne('f32', 'f32', 10)},
       {_sql_rne(alpha, 'alpha', 6)}
FROM f8 JOIN f16 USING (symbol) JOIN f32 USING (symbol)"""


def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ORDER-STATISTIC smoothing — the robust counterpart of
    the SMA/EMA family (W3/W4): exact 5-bucket rolling median and MAD
    over the gap-filled closes, plus the robust z-score
    (x − med)/(1.4826·MAD + ε) that survives the outliers a mean/std
    z-score (A2) smears. Expressed as frame-collected lists sorted
    in-expression (array_sort + element_at — pure selection, no float
    accumulation, bitwise on both engines); emitted only where the
    frame is full. One window frame on the shared symbol exchange."""
    df = _filled(spark, sf_dir)
    w5 = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(-4, Window.currentRow)
    )
    d = df.select(
        "symbol",
        "time_idx",
        "close",
        F.collect_list("close").over(w5).alias("arr"),
    ).filter(F.size("arr") == 5)
    med = F.element_at(F.array_sort("arr"), 3)
    d = d.withColumn("med5", med)
    mad = F.element_at(
        F.array_sort(
            F.transform("arr", lambda v: F.abs(v - F.col("med5")))
        ),
        3,
    )
    d = d.withColumn("mad5", mad)
    rz = (F.col("close") - F.col("med5")) / (
        F.lit(1.4826) * F.col("mad5") + F.lit(1e-8)
    )
    return d.select(
        "symbol",
        "time_idx",
        _rne(F.col("med5"), "med5", 8),
        _rne(F.col("mad5"), "mad5", 8),
        _rne(rz, "robust_z", 8),
    )


def _sql_ts_rolling_median() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED},
d AS (
  SELECT symbol, time_idx, close,
         list(close) OVER (PARTITION BY symbol ORDER BY time_idx
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS arr
  FROM filled),
m AS (
  SELECT symbol, time_idx, close,
         list_sort(arr)[3] AS med5, arr
  FROM d WHERE len(arr) = 5),
mm AS (
  SELECT symbol, time_idx, close, med5,
         list_sort(list_transform(arr, v -> abs(v - med5)))[3] AS mad5
  FROM m)
SELECT symbol, time_idx,
       {_sql_rne('med5', 'med5', 8)},
       {_sql_rne('mad5', 'mad5', 8)},
       {_sql_rne(
           '(close - med5) / (1.4826 * mad5 + 1e-8)', 'robust_z', 8)}
FROM mm"""


KENDALL_WINDOW = 60


def q_ts_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between close and volume over each symbol's last
    60 buckets — the rank-correlation sibling of ts_spearman_corr
    that survives ties and outliers by counting concordant/discordant
    PAIRS instead of ranking values. The pair expansion is a
    within-symbol self-join over the FIXED 60-row tail (≤1770 pairs
    per symbol regardless of history length — the windowed-pair
    convention that keeps the op linear in symbols at 100 TB).
    All-integer counting; τ_b = (C−D)/√((n0−t_x)(n0−t_y)) is one IEEE
    expression on exact longs."""
    df = _filled_ohlc(spark, sf_dir).select(
        "symbol", "time_idx", "close", "volume"
    )
    w = Window.partitionBy("symbol").orderBy(F.col("time_idx").desc())
    tail = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KENDALL_WINDOW)
        .select("symbol", "rn", "close", "volume")
    )
    a = tail.select(
        "symbol",
        F.col("rn").alias("i"),
        F.col("close").alias("xi"),
        F.col("volume").alias("yi"),
    )
    b = tail.select(
        "symbol",
        F.col("rn").alias("j"),
        F.col("close").alias("xj"),
        F.col("volume").alias("yj"),
    )
    pairs = a.join(b, "symbol").filter(F.col("i") < F.col("j"))
    sx = F.signum(F.col("xj") - F.col("xi"))
    sy = F.signum(F.col("yj") - F.col("yi"))
    agg = pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((sx * sy > 0).cast("long")).alias("conc"),
        F.sum((sx * sy < 0).cast("long")).alias("disc"),
        F.sum((sx == 0).cast("long")).alias("tx"),
        F.sum((sy == 0).cast("long")).alias("ty"),
    ).filter(F.col("n0") >= 10)
    den = F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return agg.select(
        "symbol",
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        _rne(
            F.when(
                den > 0,
                (F.col("conc") - F.col("disc")).cast("double") / den,
            ),
            "tau_b",
            8,
        ),
    )


def _sql_ts_kendall_tau() -> str:
    den = "sqrt((n0 - tx)::DOUBLE * (n0 - ty)::DOUBLE)"
    return f"""WITH {SQL_SERIES}, {SQL_RES6H}, {SQL_FILLED_OHLC},
tail AS (
  SELECT symbol, rn, close, volume FROM (
    SELECT symbol, close, volume,
           row_number() OVER (PARTITION BY symbol
                              ORDER BY time_idx DESC) AS rn
    FROM filled)
  WHERE rn <= {KENDALL_WINDOW}),
pairs AS (
  SELECT a.symbol,
         sign(b.close - a.close) AS sx,
         sign(b.volume - a.volume) AS sy
  FROM tail a JOIN tail b ON a.symbol = b.symbol AND a.rn < b.rn),
agg AS (
  SELECT symbol, count(*) AS n0,
         sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS conc,
         sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS disc,
         sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS tx,
         sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS ty
  FROM pairs GROUP BY 1 HAVING count(*) >= 10)
SELECT symbol, n0::BIGINT AS n_pairs, conc::BIGINT AS concordant,
       disc::BIGINT AS discordant,
       {_sql_rne(
           f'CASE WHEN {den} > 0 THEN (conc - disc)::DOUBLE / {den} END',
           'tau_b', 8)}
FROM agg"""


def q_ts_price_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-quote audit per symbol over the REAL resampled buckets
    (ffilled rows would be artificially stale): share of buckets whose
    close equals the previous bucket's, and the longest run of
    consecutive equal closes (gaps-and-islands via a running
    change-flag sum — one window pass, all-integer). The market-data
    quality screen that catches dead feeds and over-aggressive
    upstream dedup; reads next to ts_dup_quality and ts_gap_fill's
    is_gap accounting."""
    r = _resampled(spark, sf_dir).select("symbol", "time_idx", "close")
    w = Window.partitionBy("symbol").orderBy("time_idx")
    prev = F.lag("close", 1).over(w)
    flat = (F.col("close") == prev).cast("long")
    chg = F.when(prev.isNull() | (F.col("close") != prev), 1).otherwise(0)
    d = r.select(
        "symbol",
        "time_idx",
        F.coalesce(flat, F.lit(0)).alias("flat"),
        chg.alias("chg"),
    )
    wrun = (
        Window.partitionBy("symbol")
        .orderBy("time_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("grp", F.sum("chg").over(wrun))
    runs = d.groupBy("symbol", "grp").agg(F.count(F.lit(1)).alias("len"))
    per = runs.groupBy("symbol").agg(F.max("len").alias("max_run"))
    agg = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("flat").alias("n_flat"),
    )
    return agg.join(per, "symbol").select(
        "symbol",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_flat").cast("long").alias("n_flat"),
        _rne(
            F.col("n_flat").cast("double")
            / F.col("n_buckets").cast("double"),
            "flat_share",
            8,
        ),
        F.col("max_run").cast("long").alias("max_flat_run"),
    )


def _sql_ts_price_staleness() -> str:
    return f"""WITH {SQL_SERIES}, {SQL_RES6H},
d AS (
  SELECT symbol, time_idx,
         CASE WHEN close = lag(close) OVER w THEN 1 ELSE 0 END AS flat,
         CASE WHEN lag(close) OVER w IS NULL
                OR close <> lag(close) OVER w THEN 1 ELSE 0 END AS chg
  FROM idx WINDOW w AS (PARTITION BY symbol ORDER BY time_idx)),
g AS (
  SELECT symbol, time_idx, flat,
         sum(chg) OVER (PARTITION BY symbol ORDER BY time_idx
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM d),
runs AS (SELECT symbol, grp, count(*) AS len FROM g GROUP BY 1, 2),
per AS (SELECT symbol, max(len) AS max_run FROM runs GROUP BY 1),
agg AS (
  SELECT symbol, count(*) AS n_buckets, sum(flat) AS n_flat
  FROM g GROUP BY 1)
SELECT symbol, n_buckets::BIGINT AS n_buckets, n_flat::BIGINT AS n_flat,
       {_sql_rne('n_flat::DOUBLE / n_buckets::DOUBLE', 'flat_share', 8)},
       per.max_run::BIGINT AS max_flat_run
FROM agg JOIN per USING (symbol)"""
