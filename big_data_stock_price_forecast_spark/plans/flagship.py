"""The flagship end-to-end pipeline (SURVEY.md §3.3 restated in Spark).

events → dedup keep-last → 6h OHLC resample → time_idx → warmup skip →
time-ordered split → per-split gap fill → sliding windows + z-score →
k-NN search → analogical forecast → per-query MAE.

This is ONE lazy DataFrame plan end-to-end with one wide exchange
(hash by symbol, in :func:`flagship_labeled`); Catalyst prunes the
events scan down to (user_id, ts, value, event_id). Embedding = the
z-scored window itself (the reference's VAE latent is an
offline-trained artifact; the engine's contract is the
search/forecast query shape — see SURVEY.md §7 "out of scope").

Which path serves which caller:

- within-symbol search (the default; per-query MAE, summary, per-step
  errors, the registry's metric sweep and fullscale config): the
  narrow labeled grid goes through
  ``operators.forecast.forecast_within_symbol``, one grouped Arrow
  pass per symbol (gap fill → windows → search → ensemble → MAE).
  Worker memory per task: one symbol's narrow filled grid plus one
  block of queries × candidates, whatever the window shape; no
  window array is shuffled and nothing runs eagerly;
- global search (``within_symbol=False``): :func:`flagship_windows`
  builds the window frame in Spark and
  ``operators.forecast.forecast_evaluate`` joins the strided query
  set against every symbol's windows;
- :func:`flagship_windows`, :func:`flagship_train_store` and
  :func:`flagship_val_starts` serve the streaming flagship (store
  built offline, queries streamed) and consumers of the windows
  themselves.

Deliberate deviations from the notebook (documented; the DuckDB oracle
in __spark_entry__ mirrors THESE semantics exactly):
- search is within-symbol (the notebook's store is single-symbol
  anyway); global search is exposed via operators.knn.
- the last valid query position is included (the notebook's
  ``range(0, len-P-1, stride)`` drops one extra trailing position).
- gap fill reconstructs timestamps from time_idx instead of
  forward-filling them verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.calendar import add_time_idx
from ..operators.cleaning import (
    positional_split_labeled,
    dedup_keep_last,
    positional_skip_frac,
    positional_split,
)
from ..operators.forecast import (
    error_summary,
    forecast_evaluate,
    forecast_within_symbol,
)
from ..operators.gapfill import fill_missing_time_idx
from ..operators.resample import resample_ohlcv
from ..operators.windows import sliding_windows
from ..sources.tables import events_series


@dataclass(frozen=True)
class FlagshipParams:
    """Smoke-scale analogs of the reference config (seq_len=256,
    pred_window=192, k=5, top-2 ensemble, stride=seq_len//4, skip 10%,
    val 15%) sized for the ~120-bucket-per-symbol events series."""

    resample_every: str = "6 hours"
    step_seconds: int = 6 * 3600
    L: int = 8
    pred_window: int = 4
    k: int = 5
    ensemble: int = 2
    stride: int = 2
    skip_frac: float = 0.1
    val_ratio: float = 0.15
    metric: str = "l2"
    within_symbol: bool = True
    # global-search cost bounds (exact cross-symbol search is O(Q*C);
    # both knobs keep the pair count explicit instead of letting the
    # BNLJ grow quadratically with symbols):
    # query panel = symbols where symbol % query_symbol_mod == 0
    query_symbol_mod: int | None = None
    # candidate store strided per symbol like the W11 query cursor
    cand_stride: int = 1
    # run the WHOLE pipeline on a deterministic symbol panel
    # (symbol % symbol_mod == 0) — bounds the oracle-checked
    # fullscale config (L=256/P=192) to a gate-sized panel while
    # keeping every per-symbol semantic at the real window shape;
    # per-symbol results are identical to the unfiltered run
    # (the pipeline never crosses symbols before the search join)
    symbol_mod: int | None = None


def flagship_labeled(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """events -> dedup keep-last -> resample -> time_idx -> warmup skip
    -> split-labeled rows (symbol, split, time_idx, close) — the
    pre-fill half of :func:`flagship_windows`, exposed so serving-side
    consumers (the streaming flagship's deploy-time split boundary)
    share one definition."""
    base = events_series(spark, sf_dir)
    if p.symbol_mod is not None:
        # partition-panel filter at the scan — at 100 TB this prunes
        # before the one wide exchange, not after
        base = base.filter(F.col("symbol") % p.symbol_mod == 0)
    # the one wide exchange carries compact events, but everything
    # DOWNSTREAM amplifies: gap fill explodes the grid ~10-60x and the
    # window build another L+P x, so sizing this exchange by its own
    # bytes (AQE coalescing) starves the pipeline — a 300 KB panel
    # coalesced to 3 partitions and the whole L=256 build ran 3-wide
    # (measured 21.8 s vs 7.3 s at full width, r15). An explicit
    # partition count disables AQE coalescing for exactly this
    # exchange; defaultParallelism = total cores is scale-adaptive
    # (the per-symbol series count downstream always dwarfs it).
    series = dedup_keep_last(
        base.repartition(
            spark.sparkContext.defaultParallelism, "symbol"
        ),
        ["symbol", "datetime"],
        "event_id",
    )
    res = resample_ohlcv(
        series.select("symbol", "datetime", "close"),
        every=p.resample_every,
        ts_col="datetime",
        part_col="symbol",
    ).select("symbol", "datetime", "close")
    res = add_time_idx(res, "datetime", p.step_seconds)
    res = positional_skip_frac(
        res, "symbol", "time_idx", p.skip_frac, use_window=True
    )
    return positional_split_labeled(
        res, "symbol", "time_idx", p.val_ratio, use_window=True
    )


def flagship_val_starts(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """(symbol, val_start): each symbol's first val-split time_idx —
    the deploy-time cutoff a streaming serving path is configured
    with when the train store is built (the split is a suffix in
    time, so ``time_idx >= val_start`` IS the val membership test)."""
    return (
        flagship_labeled(spark, sf_dir, p)
        .filter(F.col("split") == "val")
        .groupBy("symbol")
        .agg(F.min("time_idx").alias("val_start"))
    )


def flagship_train_store(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """The batch-built candidate store: train-split windows only —
    what a serving deployment materializes offline and the streaming
    flagship searches against."""
    return (
        flagship_windows(spark, sf_dir, p)
        .repartition("symbol")
        .filter(F.col("split") == "train")
        .drop("split")
    )


def flagship_windows(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """events -> split-labeled, gap-filled, z-scored sliding windows.

    Single-lineage plan: ONE wide exchange up front (hash by symbol);
    every per-symbol operator after it (dedup, resample, positional
    skip/split as window functions, per-(symbol,split) gap fill,
    window build) satisfies its required distribution from that same
    partitioning, so the whole chain is exchange-free — stage count
    stays flat no matter how many operators stack.
    """
    labeled = flagship_labeled(spark, sf_dir, p)
    filled = fill_missing_time_idx(
        labeled.select("symbol", "split", "time_idx", "close"),
        part_col=["symbol", "split"],
        idx_col="time_idx",
        ts_col="__none__",
        fill_cols=["close"],
    ).select("symbol", "split", "time_idx", "close")
    return sliding_windows(
        filled,
        value_col="close",
        L=p.L,
        pred_window=p.pred_window,
        part_col=["symbol", "split"],
        idx_col="time_idx",
    )


def flagship_step_errors(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """Per-step (pred, target) pairs of the flagship evaluation — the
    surface the A9 loss-math query aggregates (MAE/MSE/Huber)."""
    return _evaluate(spark, sf_dir, p, return_steps=True)


def flagship_per_query_mae(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """(symbol, window_id, mae) per strided val query."""
    return _evaluate(spark, sf_dir, p)


def _evaluate(
    spark: SparkSession,
    sf_dir: str,
    p: FlagshipParams,
    return_steps: bool = False,
) -> DataFrame:
    if p.within_symbol:
        return forecast_within_symbol(
            flagship_labeled(spark, sf_dir, p),
            L=p.L,
            pred_window=p.pred_window,
            ensemble=p.ensemble,
            metric=p.metric,
            stride=p.stride,
            cand_stride=p.cand_stride,
            query_symbol_mod=p.query_symbol_mod,
            return_steps=return_steps,
        )
    train_w, val_w = _flagship_train_val(spark, sf_dir, p)
    return forecast_evaluate(
        train_w,
        val_w,
        pred_window=p.pred_window,
        k=p.k,
        ensemble=p.ensemble,
        metric=p.metric,
        within_symbol=False,
        dim=p.L,
        return_steps=return_steps,
    )


def _flagship_train_val(
    spark: SparkSession, sf_dir: str, p: FlagshipParams
) -> tuple[DataFrame, DataFrame]:
    """Strided train/val window frames for the global (cross-symbol)
    search. Each split's stride anchor is its first window per symbol
    (a min() window over the built frame, still hash(symbol)-clustered
    from the pipeline's one wide exchange)."""
    windows = flagship_windows(spark, sf_dir, p)
    train_w = windows.filter(F.col("split") == "train").drop("split")
    val_w = windows.filter(F.col("split") == "val").drop("split")
    if p.query_symbol_mod is not None:
        val_w = val_w.filter(F.col("symbol") % p.query_symbol_mod == 0)
    by_symbol = Window.partitionBy("symbol")
    if p.cand_stride > 1:
        train_w = train_w.withColumn(
            "__t0", F.min("window_id").over(by_symbol)
        )
        train_w = train_w.filter(
            (F.col("window_id") - F.col("__t0")) % p.cand_stride == 0
        ).drop("__t0")
    # strided evaluation cursor (W11): every `stride`-th window position
    # per symbol, position 0 = the symbol's first val window
    val_w = val_w.withColumn("__w0", F.min("window_id").over(by_symbol))
    val_w = val_w.filter(
        (F.col("window_id") - F.col("__w0")) % p.stride == 0
    ).drop("__w0")
    return train_w, val_w


def flagship_summary(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    return error_summary(flagship_per_query_mae(spark, sf_dir, p))
