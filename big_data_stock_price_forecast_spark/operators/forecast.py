"""Analogical forecast + sliding evaluation (SURVEY.md §2.3 J3, §2.4
A6-A8, §3.3).

Reference semantics (notebooks/test.ipynb cell 20, README.md:74):
for each query window, find the k nearest historical windows in
embedding space, take the top-2, gather the raw values that FOLLOW each
match, re-standardize them by the match's own (center, scale), average
the two forecasts elementwise (truncated to the common length — a no-op
here because futures are fixed length P), and score MAE against the
query's realized future normalized by the query's (center, scale).

Two operators, one semantics (parity pinned by
tests/test_forecast_fused.py):

- :func:`forecast_within_symbol` serves every within-symbol flagship
  evaluation (``plans.flagship``: per-query MAE, summary, per-step
  errors, the l1/l2/cosine metric sweep) at every window shape. It
  takes the narrow split-labeled grid through ONE
  ``groupBy("symbol").applyInArrow`` pass: per symbol and split it
  gap-fills, builds windows and futures with the shared kernel
  (``operators.windows.window_block``), scores the strided queries
  against the train candidates, ensembles the top matches and emits
  the MAE. No window array crosses a shuffle, and nothing runs
  eagerly. Worker memory: the symbol's narrow filled grid plus one
  block of ``_QUERY_BLOCK`` queries × ``_ARROW_BUILD_CHUNK``
  candidates (windows and distance matrix); only the running
  top-``ensemble`` per query survives a block.
- :func:`forecast_evaluate` joins pre-built window frames
  (``sliding_windows(pred_window=P)`` outputs) in the JVM. It serves
  global search (``within_symbol=False``: broadcast the strided
  query set against all windows) and the streaming flagship, whose
  queries arrive as streamed windows. The "gather the following
  window" as-of join (J3) is the ``future`` array the window build
  attaches; the ensemble is a (query, step) hash aggregate after
  ``posexplode``, and MAE folds back per query.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import (
    METRICS_ORDER_DESC,
    metric_expr,
    metric_expr_fixed,
)
from ..functions.normalize import EPS, zscore_array

#: widest unrolled distance that still beats the sequential fold —
#: beyond this the flat chain's generated method is large enough that
#: whole-stage codegen loses to the interpreted fold (measured, r15)
_FLAT_DIM_MAX = 64


def forecast_evaluate(
    train_w: DataFrame,
    val_w: DataFrame,
    pred_window: int,
    k: int = 5,
    ensemble: int = 2,
    metric: str = "l2",
    within_symbol: bool = True,
    eps: float = EPS,
    dim: int | None = None,
    return_steps: bool = False,
) -> DataFrame:
    """Both inputs are ``sliding_windows(..., pred_window=P)`` outputs
    (symbol, window_id, center, scale, xs, future). Windows whose future
    is not fully realized are excluded on BOTH sides (the reference
    trims ``embeddings[:-P]``, cell 16). Returns one row per query:
    (symbol, window_id, mae).

    ``within_symbol=True`` searches matches only in the query's own
    symbol (the reference's single-symbol notebook setup; a
    co-partitioned equi-join that scales linearly with symbols).
    ``False`` searches globally (ConcatDataset-style; broadcast
    nested-loop of the small query set against all windows).
    """
    train = train_w.filter(F.size("future") == pred_window).select(
        F.col("symbol").alias("m_symbol"),
        F.col("window_id").alias("m_window_id"),
        F.col("center").alias("m_center"),
        F.col("scale").alias("m_scale"),
        F.col("xs").alias("m_xs"),
        F.col("future").alias("m_future"),
    )
    queries = val_w.filter(F.size("future") == pred_window).select(
        F.col("symbol").alias("q_symbol"),
        F.col("window_id").alias("q_window_id"),
        F.col("center").alias("q_center"),
        F.col("scale").alias("q_scale"),
        F.col("xs").alias("q_xs"),
        F.col("future").alias("q_future"),
    )
    if within_symbol:
        joined = train.join(
            queries, train.m_symbol == queries.q_symbol, "inner"
        )
    else:
        joined = train.join(F.broadcast(queries))

    # dim given AND small -> flat codegen distance (bitwise equal to
    # the fold; the knn-suite fold≡flat proof). The flat form only
    # wins while the unrolled chain stays a small generated method:
    # measured at dim=256 it is ~2x SLOWER than the interpreted
    # sequential fold (r15: 4.6 s vs 2.4 s per 2M rows), so large
    # dims route to the fold — same doubles either way.
    if dim is not None and dim > _FLAT_DIM_MAX:
        dim = None
    if metric == "cosine":
        # z-scored CONSTANT windows (gap-fill runs) have ‖xs‖ = 0:
        # cosine is undefined and ANSI division errors. Guard the
        # denominator and rank such pairs last (-2 < any cosine);
        # the oracle carries the identical CASE (NULL ordering
        # differs between engines, a sentinel does not).
        if dim is not None:
            from ..functions.distance import dot_fixed, l2_norm_fixed

            denom = l2_norm_fixed(F.col("m_xs"), dim) * l2_norm_fixed(
                F.col("q_xs"), dim
            )
            num = dot_fixed(F.col("m_xs"), F.col("q_xs"), dim)
        else:
            from ..functions.distance import dot, l2_norm

            denom = l2_norm(F.col("m_xs")) * l2_norm(F.col("q_xs"))
            num = dot(F.col("m_xs"), F.col("q_xs"))
        dist = F.when(denom > F.lit(0.0), num / denom).otherwise(
            F.lit(-2.0)
        )
        desc = True
    elif dim is not None:
        dist, desc = metric_expr_fixed(
            metric, F.col("m_xs"), F.col("q_xs"), dim
        )
    else:
        dist, desc = metric_expr(metric, F.col("m_xs"), F.col("q_xs"))
    joined = joined.withColumn("dist", dist)
    order = [
        F.col("dist").desc() if desc else F.col("dist").asc(),
        F.col("m_symbol").asc(),
        F.col("m_window_id").asc(),
    ]
    w = Window.partitionBy("q_symbol", "q_window_id").orderBy(*order)
    top = joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ensemble
    )
    # re-standardize each match's future by the MATCH's stats and the
    # query's future by the QUERY's stats; explode both together so the
    # target rides along and no second join/branch over the query set is
    # needed (it is constant per (query, step) -> F.first in the agg)
    steps = top.select(
        "q_symbol",
        "q_window_id",
        F.posexplode(
            F.arrays_zip(
                zscore_array(
                    F.col("m_future"), F.col("m_center"), F.col("m_scale"), eps
                ).alias("p"),
                zscore_array(
                    F.col("q_future"), F.col("q_center"), F.col("q_scale"), eps
                ).alias("t"),
            )
        ).alias("step", "pt"),
    )
    ens = steps.groupBy("q_symbol", "q_window_id", "step").agg(
        F.avg(F.col("pt.p")).alias("pred"),
        F.first(F.col("pt.t")).alias("target"),
    )
    if return_steps:
        # per-step (pred, target) pairs — the surface A9's loss math
        # aggregates over (reference train.py loss terms)
        return ens.select(
            F.col("q_symbol").alias("symbol"),
            F.col("q_window_id").alias("window_id"),
            "step",
            "pred",
            "target",
        )
    return (
        ens.groupBy("q_symbol", "q_window_id")
        .agg(F.avg(F.abs(F.col("pred") - F.col("target"))).alias("mae"))
        .select(
            F.col("q_symbol").alias("symbol"),
            F.col("q_window_id").alias("window_id"),
            "mae",
        )
    )


#: queries scored per block in the fused pass; with
#: ``_ARROW_BUILD_CHUNK`` candidates per block the distance matrix
#: and its temporaries stay at a few × 8 MB whatever the series length
_QUERY_BLOCK = 256


def forecast_within_symbol(
    labeled: DataFrame,
    L: int,
    pred_window: int,
    ensemble: int = 2,
    metric: str = "l2",
    stride: int = 1,
    cand_stride: int = 1,
    query_symbol_mod: int | None = None,
    return_steps: bool = False,
) -> DataFrame:
    """Within-symbol backtest in ONE grouped Arrow pass per symbol.

    ``labeled`` holds (symbol, split, time_idx, close) rows, split in
    {'train', 'val'} (``plans.flagship.flagship_labeled``). Returns
    one row per query, (symbol, window_id, mae), or with
    ``return_steps`` one row per query step, (symbol, window_id,
    step, pred, target). The values are those of
    ``fill_missing_time_idx`` → ``sliding_windows`` → the stride
    cursors → :func:`forecast_evaluate` composed in Spark:

    - fill: each split is densified to every idx in [min, max]; a
      missing idx copies the last observed row's close, NULL
      included (an observed NULL stays NULL);
    - windows: :func:`~..operators.windows.window_block`, the Arrow
      build's kernel; a window with a NULL in its L-frame is not
      complete;
    - cursors: each split's anchor is its first complete window; val
      queries sit every ``stride`` windows from it, train candidates
      every ``cand_stride``; both need a full, NULL-free future;
      ``query_symbol_mod`` keeps queries of symbols with
      ``symbol % query_symbol_mod == 0`` only;
    - distance: the sequential left fold from 0.0 of
      ``functions/distance.py`` (cosine: -2.0 when a norm is 0,
      ranked DESC), ranked by (dist, window_id);
    - ensemble: ``pred`` = (0.0 + the rank-ordered re-standardized
      futures of the top ``ensemble`` matches) / match count;
      ``target`` = the query's future standardized by its own stats;
      ``mae`` = mean |pred − target| over the steps, in step order.

    Candidates are built and scored in blocks of
    ``_ARROW_BUILD_CHUNK`` against ``_QUERY_BLOCK`` queries at a
    time, keeping a running top-``ensemble`` per query, so worker
    memory is bounded by the blocks, not by the series length.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from .windows import (
        _ARROW_BUILD_CHUNK,
        complete_starts,
        null_free,
        series_arrays,
        window_block,
    )

    if metric not in METRICS_ORDER_DESC:
        raise ValueError(
            f"metric must be one of {sorted(METRICS_ORDER_DESC)}"
        )
    desc = METRICS_ORDER_DESC[metric]
    P = pred_window
    df = labeled.select("symbol", "split", "time_idx", "close")
    if query_symbol_mod is not None:
        # a symbol without queries emits nothing: drop it before the pass
        df = df.filter(F.col("symbol") % query_symbol_mod == 0)
    key_fields = [
        df.schema["symbol"],
        StructField("window_id", df.schema["time_idx"].dataType),
    ]
    if return_steps:
        out_fields = key_fields + [
            StructField("step", IntegerType()),
            StructField("pred", DoubleType()),
            StructField("target", DoubleType()),
        ]
    else:
        out_fields = key_fields + [StructField("mae", DoubleType())]
    names = [f.name for f in out_fields]

    def split_grid(table, name):
        """(first idx, filled values, valid mask) of one split."""
        import pyarrow.compute as pc

        rows = table.filter(pc.equal(table.column("split"), name))
        # fill_missing_time_idx's sequence(NULL, ..) yields no rows
        rows = rows.filter(pc.is_valid(rows.column("time_idx")))
        if rows.num_rows == 0:
            return None
        idx, v, valid = series_arrays(
            rows.column("time_idx").combine_chunks(),
            rows.column("close").combine_chunks(),
        )
        src = np.full(int(idx[-1] - idx[0]) + 1, -1, dtype=np.int64)
        src[idx - idx[0]] = np.arange(idx.size)
        np.maximum.accumulate(src, out=src)  # last observed row <= idx
        return idx[0], v[src], (None if valid is None else valid[src])

    def cursor(grid, every):
        """Window starts on the ``every`` cursor with a full future."""
        _, v, valid = grid
        st = complete_starts(valid, v.size, L)
        if st.size:
            st = st[(st - st[0]) % every == 0]
            st = st[st + L + P <= v.size]
            st = st[null_free(valid, st, L, P)]
        return st

    def fold(x, y, op):
        """(rows of y) × (rows of x) left folds from 0.0 over j."""
        xT, yT = np.ascontiguousarray(x.T), np.ascontiguousarray(y.T)
        acc = np.zeros((y.shape[0], x.shape[0]), dtype=np.float64)
        for j in range(x.shape[1]):
            acc += op(xT[j][None, :], yT[j][:, None])
        return acc

    def norms(x):
        acc = np.zeros(x.shape[0], dtype=np.float64)
        for j in range(x.shape[1]):
            acc += x[:, j] * x[:, j]
        return np.sqrt(acc)

    def scores(xc, xq, qnorm):
        """(queries, candidates) distances; candidate side first, as
        ``metric_expr(m_xs, q_xs)`` reads."""
        if metric == "l2":
            return np.sqrt(fold(xc, xq, lambda a, b: (a - b) * (a - b)))
        if metric == "l1":
            return fold(xc, xq, lambda a, b: np.abs(a - b))
        num = fold(xc, xq, lambda a, b: a * b)
        denom = norms(xc)[None, :] * qnorm[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom > 0.0, num / denom, -2.0)

    def top(d, st):
        """Rank row-wise by (dist, start): NaN sorts last ascending,
        first descending, as Spark orders it."""
        nan = np.isnan(d)
        key = np.where(nan, 0.0, -d if desc else d)
        order = np.lexsort((st, key, ~nan if desc else nan), axis=1)
        order = order[:, :ensemble]
        return (
            np.take_along_axis(d, order, axis=1),
            np.take_along_axis(st, order, axis=1),
        )

    def evaluate(batches):
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        symbol = table.column("symbol")[0]
        wid_type = table.schema.field("time_idx").type
        train, val = split_grid(table, "train"), split_grid(table, "val")
        if train is None or val is None:
            return
        c_st, q_all = cursor(train, cand_stride), cursor(val, stride)
        if c_st.size == 0 or q_all.size == 0:
            return
        _, tv, tvalid = train
        q_lo, qv, qvalid = val
        for q0 in range(0, q_all.size, _QUERY_BLOCK):
            q_st = q_all[q0 : q0 + _QUERY_BLOCK]
            nq = q_st.size
            cq, sq, xq, fq, _ = window_block(qv, qvalid, q_st, L, P, EPS)
            qnorm = norms(xq) if metric == "cosine" else None
            best_d = np.empty((nq, 0))
            best_s = np.empty((nq, 0), dtype=np.int64)
            for c0 in range(0, c_st.size, _ARROW_BUILD_CHUNK):
                st = c_st[c0 : c0 + _ARROW_BUILD_CHUNK]
                xc = window_block(tv, tvalid, st, L, 0, EPS)[2]
                best_d, best_s = top(
                    np.concatenate([best_d, scores(xc, xq, qnorm)], axis=1),
                    np.concatenate(
                        [best_s, np.broadcast_to(st, (nq, st.size))], axis=1
                    ),
                )
            e = best_s.shape[1]
            mc, ms, _, mf, _ = window_block(
                tv, tvalid, best_s.ravel(), L, P, EPS
            )
            z = ((mf - mc[:, None]) / (ms + EPS)[:, None]).reshape(nq, e, P)
            acc = np.zeros((nq, P), dtype=np.float64)
            for r in range(e):  # rank order
                acc += z[:, r]
            pred = acc / float(e)
            target = (fq - cq[:, None]) / (sq + EPS)[:, None]
            if return_steps:
                arrays = [
                    pa.repeat(symbol, nq * P),
                    pa.array(np.repeat(q_lo + q_st, P), type=wid_type),
                    pa.array(np.tile(np.arange(P, dtype=np.int32), nq)),
                    pa.array(pred.ravel()),
                    pa.array(target.ravel()),
                ]
            else:
                err = np.zeros(nq, dtype=np.float64)
                for s in range(P):  # step order
                    err += np.abs(pred[:, s] - target[:, s])
                arrays = [
                    pa.repeat(symbol, nq),
                    pa.array(q_lo + q_st, type=wid_type),
                    pa.array(err / float(P)),
                ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    evaluate.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return df.groupBy("symbol").applyInArrow(
        evaluate, schema=StructType(out_fields)
    )


def error_summary(per_query_mae: DataFrame) -> DataFrame:
    """mean/stddev_pop over per-query MAEs (test.ipynb cell 20 return)."""
    return per_query_mae.agg(
        F.avg("mae").alias("mae_mean"),
        F.stddev_pop("mae").alias("mae_std"),
        F.count(F.lit(1)).alias("n_queries"),
    )
