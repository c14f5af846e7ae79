"""Sliding-window extraction + per-window z-score (SURVEY.md §2.5 W1/W2,
§2.4 A2) — the reference's "data point" builder (core/data/dataset.py:13-26).

Every row offset i yields the L-value forward window
``close[i : i+L]``; windows shorter than L (series tail) are dropped, so
window count per symbol = rows - L + 1. Each window is z-scored by its
OWN mean and population stddev with epsilon 1e-8 on the scale
(dataset.py:19-20 contract). ``window_id`` = the leading row's
``time_idx``. Optionally attaches the following P values
(``future``) — the forecast target/gather (notebooks/test.ipynb cell 20)
— from the SAME sort order, avoiding a separate as-of join.

Two builds, one contract (bitwise-equal outputs, pinned by
tests/test_round16_ops.py):

- the JVM ``collect_list`` build serves shapes with L+P below
  ``ARROW_BUILD_MIN_WIDTH`` — the registry's window queries, the L=8
  flagship window store (``plans.flagship.flagship_windows``) and the
  streaming flagship's train store. It keeps the upstream
  hash(symbol) clustering, and every symbol's frames go through one
  task's spill-able sort;
- the Arrow/NumPy build (``_sliding_windows_arrow``) serves wider
  shapes. Its NumPy body, :func:`window_block`, is also the window
  kernel of the fused within-symbol backtest
  (``operators.forecast.forecast_within_symbol``), so the two can't
  drift apart.

Memory bound of the Arrow build: one group's narrow (idx, value)
input plus one output block of ``_ARROW_BUILD_CHUNK`` windows ×
(L+P) × 8 B and a few same-sized temporaries; blocks leave the worker
one RecordBatch at a time. The JVM build's ``collect_list`` frames
amplify data ~L×: project the single value column before calling,
and for strided evaluation filter on ``window_id % stride`` before
the arrays are consumed.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import EPS, zscore_array

#: combined window length (L + pred_window) above which the build
#: routes to the vectorized Arrow/NumPy path. The JVM sliding-frame
#: build re-iterates every row's frame inside WindowExec (O(n·(L+P))
#: per-element aggregate updates plus a per-row array allocation per
#: collect_list) and the variance/z-score folds run interpreted —
#: fine at smoke window shapes, the single biggest plan cost of the
#: repo at the reference's L=256/P=192 (guide §4.2: hand whole
#: batches to vectorized native code). Small shapes keep the JVM
#: path: it preserves the pipeline's hash(symbol) clustering for
#: free and the per-group Python round-trip would cost more than the
#: frames do.
ARROW_BUILD_MIN_WIDTH = 65

#: window starts processed per NumPy block inside one group — bounds
#: peak memory at ~chunk × (L+P) × 8 bytes × a few temporaries per
#: task regardless of series length
_ARROW_BUILD_CHUNK = 4096


def sliding_windows(
    df: DataFrame,
    value_col: str = "close",
    L: int = 256,
    pred_window: int = 0,
    part_col: str | list[str] = "symbol",
    idx_col: str = "time_idx",
    eps: float = EPS,
) -> DataFrame:
    """Returns (*part_cols, window_id, center, scale, xs[, future]).

    xs = z-scored L-length window (array<double>);
    center/scale = pre-normalization mean / stddev_pop;
    future = the P raw values following the window (if pred_window>0).
    """
    parts = [part_col] if isinstance(part_col, str) else list(part_col)
    if L + pred_window >= ARROW_BUILD_MIN_WIDTH:
        return _sliding_windows_arrow(
            df, value_col, L, pred_window, parts, idx_col, eps
        )
    base = Window.partitionBy(*parts).orderBy(idx_col)
    w_cur = base.rowsBetween(Window.currentRow, L - 1)
    v = F.col(value_col)

    out = df.select(
        *[F.col(c) for c in parts],
        F.col(idx_col).alias("window_id"),
        F.collect_list(v).over(w_cur).alias("__raw"),
        # window SUM rides the same frame in the same Window pass and
        # adds the frame's values in the same order the array fold
        # did (Sum's update is coalesce(sum, 0.0) + x per buffered
        # row, i.e. 0.0 + x1 + x2 + ... — bitwise the sequential left
        # fold), but runs as a codegen'd declarative aggregate instead
        # of an interpreted per-element lambda (guide §4.1). Rows
        # whose frame holds a NULL can't desync: collect_list drops
        # NULLs, so those rows fail the size == L guard below.
        F.sum(v).over(w_cur).alias("__s"),
        *(
            [
                F.collect_list(v)
                .over(base.rowsBetween(L, L + pred_window - 1))
                .alias("future")
            ]
            if pred_window
            else []
        ),
    ).filter(F.size("__raw") == L)

    mean = F.col("__s") / F.lit(float(L))
    out = out.withColumn("center", mean).drop("__s")
    var = (
        F.aggregate(
            "__raw",
            F.lit(0.0),
            lambda acc, x: acc + (x - F.col("center")) * (x - F.col("center")),
        )
        / F.lit(float(L))
    )
    out = out.withColumn("scale", F.sqrt(var))
    out = out.withColumn(
        "xs", zscore_array(F.col("__raw"), F.col("center"), F.col("scale"), eps)
    ).drop("__raw")
    cols = [*parts, "window_id", "center", "scale", "xs"]
    if pred_window:
        cols.append("future")
    return out.select(*cols)


def series_arrays(idx_a, val_a):
    """One group's (idx, value) Arrow columns sorted by idx, as NumPy:
    ``(idx, v, valid)``; ``valid`` is None when no value is NULL.

    Precondition, checked: ``idx`` is non-NULL and unique per group
    (the upstream dedup/resample guarantees it). The JVM build orders
    NULL idx first and breaks duplicate-idx ties arbitrarily, while
    ``argsort`` puts NaN last, so either case would silently desync
    the two builds; it raises instead.
    """
    import numpy as np

    if idx_a.null_count:
        raise ValueError(
            f"window build: {idx_a.null_count} NULL idx value(s) in one"
            " group; the idx column must be non-NULL"
        )
    idx = idx_a.to_numpy(zero_copy_only=False)
    order = np.argsort(idx, kind="stable")
    idx = idx[order]
    dup = np.nonzero(idx[1:] == idx[:-1])[0]
    if dup.size:
        raise ValueError(
            f"window build: duplicate idx {idx[dup[0]]!r} in one group;"
            " the idx column must be unique per group (dedup upstream)"
        )
    v = np.ascontiguousarray(val_a.to_numpy(zero_copy_only=False)[order])
    valid = ~np.asarray(val_a.is_null())[order] if val_a.null_count else None
    return idx, v, valid


def null_free(valid, st, off: int, width: int):
    """Per start in ``st``: do rows ``[st+off, st+off+width)`` hold no
    NULL? (All rows must be in bounds.)"""
    import numpy as np

    if valid is None:
        return np.ones(st.size, dtype=bool)
    bad = np.zeros(valid.size + 1, dtype=np.int64)
    np.cumsum(~valid, out=bad[1:])
    return bad[st + off + width] - bad[st + off] == 0


def complete_starts(valid, n: int, L: int):
    """Start rows of the complete windows: an L-frame without NULL
    (collect_list drops NULLs, so the JVM build drops such frames)."""
    import numpy as np

    st = np.arange(max(n - L + 1, 0), dtype=np.int64)
    return st[null_free(valid, st, 0, L)]


def window_block(v, valid, st, L: int, P: int, eps: float):
    """The window kernel shared by the standalone Arrow build and the
    fused backtest pass (operators/forecast.py): for the window starts
    ``st`` (rows of the sorted series ``v``) returns ``(center, scale,
    xs, future, future_ok)``; ``future`` is the (m, P) block of values
    following each window, ``future_ok`` marks the in-bounds non-NULL
    ones.

    Bitwise parity with the JVM build — sequential WITHIN each window,
    vectorized ACROSS windows:

    - the window sum accumulates ``acc = 0.0; acc += x_j`` in frame
      order, identical to Sum's ``coalesce(null, 0.0) + x_1 + ...``
      left fold;
    - the variance fold adds ``(x_j - center)^2`` in the same frame
      order as the interpreted ``aggregate`` lambda;
    - center/scale/xs apply the same scalar IEEE ops per element
      (``/L``, ``sqrt``, ``(x - center) / (scale + eps)``).

    Memory is O(len(st) × (L+P)); callers pass blocks of at most
    ``_ARROW_BUILD_CHUNK`` starts.
    """
    import numpy as np

    m = st.size
    W = v[st[:, None] + np.arange(L, dtype=np.int64)]
    s = np.zeros(m, dtype=np.float64)
    for j in range(L):  # frame-order left fold, 0.0 + x1 + ...
        s += W[:, j]
    center = s / float(L)
    acc = np.zeros(m, dtype=np.float64)
    for j in range(L):  # same fold order as the aggregate lambda
        d = W[:, j] - center
        acc += d * d
    scale = np.sqrt(acc / float(L))
    xs = (W - center[:, None]) / (scale + eps)[:, None]
    pos = st[:, None] + L + np.arange(P, dtype=np.int64)
    ok = pos < v.size
    pos = np.minimum(pos, v.size - 1)
    if valid is not None:
        ok &= valid[pos]
    return center, scale, xs, v[pos], ok


def _sliding_windows_arrow(
    df: DataFrame,
    value_col: str,
    L: int,
    P: int,
    parts: list[str],
    idx_col: str,
    eps: float,
) -> DataFrame:
    """Vectorized window build: one ``applyInArrow`` pass per
    (*parts) group, NumPy inside (guide §4.2), through
    :func:`window_block`.

    NULL semantics replicate collect_list exactly: a NULL inside a
    window's L-frame makes collect_list return < L values, so the
    window is dropped (here: :func:`complete_starts`); a NULL in the
    future frame is compacted out of the (then shorter) future array.
    NaN VALUES are not NULLs and flow through both engines'
    arithmetic identically.

    Output goes out as one RecordBatch per ``_ARROW_BUILD_CHUNK``
    window starts (the iterator form of ``applyInArrow``), so the
    worker holds the group's narrow input plus one output block, not
    the group's whole amplified output.

    Trade-off vs the JVM path (why small shapes keep it): the
    grouped Python pass drops Catalyst's knowledge of the upstream
    hash partitioning, so a downstream operator keyed on the parts
    re-shuffles the built arrays.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    in_schema = df.schema
    out_fields = [in_schema[c] for c in parts] + [
        StructField("window_id", in_schema[idx_col].dataType),
        StructField("center", DoubleType()),
        StructField("scale", DoubleType()),
        StructField("xs", ArrayType(DoubleType())),
    ]
    if P:
        out_fields.append(StructField("future", ArrayType(DoubleType())))
    names = [f.name for f in out_fields]
    n_parts = len(parts)

    def build(batches):
        batches = list(batches)
        if not batches:
            return
        # column order fixed by the select below: parts, idx, value
        table = pa.Table.from_batches(batches)
        idx_a = table.column(n_parts).combine_chunks()
        idx, v, valid = series_arrays(
            idx_a, table.column(n_parts + 1).combine_chunks()
        )
        starts = complete_starts(valid, idx.size, L)
        keys = [table.column(k)[0] for k in range(n_parts)]
        for c0 in range(0, starts.size, _ARROW_BUILD_CHUNK):
            st = starts[c0 : c0 + _ARROW_BUILD_CHUNK]
            m = st.size
            center, scale, xs, fut, ok = window_block(v, valid, st, L, P, eps)
            arrays = [pa.repeat(key, m) for key in keys]
            arrays.append(pa.array(idx[st], type=idx_a.type))
            arrays.append(pa.array(center))
            arrays.append(pa.array(scale))
            xs_off = np.arange(m + 1, dtype=np.int32) * L
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(xs_off), pa.array(xs.ravel())
                )
            )
            if P:
                f_off = np.zeros(m + 1, dtype=np.int32)
                np.cumsum(ok.sum(axis=1), out=f_off[1:])
                # boolean indexing is row-major: frame order per row
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(f_off), pa.array(fut[ok])
                    )
                )
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    build.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return (
        df.select(*parts, idx_col, value_col)
        .groupBy(*parts)
        .applyInArrow(build, schema=StructType(out_fields))
    )
