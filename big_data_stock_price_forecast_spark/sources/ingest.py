"""Paginated ingestion into a bronze/silver parquet layout
(SURVEY.md §2.1 S1-S3, S7-S8).

Reference: ``get_historical_data`` (core/data/cdd.py:13-75) loops a
rate-limited REST ``fetch_ohlcv(since=cursor, limit=page)``, advancing
``cursor = last_ts + 1`` until an empty page or the requested total;
``get_crypto_dataset`` (cdd.py:78-123) caches to CSV and (dead code,
cdd.py:101-110) merges incremental refetches keep-last.

Spark restatement: the fetch loop is a thin DRIVER-SIDE Python step —
network I/O is not a distributed concern — and so is the landing: the
driver writes each page with pyarrow as one parquet file in its own
page directory under the bronze dir, with no Spark job. File-per-page
is exactly what the streaming file source consumes
(`streaming/ops.py`), and directory-per-page keeps the layout a
Spark-written page had, so a page (or a whole fetch generation, by
glob) is removed with ``shutil.rmtree``. Everything after the landing
dir is engine: a declared-schema ``spark.read`` of the pages + keep-last
dedup = the silver series; re-fetches overlap the tail and the merge
resolves duplicates by (fetch_seq, page) — the S7 semantics, but
actually wired (the reference's merge is unreachable).

No network here: an injectable ``fetch`` callable stands in for the
exchange client; the default is a deterministic synthetic exchange so
tests and demos run hermetically. A ccxt-style client drops into the
same signature.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: a fetch returns rows [ts_ms, open, high, low, close, volume] —
#: the exchange wire format (core/data/cdd.py:30)
Row = list
FetchFn = Callable[[str, int, int], Sequence[Row]]

HOUR_MS = 3_600_000

#: the one bronze page schema: what ``land_pages`` writes and what
#: ``read_bronze`` declares, so reading bronze runs no discovery job
BRONZE_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("fetch_seq", IntegerType()),
        StructField("page", IntegerType()),
        StructField("ts_ms", LongType()),
        *(
            StructField(c, DoubleType())
            for c in ("open", "high", "low", "close", "volume")
        ),
    ]
)

SUPPORTED_TIMEFRAMES = {"1m": 60_000, "1h": HOUR_MS, "1d": 24 * HOUR_MS}


def validate_timeframe(timeframe: str) -> int:
    """S2: reject timeframes the exchange doesn't support
    (core/data/cdd.py:33-44); returns the step in ms."""
    if timeframe not in SUPPORTED_TIMEFRAMES:
        raise ValueError(
            f"timeframe {timeframe!r} not supported; "
            f"choose one of {sorted(SUPPORTED_TIMEFRAMES)}"
        )
    return SUPPORTED_TIMEFRAMES[timeframe]


def default_start_ms(now_ms: int, total: int, timeframe: str) -> int:
    """S3: start = now - total*step (core/data/cdd.py:46-48)."""
    return now_ms - total * validate_timeframe(timeframe)


def synthetic_exchange(
    gap_every: int = 97, series_start_ms: int = 1_577_836_800_000
) -> FetchFn:
    """Deterministic stand-in for ``exchange.fetch_ohlcv``: hourly
    candles from ``series_start_ms``; every ``gap_every``-th candle is
    missing (exercises S8's empty-range skip and the gap-fill
    operators downstream). Prices are a pure function of (symbol,
    candle index) — any two fetches agree."""

    def fetch(symbol: str, since_ms: int, limit: int) -> list[Row]:
        sym_seed = sum(symbol.encode()) % 1000
        out: list[Row] = []
        # first candle index at or after the cursor
        i = max(0, -(-(since_ms - series_start_ms) // HOUR_MS))
        while len(out) < limit and i < 10_000_000:
            if (i + 1) % gap_every == 0:  # synthetic outage candle
                i += 1
                continue
            ts = series_start_ms + i * HOUR_MS
            base = 100.0 + sym_seed + 10.0 * ((i * 2654435761) % 97) / 97.0
            o = base
            h = base * 1.01
            lo = base * 0.99
            c = base * (1.0 + ((i * 40503) % 13 - 6) / 1300.0)
            v = float(1 + (i * 69069) % 500)
            out.append([ts, o, h, lo, c, v])
            i += 1
        return out

    return fetch


@dataclass
class FetchStats:
    pages: int = 0
    rows: int = 0
    empty_skips: int = 0


def fetch_paginated(
    fetch: FetchFn,
    symbol: str,
    start_ms: int,
    total: int,
    max_per_page: int = 1000,
    empty_skip_ms: int = 10 * 24 * HOUR_MS,
    max_empty_skips: int = 5,
) -> tuple[list[Row], FetchStats]:
    """S1's pagination loop (core/data/cdd.py:54-64): fetch a page,
    advance the cursor past the last timestamp, stop on the total cap;
    S8 (cdd.py:113-121): an empty page advances the cursor by
    ``empty_skip_ms`` and retries, up to ``max_empty_skips`` times."""
    stats = FetchStats()
    rows: list[Row] = []
    cursor = start_ms
    skips = 0
    while len(rows) < total:
        page = list(fetch(symbol, cursor, min(max_per_page, total - len(rows))))
        stats.pages += 1
        if not page:
            skips += 1
            stats.empty_skips += 1
            if skips > max_empty_skips:
                break
            cursor += empty_skip_ms
            continue
        skips = 0
        page.sort(key=lambda r: r[0])  # O1: sort page by ts (cdd.py:72)
        rows.extend(page)
        cursor = page[-1][0] + 1  # advance past last candle (cdd.py:63)
    stats.rows = len(rows)
    return rows[:total], stats  # O2: head-limit (cdd.py:61-63)


def land_pages(
    spark: SparkSession,
    bronze_dir: str,
    symbol: str,
    rows: Sequence[Row],
    fetch_seq: int,
    page_rows: int = 1000,
) -> list[str]:
    """Write fetched rows as one parquet file PER PAGE under the bronze
    dir (S5, parquet not CSV), from the driver with pyarrow: page ``p``
    of a fetch is ``<slug>_f<fetch_seq>_p<p>.parquet/part-00000.parquet``
    in ``BRONZE_SCHEMA``, its ``page`` column holding ``p``.

    Each page is a directory, as a Spark-written page was: the streaming
    file source reads one file per page, and a generation is dropped by
    removing its page directories (glob ``*_f<seq>_p*.parquet``). A page
    is written under a dot-prefixed temp name and renamed into place;
    landing a page again replaces it, like Spark's ``mode("overwrite")``.
    ``spark`` is unused and kept so callers need not change."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(BRONZE_SCHEMA)
    os.makedirs(bronze_dir, exist_ok=True)
    paths = []
    slug = symbol.replace("/", "-")  # F3 (cdd.py:90)
    for page, start in enumerate(range(0, len(rows), page_rows)):
        chunk = rows[start : start + page_rows]
        n = len(chunk)
        columns = [[symbol] * n, [fetch_seq] * n, [page] * n, *zip(*chunk)]
        table = pa.Table.from_pydict(dict(zip(schema.names, columns)), schema=schema)
        name = f"{slug}_f{fetch_seq}_p{page}.parquet"
        path = os.path.join(bronze_dir, name)
        tmp = os.path.join(bronze_dir, f".{name}.tmp")
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        paths.append(path)
    return paths


def read_bronze(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """S6: scan of the landing dir (all pages, all fetch generations)
    with the declared ``BRONZE_SCHEMA`` — no schema-discovery job. A page
    landed before the ``page`` column existed reads it as NULL."""
    return spark.read.schema(BRONZE_SCHEMA).parquet(
        os.path.join(bronze_dir, "*.parquet")
    )


def silver_series(bronze: DataFrame) -> DataFrame:
    """Bronze -> silver: S4 (wire rows -> typed table: ms epoch to
    timestamp) + S7 (keep-last across overlapping fetch generations:
    later fetch_seq wins per (symbol, ts); ties on fetch_seq — pages of
    one fetch that overlap — go to the later page ordinal, and finally
    to the row payload itself, so re-running the read never flips the
    winner). A page without the ``page`` column (landed by an older
    engine) reads NULL there, which sorts last: any page that carries an
    ordinal wins over it within the same fetch_seq.
    """
    w = Window.partitionBy("symbol", "ts_ms").orderBy(
        F.col("fetch_seq").desc(),
        F.col("page").desc(),
        F.col("open").desc(),
        F.col("high").desc(),
        F.col("low").desc(),
        F.col("close").desc(),
        F.col("volume").desc(),
    )
    return (
        bronze.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.timestamp_millis(F.col("ts_ms")).alias("datetime"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def ingest(
    spark: SparkSession,
    bronze_dir: str,
    symbols: Sequence[str],
    total: int = 2000,
    timeframe: str = "1h",
    now_ms: int | None = None,
    fetch: FetchFn | None = None,
    fetch_seq: int = 0,
) -> DataFrame:
    """End-to-end S1→S7: paginated fetch per symbol, land bronze pages,
    return the deduped silver series. Incremental refresh = call again
    with a larger ``fetch_seq`` and a start inside the existing range;
    the silver dedup resolves the overlap keep-last."""
    validate_timeframe(timeframe)
    fetch = fetch or synthetic_exchange()
    now_ms = now_ms if now_ms is not None else 1_609_459_200_000  # 2021-01-01
    for symbol in symbols:
        start = default_start_ms(now_ms, total, timeframe)
        rows, _ = fetch_paginated(fetch, symbol, start, total)
        land_pages(spark, bronze_dir, symbol, rows, fetch_seq)
    return silver_series(read_bronze(spark, bronze_dir))
