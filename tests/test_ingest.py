"""Ingestion contracts (SURVEY.md §2.1 S1-S8): pagination, cursor
advance, empty-range skip, bronze landing, silver keep-last merge."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_stock_price_forecast_spark.sources.ingest import (
    BRONZE_SCHEMA,
    HOUR_MS,
    default_start_ms,
    fetch_paginated,
    ingest,
    land_pages,
    read_bronze,
    silver_series,
    synthetic_exchange,
    validate_timeframe,
)


def test_timeframe_validation():
    assert validate_timeframe("1h") == HOUR_MS
    with pytest.raises(ValueError, match="not supported"):
        validate_timeframe("7m")


def test_default_start_from_total():
    assert default_start_ms(1_000 * HOUR_MS, 24, "1h") == 976 * HOUR_MS


def test_pagination_advances_cursor_and_caps_total():
    fetch = synthetic_exchange()
    rows, stats = fetch_paginated(fetch, "BTC/USD", 1_577_836_800_000, 2500,
                                  max_per_page=1000)
    assert len(rows) == 2500
    assert stats.pages >= 3  # 1000 + 1000 + 500
    ts = [r[0] for r in rows]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    # the synthetic outage candles are genuinely absent
    deltas = {b - a for a, b in zip(ts, ts[1:])}
    assert HOUR_MS in deltas and 2 * HOUR_MS in deltas


def test_empty_range_skip_advances_by_ten_days():
    calls = []

    def fetch(symbol, since, limit):
        calls.append(since)
        if len(calls) < 3:
            return []  # dead zone: force two S8 skips
        return synthetic_exchange()(symbol, since, limit)

    rows, stats = fetch_paginated(fetch, "BTC/USD", 0, 10)
    assert stats.empty_skips == 2
    assert calls[1] - calls[0] == 10 * 24 * HOUR_MS
    assert len(rows) == 10


def test_bronze_to_silver_keep_last_merge(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    fetch = synthetic_exchange()
    start = 1_577_836_800_000
    first, _ = fetch_paginated(fetch, "BTC/USD", start, 500)
    land_pages(spark, bronze, "BTC/USD", first, fetch_seq=0, page_rows=200)

    # refetch overlapping the tail with corrected values (close + 1)
    overlap_start = first[-100][0]
    second, _ = fetch_paginated(fetch, "BTC/USD", overlap_start, 150)
    second = [[r[0], r[1], r[2], r[3], r[4] + 1.0, r[5]] for r in second]
    land_pages(spark, bronze, "BTC/USD", second, fetch_seq=1, page_rows=200)

    silver = silver_series(read_bronze(spark, bronze))
    # one row per timestamp, later fetch wins on the overlap
    assert (
        silver.groupBy("symbol", "datetime").count().filter("count > 1").count()
        == 0
    )
    over = silver.filter(
        F.col("datetime") == F.timestamp_millis(F.lit(overlap_start))
    ).collect()[0]
    base = next(r for r in first if r[0] == overlap_start)
    assert over["close"] == base[4] + 1.0


def test_ingest_end_to_end(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    silver = ingest(spark, bronze, ["BTC/USD", "ETH/USD"], total=300)
    counts = dict(
        (r["symbol"], r["count"])
        for r in silver.groupBy("symbol").count().collect()
    )
    assert counts == {"BTC/USD": 300, "ETH/USD": 300}
    # typed schema out of silver
    assert dict(silver.dtypes)["datetime"] == "timestamp"
    assert dict(silver.dtypes)["close"] == "double"


def test_bronze_landing_feeds_streaming_source(spark, tmp_path):
    """The file-per-page bronze layout IS the streaming contract: a
    readStream over the landing dir with maxFilesPerTrigger=1 replays
    the pages as micro-batches; a streaming keep-first dedup on
    (symbol, ts) yields exactly the distinct candle keys."""
    from pyspark.sql import functions as F

    from big_data_stock_price_forecast_spark.streaming import (
        distinct_keys_stream,
        run_available_now,
    )

    bronze = str(tmp_path / "bronze")
    fetch = synthetic_exchange()
    start = 1_577_836_800_000
    rows, _ = fetch_paginated(fetch, "BTC/USD", start, 600)
    land_pages(spark, bronze, "BTC/USD", rows, fetch_seq=0, page_rows=200)
    # overlapping refetch generation -> duplicate keys across batches
    rows2, _ = fetch_paginated(fetch, "BTC/USD", rows[-200][0], 250)
    land_pages(spark, bronze, "BTC/USD", rows2, fetch_seq=1, page_rows=200)

    schema = spark.read.parquet(bronze + "/*.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(bronze + "/*.parquet")
        .select(
            F.col("symbol"),
            F.timestamp_millis(F.col("ts_ms")).alias("datetime"),
        )
    )
    out = run_available_now(
        distinct_keys_stream(sdf, ["symbol", "datetime"], "datetime"),
        "append",
    )
    distinct_keys = {r[0] for r in rows} | {r[0] for r in rows2}
    assert out.count() == len(distinct_keys)


START_MS = 1_577_836_800_000


def test_keep_last_orders_pages_by_ordinal_not_file_name(spark, tmp_path):
    """Within one fetch generation the later page wins an overlap, also
    past page 9: by file name ``_p10`` sorts before ``_p2``. The re-sent
    candle has the LOWER close, so the payload tie-break alone would
    pick page 2's."""
    bronze = str(tmp_path / "bronze")
    rows, _ = fetch_paginated(synthetic_exchange(), "BTC/USD", START_MS, 55)
    resent = [*rows[10][:4], rows[10][4] - 1.0, rows[10][5]]
    rows[50] = resent  # page 10's first candle re-sends page 2's first
    paths = land_pages(spark, bronze, "BTC/USD", rows, fetch_seq=0, page_rows=5)
    assert len(paths) == 11

    silver = silver_series(read_bronze(spark, bronze))
    got = silver.filter(
        F.col("datetime") == F.timestamp_millis(F.lit(resent[0]))
    ).collect()
    assert [r["close"] for r in got] == [resent[4]]
    assert silver.count() == 54


def test_landed_page_is_a_directory_holding_one_parquet_file(spark, tmp_path):
    """The landing contract: one directory per page, named by (symbol,
    fetch_seq, page), holding exactly one visible parquet file in the
    declared bronze schema; no temp file is left behind, landing a page
    again replaces it, and ``shutil.rmtree`` drops it."""
    bronze = str(tmp_path / "bronze")
    rows, _ = fetch_paginated(synthetic_exchange(), "BTC/USD", START_MS, 25)
    paths = land_pages(spark, bronze, "BTC/USD", rows, fetch_seq=3, page_rows=10)

    names = [f"BTC-USD_f3_p{i}.parquet" for i in range(3)]
    assert paths == [os.path.join(bronze, n) for n in names]
    assert sorted(os.listdir(bronze)) == names
    for path in paths:
        assert os.path.isdir(path)
        visible = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
        assert len(visible) == 1 and visible[0].endswith(".parquet")
        assert spark.read.parquet(path).schema == BRONZE_SCHEMA

    again = rows[20:]
    land_pages(spark, bronze, "BTC/USD", again, fetch_seq=3, page_rows=10)
    assert sorted(os.listdir(bronze)) == names
    landed = spark.read.parquet(paths[0]).orderBy("ts_ms").collect()
    assert [r["ts_ms"] for r in landed] == [r[0] for r in again]
    assert {(r["fetch_seq"], r["page"]) for r in landed} == {(3, 0)}

    shutil.rmtree(paths[0])
    assert not os.path.exists(paths[0])


def _numpy_keep_last(generations):
    """Reference keep-last: ``generations`` is [(fetch_seq, page_rows,
    rows)]; per ts the row of the latest (fetch_seq, page) wins.
    Returns the winning [ts, open, high, low, close, volume] by ts."""
    keys, vals = [], []
    for seq, page_rows, rows in generations:
        for i, r in enumerate(rows):
            keys.append((r[0], seq, i // page_rows))
            vals.append(r)
    keys, vals = np.array(keys), np.array(vals, dtype=float)
    order = np.lexsort((keys[:, 2], keys[:, 1], keys[:, 0]))
    ts = keys[order, 0]
    last = np.append(ts[1:] != ts[:-1], True)
    return vals[order][last]


def _silver_arrays(spark, bronze, symbol):
    silver = silver_series(read_bronze(spark, bronze)).filter(
        F.col("symbol") == symbol
    )
    got = silver.select(
        F.unix_millis("datetime"), "open", "high", "low", "close", "volume"
    ).collect()
    return np.array(sorted(map(tuple, got)), dtype=float)


def test_refresh_generation_round_trip(spark, tmp_path):
    """A base generation plus an overlapping refresh whose last 24
    candles are revised gives the NumPy keep-last; removing the refresh
    pages by glob + ``rmtree`` (how a refresh generation is dropped)
    gives the base series back."""
    bronze = str(tmp_path / "bronze")
    fetch = synthetic_exchange()
    symbols = ["BTC/USD", "ETH/USD"]
    want_merged, want_base = {}, {}
    for symbol in symbols:
        base, _ = fetch_paginated(fetch, symbol, START_MS, 300)
        land_pages(spark, bronze, symbol, base, fetch_seq=0, page_rows=100)
        refresh, _ = fetch_paginated(fetch, symbol, base[-48][0], 48)
        refresh = refresh[:24] + [
            [r[0], r[1], r[2] * 1.01, r[3], r[4] * 1.005, r[5] + 7.0]
            for r in refresh[24:]
        ]
        land_pages(spark, bronze, symbol, refresh, fetch_seq=1, page_rows=20)
        want_base[symbol] = _numpy_keep_last([(0, 100, base)])
        want_merged[symbol] = _numpy_keep_last(
            [(0, 100, base), (1, 20, refresh)]
        )
        assert not np.array_equal(want_merged[symbol], want_base[symbol])

    for symbol in symbols:
        np.testing.assert_array_equal(
            _silver_arrays(spark, bronze, symbol), want_merged[symbol]
        )

    for page in glob.glob(os.path.join(bronze, "*_f1_p*.parquet")):
        shutil.rmtree(page)
    for symbol in symbols:
        np.testing.assert_array_equal(
            _silver_arrays(spark, bronze, symbol), want_base[symbol]
        )


def test_landing_and_bronze_read_run_no_spark_job(spark, tmp_path):
    """Pages are written on the driver and bronze is read with the
    declared schema, so landing and building the silver plan run no
    Spark job; the first job is the silver action itself."""
    sc = spark.sparkContext
    group = f"ingest-no-job-{tmp_path.name}"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    bronze = str(tmp_path / "bronze")
    rows, _ = fetch_paginated(synthetic_exchange(), "BTC/USD", START_MS, 50)
    sc.setJobGroup(group, "ingest without jobs")
    try:
        land_pages(spark, bronze, "BTC/USD", rows, fetch_seq=0, page_rows=20)
        silver = silver_series(read_bronze(spark, bronze))
        assert jobs() == 0
        assert silver.count() == 50
        assert jobs() >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
