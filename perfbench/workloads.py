"""The benchmark's workloads. Each one generates its inputs from the seed
when constructed (benchmark work, never timed), then offers:

- ``prepare(spark)``: program-side preparation, billed to ``setup_s``;
- ``op(spark, op_id)``: one timed op, returning (items, output);
- ``check(output, op_id)``: the output compared with ``oracle``;
- ``traced_op(spark, op_id, tracer)``: the same op cut at layer
  boundaries, returning (items, output, finish) where ``finish()``
  reads the per-layer metrics after the op, outside its timing;
- ``after_op(op_id)``: untimed cleanup that keeps inputs the same size.

Layer self times in a traced op: every layer after the first
materializes the whole prefix of the op up to and including itself
(nothing is cached, so the next layer recomputes it); a layer's self
time is its prefix time minus the previous prefix's time, and the same
difference is taken for its engine counters.
"""

from __future__ import annotations

import glob
import os
import shutil

import gen
import oracle
import probe

from pyspark.sql import functions as F

#: layer -> [(metric, unit, better)] beyond self_s and ENGINE_COUNTERS;
#: every traced run reports every layer (0 where the workload has none)
LAYERS: dict[str, list[tuple[str, str, str]]] = {
    "sources.ingest": [
        ("pages_landed", "count", "lower"),
        ("files_written", "count", "lower"),
        ("bytes_written", "bytes", "lower"),
        ("write_jobs", "count", "lower"),
    ],
    "operators.cleaning": [
        ("rows_read", "count", "lower"),
        ("rows_out", "count", "lower"),
        ("dup_drop_share", "ratio", "lower"),
    ],
    "operators.resample": [
        ("rows_in", "count", "lower"),
        ("rows_out", "count", "lower"),
    ],
    "operators.gapfill": [
        ("rows_out", "count", "lower"),
        ("filled_share", "ratio", "lower"),
    ],
    "operators.rolling": [
        ("rows_out", "count", "lower"),
        ("python_rows", "count", "lower"),
    ],
    "operators.smoothing": [
        ("rows_out", "count", "lower"),
        ("python_rows", "count", "lower"),
    ],
    "digest": [],
    "plans.flagship.labeled": [
        ("rows_read", "count", "lower"),
        ("rows_out", "count", "lower"),
    ],
    "operators.windows": [
        ("windows_built", "count", "lower"),
        ("values_materialized", "count", "lower"),
        ("python_bytes", "bytes", "lower"),
    ],
    "operators.forecast": [
        ("queries", "count", "higher"),
        ("pairs_scored", "count", "lower"),
        ("pairs_per_query", "count", "lower"),
        ("eager_jobs", "count", "lower"),
    ],
    "plans.flagship": [("rows_out", "count", "lower")],
}

def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run prints."""
    spec = [
        ("session.start_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("process.peak_rss_mb", "MB", "lower"),
    ]
    for layer, extra in LAYERS.items():
        spec.append((f"{layer}.self_s", "s", "lower"))
        spec += [
            (f"{layer}.{m}", unit, "lower") for m, unit in probe.ENGINE_COUNTERS.items()
        ]
        spec += [(f"{layer}.{m}", u, b) for m, u, b in extra]
    return spec


def _run_prefixes(spark, op_id, tracer, prefixes, df=None):
    """Run each (layer, build) prefix under its own span and job group:
    ``build(previous DataFrame)`` constructs the layer's DataFrame (plan
    construction may itself run eager jobs, grouped under
    ``<group>.build``); the last prefix is collected, the others
    materialized. Returns (layer, seconds, row count or collected rows,
    DataFrame, group) per prefix."""
    sc = spark.sparkContext
    done = []
    for i, (layer, build) in enumerate(prefixes):
        group = f"op{op_id}.{layer}"
        with tracer.span(layer, op_id, parent=f"op{op_id}"):
            sc.setJobGroup(f"{group}.build", layer)
            df = build(df)
            sc.setJobGroup(group, layer)
            res = df.collect() if i == len(prefixes) - 1 else probe.materialize(df)
        done.append((layer, tracer.spans[-1].seconds, res, df, group))
    sc.setJobGroup("", "")
    return done


def _prefix_metrics(spark, done):
    """Per prefix of :func:`_run_prefixes`: (layer, seconds, result, plan
    metrics, build counters, total counters), cumulative over the
    prefix. Read after the op, outside its timing."""
    rows = []
    for layer, secs, res, df, group in done:
        build = probe.group_counters(spark, f"{group}.build")
        run = probe.group_counters(spark, group)
        total = {k: build[k] + run[k] for k in build}
        rows.append((layer, secs, res, probe.plan_metrics(df), build, total))
    return rows


def _self_metrics(rows) -> dict[str, dict[str, float]]:
    """self_s and engine counters per layer as prefix differences."""
    out, prev_s, prev_c = {}, 0.0, dict.fromkeys(probe.ENGINE_COUNTERS, 0.0)
    for layer, secs, _, _, _, total in rows:
        m = {"self_s": secs - prev_s}
        m.update({k: total[k] - prev_c[k] for k in probe.ENGINE_COUNTERS})
        out[layer] = m
        prev_s, prev_c = secs, total
    return out


class Backtest:
    """backtest_l256: the reference evaluation config, one
    ``flagship_summary`` per op over a dense seeded hourly panel."""

    name = "backtest_l256"
    N_SYMBOLS = 2
    N_HOURS = 4000
    L, P, K, ENSEMBLE, STRIDE = 256, 192, 5, 2, 64

    def __init__(self, seed: int, work: str):
        from big_data_stock_price_forecast_spark.plans.flagship import FlagshipParams

        self.panel = gen.make_panel(seed, self.N_SYMBOLS, self.N_HOURS)
        self.sf_dir = os.path.join(work, "sf")
        gen.write_events(self.panel, self.sf_dir)
        self.params = FlagshipParams(
            resample_every="1 hour",
            step_seconds=3600,
            L=self.L,
            pred_window=self.P,
            k=self.K,
            ensemble=self.ENSEMBLE,
            stride=self.STRIDE,
        )
        self.want = oracle.backtest_summary(self.panel, self.params)

    def prepare(self, spark) -> None:
        """Nothing: the flagship scans the generated events directly."""

    def op(self, spark, op_id: int):
        from big_data_stock_price_forecast_spark.plans.flagship import flagship_summary

        row = flagship_summary(spark, self.sf_dir, self.params).collect()
        return self.want[2], row

    def check(self, rows, op_id: int) -> bool:
        if len(rows) != 1:
            return False
        mean, std, n = self.want
        got = rows[0]
        return (
            got.n_queries == n
            and abs(got.mae_mean - mean) <= 1e-6 * max(1.0, abs(mean))
            and abs(got.mae_std - std) <= 1e-6 * max(1.0, abs(std))
        )

    def traced_op(self, spark, op_id: int, tracer):
        from big_data_stock_price_forecast_spark.plans import flagship as fl

        args = (spark, self.sf_dir, self.params)
        done = _run_prefixes(
            spark,
            op_id,
            tracer,
            [
                ("plans.flagship.labeled", lambda _: fl.flagship_labeled(*args)),
                ("operators.windows", lambda _: fl.flagship_windows(*args)),
                ("operators.forecast", lambda _: fl.flagship_per_query_mae(*args)),
                ("plans.flagship", lambda _: fl.flagship_summary(*args)),
            ],
        )

        def finish():
            rows = _prefix_metrics(spark, done)
            layers = _self_metrics(rows)
            (_, _, n_lab, pm_lab, _, _), (_, _, n_win, pm_win, _, _) = rows[:2]
            (_, _, n_q, pm_fc, build_fc, _), (_, _, summary, _, _, _) = rows[2:]
            layers["plans.flagship.labeled"].update(
                rows_read=pm_lab["scan_rows"], rows_out=n_lab
            )
            layers["operators.windows"].update(
                windows_built=n_win,
                values_materialized=n_win * (self.L + self.P),
                python_bytes=pm_win["python_bytes"] - pm_lab["python_bytes"],
            )
            layers["operators.forecast"].update(
                queries=n_q,
                pairs_scored=pm_fc["max_join_rows"],
                pairs_per_query=pm_fc["max_join_rows"] / max(n_q, 1),
                eager_jobs=build_fc["jobs"],
            )
            layers["plans.flagship"].update(rows_out=len(summary))
            return layers

        return self.want[2], done[-1][2], finish

    def after_op(self, op_id: int) -> None:
        pass


class IngestFeaturize:
    """ingest_featurize: land one overlapping refresh generation per
    symbol, then the silver → resample → time_idx → gap fill →
    indicators → Savitzky–Golay chain, finished by an order-free digest."""

    name = "ingest_featurize"
    N_SYMBOLS = 2
    N_HOURS = 1000
    REFRESH_HOURS = 168

    def __init__(self, seed: int, work: str):
        self.panel = gen.make_panel(seed, self.N_SYMBOLS, self.N_HOURS)
        self.exchange = gen.Exchange(self.panel, seed)
        self.symbols = [gen.symbol_name(i) for i in range(self.N_SYMBOLS)]
        self.bronze = os.path.join(work, "bronze")
        refresh_from = self.exchange.end_ms - self.REFRESH_HOURS * gen.HOUR_MS
        self.items = sum(
            int((s.ts_ms >= refresh_from).sum()) for s in self.panel.series
        )

    def _ingest(self, spark, generation: int, total: int):
        from big_data_stock_price_forecast_spark.sources.ingest import ingest

        self.exchange.generation = generation
        return ingest(
            spark,
            self.bronze,
            self.symbols,
            total=total,
            now_ms=self.exchange.end_ms,
            fetch=self.exchange,
            fetch_seq=generation,
        )

    def prepare(self, spark) -> None:
        """Land the base generation (the whole history) in an empty
        bronze directory."""
        shutil.rmtree(self.bronze, ignore_errors=True)
        self._ingest(spark, 0, self.N_HOURS)

    @staticmethod
    def _stages():
        """The featurize chain as (layer, build from previous) steps."""
        from big_data_stock_price_forecast_spark.functions.calendar import add_time_idx
        from big_data_stock_price_forecast_spark.operators.gapfill import (
            fill_missing_time_idx,
        )
        from big_data_stock_price_forecast_spark.operators.resample import resample_ohlcv
        from big_data_stock_price_forecast_spark.operators.rolling import (
            add_indicators,
            add_indicators2,
        )
        from big_data_stock_price_forecast_spark.operators.smoothing import savgol_smooth

        return [
            ("operators.cleaning", lambda silver: silver),
            ("operators.resample", lambda df: resample_ohlcv(df, every="1 hour")),
            (
                "operators.gapfill",
                lambda df: fill_missing_time_idx(
                    add_time_idx(df, "datetime", 3600),
                    "symbol",
                    "time_idx",
                    "datetime",
                    3600,
                ),
            ),
            ("operators.rolling", lambda df: add_indicators2(add_indicators(df))),
            ("operators.smoothing", lambda df: savgol_smooth(df, ["close"])),
            ("digest", _digest_frame),
        ]

    def op(self, spark, op_id: int):
        df = self._ingest(spark, op_id, self.REFRESH_HOURS)
        for _, build in self._stages():
            df = build(df)
        return self.items, df.collect()

    def check(self, rows, op_id: int) -> bool:
        cols = [
            oracle.featurize_columns(
                sym, *_split(self.exchange.candles(s, generation=op_id))
            )
            for s, sym in enumerate(self.symbols)
        ]
        return not oracle.digest_mismatches(_digest_row(rows), oracle.digest(cols))

    def traced_op(self, spark, op_id: int, tracer):
        sc = spark.sparkContext
        group = f"op{op_id}.sources.ingest"
        before = set(_bronze_files(self.bronze))
        with tracer.span("sources.ingest", op_id, parent=f"op{op_id}"):
            sc.setJobGroup(group, "sources.ingest")
            silver = self._ingest(spark, op_id, self.REFRESH_HOURS)
        ingest_s = tracer.spans[-1].seconds
        done = _run_prefixes(spark, op_id, tracer, self._stages(), silver)

        def finish():
            new = set(_bronze_files(self.bronze)) - before
            ing = probe.group_counters(spark, group)
            ing.update(
                self_s=ingest_s,
                pages_landed=len({os.path.dirname(f) for f in new}),
                files_written=sum(f.endswith(".parquet") for f in new),
                bytes_written=sum(os.path.getsize(f) for f in new),
                write_jobs=ing["jobs"],
            )
            rows = _prefix_metrics(spark, done)
            layers = {"sources.ingest": ing, **_self_metrics(rows)}
            n = {layer: res for layer, _, res, _, _, _ in rows[:-1]}
            pm = {layer: m for layer, _, _, m, _, _ in rows}
            n_silver, n_res = n["operators.cleaning"], n["operators.resample"]
            scanned = pm["operators.cleaning"]["scan_rows"]
            layers["operators.cleaning"].update(
                rows_read=scanned,
                rows_out=n_silver,
                dup_drop_share=1.0 - n_silver / scanned,
            )
            layers["operators.resample"].update(rows_in=n_silver, rows_out=n_res)
            n_fill = n["operators.gapfill"]
            layers["operators.gapfill"].update(
                rows_out=n_fill, filled_share=(n_fill - n_res) / n_fill
            )
            prev_py = pm["operators.gapfill"]["python_rows"]
            for layer in ("operators.rolling", "operators.smoothing"):
                layers[layer].update(
                    rows_out=n[layer], python_rows=pm[layer]["python_rows"] - prev_py
                )
                prev_py = pm[layer]["python_rows"]
            return layers

        return self.items, done[-1][2], finish

    def after_op(self, op_id: int) -> None:
        """Drop this op's refresh generation: bronze stays base + one."""
        for page in glob.glob(os.path.join(self.bronze, f"*_f{op_id}_p*.parquet")):
            shutil.rmtree(page)


def _split(candles):
    return candles[:, 0].astype("int64"), candles[:, 1:]


def _bronze_files(bronze: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(bronze)
        for f in files
        if not f.startswith(".") and not f.startswith("_")
    ]


def _digest_frame(df):
    """(count, sum, sum |x|) of every column in one aggregate: strings
    by length, timestamps by epoch seconds, numbers as doubles."""
    aggs = []
    for f in df.schema.fields:
        c, kind = F.col(f"`{f.name}`"), f.dataType.typeName()
        if kind == "string":
            c = F.length(c)
        elif kind.startswith("timestamp"):
            c = F.unix_seconds(c)
        c = c.cast("double")
        aggs += [
            F.count(c).alias(f"{f.name}|n"),
            F.sum(c).alias(f"{f.name}|s"),
            F.sum(F.abs(c)).alias(f"{f.name}|a"),
        ]
    return df.agg(*aggs)


def _digest_row(rows) -> dict[str, tuple[int, float, float]]:
    d = rows[0].asDict()
    names = [k[:-2] for k in d if k.endswith("|n")]
    return {
        n: (d[f"{n}|n"], d[f"{n}|s"] or 0.0, d[f"{n}|a"] or 0.0) for n in names
    }


WORKLOADS = {w.name: w for w in (Backtest, IngestFeaturize)}
