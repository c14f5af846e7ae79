"""SparkSession factory tuned for this engine.

Defaults chosen for the driver's harness (local[$SPARK_GRAFT_CPUS],
single JVM) but expressed so the same settings scale to a real cluster:

- AQE on (runtime coalescing + skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE
  re-plans from actual map output sizes.
- ``spark.sql.shuffle.partitions`` small-ish locally; on a cluster this
  is the AQE *initial* partition number and should be ~2-3x total cores.
- Session timezone pinned UTC so timestamp arithmetic (epoch anchors,
  calendar projections) is deterministic and matches the DuckDB oracle.
- Arrow enabled for the few pandas-UDF escape hatches (EMA, savgol,
  model inference) — everything else stays in whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bdspf-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # local[N] runs every task inside the driver JVM, so this IS the
    # executor memory: 12g left 32 concurrent tasks ~230 MB of
    # execution memory each and the L=256 flagship rank sort spilled
    # (measured 26.1 -> 19.4 s warm at 32g, r15). Capped at half the
    # box's physical RAM so the library default still launches on
    # hosts smaller than the 128 GiB harness (r15 advice);
    # BDSPF_DRIVER_MEMORY overrides, clusters size executors
    # separately.
    driver_memory = driver_memory or os.environ.get("BDSPF_DRIVER_MEMORY")
    if driver_memory is None:
        try:
            page = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            half_gb = max(2, int(page / (2 * 1024**3)))
        except (AttributeError, ValueError, OSError):
            # AttributeError: no os.sysconf on non-POSIX hosts
            half_gb = 12
        driver_memory = f"{min(32, half_gb)}g"
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("BDSPF_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's parallelism-first coalescing merges shuffle reads down
        # to minPartitionSize (default 1 MiB); for MB-scale interactive
        # inputs that serializes whole pipelines onto one core. A 64 KiB
        # floor keeps small stages parallel; at cluster scale coalescing
        # only ever MERGES map outputs, so a lower floor just means
        # "don't merge tiny stages to death" — large shuffles still
        # target the advisory size. Measured r15: a GLOBAL 1 KiB floor
        # helped amplify-after-tiny-exchange pipelines 3x but cost the
        # 300-query small tail ~+0.5 s each (more tasks x Arrow/worker
        # setup), netting zero — pipelines that amplify heavily
        # downstream (the flagship window build) instead pin their own
        # exchange width explicitly (plans/flagship.py).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("BDSPF_AQE_MIN_PARTITION", "64KB"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # static conf: generated-class cache (default 100 entries). A
        # multi-hundred-query session thrashes 100 entries many times
        # over, so identical plan fragments shared across queries (the
        # table scans, the resample/gap-fill prefix, window shapes)
        # re-pay janino compilation once per query. 8192 entries keeps
        # them compiled for the session: measured 96.5 -> 74.4 s over
        # the first 60 registry queries (r15). Same lever on cluster
        # executors — compilation happens per JVM.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("BDSPF_CODEGEN_CACHE", "8192"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver's testdata parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the loader
        # (sources/tables.py) — DuckDB truncates nanos→micros the same way
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def require_utc(spark: SparkSession) -> None:
    """Assert the session timezone is UTC instead of silently setting it.

    NTZ->LTZ timestamp casts (unix_micros, watermarks) preserve the
    stored micros bitwise only under UTC. The pin lives in exactly two
    places — :func:`get_spark` and the ``__spark_entry__`` wrappers (the
    driver's bare-session path); query builders must not mutate global
    session state at plan-construction time, because a lazy plan built
    under one zone and executed under another would silently shift
    every timestamp."""
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(
            f"session timezone must be UTC for exact NTZ casts (got {tz!r});"
            " build the session via big_data_stock_price_forecast_spark."
            "session.get_spark or pin spark.sql.session.timeZone=UTC"
        )
