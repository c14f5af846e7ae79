#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backtest_l256 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the program only sees the generated files and fetch callable. One
closed-loop client on ``local[<cores>]``: each op starts after the
previous one finished and was checked. Everything the run writes stays
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(the span dump of a traced run).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: warm-up ops billed to setup_s, before the measured window. The
#: first op of a process is cold (~15 s against ~6 s warm on 4 cores);
#: a second warm-up op would take ~7 s more from every run's budget
WARMUP_OPS = 1
#: the measured window runs at least this many untraced ops, so that
#: every run's op p50 is a median over the same count of ops even in a
#: slow stretch of the shared host: the second op of a process is
#: 10-30 % slower than later ones, and one op swings by 10-20 % from
#: the next
MIN_OPS = 4
#: a traced op's layer self times must add up to a latency within the
#: untraced ops' range, widened on each side by this share of their
#: median: the bound the timing metrics may move between runs
TRACE_TOLERANCE = 0.25


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jvm_opts = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), *jvm_opts]
    )
    # the short-lived launcher JVM that assembles the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), *jvm_opts]
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _start_session(work: str):
    from big_data_stock_price_forecast_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _hygiene(spark) -> None:
    """Between ops: drop cached frames and the eager localCheckpoint
    blocks the ContextCleaner has not reclaimed yet, then collect the
    heap so every op starts from the same JVM state."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


@dataclass
class Op:
    op_id: int
    seconds: float
    ok: bool
    items: int
    layers: dict | None
    rss_kb: int = 0
    worker_rss_kb: int = 0


def _run_op(wl, spark, op_id, tracer=None) -> Op:
    """One op. Exceptions and failed checks count as failures; the
    check and cleanup run outside the timed region."""
    layers = None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            items, out = wl.op(spark, op_id)
        else:
            with tracer.span(f"op{op_id}", op_id):
                items, out, finish = wl.traced_op(spark, op_id, tracer)
        dt = time.perf_counter() - t0
        if tracer is not None:
            layers = finish()
        ok = wl.check(out, op_id)
    except Exception:  # noqa: BLE001 — a failed op is a measured outcome
        dt = time.perf_counter() - t0
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"# op {op_id}: FAILED", file=sys.stderr)
    wl.after_op(op_id)
    _hygiene(spark)
    return Op(op_id, dt, ok, items if ok else 0, layers)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    import probe
    import workloads

    spark, sampler = None, None
    try:
        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        sampler = probe.RssSampler()
        t0 = time.perf_counter()
        spark = _start_session(work)
        start_s = time.perf_counter() - t0
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0 - start_s
        warmup = [_run_op(wl, spark, op_id) for op_id in range(1, WARMUP_OPS + 1)]
        setup_s = time.perf_counter() - t0
        print(
            f"# setup_s={setup_s:.3f} start_s={start_s:.3f} prepare_s={prepare_s:.3f}"
            f" warmup_ops_s={[round(op.seconds, 3) for op in warmup]}",
            file=sys.stderr,
        )
        op_id = WARMUP_OPS

        tracer = probe.Tracer() if args.trace else None
        plain, traced = [], []
        sampler.running = True
        t_start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_start
            # a traced run spends its first half untraced, to measure
            # the tracing overhead against, and traces at least one op
            enough = len(plain) >= MIN_OPS
            use_tracer = tracer is not None and elapsed >= args.seconds / 2 and enough
            if elapsed >= args.seconds and enough and (tracer is None or traced):
                break
            op_id += 1
            sampler.reset()
            op = _run_op(wl, spark, op_id, tracer if use_tracer else None)
            op.rss_kb, op.worker_rss_kb = sampler.peak_kb, sampler.worker_peak_kb
            (traced if use_tracer else plain).append(op)
        sampler.running = False

        ops = warmup + plain + traced
        failed = sum(not op.ok for op in ops)
        lat = [op.seconds for op in plain]
        print(
            f"# ops={len(lat)} ops_s={[round(x, 3) for x in lat]}"
            f" rss_mb={[round(op.rss_kb / 1024) for op in plain]}"
            f" worker_rss_mb={[round(op.worker_rss_kb / 1024) for op in plain]}"
            f" traced_ops_s={[round(op.seconds, 3) for op in traced]}",
            file=sys.stderr,
        )
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "items_per_s": (sum(op.items for op in plain) / sum(lat), "items/s"),
                "success_ratio": ((len(ops) - failed) / len(ops), "ratio"),
                "worker_rss_mb": (
                    statistics.median(op.worker_rss_kb for op in plain) / 1024, "MB"
                ),
            }
        else:
            metrics, inconsistent = _layer_metrics(workloads, plain, traced, start_s)
            failed += inconsistent
            _dump_trace(args, tracer, traced)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {
                        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    },
                }
            )
        )
        return 0
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def _layer_metrics(workloads, plain, traced, start_s):
    """Median per-layer metrics over the traced ops, the tracing
    overhead, the process-tree memory peak of the untraced ops, and the
    number of successful traced ops whose layer self times do not add
    up to an untraced op's latency (a failed op is already counted)."""
    spec = workloads.per_layer_spec()
    plain_s = [op.seconds for op in plain]
    plain_p50 = statistics.median(plain_s)
    overhead = statistics.median(op.seconds for op in traced) - plain_p50
    margin = TRACE_TOLERANCE * plain_p50
    lo, hi = min(plain_s) - margin, max(plain_s) + margin
    values: dict[str, list[float]] = {name: [] for name, _, _ in spec}
    inconsistent = 0
    for op in traced:
        if not op.ok:
            continue
        self_sum = sum(m["self_s"] for m in op.layers.values())
        if not lo <= self_sum <= hi:
            print(
                f"# op {op.op_id}: layer self times add up to {self_sum:.3f}s,"
                f" outside [{lo:.3f}, {hi:.3f}]s around the untraced ops",
                file=sys.stderr,
            )
            inconsistent += 1
        for layer, m in op.layers.items():
            for k, v in m.items():
                values[f"{layer}.{k}"].append(v)
    metrics = {
        name: (statistics.median(values[name]) if values[name] else 0.0, unit)
        for name, unit, _ in spec
    }
    metrics["session.start_s"] = (start_s, "s")
    metrics["trace.overhead_s"] = (overhead, "s")
    metrics["process.peak_rss_mb"] = (
        statistics.median(op.rss_kb for op in plain) / 1024,
        "MB",
    )
    return metrics, inconsistent


def _dump_trace(args, tracer, traced) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace_{args.workload}_seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "spans": tracer.dump(),
                "layers": {op.op_id: op.layers for op in traced},
            },
            fh,
        )


if __name__ == "__main__":
    sys.exit(main())
