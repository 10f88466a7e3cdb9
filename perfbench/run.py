#!/usr/bin/env python3
"""dvas benchmark: drives the engine's public functions through one workload
and prints every metric with its unit, then one JSON result line.

    python3 perfbench/run.py --workload camera_stream --seed 1 --seconds 6 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end metrics
with tracing off. ``--trace 1`` is the separate traced run: it runs the named
workload first and then the others in the same session, records spans
around every call into the engine's layers plus Spark's own counters, writes
the spans to ``--spans`` if given, and prints the per-layer metrics.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Exit code 0 means every output checked out; 1 means a check failed (the
result line is still printed); 2 means the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from backfill import MjpegBackfill  # noqa: E402
from camera import CameraStream  # noqa: E402
from common import (  # noqa: E402
    Ctx,
    RssSampler,
    cpu_ticks,
    descendants,
    process_age_s,
    wait_gone,
)
from ledger import LAYERS, SparkLedger, Tracer, covered  # noqa: E402
from mix import MIX, AnalystMix  # noqa: E402

WORKLOADS = {w.name: w for w in (CameraStream, MjpegBackfill, AnalystMix)}
CPUS = 4

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.jpeg.decode_ms_per_frame": "ms",
    "sources.chunks.scan_s": "s",
    "sources.tables.load_table_s": "s",
    "sources.tables.load_table_jobs": "count",
    "functions.motion.gray_ms_per_frame": "ms",
    "functions.motion.boxes_ms_per_frame": "ms",
    **{f"operators.{q}.s": "s" for q in MIX},
    **{f"operators.{q}.jobs": "count" for q in MIX},
    "operators.build_s": "s",
    "operators.execute_s": "s",
    "operators.build_jobs": "count",
    "operators.execute_jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_s": "s",
    "operators.executor_run_s": "s",
    "operators.input_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.video.tasks": "count",
    "operators.video.executor_cpu_s": "s",
    "operators.video.shuffle_write_bytes": "bytes",
    "operators.video.task_skew": "ratio",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.jobs_per_batch": "count",
    "streaming.end_lag_s": "s",
    "streaming.generator_late_s": "s",
    "sinks.results.write_s": "s",
    "sinks.results.files": "count",
    "sinks.results.bytes": "bytes",
    "sinks.results.files_per_batch": "count",
    **{f"layer.{name}.self_s": "s" for name in LAYERS},
    "layer.spark_jobs_s": "s",
    "trace.spans": "count",
    "trace.work_per_s": "1/s",
    "trace.latency_p50_s": "s",
    "trace.latency_p90_s": "s",
}


def isolate(run_root: str) -> dict:
    """Give this run its own temp, Spark-local, checkpoint and output
    directories (all under ``run_root``); returns the Spark conf to match.
    The engine's IVF-PQ index cache lives under gettempdir(), so it starts
    empty in every run."""
    import tempfile

    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
    }


def stop_engine(spark) -> None:
    """Stop the session, then the JVM itself (it ends when its stdin closes),
    and wait until the JVM and the Python workers under it have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    engine = [p for p in descendants(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(engine)


def run(args, run_root: str) -> dict:
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    ctx = Ctx(seed=args.seed, seconds=args.seconds, root=run_root,
              cache=os.path.join(ROOT, ".perfbench", "cache"), tracer=tracer)
    order = [args.workload] + (
        [w for w in WORKLOADS if w != args.workload] if args.trace else []
    )
    conf = isolate(run_root)
    attempted = failed = 0
    named: dict = {}
    with RssSampler() as rss:
        first = WORKLOADS[args.workload]()
        ctx.root = os.path.join(run_root, args.workload)
        t = time.time()
        first.prepare(ctx)  # input generation: not part of set-up
        gen_s = time.time() - t

        from distributed_video_analytics_flink_spark.session import get_spark

        with tracer.span("session.get_spark", "session"):
            t = time.time()
            ctx.spark = get_spark(app_name="dvas-perfbench", extra_conf=conf)
            get_spark_s = time.time() - t
        if args.trace:
            ctx.ledger = SparkLedger(ctx.spark)
        try:
            for i, name in enumerate(order):
                wl = first if i == 0 else WORKLOADS[name]()
                ctx.root = os.path.join(run_root, name)
                if i:
                    wl.prepare(ctx)
                with tracer.span(f"session.warmup.{name}", "session") as warm:
                    t = time.time()
                    wl.warmup(ctx)
                    warmup_s = time.time() - t
                if i == 0:
                    setup_s = process_age_s() - gen_s
                    if args.trace:
                        ctx.layer["session.get_spark_s"] = get_spark_s
                        ctx.layer["session.warmup_s"] = warmup_s
                if ctx.ledger is not None:
                    ctx.ledger.harvest(tracer, warm, ctx.ledger.jobs_between(warm.start, warm.end))
                ticks0 = cpu_ticks()
                e2e = wl.measure(ctx, rss)
                if i == 0:  # the peak over set-up and measurement, not the checks
                    rss.sample()
                    peak_rss = rss.peak
                busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
                # how much of the measured phase the host took away (context
                # for a noisy run; not a metric of the engine)
                e2e["named"]["host_steal_share"] = steal / max(busy, 1)
                a, f = wl.check(ctx)
                attempted, failed = attempted + a, failed + f
                if i == 0:
                    first_e2e = e2e
                named[name] = dict(e2e.pop("named"), attempted=a, failed=f)
        finally:
            stop_engine(ctx.spark)
    e2e = dict(first_e2e)
    e2e["setup_s"] = setup_s
    # printed, not gated: on camera_stream it is bimodal (~2.5 vs ~3.9 GB)
    # between runs of the same code, wider than any bound allows
    named[args.workload]["peak_rss_mb"] = peak_rss / 2**20
    if args.trace:
        self_s = tracer.layer_self_times()
        for name in LAYERS:
            ctx.layer[f"layer.{name}.self_s"] = self_s[name]
        jobs = [(s.start, s.end) for s in tracer.spans if s.name == "spark.job"]
        ctx.layer["layer.spark_jobs_s"] = covered(jobs, 0.0, float("inf"))
        ctx.layer["trace.spans"] = len(tracer.spans)
        for k in ("work_per_s", "latency_p50_s", "latency_p90_s"):
            ctx.layer[f"trace.{k}"] = first_e2e[k]
        if args.spans:
            tracer.dump(args.spans)
    return {"e2e": e2e, "layer": ctx.layer, "named": named,
            "attempted": attempted, "failed": failed}


def report(args, res: dict) -> dict:
    """Print every metric with its unit; return the result line's object."""
    for wl, extra in res["named"].items():
        for k, v in extra.items():
            print(f"{wl}.{k} {v:.6g}")
        print(f"{wl}.error_rate {extra['failed'] / max(extra['attempted'], 1):.6g}")
    if args.trace:
        want, got = PER_LAYER, res["layer"]
    else:
        want, got = END_TO_END, res["e2e"]
    missing = sorted(set(want) - set(got))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {}
    for k, unit in want.items():
        metrics[k] = {"value": float(got[k]), "unit": unit}
        print(f"{k} {got[k]:.6g} {unit}")
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)
    try:
        import distributed_video_analytics_flink_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        res = run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    out = report(args, res)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
