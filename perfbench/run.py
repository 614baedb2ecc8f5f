#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one JSON line.

Run from the repository root:

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 10 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload
with spans on and reports the per-layer metrics instead. Exits 1 when an
output check fails and 2 when the engine package is missing. Reads and
writes only under the current directory (``.perfbench_work/`` is
scratch, deleted at exit; ``.perfbench_out/`` keeps span dumps).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import sys
import time
from concurrent.futures import ProcessPoolExecutor

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
PKG = "context_aware_rag_spark"
# heap for the driver (local mode: executors share it). Inputs are a few
# thousand turns; the host has 15 GB shared with other tenants, and the
# engine's own 24g default would let the JVM grow into that.
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["batch_ingest", "serve_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _confine_to_checkout() -> None:
    """Temp files, Python workers and Spark scratch all stay under WORK;
    Python workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the spark-submit launcher too): temp
    # files under WORK, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def start_session(cores: int):
    from context_aware_rag_spark.session import build_session

    return build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # spans read job/stage info back after the run
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM it launched, and wait for the
    JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def exit_code(result: dict) -> int:
    """0 only when every output check passed and no op failed."""
    return 0 if result["correct"] and result["failed"] == 0 else 1


def result_json(run, rss_mb: float, session_s: float, trace: bool) -> dict:
    ops = run.ops
    failed = sum(1 for op in ops if not op.ok)
    if trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in run.layer.items()}
    else:
        metrics = {
            "setup_s": {"value": session_s + run.setup_s, "unit": "s"},
            "op_p50_s": {"value": run.kind_p50(run.primary), "unit": "s"},
            "ingest_p50_s": {"value": run.kind_p50(run.ingest), "unit": "s"},
            "delete_p50_s": {"value": run.kind_p50("delete"), "unit": "s"},
            "cycle_s": {"value": run.cycle_s(), "unit": "s"},
            "rss_p50_mb": {"value": rss_mb, "unit": "MB"},
        }
    return {
        "correct": bool(run.checks_ok and failed == 0),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _confine_to_checkout()
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from kgbench.rss import RssSampler
    from kgbench.tracing import Tracer
    from kgbench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    make_inputs, workload = WORKLOADS[args.workload]
    spark = None
    # the inputs are generated in a child process while the JVM starts
    # (untimed; generating a bulk-load window takes seconds). It is forked
    # before any other thread exists.
    pool = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork"))
    try:
        pending = pool.submit(make_inputs, args.seed)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(cores)
            session_s = time.perf_counter() - t0
            inputs = pending.result()
            pool.shutdown()
            print(f"perfbench: session started in {session_s:.3f}s", file=sys.stderr)
            tracer = Tracer(spark, enabled=bool(args.trace))
            tracer.patch_stage_writer()
            try:
                ctx = Ctx(spark, tracer, WORK, inputs, args.seconds, cores)
                print(f"perfbench: {args.workload} seed={args.seed} cores={cores}", file=sys.stderr)
                run = workload(ctx)
            finally:
                tracer.close()
        result = result_json(run, rss.median_mb(*ctx.measured), session_s, bool(args.trace))
        if args.trace:
            tracer.write(
                os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": run.layer},
            )
    finally:
        pool.shutdown(cancel_futures=True)
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark)
            print(f"perfbench: session stopped in {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return exit_code(result)


if __name__ == "__main__":
    sys.exit(main())
