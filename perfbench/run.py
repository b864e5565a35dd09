#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload olap_serve --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  The run generates its input
tables from ``--seed``, starts Spark with a fixed driver heap, sets the
workload up, measures it for ``--seconds``, checks every answer and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` first measures untraced, then again with spans and Spark
counters, and reports the per-layer metrics (a layer the workload does
not exercise reports 0) and writes the spans under ``.perfbench/out``.
Everything the run writes lives under ``.perfbench/`` in the checkout;
its scratch directory is removed at exit.  Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_serve", "snapshot_etl", "operator_batch")
CORES = 4
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _prepare_environment(work_dir: str) -> None:
    """Scratch locations and the driver heap, set before pyspark is
    imported: the JVM reads them once, at launch."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        # initial heap = maximum heap: the JVM's resident size then does
        # not depend on when the collector decided to grow the heap
        f"--conf 'spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}' "
        "pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.chdir(work_dir)  # derby.log, metastore_db and the like land here


def _start_spark():
    from opl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(os.getcwd(), "spark-warehouse"),
            # the traced run reads every job of the run back from the
            # status store; keep them all (set in both modes so traced
            # and untraced runs share one configuration)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:
        pass  # the gateway broke mid-call (run terminated): the JVM is stopped below
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "opl_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        log(f"no engine source under {ROOT}: run from the root of a source checkout")
        return 2
    e2e_units, layer_units = _declared_metrics()

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    work_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))  # the DuckDB oracle, tests/oracle.py
    sys.path.insert(0, HERE)
    spark = None
    try:
        _prepare_environment(work_dir)
        import datagen
        from common import RunContext, cpu_ticks, peak_rss_mb, steal_share

        ticks0 = cpu_ticks()

        data_dir = os.path.join(work_dir, "data", "sf0.1")
        small_dir = os.path.join(work_dir, "data", "sf0.01")
        t0 = time.perf_counter()
        if args.workload == "operator_batch":
            datagen.generate(small_dir, 0.01, args.seed)
        else:
            datagen.generate(data_dir, 0.1, args.seed)
        log(f"generated inputs in {time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()
        spark = _start_spark()
        log(f"spark up in {time.perf_counter() - t0:.1f}s")
        ctx = RunContext(spark=spark, seed=args.seed, seconds=args.seconds,
                         trace=bool(args.trace), work_dir=work_dir, data_dir=data_dir,
                         small_data_dir=small_dir, out_dir=out_dir)
        if args.workload == "olap_serve":
            import serve as workload
        elif args.workload == "snapshot_etl":
            import etl as workload
        else:
            import batch as workload
        e2e, layers = workload.run(ctx, log)
        e2e["peak_rss_mb"] = peak_rss_mb()
        log(f"cpu steal during the run: {100 * steal_share(ticks0, cpu_ticks()):.1f}%")
        log("end-to-end: " + json.dumps(e2e, sort_keys=True))
        if args.trace:
            log("per-layer: " + json.dumps(layers, sort_keys=True))
        for err in ctx.outcome.errors:
            log(f"FAILED: {err}")
    except Exception:  # noqa: BLE001 — a broken run prints no result
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work_dir, ignore_errors=True)

    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in e2e_units.items()}
    o = ctx.outcome
    print(json.dumps({"correct": o.failed == 0, "attempted": o.attempted,
                      "failed": o.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
