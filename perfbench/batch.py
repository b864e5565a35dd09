"""``operator_batch``: pinned operator ids from the query registry.

Fourteen ids in four classes (``inputs.BATCH_CLASSES``) run in the
seed's order.  Each id is built (``workload.queries()[id](spark, dir)``,
which runs any eager driver-side actions the operator needs) and then
forced through the noop sink, as the engine's own bench does.

Set-up registers the source views.  The warm-up then runs every id once
on sf0.01 and checks its rows against the id's DuckDB oracle with
``tests/oracle.py:compare``; that pass also takes the JVM's first-touch
cost off the timed passes.  The timed part runs whole passes over the
same sf0.01 tables until ``--seconds`` have passed: at this scale the
ids are bound by Spark jobs and driver round trips, which is what the
workload is for.
"""

from __future__ import annotations

import gc
import os
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from inputs import BATCH_CLASSES, CLASS_OF, batch_order
from tracing import Tracer, plan_ms, spark_per_op, spark_totals

SETUP_REPEATS = 3
WARM_THREADS = 4


def _warm_and_check(spark, qs, oracles, order, data_dir, outcome) -> None:
    """Run every id once and compare it with its oracle.  The ids run
    on WARM_THREADS threads at once: the pass exists to check answers
    and to warm the JVM, neither of which needs them in sequence."""
    from oracle import compare

    def check(q):
        try:
            r = compare(qs[q](spark, data_dir), oracles[q], data_dir)
            ok = r["rows_match"] and r["schema_match"] and r["hash_match"]
            return ok, f"{q}: oracle mismatch {r['spark']} vs {r['oracle']}"
        except Exception as exc:  # noqa: BLE001 — reported as a failed id
            return False, f"{q}: {type(exc).__name__}: {exc}"

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for ok, why in pool.map(check, order):
            outcome.record(ok, why[:300])
    _hygiene(spark)


def _hygiene(spark) -> None:
    """Between ids, outside the timers: drop cached frames and free the
    Python references that pin checkpoint blocks."""
    spark.catalog.clearCache()
    gc.collect()


def _run_id(spark, qs, q, data_dir, tracer: Tracer, outcome) -> dict:
    """Build one id, force it through the noop sink; times both steps."""
    with tracer.span(f"workload.{q}", request_id=q):
        t0 = time.perf_counter()
        with tracer.span("workload.build", jobs=True):
            df = qs[q](spark, data_dir)
        t1 = time.perf_counter()
        with tracer.span("spark.execute", jobs=True) as rec:
            df.write.format("noop").mode("overwrite").save()
            if rec is not None:
                rec["plan_ms"] = plan_ms(df)
        t2 = time.perf_counter()
    outcome.record(True)
    del df
    _hygiene(spark)
    return {"id": q, "cls": CLASS_OF[q], "build_s": t1 - t0, "exec_s": t2 - t1,
            "wall_s": t2 - t0}


def _paired_pass(spark, qs, order, data_dir, tracer: Tracer, outcome):
    """Trace mode: every id runs untraced and traced, the first of the
    two alternating from id to id so the order cancels out of the
    overhead; returns (untraced, traced) records."""
    plain, traced = [], []
    for i, q in enumerate(order):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            tracer.enabled = on
            (traced if on else plain).append(_run_id(spark, qs, q, data_dir, tracer, outcome))
    tracer.enabled = False
    return plain, traced


def run(ctx, log) -> tuple[dict, dict]:
    from opl_spark import workload
    from opl_spark.sources import register_sources

    spark = ctx.spark
    data_dir = ctx.small_data_dir
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        register_sources(spark, data_dir)
        setups.append(time.perf_counter() - t0)
    qs, oracles = workload.queries(), workload.oracle_sql()
    order = batch_order(ctx.seed)
    t0 = time.perf_counter()
    # longest classes first: the parallel warm-up ends with its slowest id
    _warm_and_check(spark, qs, oracles, sorted(order, key=list(CLASS_OF).index), data_dir,
                    ctx.outcome)
    log(f"warm-up and oracle check: {time.perf_counter() - t0:.1f}s")

    tracer = Tracer(spark, False)
    t0 = time.perf_counter()
    if ctx.trace:
        plain, traced = _paired_pass(spark, qs, order, data_dir, tracer, ctx.outcome)
    else:
        plain = []
        while time.perf_counter() - t0 < ctx.seconds or not plain:
            plain += [_run_id(spark, qs, q, data_dir, tracer, ctx.outcome) for q in order]
    log(f"timed: {len(plain)} ids in {time.perf_counter() - t0:.1f}s: "
        + " ".join(f"{r['id']}={r['wall_s']:.2f}" for r in plain))

    def mean_ms(cls_pred):
        # the ids of a class differ by design, so the typical id is the
        # class mean: a median would report whichever id sits in the middle
        w = [r["wall_s"] * 1000.0 for r in plain if cls_pred(r["cls"])]
        return sum(w) / len(w)

    e2e = {
        "setup_s": median(setups),
        "ops_per_s": len(plain) / sum(r["wall_s"] for r in plain),
        "fast_op_ms": mean_ms(lambda c: c == "short"),
        "full_op_ms": mean_ms(lambda c: c != "short"),
    }
    layers = {}
    if ctx.trace:
        tracer.attach_counters()
        layers["trace.overhead_ratio"] = (
            sum(r["wall_s"] for r in traced) / sum(r["wall_s"] for r in plain) - 1.0)
        spans = tracer.spans
        by_id = {s["request_id"]: [] for s in spans}
        for s in spans:
            by_id[s["request_id"]].append(s)
        for c in BATCH_CLASSES:
            mine = [r for r in traced if r["cls"] == c]
            layers[f"workload.{c}.build_s"] = sum(r["build_s"] for r in mine)
            layers[f"workload.{c}.execute_s"] = sum(r["exec_s"] for r in mine)
            layers[f"spark.{c}.jobs"] = sum(
                spark_totals(by_id[r["id"]])["jobs"] for r in mine)
        build = sum(r["build_s"] for r in traced)
        layers["workload.build_share"] = build / sum(r["wall_s"] for r in traced)
        execs = [s for s in spans if s["name"] == "spark.execute"]
        layers.update(spark_per_op(spans, execs, len(traced)))
        tracer.write(os.path.join(ctx.out_dir, f"spans-operator_batch-seed{ctx.seed}.jsonl"))
    return e2e, layers
