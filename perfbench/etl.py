"""``snapshot_etl``: a replay of the nightly snapshot cron.

The fact list (``olapSettings.json``, the reference's settings format,
loaded through ``cli.load_settings``) holds three facts: the active
users query (daily), a day-bound loans fact (daily) and a week-bound
loans fact (weekly cron: ``timescope.gate`` skips six days in seven).
Set-up registers the source views; a seeded history window is then
backfilled, untimed.  For each following pivot date three steps are
timed: ``SnapshotEngine.run`` (the append), an immediate re-run (the
idempotent no-op: gate plus E4 probe) and one ``CubeEngine.aggregate``
read of the freshly appended ``enabled_users`` fact.

Checked afterwards: every re-run returned ``{}``; every appended row
count equals DuckDB running the same bound SQL over the same parquet;
the weekly fact fired exactly on ISO-week-end (Sunday) pivots; every
read's total equals the month's appended values.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from statistics import median

from common import pctl
from inputs import SETTINGS_PATH
from tracing import Tracer, plan_ms, spark_per_op, spark_totals

SETUP_REPEATS = 3
HISTORY_DAYS = 3
READ_FACT = "enabled_users"


def _files(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


class Replay:
    def __init__(self, spark, facts, warehouse: str, tracer: Tracer):
        from opl_spark.cube import CubeEngine
        from opl_spark.facts import default_catalog
        from opl_spark.snapshot import SnapshotEngine

        self.spark = spark
        self.facts = facts
        self.warehouse = warehouse
        self.snap = SnapshotEngine(spark, warehouse)
        self.cube = CubeEngine(default_catalog())
        self.tracer = tracer
        self.pivots: list[dict] = []

    def append(self, pivot: dt.date) -> dict:
        with self.tracer.span("snapshot.run", request_id=str(pivot), jobs=True):
            return self.snap.run(pivot, self.facts)

    def _probe_and_read(self, pivot: dt.date) -> dict:
        """The re-run (must append nothing) and the read of the fresh fact."""
        rid = str(pivot)
        t1 = time.perf_counter()
        with self.tracer.span("snapshot.probe", request_id=rid, jobs=True):
            again = self.snap.run(pivot, self.facts)
        t2 = time.perf_counter()
        with self.tracer.span("cube.aggregate", request_id=rid, jobs=True):
            self.cube.register_fact(READ_FACT, self.snap.fact_frame(READ_FACT))
            df = self.cube.aggregate(
                READ_FACT, cut=f"date:{pivot.year},{pivot.month}",
                drilldown="age_group", measure="value")
        with self.tracer.span("spark.execute", request_id=rid, jobs=True) as rec:
            rows = df.collect()
            if rec is not None:
                rec["plan_ms"] = plan_ms(df)
        t3 = time.perf_counter()
        return {"again": again, "read_total": sum(r["value"] for r in rows),
                "probe_s": t2 - t1, "read_s": t3 - t2}

    def step(self, pivot: dt.date, paired: bool = False) -> dict:
        """One timed pivot: append, re-run, read.  ``paired`` (trace mode)
        runs the idempotent re-run and the read twice, untraced and
        traced, alternating which goes first, for a paired overhead."""
        files0, bytes0 = _files(self.warehouse)
        t0 = time.perf_counter()
        written = self.append(pivot)
        rec = {"pivot": pivot, "written": written, "append_s": time.perf_counter() - t0}
        if paired:
            traced = self.tracer.enabled
            for on in (False, True) if len(self.pivots) % 2 == 0 else (True, False):
                self.tracer.enabled = on
                rec["traced" if on else "plain"] = self._probe_and_read(pivot)
            self.tracer.enabled = traced
            rec.update(rec["plain"])
        else:
            rec.update(self._probe_and_read(pivot))
        files1, bytes1 = _files(self.warehouse)
        rec.update(new_files=files1 - files0, new_bytes=bytes1 - bytes0)
        self.pivots.append(rec)
        return rec


def _check(facts, history: list[tuple[dt.date, dict]], steps: list[dict], data_dir, outcome):
    from opl_spark.snapshot import bind_date
    from opl_spark.timescope import gate
    from oracle import duck_connection

    con = duck_connection(data_dir)
    month_total: dict[tuple[int, int], int] = {}
    try:
        for pivot, written, step in [(p, w, None) for p, w in history] + [
                (s["pivot"], s["written"], s) for s in steps]:
            for fq in facts:
                fires = gate(pivot, fq.cron) is not None
                if fq.cron == "weekly":
                    outcome.record(fires == (pivot.isoweekday() == 7),
                                   f"{pivot} weekly gate fired={fires}")
                if not fires:
                    outcome.record(fq.fact_table not in written,
                                   f"{pivot} {fq.fact_table} appended off its cron")
                    continue
                sql = bind_date(fq.sql, pivot)
                n = con.sql(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
                got = written.get(fq.fact_table)
                outcome.record(got == n, f"{pivot} {fq.fact_table}: appended {got}, oracle {n}")
                if fq.fact_table == READ_FACT:
                    v = con.sql(f"SELECT COALESCE(SUM(value), 0) FROM ({sql})").fetchone()[0]
                    key = (pivot.year, pivot.month)
                    month_total[key] = month_total.get(key, 0) + int(v)
            if step is not None:
                key = (pivot.year, pivot.month)
                for r in [step] + ([step["traced"]] if "traced" in step else []):
                    outcome.record(r["again"] == {}, f"{pivot} re-run appended {r['again']}")
                    outcome.record(r["read_total"] == month_total.get(key, 0),
                                   f"{pivot} read {r['read_total']} != {month_total.get(key)}")
    finally:
        con.close()


def run(ctx, log) -> tuple[dict, dict]:
    from opl_spark.cli import load_settings
    from opl_spark.sources import register_sources

    spark = ctx.spark
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        facts = load_settings(SETTINGS_PATH)
        register_sources(spark, ctx.data_dir)
        setups.append(time.perf_counter() - t0)
    log(f"setup: {', '.join(f'{s:.2f}' for s in setups)}s")

    tracer = Tracer(spark, False)
    replay = Replay(spark, facts, os.path.join(ctx.work_dir, "warehouse"), tracer)
    # the seed picks the month; the replay starts on its first Sunday, so
    # every seed sees the same weekday sequence (the weekly fact fires on
    # the first history day and again on the fifth timed pivot) inside
    # one month
    rng = random.Random(f"etl-{ctx.seed}")
    pivot = dt.date(rng.randrange(1996, 2001), rng.randint(1, 12), 1)
    pivot += dt.timedelta(days=(6 - pivot.weekday()) % 7)
    history = []
    t0 = time.perf_counter()
    for _ in range(HISTORY_DAYS):
        history.append((pivot, replay.append(pivot)))
        pivot += dt.timedelta(days=1)
    log(f"history backfill: {time.perf_counter() - t0:.1f}s")

    tracer.enabled = ctx.trace
    timed = 0.0
    while timed < ctx.seconds:
        rec = replay.step(pivot, paired=ctx.trace)
        timed += rec["append_s"] + rec["probe_s"] + rec["read_s"]
        pivot += dt.timedelta(days=1)
    tracer.enabled = False
    steps = replay.pivots
    log(f"timed: {len(steps)} pivots in {timed:.1f}s")

    _check(facts, history, steps, ctx.data_dir, ctx.outcome)
    cycle = [r["append_s"] + r["probe_s"] + r["read_s"] for r in steps]
    e2e = {
        "setup_s": median(setups),
        "ops_per_s": len(steps) / sum(cycle),
        "fast_op_ms": pctl([r["probe_s"] * 1000 for r in steps], 0.5),
        "full_op_ms": pctl([r["append_s"] * 1000 for r in steps], 0.5),
    }
    layers = {}
    if ctx.trace:
        tracer.attach_counters()
        spans = tracer.spans
        appends = [s for s in spans if s["name"] == "snapshot.run"]
        probes = [s for s in spans if s["name"] == "snapshot.probe"]
        reads = [s for s in spans if s["name"] in ("cube.aggregate", "spark.execute")]
        execs = [s for s in spans if s["name"] == "spark.execute"]
        app = spark_totals(appends)
        n_ops = 3 * len(steps)
        rows = sum(sum(r["written"].values()) for r in steps)
        files_end, _ = _files(replay.warehouse)
        dur = lambda ss: [s["end_ms"] - s["start_ms"] for s in ss]  # noqa: E731
        by_rid = {}
        for s in reads:
            by_rid[s["request_id"]] = by_rid.get(s["request_id"], 0.0) + s["end_ms"] - s["start_ms"]

        def probe_read(side):
            return sum(r[side]["probe_s"] + r[side]["read_s"] for r in steps)

        layers = {
            "trace.overhead_ratio": probe_read("traced") / probe_read("plain") - 1.0,
            "snapshot.jobs_per_run": app["jobs"] / len(appends),
            "snapshot.task_s_per_run": app["task_ms"] / 1000.0 / len(appends),
            "snapshot.probe_p50_ms": pctl(dur(probes), 0.5),
            "snapshot.read_p50_ms": pctl(list(by_rid.values()), 0.5),
            "snapshot.files_per_append": sum(r["new_files"] for r in steps) / len(steps),
            "snapshot.warehouse_files_end": files_end,
            "snapshot.bytes_per_row": sum(r["new_bytes"] for r in steps) / max(1, rows),
            "sources.register_s": median(setups),
            "cube.build_p50_ms": pctl(
                dur([s for s in spans if s["name"] == "cube.aggregate"]), 0.5),
        }
        layers.update(spark_per_op(spans, appends + probes + execs, n_ops))
        tracer.write(os.path.join(ctx.out_dir, f"spans-snapshot_etl-seed{ctx.seed}.jsonl"))
    return e2e, layers
