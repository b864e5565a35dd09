"""``olap_serve``: the analysts' path, served over HTTP.

Set-up materializes ``loans2`` as parquet, advises and materializes the
rollup lattice from the dashboard shapes, and starts ``OlapHttpServer``
over ``OlapApi(rollups=store, plan_cache_size=128)`` on loopback.  The
timed part is a closed loop of 4 clients: each sends its next request
when the previous answer arrives.  About 70 % of requests are dashboard
shapes (a working set that fits the plan cache and routes through the
lattice), 30 % seeded ad-hoc requests (thousands of distinct shapes,
partly routable).  After the loop every distinct request is answered
again by an unrouted, uncached ``OlapApi`` and must match what was
served.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median
from urllib.parse import urlencode

from common import pctl
from inputs import DASHBOARD_SHAPES, request_stream
from tracing import Tracer, plan_ms, spark_per_op

CLIENTS = 4
SETUP_REPEATS = 3
# warm-up requests per client: a fixed amount of work, so every run starts
# its timed window at the same point of the JIT warm-up curve
WARMUP_REQUESTS = 15
CHECK_THREADS = 8  # reference answers wait on Spark as much as they compute
PATH = "/olap/loans2/aggregate"
CORE = ("cut", "drilldown", "measure", "aggregate", "hierarchy")


def write_fact(spark, data_dir: str, fact_dir: str) -> None:
    """The served warehouse: ``loans2`` written once as parquet, as the
    nightly snapshot would leave it."""
    from opl_spark.facts import build_loans_fact

    build_loans_fact(spark, data_dir).write.mode("overwrite").parquet(fact_dir)


class Serving:
    """One served engine over the fact parquet: lattice, API and HTTP
    server.  Building one is the workload's set-up."""

    def __init__(self, spark, fact_dir: str, root: str):
        from opl_spark.api import OlapApi
        from opl_spark.cube import CubeEngine
        from opl_spark.facts import default_catalog
        from opl_spark.rollups import RollupStore
        from opl_spark.server import OlapHttpServer

        self.root = root
        self.engine = CubeEngine(default_catalog())
        self.engine.register_fact("loans2", spark.read.parquet(fact_dir))
        self.store = RollupStore(spark, os.path.join(root, "lattice"))
        picked = self.store.advise(self.engine, "loans2", DASHBOARD_SHAPES, max_rollups=10)
        self.store.materialize(self.engine, "loans2", [p["cols"] for p in picked])
        self.api = OlapApi(self.engine, rollups=self.store, plan_cache_size=128)
        self.server = OlapHttpServer(self.api).start()

    def close(self) -> None:
        self.server.stop()
        shutil.rmtree(self.root, ignore_errors=True)


def _digest(body: bytes) -> str:
    """Order-insensitive digest of an aggregate answer."""
    payload = json.loads(body)
    rows = payload.get("data", [])
    lines = sorted(json.dumps(r, sort_keys=True) for r in rows)
    lines.append(json.dumps({k: v for k, v in payload.items() if k != "data"}, sort_keys=True))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _key(params: dict[str, str]) -> str:
    return urlencode(sorted(params.items()))


def _client(port, stream, deadline, limit, out, lock, rid_prefix):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    n = 0
    try:
        for cls, params in stream:
            if time.perf_counter() >= deadline or n == limit:
                break
            q = dict(params)
            rid = f"{rid_prefix}-{n}"
            if rid_prefix:
                q["rid"] = rid  # not a plan parameter: the plan cache ignores it
            n += 1
            t0, e0 = time.perf_counter(), time.time() * 1000.0
            try:
                conn.request("GET", PATH + "?" + urlencode(q))
                resp = conn.getresponse()
                status, body = resp.status, resp.read()
            except (OSError, http.client.HTTPException) as exc:
                status, body = -1, repr(exc).encode()
                conn.close()
            lat = time.perf_counter() - t0
            # the body is digested after the loop, not here, where the
            # work would compete with the server threads for the GIL
            rec = {"cls": cls, "key": _key(params), "params": params, "lat": lat,
                   "status": status, "body": body, "rid": rid, "start_ms": e0,
                   "end_ms": time.time() * 1000.0}
            with lock:
                out.append(rec)
    finally:
        conn.close()


def _closed_loop(port, seed, seconds, tag, first_client, traced, limit=None):
    """Run CLIENTS closed-loop clients for ``seconds`` (or until each has
    sent ``limit`` requests); returns (records, wall seconds)."""
    out, lock = [], threading.Lock()
    deadline = time.perf_counter() + seconds
    threads = [
        threading.Thread(
            target=_client,
            args=(port, request_stream(seed, first_client + i), deadline, limit, out, lock,
                  f"{tag}{i}" if traced else ""),
        )
        for i in range(CLIENTS)
    ]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


def _install_wrappers(tracer: Tracer, serving: Serving) -> None:
    """Wrap the calls into each layer on this engine's instances."""
    api, store, engine = serving.api, serving.store, serving.engine
    handle = api.handle
    build = api._build_aggregate_df_uncached
    materialize = api._materialize
    store_agg = store.aggregate
    cube_agg = engine.aggregate
    fresh: set[int] = set()  # ids of plans built and not yet executed

    def t_handle(path, params=None):
        with tracer.span("api.handle", request_id=(params or {}).get("rid")):
            return handle(path, params)

    def t_build(fact, params):
        with tracer.span("api.plan_build"):
            df = build(fact, params)
        fresh.add(id(df))
        return df

    def t_store_agg(*a, **kw):
        with tracer.span("rollups.aggregate", jobs=True):
            return store_agg(*a, **kw)

    def t_cube_agg(*a, **kw):
        with tracer.span("cube.aggregate", jobs=True):
            return cube_agg(*a, **kw)

    def t_materialize(df, params):
        if not tracer.enabled:
            return materialize(df, params)
        # a plan built by this request is charged its whole Catalyst
        # time; a cached plan only what this execution added
        before = 0.0 if id(df) in fresh else plan_ms(df)
        fresh.discard(id(df))
        with tracer.span("spark.execute", jobs=True) as rec:
            try:
                return materialize(df, params)
            finally:
                rec["plan_ms"] = plan_ms(df) - before

    api.handle = t_handle
    api._build_aggregate_df_uncached = t_build
    api._materialize = t_materialize
    store.aggregate = t_store_agg
    engine.aggregate = t_cube_agg


def _check(serving: Serving, records: list[dict], outcome) -> None:
    """Every response must be a 200 whose rows match, order-insensitively,
    the answer of an unrouted, uncached API over the same engine."""
    from opl_spark.api import OlapApi
    from opl_spark.server import encode_response

    ref_api = OlapApi(serving.engine, rollups=None, plan_cache_size=0)
    distinct = {r["key"]: r["params"] for r in records}

    def ref(item):
        key, params = item
        try:
            return key, _digest(encode_response(ref_api.handle(PATH, params)))
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            return key, f"error: {type(exc).__name__}: {exc}"

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        expected = dict(pool.map(ref, distinct.items()))
    for r in records:
        ok = r["status"] == 200 and _digest(r["body"]) == expected[r["key"]]
        outcome.record(ok, f"{r['key']}: status {r['status']} {r['body'][:200]!r}")


def _e2e(records: list[dict], wall: float) -> dict:
    lat = {c: [r["lat"] * 1000.0 for r in records if r["cls"] == c and r["status"] == 200]
           for c in ("dashboard", "adhoc")}
    return {
        "fast_op_ms": pctl(lat["dashboard"], 0.5),
        "full_op_ms": pctl(lat["adhoc"], 0.5),
        "ops_per_s": len(records) / wall,
        # tails: too few samples per run to gate a change on, so they are
        # reported with the per-layer metrics of the traced run
        "serve.dashboard_p95_ms": pctl(lat["dashboard"], 0.95),
        "serve.adhoc_p95_ms": pctl(lat["adhoc"], 0.95),
        "samples.dashboard": len(lat["dashboard"]),
        "samples.adhoc": len(lat["adhoc"]),
    }


def _layers(tracer: Tracer, serving: Serving, records: list[dict]) -> dict:
    # the client's view of each request becomes the root span of the
    # request: server.request -> api.handle -> ...
    roots = {r["rid"]: tracer.add("server.request", r["start_ms"], r["end_ms"], r["rid"])
             for r in records}
    for s in tracer.spans:
        if s["name"] == "api.handle" and s["request_id"] in roots:
            s["parent"] = roots[s["request_id"]]["id"]
    spans = tracer.spans
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        if s["request_id"]:
            by_rid.setdefault(s["request_id"], []).append(s)
    handles = {s["request_id"]: s for s in spans if s["name"] == "api.handle"}
    overhead = [r["lat"] * 1000.0 - (handles[r["rid"]]["end_ms"] - handles[r["rid"]]["start_ms"])
                for r in records if r["rid"] in handles]
    out = {
        "server.overhead_p50_ms": pctl(overhead, 0.5),
        "api.handle_p50_ms": pctl([h["end_ms"] - h["start_ms"] for h in handles.values()], 0.5),
    }
    for cls in ("dashboard", "adhoc"):
        mine = [r for r in records if r["cls"] == cls and r["rid"] in by_rid]
        misses = sum(1 for r in mine
                     if any(s["name"] == "api.plan_build" for s in by_rid[r["rid"]]))
        out[f"api.plan_cache_hit_ratio.{cls}"] = 1.0 - misses / max(1, len(mine))
        distinct = {r["key"]: r["params"] for r in records if r["cls"] == cls}
        routed = sum(
            1 for p in distinct.values()
            if serving.store.route_report(
                serving.engine, "loans2", **{k: p.get(k) for k in CORE})["routed"]
        )
        out[f"rollups.routed_ratio.{cls}"] = routed / max(1, len(distinct))
        out[f"samples.distinct.{cls}"] = len(distinct)
    cube = [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == "cube.aggregate"]
    out["cube.build_p50_ms"] = pctl(cube, 0.5) if cube else 0.0
    execs = [s for s in spans if s["name"] == "spark.execute"]
    out.update(spark_per_op(spans, execs, len(records)))
    return out


def run(ctx, log) -> tuple[dict, dict]:
    spark = ctx.spark
    fact_dir = os.path.join(ctx.work_dir, "loans2")
    write_fact(spark, ctx.data_dir, fact_dir)
    setups, serving = [], None
    for i in range(SETUP_REPEATS):
        if serving is not None:
            serving.close()
        t0 = time.perf_counter()
        serving = Serving(spark, fact_dir, os.path.join(ctx.work_dir, f"serve{i}"))
        setups.append(time.perf_counter() - t0)
        log(f"setup {i}: {setups[-1]:.2f}s")
    try:
        port = serving.server.port
        # warm-up: every dashboard plan cached, codegen and file listings
        # done, a first batch of ad-hoc shapes through the same path
        _closed_loop(port, ctx.seed + 7919, 120.0, "w", 100, False, limit=WARMUP_REQUESTS)
        if not ctx.trace:
            records, wall = _closed_loop(port, ctx.seed, ctx.seconds, "u", 0, False)
            e2e, layers = _e2e(records, wall), {}
        else:
            # untraced, traced, traced, untraced quarters: the order cancels
            # a linear drift (warming caches, JIT) out of the overhead
            tracer = Tracer(spark, False)
            _install_wrappers(tracer, serving)
            halves = {False: ([], 0.0), True: ([], 0.0)}
            for i, traced in enumerate((False, True, True, False)):
                tracer.enabled = traced
                recs, w = _closed_loop(port, ctx.seed, ctx.seconds / 4, f"h{i}-",
                                       CLIENTS * i, traced)
                halves[traced] = (halves[traced][0] + recs, halves[traced][1] + w)
                log(f"quarter {i} traced={traced}: {len(recs) / w:.2f} requests/s")
            tracer.attach_counters()
            tracer.enabled = False  # the correctness check below is not traced
            e2e = _e2e(*halves[False])
            t_e2e = _e2e(*halves[True])
            layers = _layers(tracer, serving, halves[True][0])
            layers.update({k: v for k, v in e2e.items() if k.startswith("serve.")})
            layers["trace.overhead_ratio"] = e2e["ops_per_s"] / t_e2e["ops_per_s"] - 1.0
            tracer.write(os.path.join(ctx.out_dir, f"spans-olap_serve-seed{ctx.seed}.jsonl"))
            records = halves[False][0] + halves[True][0]
        log(f"timed: {len(records)} requests")
        t0 = time.perf_counter()
        _check(serving, records, ctx.outcome)
        log(f"checked {len(records)} answers in {time.perf_counter() - t0:.1f}s")
        e2e["setup_s"] = median(setups)
        return e2e, layers
    finally:
        serving.close()
