"""Pinned, seeded inputs of the three workloads.

Everything a workload sends to the engine comes from here and from the
seed: the dashboard shapes, the ad-hoc request grammar, the operator
ids with their classes, and (in ``olapSettings.json`` beside this file)
the snapshot fact list.  They are copies, not imports, so that editing
the engine's own bench or examples cannot move the workloads.
"""

from __future__ import annotations

import os
import random

#: The ten dashboard request shapes against ``loans2`` (pinned copy of
#: the interactive-latency mix).  Their working set fits the 128-entry
#: plan cache and every shape routes through the advised lattice.
DASHBOARD_SHAPES: list[dict] = [
    {"cut": "date:1997", "drilldown": "date", "measure": "value"},
    {"drilldown": "date|organization_level", "measure": "value"},
    {"cut": "date:1996,10-1997,02", "drilldown": "date:year|date:month",
     "measure": "loans"},
    {"cut": "loan_type:F", "drilldown": "segment", "measure": "value",
     "share": True},
    {"drilldown": "priority", "measure": "avg_value"},
    {"cut": "date:1997", "drilldown": "date:day", "measure": "loans",
     "having": "loans >= 10"},
    {"drilldown": "library_id", "measure": "value", "top_n": 5},
    {"cut": "date:1997", "drilldown": "date", "hierarchy": "date:iso_week",
     "measure": "loans"},
    {"cut": "segment:BUILDING;MACHINERY", "drilldown": "date",
     "measure": "value"},
    {"drilldown": "date", "measure": "value", "share": True},
]

# --- ad-hoc grammar: cut × drilldown × measure over the loans2 catalog ---
YEARS = list(range(1995, 2002))
LOAN_TYPES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

#: drilldown terms, keyed by the dimension they walk (one term per
#: dimension in a request)
DRILLDOWNS = {
    "date": ["date", "date:month", "date:day"],
    "organization_level": ["organization_level", "organization_level:library_id"],
    "loan_type": ["loan_type"],
    "priority": ["priority"],
    "segment": ["segment"],
    "library_id": ["library_id"],
}

#: (measure, aggregate or None for the measure's default)
MEASURES = [
    ("value", None), ("value", "avg"), ("value", "median"), ("loans", None),
    ("avg_value", None), ("min_value", None), ("max_value", None),
    ("value|loans", None),
]


def _cut_term(rng: random.Random) -> tuple[str, str]:
    """One cut term as (dimension, term)."""
    kind = rng.randrange(7)
    if kind == 0:
        return "date", f"date:{rng.choice(YEARS)}"
    if kind == 1:
        return "date", f"date:{rng.choice(YEARS)},{rng.randint(1, 12)}"
    if kind == 2:
        y = rng.choice(YEARS[:-1])
        return "date", f"date:{y},{rng.randint(1, 12)}-{y + 1},{rng.randint(1, 12)}"
    if kind == 3:
        return "loan_type", f"loan_type:{rng.choice(LOAN_TYPES)}"
    if kind == 4:
        return "priority", f"priority:{rng.choice(PRIORITIES)}"
    if kind == 5:
        return "segment", "segment:" + ";".join(sorted(rng.sample(SEGMENTS, rng.randint(1, 3))))
    c = rng.randrange(5)
    if rng.random() < 0.5:
        return "organization_level", f"organization_level:{c}"
    return "organization_level", f"organization_level:{c},{c + 5 * rng.randrange(5)}"


def adhoc_request(rng: random.Random, k: int) -> dict[str, str]:
    """The ``k``-th ad-hoc aggregate request of a stream.

    The request's structure cycles with ``k`` (0-2 cut terms, 1-2
    drilldown dimensions led by each dimension in turn, each measure
    choice in turn; the cycle is 24 requests long) and the seeded
    ``rng`` picks the members, levels and second dimension.  Any run of
    a few dozen requests therefore has the same mix of request costs
    whatever the seed, while the shapes themselves rarely repeat."""
    params: dict[str, str] = {}
    cuts: dict[str, str] = {}
    for _ in range((0, 1, 1, 2)[k % 4]):
        dim, term = _cut_term(rng)
        cuts.setdefault(dim, term)
    dims = sorted(DRILLDOWNS)
    lead = dims[k % len(dims)]
    dims = [lead] + rng.sample([d for d in dims if d != lead], (1, 1, 2)[k % 3] - 1)
    terms = [rng.choice(DRILLDOWNS[d]) for d in dims]
    if "date:day" in terms:
        # keep answers report-sized: a day-level walk is cut to one month
        cuts["date"] = f"date:{rng.choice(YEARS)},{rng.randint(1, 12)}"
    params["drilldown"] = "|".join(terms)
    if cuts:
        params["cut"] = "|".join(cuts[d] for d in sorted(cuts))
    measure, agg = MEASURES[k % len(MEASURES)]
    params["measure"] = measure
    if agg:
        params["aggregate"] = agg
    return params


def as_params(shape: dict) -> dict[str, str]:
    """A shape dict as HTTP query parameters (booleans as ``true``)."""
    return {k: (str(v).lower() if isinstance(v, bool) else str(v)) for k, v in shape.items()}


def request_stream(seed: int, client: int):
    """Endless (class, params) stream of one client.

    Requests come in blocks of ten: seven dashboard requests and three
    ad-hoc ones, in a seeded order within the block.  The dashboard
    requests walk a seeded permutation of the ten shapes; client ``c``
    starts the ad-hoc structure cycle at ``6c`` so that concurrent
    clients cover different parts of it.  The same (seed, client)
    always yields the same stream."""
    rng = random.Random(f"olap-{seed}-{client}")
    shapes = [as_params(s) for s in DASHBOARD_SHAPES]
    rng.shuffle(shapes)
    n_dash, k = 0, 6 * client
    while True:
        block = ["dashboard"] * 7 + ["adhoc"] * 3
        rng.shuffle(block)
        for cls in block:
            if cls == "dashboard":
                yield cls, shapes[n_dash % len(shapes)]
                n_dash += 1
            else:
                yield cls, adhoc_request(rng, k)
                k += 1


#: Operator ids of the batch workload, by class.
BATCH_CLASSES: dict[str, list[str]] = {
    "iterative": ["q_entity_resolution", "q_bfs_hops"],
    "shuffle": ["q_setsim_join", "q_pagerank", "q_dedup_minhash", "q_dedup_ngram"],
    "python_map": ["q_bmp_decode", "q_cdc_chunks", "q_ivfpq_topk"],
    "short": ["q_tfidf", "q_sessionize", "q_events_window", "q_asof_join",
              "q_idempotent_antijoin"],
}

CLASS_OF = {q: c for c, ids in BATCH_CLASSES.items() for q in ids}


def batch_order(seed: int) -> list[str]:
    """The batch ids in this seed's order."""
    ids = [q for c in BATCH_CLASSES for q in BATCH_CLASSES[c]]
    random.Random(f"batch-{seed}").shuffle(ids)
    return ids


SETTINGS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "olapSettings.json")
