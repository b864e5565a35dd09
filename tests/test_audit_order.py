"""The driver audit order, derived from a synthetic ledger.

``audit_plan`` takes the parsed ledger as an argument, so each rule of
the order can be pinned without the committed CORRECTNESS_r*.json
files.  Ledger rows are ``{id: (last round, window position, green)}``.
No Spark session needed.
"""

from opl_spark.workload import audit_plan

NAMES = ["q_a", "q_b", "q_c", "q_d", "q_e"]
ORACLED = {"q_a", "q_b", "q_c", "q_d"}


def order(ledger, priority=None, names=NAMES, oracled=ORACLED):
    return audit_plan(names, oracled, ledger, priority or {}).order


def test_red_oracled_id_leads_the_order():
    ledger = {
        "q_a": (3, 0, True),
        "q_b": (1, 0, True),
        "q_c": (5, 4, False),
        "q_d": (2, 0, True),
        "q_e": (1, 1, False),
    }
    plan = audit_plan(NAMES, ORACLED, ledger, {})
    assert plan.retry == ("q_c",)
    # rows-only q_e is never hash-green; that is its terminal state
    assert order(ledger) == ["q_c", "q_b", "q_e", "q_d", "q_a"]


def test_priority_leads_until_a_green_row_at_or_after_its_round():
    before = {n: (4, i, True) for i, n in enumerate(NAMES)}
    assert order(before, {"q_e": 5, "q_c": 5})[:2] == ["q_e", "q_c"]

    # q_c confirmed green at round 5: back in the tail by staleness;
    # rows-only q_e confirmed by any row at round 5
    after = dict(before, q_c=(5, 0, True), q_e=(5, 1, False))
    plan = audit_plan(NAMES, ORACLED, after, {"q_e": 5, "q_c": 5})
    assert plan.priority == ()
    assert plan.order == ["q_a", "q_b", "q_d", "q_c", "q_e"]

    # a red row at the change round makes it a retry, not a priority
    red = dict(before, q_c=(5, 0, False))
    plan = audit_plan(NAMES, ORACLED, red, {"q_c": 5})
    assert (plan.retry, plan.priority) == (("q_c",), ())


def test_tail_is_sorted_by_round_then_window_position():
    ledger = {
        "q_a": (7, 2, True),
        "q_b": (6, 9, True),
        "q_c": (7, 0, True),
        "q_d": (6, 3, True),
        "q_e": (8, 0, False),
    }
    assert order(ledger) == ["q_d", "q_b", "q_c", "q_a", "q_e"]


def test_never_audited_oracled_before_rows_only_before_audited():
    names = ["q_e", "q_x", "q_a", "q_y", "q_b"]
    oracled = {"q_a", "q_b", "q_y"}
    ledger = {"q_a": (2, 0, True), "q_b": (1, 0, True)}
    assert order(ledger, names=names, oracled=oracled) == [
        "q_y", "q_e", "q_x", "q_b", "q_a",
    ]


def test_empty_ledger_gives_registration_order():
    assert order({}) == NAMES
    plan = audit_plan(NAMES, ORACLED, {}, {"q_c": 3})
    assert plan.order == ["q_c", "q_a", "q_b", "q_d", "q_e"]
    assert plan.audited == ()


def test_ids_outside_the_registry_are_ignored():
    ledger = {"q_gone": (1, 0, False), "q_a": (1, 1, True)}
    assert order(ledger, {"q_gone": 9}) == ["q_b", "q_c", "q_d", "q_e", "q_a"]
