"""Join-strategy plan assertions (tools/audit_plans.py --check).

The audit tool has always RECORDED exchanges/joins; these tests pin
that it now ASSERTS them: data joins must be BHJ/SMJ, CartesianProduct
is never allowed, and a BroadcastNestedLoopJoin is tolerated only for
the documented scalar-stats / exact-baseline keys — so a join that
silently degrades to a nested loop fails the audit instead of
shipping.
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit():
    spec = importlib.util.spec_from_file_location(
        "audit_mod", os.path.join(REPO, "tools/audit_plans.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["audit_mod"] = m
    spec.loader.exec_module(m)
    return m


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_mod_plan", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    sys.modules["entry_mod_plan"] = m
    spec.loader.exec_module(m)
    return m


SF = "/root/testdata/sf0.001"


def test_representative_plans_pass_check(spark):
    """A no-BNLJ key, a scalar-stats-BNLJ key, and an exact-baseline
    key all pass their live-plan assertions."""
    A, E = _audit(), _entry()
    qs = E.queries()
    for key in ("query_sql_tpch_q6", "text_tfidf", "similarity_topk",
                "query_join_broadcast"):
        plan = A.formatted_plan(qs[key](spark, SF))
        assert A.check_plan(key, plan) == [], key


def test_forced_bnlj_mutation_is_caught(spark):
    """A data×data non-equi join (the exact mutation the check exists
    for) must be flagged for any non-allowlisted key."""
    A = _audit()
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id",
                                                           "value")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    bad = ev.join(li, ev.value > li.l_quantity)     # non-equi → BNLJ
    plan = A.formatted_plan(bad)
    assert "BroadcastNestedLoopJoin" in plan        # mutation took
    problems = A.check_plan("query_sql_tpch_q6", plan)
    assert problems and "nested loop" in problems[0]


def test_bnlj_over_allowance_and_missing_scalar_agg_flagged(spark):
    """Even an allowlisted key fails when the BNLJ count exceeds its
    recorded allowance, and a scalar-stats key whose plan lost its
    ungrouped aggregate is flagged."""
    A = _audit()
    fake_plan = "\n".join(
        f"({i}) BroadcastNestedLoopJoin BuildRight" for i in (1, 2))
    problems = A.check_plan("text_tfidf", fake_plan)
    assert any("allowed 1" in p for p in problems)
    one = "(1) BroadcastNestedLoopJoin BuildRight\nKeys: [k]"
    problems = A.check_plan("text_tfidf", one)
    assert any("scalar" in p for p in problems)
    # CartesianProduct is never allowed, even for allowlisted keys
    cart = "(1) CartesianProduct"
    assert any("CartesianProduct" in p
               for p in A.check_plan("similarity_topk", cart))


# ---------------------------------------------------------- r12: positive
# plan-feature assertions against the adjudicated snapshot
# (tools/plan_expectations.json)

_BASE = {"bhj": 2, "smj": 1, "bnlj": 0, "exchanges": 3, "scans": 2,
         "pushed_filters": 2, "partition_filters": 1, "partial_agg": True}


def test_feature_degradations_fail():
    """Every degradation direction reds: lost broadcast, new shuffle
    join, new exchange, duplicate scan, lost pushdown, lost map-side
    combine."""
    A = _audit()
    for feat, bad in (("bhj", 1), ("smj", 2), ("exchanges", 4),
                      ("scans", 3), ("pushed_filters", 1),
                      ("partition_filters", 0)):
        now = dict(_BASE, **{feat: bad})
        problems, _ = A.compare_features("k", now, _BASE)
        assert problems, feat
        assert feat in problems[0]
    problems, _ = A.compare_features("k", dict(_BASE, partial_agg=False),
                                     _BASE)
    assert any("partial aggregation lost" in p for p in problems)


def test_feature_improvements_only_note():
    """The reverse directions (more broadcasts, fewer shuffles/scans,
    more pushdown, partial agg appearing) must NOT fail — they note a
    re-snapshot instead."""
    A = _audit()
    better = {"bhj": 3, "smj": 0, "bnlj": 0, "exchanges": 2, "scans": 1,
              "pushed_filters": 3, "partition_filters": 2,
              "partial_agg": True}
    problems, notes = A.compare_features("k", better, _BASE)
    assert problems == []
    assert len(notes) == 6 and all("improvement" in n for n in notes)
    problems, notes = A.compare_features(
        "k", dict(_BASE, partial_agg=True),
        dict(_BASE, partial_agg=False))
    assert problems == [] and any("partial aggregation" in n
                                  for n in notes)


def test_missing_snapshot_entry_notes_not_fails():
    A = _audit()
    problems, notes = A.compare_features("newkey", _BASE, None)
    assert problems == [] and "no snapshot entry" in notes[0]


def test_missing_snapshot_entry_gates_check_mode():
    """r12 ADVICE #4: compare_features only NOTES a missing per-key
    entry (so --update-expectations can adjudicate it), but plain
    --check must FAIL on it — otherwise a newly added AUDIT_KEYS key
    is never covered by the positive plan assertions until someone
    remembers to re-snapshot."""
    A = _audit()
    problems = A.missing_entry_problems(None, update=False)
    assert len(problems) == 1 and "ungated" in problems[0]
    # same run is adjudicating the entry — no failure
    assert A.missing_entry_problems(None, update=True) == []
    # an existing entry never trips this gate
    assert A.missing_entry_problems(_BASE, update=False) == []


def test_plan_features_extraction_is_node_id_deduped():
    """Counts must come from distinct node ids (formatted explain
    repeats each node in the details section) and partial-agg presence
    from the functions list."""
    A = _audit()
    plan = """
== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- BroadcastHashJoin Inner (2)
            :- Scan parquet  (1)

(1) Scan parquet
Output: [a]
PushedFilters: [IsNotNull(a)]
(2) BroadcastHashJoin Inner
(3) HashAggregate
Functions [1]: [partial_sum(x)]
(4) Exchange
(5) HashAggregate
Functions [1]: [sum(x)]
"""
    feats = A.plan_features(plan)
    assert feats == {"bhj": 1, "smj": 0, "bnlj": 0, "exchanges": 1,
                     "scans": 1, "pushed_filters": 1,
                     "partition_filters": 0, "partial_agg": True}


def test_snapshot_predating_a_feature_notes_not_fails():
    """An old snapshot without a newly-added feature must not crash or
    red the audit — it notes a re-snapshot (forward-compat for fixture
    evolution)."""
    A = _audit()
    old = {k: v for k, v in _BASE.items() if k != "partition_filters"}
    problems, notes = A.compare_features("k", _BASE, old)
    assert problems == []
    assert any("predates feature 'partition_filters'" in n for n in notes)


def test_live_snapshot_matches_representative_plans(spark):
    """The committed snapshot agrees with live plans for a handful of
    stable keys at the snapshot's SF — the end-to-end wiring check
    (full-surface compare runs in tools/audit_plans.py --check)."""
    import json

    A, E = _audit(), _entry()
    exp = json.load(open(A.EXPECTATIONS_PATH))
    sf_dir = f"/root/testdata/{exp['sf']}"
    qs = E.queries()
    for key in ("query_sql_tpch_q6", "query_join_broadcast",
                "dedup_exact"):
        plan = A.formatted_plan(qs[key](spark, sf_dir))
        problems, _ = A.compare_features(key, A.plan_features(plan),
                                         exp["keys"][key])
        assert problems == [], (key, problems)
