"""Physical-plan audit: run `.explain("formatted")` over the headline
queries and write a condensed summary to PLANS.md — scans (with pushed
filters / read schemas), join strategies, and exchange counts.  This is
the evidence that the engine's plans are the ones you'd want at 100 TB:
filters reach the parquet scans, small sides broadcast, shuffles are
keyed on the operator's natural key.

``--check`` additionally ASSERTS join strategy per key and exits
non-zero on drift: data joins must be BroadcastHashJoin /
SortMergeJoin; CartesianProduct is never allowed; a
BroadcastNestedLoopJoin is allowed only for the keys in
``BNLJ_ALLOWED`` (each a documented scalar-stats broadcast or exact
baseline whose broadcast side is row-bounded by construction), and
only up to the recorded node count — so a join that silently degrades
to a nested-loop fails the audit instead of shipping.

``--check`` also runs the POSITIVE plan assertions (r12 roadmap
tranche): every audited key's plan features — broadcast-join /
sort-merge-join / exchange / scan counts, pushed-filter count,
map-side partial-aggregation presence — are compared against the
adjudicated snapshot in ``tools/plan_expectations.json``.  A
DEGRADATION fails the audit (a broadcast that fell back to a shuffle
join, a filter that stopped reaching its scan, a new exchange or
duplicate scan, a lost map-side combine); an IMPROVEMENT only warns,
with a pointer to re-snapshot.  Snapshots regenerate ONLY via the
explicit ``--update-expectations`` flag, so every accepted plan-shape
change leaves a reviewable fixture diff instead of silently moving
the bar.  The snapshot records the SF it was taken at; the compare is
skipped (loudly) at any other SF, since join strategies are
size-dependent.

Usage: python tools/audit_plans.py [sf_dir] [--check] [--update-expectations]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT_KEYS = [
    "query_pruned_agg", "query_join_broadcast", "query_window_topk",
    "query_rollup", "events_asof_join", "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "dedup_embedding_lsh",
    "similarity_topk", "similarity_ann_ivf", "event_sessionize",
    "text_top_ngrams", "corpus_quality_filter",
    "sample_hash", "sample_cap_group", "sample_mixture", "query_pivot",
    "events_range_join", "query_rollup_grains", "query_salted_join",
    "query_sliding_window", "corpus_pipeline", "text_hashed_vector",
    "dedup_incremental", "query_profile", "events_funnel",
    "cdc_apply", "dedup_decontaminate", "text_chunk",
    "query_semi_anti", "query_cube", "text_vocab", "text_token_ids",
    "sample_stratified", "text_chunk_dedup", "query_event_gaps",
    "query_snapshot_diff",
    "dedup_fuzzy", "text_tfidf", "events_transitions",
    "query_histogram", "query_set_ops",
    "events_retention", "text_lm_score", "events_ffill",
    "privacy_k_anon", "query_grouping_sets", "events_rolling_1h",
    "embedding_quantize", "embedding_grammian", "text_bpe_pairs",
    "events_anomaly", "text_repetition", "similarity_int8_topk",
    "dedup_containment", "privacy_l_diversity", "sample_temperature",
    "text_entropy", "text_winnow", "privacy_dp_count", "mm_resize",
    "query_scd2", "events_densify", "dedup_survivorship",
    "events_asof_nearest", "query_windowed_distinct", "dedup_url",
    "mm_mime_sniff", "query_quantile_bins", "query_unpivot",
    "dedup_fuzzy2", "query_heavy_hitters", "query_incremental_agg",
    "source_schema_evolution", "text_pii_redact",
    "query_salted_join_auto", "text_scrub_chunks", "sample_topk",
    "events_delay_audit", "sample_epoch_shuffle", "query_decimal_agg",
    "privacy_pseudonymize",
    "events_seq_ngrams", "events_ohlc", "query_skew_profile",
    "sample_group_split", "text_cooccur", "query_bloom_join",
    "query_lag_features",
    "events_attribution", "source_time_travel",
    "query_sql_tpch_q1", "query_sql_tpch_q5", "quality_expectations",
    "similarity_hybrid_rrf",
    "events_cumulative_users", "sample_balance_labels",
    "query_sql_tpch_q3",
    "embedding_outliers",
    "events_conformance", "mm_dedup_binary",
    "query_sql_tpch_q6",
    "query_sql_tpch_q4", "query_sql_tpch_q7", "query_sql_tpch_q10",
    "query_sql_tpch_q13", "query_sql_tpch_q14", "query_sql_tpch_q15",
    "query_sql_tpch_q17", "query_sql_tpch_q18",
    "query_sql_tpch_q2", "query_sql_tpch_q8", "query_sql_tpch_q9",
    "query_sql_tpch_q11", "query_sql_tpch_q12", "query_sql_tpch_q16",
    "query_sql_tpch_q19", "query_sql_tpch_q20", "query_sql_tpch_q21",
    "query_sql_tpch_q22",
    "query_sql_recursive", "events_props_extract",
    "text_template_skeleton", "corpus_budget_alloc", "events_rfm",
    "graph_triangles", "sample_importance",
    "text_langid_confusion", "privacy_dp_sum",
    "embedding_threshold_sweep", "query_auc", "events_seasonal_naive",
    "query_sql_rank_suite", "events_audience_overlap",
    "text_readability", "events_changepoint", "privacy_randomized_response",
    "events_survival", "source_csv_corrupt_audit",
    "events_ab_test", "query_sql_lateral",
    "events_funnel_windowed", "privacy_k_histogram", "corpus_dup_report",
    "events_cohort_value", "sample_kfold",
    "dedup_spans", "sample_weighted", "streaming_late_audit",
    "events_ewma", "ops_metadata_files", "query_target_encoding", "text_strip_html", "text_span_novelty", "query_mad", "privacy_t_closeness",
    "text_bm25", "sample_bootstrap",
    "events_seq_lm", "events_bursts",
    "query_geo_join", "graph_pagerank",
    "streaming_expectations",
    "mm_decode_png", "embedding_pca", "text_pack",
    "similarity_ivf_pruned", "mm_png_meta", "text_bm25_retrieve",
    "ops_compaction_plan", "partitioned_write_transforms",
    "events_interval_union", "text_rake", "query_sql_window_frames",
    "ops_incremental_scan", "embedding_prefix_eval",
    "dedup_semantic", "graph_neighbor_jaccard", "text_phrases",
    "sample_neyman", "mm_dhash", "ops_clustering_depth",
    "events_did", "mm_wav_stats", "events_drift_chi2",
    "similarity_bq_topk", "query_gini", "events_power",
    "events_cuped",
    # round-9 additions
    "ops_orphan_files", "query_basket_pairs",
    # round-10 additions
    "similarity_ivf2_topk", "text_bpe_encode", "ops_zorder_layout",
    # round-12 additions
    "ops_snapshot_manifest", "streaming_ttl_eviction",
    # round-13 additions
    "ops_pruned_read",
    # round-14 additions
    "ops_pruned_read_zorder",
    # round-15 additions
    "ops_compact_execute",
]

#: where the adjudicated per-key plan-feature snapshot lives
EXPECTATIONS_PATH = os.path.join(REPO, "tools", "plan_expectations.json")

_KEEP = re.compile(
    r"Scan parquet|PushedFilters|PartitionFilters|ReadSchema|"
    r"BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|"
    r"^\s*\(\d+\) Exchange|AQEShuffleRead|Window|HashAggregate|"
    r"ReusedExchange")

#: keys allowed to carry BroadcastNestedLoopJoin nodes, with the max
#: node count and WHY the broadcast side is row-bounded.  Everything
#: else must plan its joins as BHJ/SMJ (equi-keyed) — a data×data
#: nested loop is never acceptable.
BNLJ_ALLOWED: dict[str, tuple[int, str]] = {
    "similarity_topk": (1, "documented exact baseline: the bounded "
                           "QUERY SET broadcasts; corpus side streams"),
    "similarity_hybrid_rrf": (1, "same exact-baseline query-set "
                                 "broadcast as similarity_topk"),
    "similarity_bq_topk": (1, "same bounded query-set broadcast as "
                              "similarity_topk; 16-byte signatures "
                              "stream, never the float vectors"),
    "similarity_ivf2_topk": (1, "the brute-force CERTIFICATION leg "
                                "(full_probe_exact's baseline) "
                                "broadcasts the bounded 8-query set, "
                                "same shape as similarity_topk; both "
                                "IVF legs and the full-vs-bf compare "
                                "are equi-joins"),
    "embedding_threshold_sweep": (1, "hash-capped calibration sample "
                                     "broadcast; the sweep is "
                                     "quadratic on the SAMPLE by "
                                     "definition, never on the "
                                     "corpus"),
    "events_range_join": (1, "two TINY aggregates (busy-hour stats) "
                             "join; the data join is a BHJ"),
    "text_tfidf": (1, "1-row scalar doc-count broadcast"),
    "text_bm25": (1, "1-row scalar avgdl broadcast"),
    "text_bm25_retrieve": (1, "1-row scalar n_docs/avgdl broadcast"),
    "text_phrases": (1, "1-row scalar total-token-count broadcast"),
    "events_did": (1, "1-row scalar median-cutoff broadcast"),
    "events_cuped": (1, "1-row scalar median-cutoff broadcast"),
    "events_drift_chi2": (1, "1-row scalar quartile/median-cut "
                             "broadcast; the 4x2 grid left-join is "
                             "an equi-keyed BHJ"),
    "embedding_prefix_eval": (1, "bounded 32-vector pair grid (< join)"),
    "query_skew_profile": (1, "1-row scalar totals broadcast"),
    "sample_balance_labels": (1, "1-row scalar min-class-count "
                                 "broadcast"),
    "query_salted_join_auto": (3, "per-stage 1-row skew-stats "
                                  "broadcasts around the salted BHJ"),
    "graph_triangles": (2, "assembly of the three 1-row census "
                           "aggregates (vertex/wedge, edge, triangle "
                           "counts) into the single output row; every "
                           "data join is an equi-join"),
    "sample_importance": (1, "1-row corpus-total broadcast onto the "
                             "bounded stratum frame"),
    "corpus_dup_report": (1, "1-row corpus-total broadcast onto the "
                             "3-row per-level frame"),
    "corpus_budget_alloc": (1, "1-row corpus-total (tw, n_groups) "
                               "broadcast joined to the per-group "
                               "frame; no data-side join exists"),
    "query_sql_tpch_q22": (1, "1-row avg-balance frame (sum_c, n) "
                              "broadcast to every customer row; the "
                              "order anti-join is a hash join"),
    "graph_pagerank": (2, "the two 1-row invariant aggregates "
                          "(total rank mass, dangling count) crossed "
                          "onto the node frame for the oracle-"
                          "asserted booleans; every data join is an "
                          "equi-join"),
    "privacy_t_closeness": (2, "deliberate class x sensitive-domain "
                               "grid: cross joins of TINY aggregates "
                               "(domain values + the 1-row guarded "
                               "global total); data joins are "
                               "equi-joins"),
    "dedup_minhash": (1, "1-row certification-boolean aggregate "
                         "crossed onto the 50-mutant grid "
                         "(_pair_certification); every data join is "
                         "an equi-join"),
    "dedup_embedding_lsh": (1, "1-row certification-boolean aggregate "
                               "crossed onto the per-label grid "
                               "(_pair_certification)"),
    "dedup_semantic": (1, "1-row certification-boolean aggregate "
                          "crossed onto the per-label grid "
                          "(_pair_certification)"),
}

#: allowed-BNLJ keys whose bounded side is a GROUPED (not scalar)
#: tiny aggregate — exempt from the Keys: [] check below
_GROUPED_BNLJ = {"privacy_t_closeness"}

#: allowed-BNLJ keys whose bounded side is a scalar aggregate — their
#: plan must show an ungrouped HashAggregate (`Keys: []`); the
#: exact-baseline / calibration keys broadcast a bounded row SET
#: (query set or hash-capped sample) instead.
_SCALAR_BNLJ = {k for k in BNLJ_ALLOWED
                if k not in ("similarity_topk", "similarity_hybrid_rrf",
                             "similarity_bq_topk",
                             "similarity_ivf2_topk",
                             "embedding_threshold_sweep",
                             "embedding_prefix_eval")
                and k not in _GROUPED_BNLJ}


def summarize(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        s = line.strip()
        if _KEEP.search(line):
            # strip Catalyst expression ids (#1234) — they renumber on
            # every session, so keeping them makes PLANS.md churn on
            # re-generation with no semantic change
            out.append(re.sub(r"#\d+L?", "#", s)[:160])
    return out


def _node_ids(plan: str, node: str) -> set[str]:
    """Distinct physical node ids for a node type — formatted explain
    prints each node in the tree AND in the details section, so a raw
    substring count double-counts."""
    return set(re.findall(rf"\((\d+)\) {node}", plan))


def check_plan(key: str, plan: str) -> list[str]:
    """Join-strategy assertions for one key's formatted plan; returns
    problem strings (empty = pass)."""
    problems = []
    if _node_ids(plan, "CartesianProduct"):
        problems.append("CartesianProduct in plan — never allowed")
    bnlj = _node_ids(plan, "BroadcastNestedLoopJoin")
    max_allowed, _reason = BNLJ_ALLOWED.get(key, (0, ""))
    if len(bnlj) > max_allowed:
        problems.append(
            f"{len(bnlj)} BroadcastNestedLoopJoin nodes (allowed "
            f"{max_allowed}): a data join degraded to a nested loop?")
    if bnlj and key in _SCALAR_BNLJ and "Keys: []" not in plan:
        problems.append(
            "BNLJ present but no scalar (ungrouped) aggregate in plan — "
            "the broadcast side may no longer be the 1-row stats side")
    return problems


def plan_features(plan: str) -> dict:
    """Structural features of one formatted plan — the unit the
    positive assertions snapshot and compare.  Counts are DISTINCT
    node ids (formatted explain prints each node twice: tree +
    details), so they are stable under expression-id renumbering.

    ``partial_agg`` is presence, not a count: False is legitimate for
    distinct-only aggregations (paired HashAggregates with empty
    function lists — the pair IS the map-side partial + final) and
    for plans with no aggregate at all; what the assertion protects is
    a key that HAD map-side combine losing it.
    """
    return {
        "bhj": len(_node_ids(plan, "BroadcastHashJoin")),
        "smj": len(_node_ids(plan, "SortMergeJoin")),
        "bnlj": len(_node_ids(plan, "BroadcastNestedLoopJoin")),
        "exchanges": len(_node_ids(plan, "Exchange")),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^]]", plan)),
        "partition_filters": len(re.findall(r"PartitionFilters: \[[^]]",
                                            plan)),
        "partial_agg": bool(re.search(r"partial_\w+\(", plan)),
    }


#: (feature, direction, message) — direction +1 means MORE is a
#: degradation (new shuffles / scans / fallback joins), -1 means LESS
#: is a degradation (lost broadcasts / pushdowns).
_DEGRADE_RULES = [
    ("bhj", -1, "broadcast join(s) lost — degraded to a shuffle join?"),
    ("smj", +1, "new sort-merge join(s) — a broadcast stopped applying?"),
    ("exchanges", +1, "new exchange(s) — an extra shuffle appeared"),
    ("scans", +1, "table scanned more times than the adjudicated plan"),
    ("pushed_filters", -1, "pushed filter(s) no longer reach the scan"),
    ("partition_filters", -1,
     "partition-pruning filter(s) lost — the scan reads every "
     "partition at 100 TB"),
]


def missing_entry_problems(expected_entry: dict | None,
                           update: bool) -> list[str]:
    """The missing-FILE case hard-fails in ``main``; a missing per-key
    ENTRY must fail ``--check`` too, or a newly added AUDIT_KEYS key
    rides ungated by the positive assertions until someone remembers
    to run ``--update-expectations`` (r12 ADVICE #4).  With
    ``--update-expectations`` in the same run the entry is being
    adjudicated right now, so only :func:`compare_features`' note
    applies."""
    if expected_entry is None and not update:
        return ["no snapshot entry in plan_expectations.json — "
                "new AUDIT_KEYS key is ungated; adjudicate with "
                "--update-expectations"]
    return []


def compare_features(key: str, now: dict, expected: dict | None
                     ) -> tuple[list[str], list[str]]:
    """Compare live features to the snapshot → (problems, notes).

    Degradations are problems (fail the audit); improvements and a
    missing snapshot entry are notes (run ``--update-expectations``
    after adjudicating them).  BNLJ count appears in the snapshot for
    the record but is asserted by the dedicated BNLJ_ALLOWED gate, not
    here.
    """
    if expected is None:
        return [], [f"{key}: no snapshot entry (new key?) — run "
                    "--update-expectations to adjudicate its plan"]
    problems, notes = [], []
    for feat, direction, msg in _DEGRADE_RULES:
        nv, ev = now[feat], expected.get(feat)
        if ev is None:
            notes.append(f"{key}: snapshot predates feature {feat!r} — "
                         "re-snapshot with --update-expectations")
            continue
        if nv == ev:
            continue
        if (nv - ev) * direction > 0:
            problems.append(f"{feat} {ev}->{nv}: {msg}")
        else:
            notes.append(f"{key}: {feat} {ev}->{nv} (improvement — "
                         "re-snapshot with --update-expectations)")
    exp_partial = expected.get("partial_agg")
    if exp_partial is None:
        notes.append(f"{key}: snapshot predates feature 'partial_agg' "
                     "— re-snapshot with --update-expectations")
    elif exp_partial and not now["partial_agg"]:
        problems.append("map-side partial aggregation lost — every "
                        "grouped row now crosses the shuffle unreduced")
    elif now["partial_agg"] and not exp_partial:
        notes.append(f"{key}: partial aggregation appeared "
                     "(improvement — re-snapshot)")
    return problems, notes


def load_expectations() -> dict | None:
    if not os.path.exists(EXPECTATIONS_PATH):
        return None
    with open(EXPECTATIONS_PATH) as fh:
        return json.load(fh)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    flags = {"--check", "--update-expectations"}
    args = [a for a in sys.argv[1:] if a not in flags]
    check = "--check" in sys.argv[1:]
    update = "--update-expectations" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from dynamic_partitioner_spark import get_spark

    exp = load_expectations() if (check or update) else None
    if check and exp is None and not update:
        # a missing committed fixture must not silently disable the
        # positive gate (r12 review): FAIL, don't no-op to OK
        print("PLAN CHECK: FAIL — tools/plan_expectations.json missing; "
              "restore the committed fixture or regenerate deliberately "
              "with --update-expectations")
        return 1
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    compare = check and exp is not None and exp.get("sf") == sf_name
    if check and exp is not None and not compare:
        print(f"NOTE: snapshot taken at {exp.get('sf')}, running at "
              f"{sf_name} — feature compare skipped (join strategies "
              "are size-dependent)")

    spark = get_spark("plan-audit")
    qs = E.queries()
    sections = []
    features: dict[str, dict] = {}
    n_bad = 0
    notes: list[str] = []
    for key in AUDIT_KEYS:
        df = qs[key](spark, sf_dir)
        plan = formatted_plan(df)
        feats = plan_features(plan)
        features[key] = feats
        if check:
            problems = check_plan(key, plan)
            if exp is not None:
                # the missing-ENTRY gate is SF-independent (the key
                # simply has no snapshot at all), so it must run even
                # when the feature compare is skipped for an SF
                # mismatch — otherwise --check at a non-snapshot SF
                # silently re-opens the ungated-new-key hole (r13
                # review)
                problems += missing_entry_problems(
                    exp["keys"].get(key), update)
            if compare:
                fproblems, fnotes = compare_features(
                    key, feats, exp["keys"].get(key))
                problems += fproblems
                notes += fnotes
            if problems:
                n_bad += 1
                for p in problems:
                    print(f"DRIFT {key}: {p}")
        lines = "\n".join("    " + x for x in summarize(plan))
        sections.append(
            f"## {key}\n\n"
            f"exchanges={feats['exchanges']} broadcast_joins={feats['bhj']} "
            f"sortmerge_joins={feats['smj']}\n\n```\n{lines}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# Physical plan audit\n\n"
            f"Generated by `tools/audit_plans.py` at {sf_dir}.  For each\n"
            "headline query: the scans (pushed/partition filters + pruned\n"
            "read schema), join strategies, and exchange count.  Re-run\n"
            "after changing any operator's plan shape.  `--check` asserts\n"
            "join strategies (no CartesianProduct ever; BNLJ only for the\n"
            "documented scalar-stats/exact-baseline keys) and compares\n"
            "every key's plan features against the adjudicated snapshot\n"
            "in tools/plan_expectations.json (degradations fail;\n"
            "improvements re-snapshot via --update-expectations).\n\n"
            + "\n".join(sections))
    print(f"PLANS.md written ({len(sections)} queries)")
    for note in notes:
        print(f"NOTE {note}")
    if update:
        with open(EXPECTATIONS_PATH, "w") as fh:
            json.dump({"sf": sf_name, "keys": features}, fh, indent=1,
                      sort_keys=True)
        print(f"plan_expectations.json updated "
              f"({len(features)} keys at {sf_name})")
    if check:
        print("PLAN CHECK: " + ("OK" if n_bad == 0 else f"{n_bad} keys drifted"))
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
