"""Physical-plan audit: dump ``explain(formatted)`` for the headline
queries and grep the markers that matter at 100 TB scale.

Checks per query:
* ``PushedFilters`` / pruned ``ReadSchema`` on parquet scans (predicate
  pushdown + column pruning actually reached the data source);
* ``BroadcastHashJoin`` where a dimension table is joined;
* ``WholeStageCodegen`` spans (expressions stayed JVM-side);
* shuffle (``Exchange``) count — the operator docstrings promise a
  specific number; regressions show up here.

Writes ``EXPLAIN.md``.  Run: ``python tools/explain_audit.py [sf_dir]``.
"""

from __future__ import annotations

import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

AUDITED = [
    "q_lineitem_agg",
    "q_revenue_by_nation",
    "q_local_supplier_revenue",
    "q_promo_revenue",
    "q_top_orders_per_customer",
    "q_exact_dedup_docs",
    "q_ngram_jaccard",
    "q_asof_purchase_view",
    "q_interval_signup_clicks",
    "q_cosine_topk",
    "q_salted_join_revenue",
    "q_skew_hint_join_revenue",
    "q_json_props",
    "q_revenue_rollup",
    "q_cosine_pairs_lsh",
    "q_embed_dedup",
    "q_stratified_sample",
    "q_minhash_dedup_docs",
    "q_status_cube",
    "q_trailing_user_spend",
    "q_customers_with_purchases",
    "q_distinct_users_daily",
    "q_small_qty_revenue",
    "q_events_gapfill",
    "q_fuzzy_name_match",
    "q_doc_chunks",
    "q_tfidf_keywords",
    "q_cdc_latest_events",
    "q_corpus_filter",
    "q_predicate_profile",
    "q_entity_ids",
    "q_kg_negative_samples",
    "q_pii_redact",
    "q_repetition_stats",
    "q_decontaminate",
    "q_triangle_count",
    "q_mixture_sample",
    "q_novelty_screen",
    "q_source_caps",
    "q_dup_spans",
    "q_path_members",
    "q_rdfs_entail",
    "q_cooccur",
    "q_kcore",
    "q_sparql_optional",
    "q_sparql_agg",
    "q_sparql_union",
    "q_kg_walks",
    "q_shacl_report",
    "q_kg_verbalize",
    "q_kg_communities",
    "q_sparql_construct",
    "q_ntriples_export",
    "q_triple_provenance",
    "q_schema_graph",
    "q_bfs_levels",
    "q_path_nps",
    "q_describe",
    "q_sparql_having",
    "q_sparql_bind",
    "q_sparql_graph",
    "q_semdedup",
    "q_leakage_split",
    "q_nquads_export",
    "q_collections",
    "q_kmeans_topics",
    "q_quantile_sketch",
    "q_hard_negatives",
    "q_sketch_recall",
    "q_dsir_weights",
    "q_bloom_prune",
    "q_clustering_coef",
    "q_text_normalize",
    "q_event_anomalies",
    "q_cohort_retention",
    "q_event_funnel",
    "q_snapshot_travel",
    "q_substring_clean",
    "q_events_lttb",
    "q_pq_topk",
    "q_bm25_search",
    "q_event_transitions",
    "q_zorder_prune",
    "q_dot_export",
    "q_shortest_paths",
    # iterative / checkpoint-truncated plans (the 4 most expensive
    # bench queries r3 left unaudited): their driver loops cut lineage
    # with localCheckpoint/pin, so the audited plan is the FINAL
    # iteration's — exactly the plan that repeats N times at scale
    "q_pagerank_kg",
    "q_kg_temporal",
    "q_sameas_canonical",
    "q_graph_fingerprint",
    "q_skew_report",
    # round-5 completion: every remaining bench HEADLINE query, so the
    # audit covers the full benchmarked suite (r4 left 36 uncovered,
    # q_doc_lint — the most expensive bench row — among them)
    "q_events_daily",
    "q_doc_stats",
    "q_simhash_dedup_docs",
    "q_windowed_event_counts",
    "q_triples_two_hop",
    "q_kg_extract",
    "q_bgp_typed_links",
    "q_kg_closure",
    "q_kg_delta",
    "q_entity_cards",
    "q_sparql_minus",
    "q_image_phash",
    "q_sparql_topk",
    "q_line_dedup",
    "q_char_sets",
    "q_direct_map",
    "q_prefix_induction",
    "q_skolemize",
    "q_property_table",
    "q_lm_quality",
    "q_bpe_vocab",
    "q_bpe_encode",
    "q_vocab_drift",
    "q_length_matched",
    "q_training_manifest",
    "q_doc_lint",
    "q_cc_incremental",
    "q_pagerank_incremental",
    "q_sketch_setops",
    "q_compression_ratio",
    "q_owl_chains",
    "q_sq_topk",
    "q_scd2_events",
    "q_merge_upsert",
    "q_pipeline_lineage",
    "q_snapshot_expire",
    "q_flac_audio",
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _first_arg(args: str) -> str:
    """The first argument of a call, given the text after its opening
    parenthesis: up to the first comma or close paren at depth 0."""
    depth = 0
    for i, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif depth == 0 and ch in ",)":
            return args[:i]
        elif ch == ")":
            depth -= 1
    return args


def unpartitioned_windows(plan: str) -> list[str]:
    """Single-partition windows: ``windowspecdefinition(...)`` whose
    FIRST argument is already a sort order has an EMPTY partition list —
    the WindowExec scale-killer this repo bans (layout.py exact_rank
    exists so no query needs one).  Returns those first arguments."""
    heads = (_first_arg(c) for c in plan.split("windowspecdefinition(")[1:])
    return [h for h in heads if " ASC" in h or " DESC" in h]


def audit(name: str, plan: str) -> list[str]:
    notes = []
    # count operators by their numbered detail headers "(N) OpName" so
    # the tree rendering doesn't double-count
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    n_exchanges = sum(1 for o in ops if o == "Exchange")
    n_broadcast = sum(1 for o in ops if o.startswith("BroadcastHashJoin"))
    n_python = sum(
        1 for o in ops if "Python" in o or "Arrow" in o or "InPandas" in o
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_nonempty = [p for p in pushed if p.strip()]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    n_global_windows = len(unpartitioned_windows(plan))
    # NOTE: whole-stage-codegen ids are assigned after AQE finalizes at
    # runtime, so they don't appear in the pre-execution formatted plan;
    # Python/Arrow operator count is the static stand-in ("0" = the
    # whole query stays JVM-side).
    notes.append(
        f"shuffles={n_exchanges}, broadcast_joins={n_broadcast}, "
        f"python_ops={n_python}, scans={len(schemas)}, "
        f"scans_with_pushed_filters={len(pushed_nonempty)}, "
        f"unpartitioned_windows={n_global_windows}"
    )
    for s in schemas:
        n_cols = len([c for c in s.split(",") if ":" in c])
        notes.append(f"  scan reads {n_cols} cols: {s[:100]}{'...' if len(s) > 100 else ''}")
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from turtle_spark.session import get_spark

    spark = get_spark(
        app_name="explain-audit",
        cores=4,
        shuffle_partitions=8,
        # iterative queries build wide unrolled trees; don't let the
        # plan printer truncate the audit's input mid-operator
        extra_conf={
            "spark.sql.debug.maxToStringFields": "2000",
            "spark.sql.maxPlanStringLength": str(64 * 1024 * 1024),
        },
    )
    qs = entrymod.queries()
    lines = [
        "# EXPLAIN — physical-plan audit of headline queries",
        "",
        f"Input: `{sf_dir}`.  Regenerate: `python tools/explain_audit.py`.",
        "",
        "Summary line per query = shuffle count / broadcast joins /",
        "whole-stage-codegen stages / parquet scans (+how many scans get",
        "pushed filters), then the pruned read schema of every scan —",
        "the things that decide whether the plan survives a 100x",
        "scale-up.",
        "",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        plan = plan_of(df)
        lines.append(f"## {name}")
        lines.append("")
        lines.extend(audit(name, plan))
        lines.append("")
        print(f"{name}: {audit(name, plan)[0]}")
    (REPO / "EXPLAIN.md").write_text("\n".join(lines) + "\n")
    spark.stop()
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
