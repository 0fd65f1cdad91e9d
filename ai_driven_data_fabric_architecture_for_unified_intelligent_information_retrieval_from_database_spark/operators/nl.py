"""NL-path queries registered in the driver gate: each entry runs a natural-
language question through the star planner and executes the emitted SQL via
``spark.sql``; the oracle is the *same emitted string* run by DuckDB — so
the NL->SQL->execution path itself is differentially verified end to end,
not just the hand-written operators. An operator-routed plan runs its
library operator instead, against the reference SQL it emits.

(The single-table planner's branches are covered by golden tests on the
synthesized employees fixture, tests/test_planner.py, since the oracle only
pre-registers the star tables.)
"""

from __future__ import annotations

from ..plans.star_planner import plan_star
from .registry import query

#: Every NL route, in registration order: name -> (question, the planner
#: branch it must take). The SQL routes come first, then the
#: operator-routed cases (r09 verdict item 7), whose question routes to a
#: library operator (LSH near-dup, cluster representatives, ANN top-k)
#: while the planner emits the question's exact SQL meaning as the
#: reference — the driver runs the Spark OPERATOR against that SQL on
#: DuckDB, differentially verifying the whole NL->operator dispatch.
_NL_ROUTES = {
    "nl_revenue_by_region": ("What is the revenue by region?", "revenue_by_region"),
    "nl_revenue_by_segment": ("Show revenue per market segment", "revenue_by_segment"),
    "nl_revenue_by_nation": ("What is the turnover per nation?", "revenue_by_nation"),
    "nl_avg_order_value": ("What is the average order value?", "avg_order_value"),
    # NOT registered: the customers_without_orders branch (anti-join) —
    # every driver corpus below sf0.1 gives each customer at least one
    # order, so its oracle row set is EMPTY at the sf0.01 gate and the
    # hash compare would pass vacuously (the anti-join shape is
    # driver-verified non-vacuously through join_anti instead; the NL
    # route itself is covered by the planner branch tests).
    "nl_count_parts": ("How many parts are in the catalog?", "count_part"),
    "nl_top_customers": ("Who are the top 7 customers by spending?", "top_customers"),
    "nl_orders_by_year": ("How did order counts develop per year?", "orders_by_year"),
    "nl_avg_order_value_by_segment": (
        "Average order value by market segment",
        "avg_order_value_by_segment",
    ),
    "nl_count_suppliers": ("How many suppliers do we have?", "count_supplier"),
    "nl_docs_by_language": (
        "Show document counts by language",
        "docs_by_language",
    ),
    "nl_longest_documents": ("What are the 5 longest documents?", "longest_documents"),
    "nl_docs_quality_floor": (
        "How many documents per language clear the quality floor?",
        "docs_quality_floor_by_lang",
    ),
    "nl_docs_duplicates": (
        "How many exact duplicate documents does each source contain?",
        "docs_duplicates_by_source",
    ),
    "nl_docs_avg_tokens": (
        "What is the average document length in tokens per source?",
        "docs_avg_tokens_by_source",
    ),
    "nl_events_by_hour": ("How many events per hour?", "events_by_hour"),
    "nl_events_by_type": ("Give me the event breakdown by type", "events_by_type"),
    "nl_most_active_users": ("Who are the 8 most active users?", "most_active_users"),
    # operator routes
    "nl_docs_near_duplicates": (
        "Find near-duplicate document pairs",
        "docs_near_duplicates",
    ),
    "nl_docs_similar_embeddings": (
        "Show the 10 documents most similar to document 0",
        "docs_similar_to",
    ),
    "nl_docs_dedup_survivors": (
        "Deduplicate the documents and keep the best copy of each "
        "duplicate cluster",
        "docs_dedup_survivors",
    ),
    # streaming/CDC surface (r10 verdict item 9): the live form of the
    # per-user profile question routes to the partition-pruned streaming
    # CDC upsert; the reference SQL is the whole-corpus argmax, a
    # legitimate oracle because the merge is batch-boundary invariant.
    "nl_users_live_profile": (
        "Keep a live profile of every user up to date",
        "users_live_profile",
    ),
}


def run_nl_operator(spark, tables, operator: str, args: tuple = ()):
    """Execute an operator-routed NL plan (``Plan.operator``) over an
    already-registered view set — the engine's and the registry entries'
    shared dispatch, so the NL->operator path has exactly one
    implementation. The operator names are the planner's contract; each
    resolves to a library operator body (the ``raw`` attribute the query
    decorator preserves) or a parameterized kernel. The operator modules
    are imported here, not at the top: importing one registers its
    entries, and the registry keeps registration order."""
    from .dedup import dedup_cluster_representatives, dedup_minhash_lsh
    from .similarity import bruteforce_topk

    if operator == "dedup_minhash_lsh":
        return dedup_minhash_lsh.raw(spark, tables)
    if operator == "dedup_cluster_representatives":
        return dedup_cluster_representatives.raw(spark, tables)
    if operator == "similarity_topk":
        return bruteforce_topk(tables, *args)
    if operator == "streaming_profile":
        from .streaming_entries import profile_stream_from_df

        return profile_stream_from_df(spark, tables["events"])
    raise KeyError(f"unknown NL operator route: {operator}")


def _register(name: str, question: str, expected_branch: str) -> None:
    """Register one NL route: the emitted SQL through ``spark.sql``, or the
    plan's operator; either way the emitted SQL is the oracle — one
    string, two engines."""
    planned = plan_star(question)
    assert planned is not None and planned.branch == expected_branch, (
        f"{name}: planner produced {planned and planned.branch}"
    )
    op, args, sql = planned.operator, planned.operator_args, planned.sql
    if op:
        surface = "2.9 streaming/CDC" if op == "streaming_profile" else "dedup/similarity"
        covers = f"N1-N3 + {surface} NL routing: {expected_branch} -> operator {op}"
        run = lambda spark, t: run_nl_operator(spark, t, op, args)  # noqa: E731
    else:
        covers = f"N1-N3 multi-table expansion: {expected_branch}"
        run = lambda spark, t: spark.sql(sql)  # noqa: E731
    run.__name__ = f"query_{name}"
    query(name, oracle=sql, covers=f"{covers} ({question!r})")(run)


for _name, (_question, _branch) in _NL_ROUTES.items():
    _register(_name, _question, _branch)
