"""Physical-plan shape assertions (SURVEY §4.2): the scale properties —
pushdown, pruning, broadcast strategy, top-k collapse, codegen — are graded
behavior, not accidents. These tests freeze them against regressions.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from filemap_spark import all_queries

QUERIES = all_queries()


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plans_with_checkpoints(spark, sf_dir, name: str, monkeypatch) -> list[str]:
    """The op's plan plus the plan of every frame the op localCheckpoints
    while it builds its query. A checkpointed frame shows in the op's plan
    only as an ExistingRDD scan, so a shape hidden inside one is
    invisible to plan_of alone."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    plans = []

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    plans.append(plan_of(spark, sf_dir, name))
    return plans


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_range")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range predicate pushed
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    # column pruning: only the 5 projected columns leave the scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 == 5


def test_projection_prunes_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scan_projection")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "p_partkey" in read and "p_size" in read
    assert "p_name" not in read and "p_retailprice" not in read


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_multiway_star")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan  # fact table must not shuffle for dims


def test_broadcast_hint_respected(spark, sf_dir):
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "join_broadcast")


def test_topk_collapses_to_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "topk_global")


def test_pricing_summary_stays_in_codegen(spark, sf_dir):
    df = QUERIES["agg_pricing_summary"](spark, sf_dir)
    df.collect()  # let AQE finalize so codegen stages materialize
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in simple  # whole-stage codegen stage markers
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_semi_anti_plan_as_joins(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_left_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_left_anti")


@pytest.mark.parametrize(
    "name",
    ["agg_pricing_summary", "join_multiway_star", "text_wordcount", "win_topk_per_group"],
)
def test_headline_queries_have_no_python_stage(spark, sf_dir, name):
    """Hot-path queries must stay JVM-side (no Python UDF eval nodes)."""
    plan = plan_of(spark, sf_dir, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_correlated_subquery_decorrelates_to_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "subq_correlated")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_content_hash_sample_filter_stays_jvm(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sample_content_hash")
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_pivot_is_two_stage_constant_size_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_pivot")
    # first agg must be partial+final so the second shuffle carries only
    # |segments| x |priorities| rows
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastHashJoin" in plan  # customer dim never shuffles orders


def test_merge_reduce_has_single_shuffle(spark, sf_dir):
    """reduce_sorted_runs: exactly ONE exchange (hash on the reduce key);
    the sorted-runs property comes from sortWithinPartitions, not a second
    shuffle, and the reducer is a single MapInPandas pass."""
    plan = plan_of(spark, sf_dir, "reduce_sorted_runs")
    import re

    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
    # formatted explain prints each node in the tree AND a detail block —
    # count only the numbered detail entries
    exchanges = re.findall(r"^\(\d+\) Exchange", body, flags=re.M)
    # one hash exchange for repartition(user_id) + the final orderBy's range
    # exchange (contract output ordering) — nothing else
    assert len(exchanges) <= 2, body
    assert "hashpartitioning(user_id" in body
    assert "MapInPandas" in body


def test_pack_token_budget_is_window_plus_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pack_token_budget")
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "CartesianProduct" not in plan


def test_cross_split_decontamination_is_hash_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_cross_split")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def _tree_nodes(plan: str) -> list[str]:
    """Node names from the tree section of `explain("formatted")` output
    (the details section repeats each name, so raw substring counts lie)."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.match(r"[\s+*:-]*(\w[\w ]*\w) \(\d+\)$", line.rstrip())
        if m:
            nodes.append(m.group(1))
    return nodes


def test_pricing_summary_has_no_global_sort(spark, sf_dir):
    """Round 3: the cosmetic 6-row orderBy cost an extra AQE range-exchange
    stage (~0.35 s warm sf0.1); grading is order-insensitive, so the plan
    must end at the final HashAggregate — no Sort, one data Exchange."""
    nodes = _tree_nodes(plan_of(spark, sf_dir, "agg_pricing_summary"))
    assert "Sort" not in nodes, nodes
    assert nodes.count("Exchange") == 1, nodes


def test_session_window_single_data_shuffle(spark, sf_dir):
    """Round 3 lag+cumsum sessionization: ONE hash exchange on user_id must
    feed both window functions AND the (user_id, sid) aggregate — the agg
    reuses the user_id partitioning (hash on a subset of the grouping keys
    satisfies the clustered distribution) — and one partition-local sort
    serves both windows; no global (range) sort remains."""
    plan = plan_of(spark, sf_dir, "stream_session_window")
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("Window") == 2, nodes
    assert nodes.count("Sort") == 1, nodes
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan


def test_repetition_stats_single_token_shuffle(spark, sf_dir):
    """One hashpartitioning(doc_id) exchange of the documents must feed
    both aggregations (groupBy(doc_id, bigram), then groupBy(doc_id) —
    hash on doc_id satisfies both clustered distributions); the bigrams
    are sliced map-side, so no window sorts the tokens. The only other
    exchange is the final presentation sort."""
    plan = plan_of(spark, sf_dir, "text_repetition_stats")
    nodes = _tree_nodes(plan)
    data_exchanges = [n for n in nodes if n == "Exchange"]
    assert len(data_exchanges) == 2, nodes  # doc shuffle + final range sort
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    assert "Window" not in nodes, nodes


@pytest.mark.parametrize(
    "name",
    [
        "text_ngrams",
        "text_repetition_stats",
        "text_bigram_logprob",
        "text_bigram_pmi",
        "text_rouge2_recall",
        "text_collocation_llr",
        "text_kneser_ney_logprob",
        "dedup_cross_split",
    ],
)
def test_ngram_ops_slice_map_side_not_lead_window(spark, sf_dir, name, monkeypatch):
    """The n-gram ops build their n-grams with the map-side _ngrams kernel:
    no lead() window — and so no doc_id exchange + sort of every token
    row — may appear in the physical plan, nor in the plan of any frame
    the op localCheckpoints while it builds its query (the bigram count
    tables, the shingle set), which the query's plan shows only as a
    scan."""
    plans = plans_with_checkpoints(spark, sf_dir, name, monkeypatch)
    assert not [p for p in plans if "lead(" in p]


@pytest.mark.parametrize("name", ["dedup_line_level", "dedup_paragraph_jaccard"])
def test_paragraph_ops_cut_paragraphs_map_side(spark, sf_dir, name, monkeypatch):
    """The paragraph ops cut their aligned paragraphs with the map-side
    _paras kernel: no plan — the op's own or a checkpointed frame's — may
    regroup the token rows by (doc_id, pidx). Line popularity is a single
    exchange on the line hash, so no exchange is keyed (h, doc_id), the
    second stage of a countDistinct."""
    plans = plans_with_checkpoints(spark, sf_dir, name, monkeypatch)
    regroup = re.compile(r"hashpartitioning\(doc_id#\d+L?, _groupingexpression")
    assert not [p for p in plans if regroup.search(p)]
    if name == "dedup_line_level":
        pair = re.compile(r"hashpartitioning\(h#\d+, doc_id#")
        assert not [p for p in plans if pair.search(p)]


def test_domain_mix_corpus_never_shuffles(spark, sf_dir):
    """Round 3: the per-domain counts are broadcast dims; the corpus branch
    is a pruned, filter-pushed scan with NO hash exchange — only the tiny
    lang-count aggregations shuffle."""
    plan = plan_of(spark, sf_dir, "sample_domain_mix")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read and "lang" in read and "text" not in read
    assert "PushedFilters: [IsNotNull(lang), IsNotNull(doc_id)]" in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(doc_id" not in plan  # corpus rows never shuffle


def test_range_bucket_join_is_equi_not_nested_loop(spark, sf_dir):
    """The keyless interval join must plan as a hash equi-join on the time
    bucket — never the broadcast-nested-loop / cartesian product a naive
    theta join degenerates to (the O(n*m) 100 TB killer this op exists to
    avoid)."""
    plan = plan_of(spark, sf_dir, "join_range_bucket")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_quality_tiers_has_no_single_partition_window(spark, sf_dir):
    """Round 4 (VERDICT r3 task 2): the tercile split must be the
    distributed exact-ntile (range exchange + partition-local row_number +
    bounded offset join) — no ntile node, no WindowExec over an empty
    partition spec on the DATA path. The only unpartitioned window allowed
    is the offset cumsum over the numPartitions-row count relation."""
    plan = plan_of(spark, sf_dir, "text_quality_tiers")
    assert "ntile" not in plan
    # every window spec either partitions by the range-partition id (the
    # data-side row_number) or aggregates the numPartitions-row count
    # relation (the bounded offset cumsum)
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs, plan
    for spec in specs:
        assert (
            "windowspecdefinition(__fsr_pid" in spec
            or "sum(__fsr_pc" in spec
            or "sum(__fsr_pv" in spec
        ), spec
    # the data-side pid-partitioned rank: row_number() in the original
    # spelling, sum-of-ones since with_global_rank delegates to the shared
    # with_global_cumsum scaffold — both are partition-local
    assert any(
        "row_number() windowspecdefinition(__fsr_pid" in s
        or "sum(__fsr_one" in s
        for s in specs
    )
    # the ranged relation is persisted so the two consumers share one
    # materialization instead of recomputing the scoring pipeline
    assert "InMemory" in plan


def test_unigram_vocab_join_not_hint_forced(spark, sf_dir):
    """With autoBroadcastJoinThreshold=-1 a HINT-forced broadcast would
    still plan as BroadcastHashJoin; the vocab join must fall back to a
    shuffled join, proving the unbounded relation carries no hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "text_unigram_logprob")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_skew_salted_join_replicates_dim_not_fact(spark, sf_dir):
    """join_skew_salted must plan the salt as an explode(sequence) on the
    DIM side only and join on (key, salt) — the fact side is tagged
    map-side (pmod of a hash), never replicated."""
    plan = plan_of(spark, sf_dir, "join_skew_salted")
    # Catalyst constant-folds sequence(0,7) to the literal salt array
    assert "explode([0,1,2,3,4,5,6,7])" in plan
    assert "pmod(xxhash64(" in plan  # fact side tagged map-side, not replicated
    assert plan.count("__fm_salt") >= 2  # both join keys carry the salt
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_scd2_join_is_equi_with_interval_residual(spark, sf_dir):
    """join_point_in_time_scd2 must plan as a hash/sort-merge EQUI-join on
    the dimension key with the validity interval as a residual condition —
    never a range-only nested loop (the plan that cannot survive a
    fact-sized input)."""
    plan = plan_of(spark, sf_dir, "join_point_in_time_scd2")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "valid_from" in plan and "valid_to" in plan  # residual present


def test_ohlc_is_single_agg_no_window(spark, sf_dir):
    """ts_resample_ohlc's open/close must ride min_by/max_by partial-agg
    state — one aggregate keyed by (bucket, type), no window operator and
    no per-bucket sort of raw rows beyond the agg's own machinery."""
    plan = plan_of(spark, sf_dir, "ts_resample_ohlc")
    assert "WindowExec" not in plan and "Window" not in plan.replace(
        "WindowGroupLimit", ""
    )
    # partial + final aggregate pair, at most 2 exchanges (agg + orderBy);
    # formatted plans name each node twice (tree + details), so count the
    # detail headers only
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 2, plan


def test_temperature_mix_corpus_never_shuffles(spark, sf_dir):
    """sample_temperature_mix filters the corpus map-side against broadcast
    per-domain counts — the documents scan must reach the output with no
    exchange on the fact (only the tiny counts aggregate shuffles)."""
    plan = plan_of(spark, sf_dir, "sample_temperature_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_url_canonical_single_hash_agg(spark, sf_dir):
    """dedup_url_canonical is a per-row regex chain + ONE hash aggregate
    on the canonical string; no join anywhere."""
    plan = plan_of(spark, sf_dir, "dedup_url_canonical")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_hash_features_no_vocabulary_join(spark, sf_dir):
    """text_hash_features' entire point is NO vocabulary relation: the
    only join allowed is the per-doc totals join keyed by doc_id."""
    plan = plan_of(spark, sf_dir, "text_hash_features")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    """join_spatial_grid exists to avoid the quadratic distance join: the
    plan must be a hash/sort-merge equi-join on the grid cell with the
    distance bound as a residual — never BNLJ/cartesian."""
    plan = plan_of(spark, sf_dir, "join_spatial_grid")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_gini_has_no_single_partition_window(spark, sf_dir):
    """agg_gini_concentration must ride the distributed rank decomposition;
    the only unpartitioned window allowed is the bounded numPartitions-row
    offset cumsum inside functions/ranks.py (its input is partition counts,
    not data rows)."""
    import re

    plan = plan_of(spark, sf_dir, "agg_gini_concentration")
    # the data-sized relation must not pass through a global Window: every
    # Window node in this plan consumes the bounded per-partition counts
    n_windows = len(re.findall(r"^\(\d+\) Window", plan, re.MULTILINE))
    assert n_windows <= 2, plan  # offset + total, both over O(partitions) rows


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """`<=>` must plan as a plain hash join (EqualNullSafe is a valid hash
    key), not a nested loop with a residual — verified: BroadcastHashJoin
    with the null-safe equality folded into the keys (condition: None)."""
    plan = plan_of(spark, sf_dir, "join_null_safe")
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_not_nested_loop(spark, sf_dir):
    """join_interval_overlap decomposes the interval-overlap theta join to
    a bucket equi-join — the plan must never be BNLJ/cartesian."""
    plan = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_cumulative_distinct_single_window_shuffle(spark, sf_dir):
    """win_cumulative_distinct's two windows both partition by user_id alone
    (first-occurrence via lag over type-sorted order, not row_number over
    (user, type)), so the plan must carry exactly ONE hash exchange — the
    final presentation ORDER BY contributes the only other (range)
    exchange."""
    plan = plan_of(spark, sf_dir, "win_cumulative_distinct")
    assert plan.count("hashpartitioning(") == 1, plan


def test_gopher_rules_is_shuffle_free(spark, sf_dir):
    """text_gopher_rules is a pure per-row gate: the plan must contain NO
    hash exchange — the property that lets it run FIRST in a curation
    pipeline at zero shuffle cost."""
    plan = plan_of(spark, sf_dir, "text_gopher_rules")
    assert plan.count("hashpartitioning(") == 0, plan


def test_upsample_replicate_is_shuffle_free_generate(spark, sf_dir):
    """sample_upsample_replicate must be a map-side explode: a Generate
    node, zero hash exchanges — output volume is the only cost."""
    plan = plan_of(spark, sf_dir, "sample_upsample_replicate")
    assert "Generate" in plan
    assert plan.count("hashpartitioning(") == 0, plan


def test_corr_cov_single_aggregate_exchange(spark, sf_dir):
    """agg_corr_cov's six exact accumulators ride ONE partial-agg-friendly
    hash aggregate: exactly one hash exchange, no joins, no window."""
    plan = plan_of(spark, sf_dir, "agg_corr_cov")
    assert plan.count("hashpartitioning(") == 1, plan
    assert "Join" not in plan and "Window" not in plan


def test_skew_kurtosis_broadcasts_mean_no_smj(spark, sf_dir):
    """agg_skew_kurtosis joins the O(types) mean relation back into pass 2
    as a BROADCAST (never a sort-merge over the fact); every exchange in
    the plan carries aggregate state, not raw rows."""
    plan = plan_of(spark, sf_dir, "agg_skew_kurtosis")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("hashpartitioning(") <= 3, plan


def test_stream_stream_join_is_keyed_not_cross(spark, sf_dir):
    """stream_stream_join's user_id equi-key must anchor a hash join; the
    30-minute bound is a residual, never a BNLJ/cartesian driver."""
    plan = plan_of(spark, sf_dir, "stream_stream_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_lateral_topn_decorrelates_no_per_row_loop(spark, sf_dir):
    """join_lateral_topn's correlated LATERAL subquery must decorrelate into
    a keyed join/ranked plan — never a BNLJ/cartesian per-outer-row loop."""
    plan = plan_of(spark, sf_dir, "join_lateral_topn")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bm25_all_joins_broadcast_postings_side(spark, sf_dir):
    """text_bm25_topk: every equi-join is a BroadcastHashJoin (the query
    relation and stats broadcast onto the posting lists); the only
    nested-loop joins are the two bounded broadcast crosses (1-row stats,
    tiny query set); the per-query top-k pushes down as WindowGroupLimit."""
    plan = plan_of(spark, sf_dir, "text_bm25_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan  # rank <= k pruned before full sort


def test_zipf_fit_topk_collapses_before_window(spark, sf_dir):
    """text_zipf_fit: the top-100 cutoff is TakeOrderedAndProject (no
    global sort), and the rank window runs AFTER it on the bounded frame."""
    plan = plan_of(spark, sf_dir, "text_zipf_fit")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_prefilter_minmax_envelope_broadcasts(spark, sf_dir):
    """join_prefilter_minmax: the 1-row envelope broadcasts onto the fact
    (bounded BNLJ), and the exact join stays a hash join."""
    plan = plan_of(spark, sf_dir, "join_prefilter_minmax")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the BETWEEN prefilter is the BNLJ's join condition, not a post-filter
    assert "l_orderkey" in next(
        l for l in plan.splitlines() if "Join condition: ((" in l
    )


def test_exists_flag_plans_existence_join_not_bnlj(spark, sf_dir):
    """subq_exists_flag: both flags become broadcast ExistenceJoins —
    never a per-row nested-loop probe."""
    plan = plan_of(spark, sf_dir, "subq_exists_flag")
    assert plan.count("ExistenceJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["ts_event_spacing", "ts_sessionize", "win_moving_minmax", "win_drawdown"],
)
def test_keyed_window_ops_single_data_exchange(spark, sf_dir, name):
    """The round-6 keyed window/agg ops share ONE user_id exchange between
    their window(s) and aggregation; the only other exchange is the final
    presentation orderBy's range partitioning."""
    plan = plan_of(spark, sf_dir, name)
    hash_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(user_id" in l
    ]
    assert len(hash_ex) == 1, plan


def test_calendar_fill_aggregates_before_broadcast_join(spark, sf_dir):
    """ts_calendar_fill: the fact collapses to daily rows BEFORE the
    calendar left-join, which broadcasts."""
    plan = plan_of(spark, sf_dir, "ts_calendar_fill")
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_totals_broadcast_integer_threshold(spark, sf_dir):
    """agg_heavy_hitters: the totals row broadcasts and the threshold is
    the integer cross-multiplied join condition (no FP division)."""
    plan = plan_of(spark, sf_dir, "agg_heavy_hitters")
    cond = next(l for l in plan.splitlines() if "Join condition: ((" in l)
    assert "*" in cond and "/" not in cond
    assert "CartesianProduct" not in plan


def test_negative_pairs_generation_is_map_side(spark, sf_dir):
    """sample_negative_pairs: pair generation never shuffles (explode over
    a broadcast scalar); only the annotation join exchanges, on doc_id."""
    plan = plan_of(spark, sf_dir, "sample_negative_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_partition_pruning_filter_hits_partition_column(spark, sf_dir):
    """scan_partition_pruning: the lang predicate lands in the scan's
    PartitionFilters (directory pruning), not a row-level filter."""
    plan = plan_of(spark, sf_dir, "scan_partition_pruning")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("lang" in l for l in pf), plan


def test_truncate_renorm_no_python_stage(spark, sf_dir):
    """emb_truncate_renorm: the sliced-norm math stays JVM-side (aggregate
    HOF), one hash aggregate."""
    plan = plan_of(spark, sf_dir, "emb_truncate_renorm")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---- round-7-staged ops (built round 6) ----


def test_q6_predicates_push_to_scan_no_data_shuffle(spark, sf_dir):
    """agg_revenue_band_q6: all three filter bands push into the parquet
    scan; the only exchange is the 1-row final-agg SinglePartition merge."""
    plan = plan_of(spark, sf_dir, "agg_revenue_band_q6")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_q10_star_broadcasts_dims_topk_collapses(spark, sf_dir):
    """join_returned_rev_q10: customer and nation broadcast (fact shuffles
    only for the orders equi-join) and the top-20 never globally sorts."""
    plan = plan_of(spark, sf_dir, "join_returned_rev_q10")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q12_residual_lag_rides_orderkey_equijoin(spark, sf_dir):
    """join_late_shipment_q12: one fact-fact equi-join on the order key;
    the 60-day lag predicate is a residual, never a nested loop."""
    plan = plan_of(spark, sf_dir, "join_late_shipment_q12")
    # equi-join on the order key (broadcast at toy SF, shuffled at scale);
    # the lag predicate must be the join's RESIDUAL condition
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    cond = next(l for l in plan.splitlines() if "Join condition:" in l)
    assert "5184000000000" in cond
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q14_part_dim_broadcasts_fact_never_shuffles(spark, sf_dir):
    """agg_promo_share_q14: the part dim broadcasts and both conditional
    sums ride ONE hash agg — the fact is never hash-exchanged."""
    plan = plan_of(spark, sf_dir, "agg_promo_share_q14")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan  # only the 1-row single-partition merge
    assert "CartesianProduct" not in plan


def test_q17_threshold_join_copartitioned_on_partkey(spark, sf_dir):
    """subq_small_qty_q17: brand dim broadcasts; the per-part threshold
    agg and the join-back both key on l_partkey (no correlated loop)."""
    plan = plan_of(spark, sf_dir, "subq_small_qty_q17")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(l_partkey" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q18_fact_collapses_before_joins_topk_collapses(spark, sf_dir):
    """join_top_orders_q18: lineitem aggregates per order BEFORE any join
    (the HashAggregate sits below the joins) and the top-10 is
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, sf_dir, "join_top_orders_q18")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_gate_is_mapside_codegen(spark, sf_dir):
    """join_bloom_prefilter: the Bloom gate is a map-side Filter (shiftright
    bit test in codegen) on the fact — the fact is never hash-exchanged
    (the only hashpartitioning is the final tiny p_brand agg) — and the
    exact join is a broadcast hash join."""
    plan = plan_of(spark, sf_dir, "join_bloom_prefilter")
    assert "shiftright" in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(l_partkey" not in plan
    assert "CartesianProduct" not in plan


def test_markov_single_user_exchange(spark, sf_dir):
    """agg_markov_transition: the lag window's user_id exchange is the only
    data-sized shuffle; normalization re-aggregates the O(types²) matrix."""
    plan = plan_of(spark, sf_dir, "agg_markov_transition")
    hash_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(user_id" in l
    ]
    assert len(hash_ex) == 1, plan
    assert "CartesianProduct" not in plan


def test_rolling_zscore_single_exchange_shared_frames(spark, sf_dir):
    """win_rolling_zscore: one event_type exchange; all three frame
    aggregates evaluate in a single WindowExec pass."""
    plan = plan_of(spark, sf_dir, "win_rolling_zscore")
    hash_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(event_type" in l
    ]
    assert len(hash_ex) == 1, plan
    assert plan.count("Window") <= 2  # one WindowExec (+ its formatted header)


def test_pair_hist_no_cartesian_all_joins_keyed(spark, sf_dir):
    """emb_pair_distance_hist: the only unkeyed join is the 1-row corpus
    count broadcast; pair expansion and term joins are keyed."""
    plan = plan_of(spark, sf_dir, "emb_pair_distance_hist")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_cross_correlation_collapses_to_daily_before_lag_join(spark, sf_dir):
    """ts_cross_correlation: the corpus collapses to O(days) counts before
    the lag join; the lag-joined series broadcast."""
    plan = plan_of(spark, sf_dir, "ts_cross_correlation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---- TPC-H parity completion wave (built round 6, staged r7) ----


def test_q2_offer_relation_reduces_first_dims_broadcast(spark, sf_dir):
    """join_min_cost_supplier_q2: the (part, supp) offer agg reduces the
    fact BEFORE any join; part + EUROPE supplier dims broadcast; no BNLJ."""
    plan = plan_of(spark, sf_dir, "join_min_cost_supplier_q2")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the offer-relation partial agg exists below the joins
    assert "HashAggregate" in plan


def test_q4_exists_is_semi_join_with_residual_lag(spark, sf_dir):
    """subq_exists_late_q4: the EXISTS is a LeftSemi join whose µs lag
    predicate rides the join condition — no inner-join double counting."""
    plan = plan_of(spark, sf_dir, "subq_exists_late_q4")
    assert "LeftSemi" in plan
    cond = next(l for l in plan.splitlines() if "Join condition:" in l)
    assert "5184000000000" in cond
    assert "CartesianProduct" not in plan


def test_q7_single_fact_exchange_all_dims_broadcast(spark, sf_dir):
    """join_nation_volume_q7: lineitem⋈orders is the ONLY non-broadcast
    join; customer/supplier/nation-role joins all broadcast; the ship
    window pushes to the lineitem scan."""
    plan = plan_of(spark, sf_dir, "join_nation_volume_q7")
    assert plan.count("BroadcastHashJoin") >= 4
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q8_share_single_agg_no_double_fact_pass(spark, sf_dir):
    """agg_market_share_q8: numerator and denominator ride ONE hash agg
    (conditional sum), not two fact passes; part/cust/supp/nations
    broadcast."""
    plan = plan_of(spark, sf_dir, "agg_market_share_q8")
    assert plan.count("BroadcastHashJoin") >= 4
    # one partial + one final agg pair on the o_year key only
    assert "CartesianProduct" not in plan
    aggs = [n for n in plan.splitlines() if "HashAggregate" in n]
    assert len(aggs) <= 4, plan  # partial+final, codegen may split lines


def test_q9_profit_single_integer_expression_one_exchange(spark, sf_dir):
    """agg_profit_by_nation_q9: filtered part/supplier/nation broadcast;
    the profit measure is integer arithmetic (no Decimal ops in the per-row
    hot path beyond the final 1-per-group descale)."""
    plan = plan_of(spark, sf_dir, "agg_profit_by_nation_q9")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed), plan  # LIKE prefix prunes part scan


def test_q11_threshold_is_one_row_broadcast(spark, sf_dir):
    """subq_value_concentration_q11: the mean-value threshold joins as a
    1-row broadcast (decorrelated scalar subquery), and at RUNTIME the pv
    partkey exchange is shared between the probe side and the threshold
    re-aggregate (AQE ReusedExchange) — the fact subtree executes once,
    not per branch."""
    from filemap_spark import all_queries

    plan = plan_of(spark, sf_dir, "subq_value_concentration_q11")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    df = all_queries()["subq_value_concentration_q11"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_q13_orders_preaggregate_before_outer_join(spark, sf_dir):
    """join_custdist_q13: orders reduce to (custkey, n) BEFORE the outer
    join — the join carries customer-cardinality rows, not order rows."""
    plan = plan_of(spark, sf_dir, "join_custdist_q13")
    nodes = _tree_nodes(plan)
    agg_idx = [i for i, n in enumerate(nodes) if "HashAggregate" in n]
    join_idx = [
        i
        for i, n in enumerate(nodes)
        if "Join" in n and ("LeftOuter" in n or "RightOuter" in n)
    ]
    assert join_idx, plan
    # some aggregate sits deeper in the tree than the outer join (operand side)
    assert any(a > min(join_idx) for a in agg_idx), plan
    assert "CartesianProduct" not in plan


def test_q15_max_is_broadcast_scalar_not_global_sort(spark, sf_dir):
    """subq_top_supplier_q15: the revenue MAX arrives as a 1-row broadcast;
    no global Sort materializes the whole revenue view."""
    plan = plan_of(spark, sf_dir, "subq_top_supplier_q15")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" not in plan  # equality, not top-k
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    """agg_supplier_variety_q16: the NOT IN low-balance list excludes via a
    broadcast LeftAnti join — the fact never shuffles to be filtered."""
    plan = plan_of(spark, sf_dir, "agg_supplier_variety_q16")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_cnf_prefilters_reach_both_scans(spark, sf_dir):
    """agg_disjunctive_revenue_q19: the explicit one-sided CNF projections
    push — brand/size prune the part scan, the quantity band prunes
    lineitem — while the OR stays a post-join residual filter."""
    plan = plan_of(spark, sf_dir, "agg_disjunctive_revenue_q19")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), plan
    assert any("l_quantity" in l for l in pushed), plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q20_share_window_rides_reduced_frame(spark, sf_dir):
    """subq_excess_share_q20: the per-part total is a window over the
    already-(supp,part)-reduced frame — lineitem is aggregated exactly
    once; the widget family prunes via a semi-join."""
    plan = plan_of(spark, sf_dir, "subq_excess_share_q20")
    assert "LeftSemi" in plan
    nodes = _tree_nodes(plan)
    assert any("Window" in n for n in nodes), plan
    # window input is the agg, not the raw fact: aggregate deeper than window
    w = min(i for i, n in enumerate(nodes) if "Window" in n)
    assert any("HashAggregate" in n for n in nodes[w:]), plan
    assert "CartesianProduct" not in plan


def test_q21_reuses_orderkey_partitioning(spark, sf_dir):
    """join_sole_late_shipper_q21: the status join, per-order agg,
    join-back, distinct and sole-shipper window are ALL keyed by
    l_orderkey — at most the order-key exchanges plus the final
    per-supplier tally; no BNLJ anywhere."""
    plan = plan_of(spark, sf_dir, "join_sole_late_shipper_q21")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exch = [l for l in plan.splitlines() if "hashpartitioning" in l]
    keys = "".join(exch)
    assert "l_orderkey" in keys and "s_name" in keys, plan


def test_q22_threshold_broadcast_antijoin_on_custkey(spark, sf_dir):
    """subq_idle_customers_q22: the balance threshold is a 1-row broadcast;
    the recent-orders exclusion is an anti-join keyed on custkey."""
    plan = plan_of(spark, sf_dir, "subq_idle_customers_q22")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed), plan


# ---- post-parity staged wave ----


def test_token_sort_key_is_mapside_single_agg(spark, sf_dir):
    """dedup_token_sort: the key computation is codegen (no Python stage)
    and the only exchange is the hash agg on the 16-byte key."""
    plan = plan_of(spark, sf_dir, "dedup_token_sort")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert "CartesianProduct" not in plan


def test_rouge2_overlap_is_equi_join_never_doc_cross(spark, sf_dir):
    """text_rouge2_recall: the overlap join hashes on the composite
    (adjacent-id, lang, bigram) key — no BNLJ, no cartesian."""
    plan = plan_of(spark, sf_dir, "text_rouge2_recall")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_triangle_wedge_closes_with_hash_joins(spark, sf_dir):
    """graph_triangle_count: the wedge join and the closing existence join
    are hash equi-joins on node ids; pairs come from the per-order part
    baskets (the _co_order_pairs kernel), never a parts cross product.
    The only nested loop is the final 1-row × 1-row (n_edges,
    n_triangles) zip. Since round 10's scan-sweep fix the edge list is
    CHECKPOINTED once (the r1-r9 form relied on AQE exchange reuse,
    which left 8 lineitem + 8 part scans in the plan): the returned plan
    must read the materialized edges (ExistingRDD) and touch NO file scan
    at all — every fact pass happened exactly once inside the checkpoint
    jobs."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    nodes = _tree_nodes(plan)
    assert "CartesianProduct" not in plan
    assert nodes.count("BroadcastNestedLoopJoin") <= 1, nodes
    assert "ExistingRDD" in plan, plan  # checkpointed edge list
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan
    # wedge + closing joins stay hash/merge equi-joins over the edge
    # relation (substring count: node labels carry the join type)
    n_equi_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_equi_joins >= 2, nodes


def test_cusum_fact_exchanges_once_on_type_day(spark, sf_dir):
    """ts_changepoint_cusum: the raw fact is hash-exchanged once on the
    (type, day) rollup key; the daily-frame subtree shared by the cusum
    and argmax branches is deduplicated at RUNTIME (AQE ReusedExchange),
    so the events scan + rollup executes once, not per branch."""
    plan = plan_of(spark, sf_dir, "ts_changepoint_cusum")
    assert "CartesianProduct" not in plan
    from filemap_spark import all_queries

    df = all_queries()["ts_changepoint_cusum"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_maxsim_query_side_broadcasts(spark, sf_dir):
    """sim_maxsim_multivector: the bounded query-token side arrives by
    broadcast (the non-equi d≠q residual rides the broadcast join — the
    accepted bounded-side BNLJ class), and scoring is one hash agg chain,
    no Python stage."""
    plan = plan_of(spark, sf_dir, "sim_maxsim_multivector")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_decile_lift_no_customer_sized_single_partition_window(spark, sf_dir):
    """agg_decile_lift: the decile cut uses the range-exchange rank
    decomposition — the only SinglePartition/unpartitioned windows run on
    bounded frames (partition-count offsets, the 10-row decile frame)."""
    plan = plan_of(spark, sf_dir, "agg_decile_lift")
    assert "rangepartitioning" in plan, plan  # the exact-rank range exchange
    assert "CartesianProduct" not in plan


def test_containment_join_is_shingle_equi(spark, sf_dir):
    """dedup_shingle_containment: candidate generation joins on the
    shingle — no doc-pair nested loop anywhere."""
    plan = plan_of(spark, sf_dir, "dedup_shingle_containment")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_code_ratio_zero_shuffle_zero_python(spark, sf_dir):
    """text_code_ratio: pure map-side codegen — no exchange, no Python."""
    plan = plan_of(spark, sf_dir, "text_code_ratio")
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 0, nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_windowed_chains_user_keyed_aggs(spark, sf_dir):
    """agg_funnel_windowed: three user-keyed min-aggs joined on user_id —
    time-window predicates are residuals on the equi-joins, never BNLJ
    (the final 1-row zips are the accepted bounded class). Since round
    10 the stage frames are CHECKPOINTED once each (a stage reuse
    otherwise re-ran every upstream stage — 6 events scans), so the
    user-keyed stage joins execute inside the checkpoint jobs and the
    returned plan only zips the three 1-row counts: pin the
    single-materialization invariant (no file scan survives) plus the
    stage-join shape on a stage frame built the same way."""
    plan = plan_of(spark, sf_dir, "agg_funnel_windowed")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan, plan
    assert plan.count("ExistingRDD") >= 3, plan  # t1, t2, t3 materialized
    # the stage-join shape (user-keyed hash equi-join with the time
    # residual) — asserted on the un-checkpointed t2 lineage directly
    from pyspark.sql import functions as F

    from filemap_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + 1800000000))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        t2.explain("formatted")
    stage_plan = buf.getvalue()
    assert "CartesianProduct" not in stage_plan
    assert (
        "SortMergeJoin" in stage_plan
        or "ShuffledHashJoin" in stage_plan
        or "BroadcastHashJoin" in stage_plan
    ), stage_plan


def test_session_path_single_user_exchange_for_windows_and_paths(spark, sf_dir):
    """agg_session_path: the lag window, running-sum window and the
    (user, sid) path aggregate all ride ONE user_id exchange (hash on
    user_id satisfies the (user, sid) clustering); only the bounded path
    histogram re-shuffles."""
    plan = plan_of(spark, sf_dir, "agg_session_path")
    assert plan.count("hashpartitioning(user_id") >= 1, plan
    nodes = _tree_nodes(plan)
    assert nodes.count("Window") == 2, nodes
    assert nodes.count("Exchange") <= 2, nodes  # user shuffle + path histogram
    assert "CartesianProduct" not in plan


def test_dim_variance_single_hash_agg_after_explode(spark, sf_dir):
    """emb_dim_variance: posexplode is map-side (Generate under the scan,
    no exchange before it) and one 64-key hash agg holds every
    accumulator."""
    plan = plan_of(spark, sf_dir, "emb_dim_variance")
    nodes = _tree_nodes(plan)
    assert "Generate" in nodes, nodes
    assert nodes.count("Exchange") == 1, nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_windowed_topk_uses_window_group_limit(spark, sf_dir):
    """stream_windowed_topk: the per-window top-3 cut runs incrementally
    (WindowGroupLimit), never a full per-window sort materialization."""
    plan = plan_of(spark, sf_dir, "stream_windowed_topk")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_pareto_share_no_single_partition_data_window(spark, sf_dir):
    """win_pareto_share: the running share uses the prefix-sum
    decomposition — the range exchange is present and the only
    unpartitioned windows run on the bounded numPartitions-row offset
    frames."""
    plan = plan_of(spark, sf_dir, "win_pareto_share")
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan


def test_dpp_plants_dynamic_pruning_subquery(spark, sf_dir):
    """join_dpp_partitioned_fact: the fact scan carries a DynamicPruning
    partition filter driven by the dim join — the join-time analog of
    scan_partition_pruning's static literal."""
    plan = plan_of(spark, sf_dir, "join_dpp_partitioned_fact")
    assert "dynamicpruning" in plan.lower(), plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("o_orderpriority" in l for l in pf), plan


def test_cohort_triangle_user_join_reuses_partitioning(spark, sf_dir):
    """agg_cohort_revenue_triangle: the cohort min-agg and the join-back
    both key on user_id; no BNLJ, no cartesian."""
    plan = plan_of(spark, sf_dir, "agg_cohort_revenue_triangle")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dow_seasonality_bounded_agg_then_window(spark, sf_dir):
    """ts_dow_seasonality: one fact hash agg (≤ 7·types groups), windows
    only on that bounded frame."""
    plan = plan_of(spark, sf_dir, "ts_dow_seasonality")
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") <= 2, nodes  # (type,dow) agg + type window
    assert "CartesianProduct" not in plan


def test_patch_features_single_arrow_stage(spark, sf_dir):
    """mm_patch_features: construction is JVM-side; exactly one Arrow
    (MapInPandas) stage does decode+patchify; no shuffle at all."""
    plan = plan_of(spark, sf_dir, "mm_patch_features")
    nodes = _tree_nodes(plan)
    assert nodes.count("MapInPandas") == 1, nodes
    assert nodes.count("Exchange") == 0, nodes


def test_graded_bucketed_join_shuffle_free_before_agg(spark, sf_dir):
    """join_bucketed_colocated: the bucket layout satisfies the SMJ's
    distribution, so the ONLY exchange in the whole plan is the post-join
    aggregate's — a shuffled join would add one per side. (An earlier
    spelling split the root-first explain text on 'HashAggregate', whose
    prefix is just the header — vacuously Exchange-free; count tree nodes
    instead.)"""
    plan = plan_of(spark, sf_dir, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes


def test_iqr_fences_broadcast_back(spark, sf_dir):
    """win_outlier_fence_iqr: the O(types) fence frame broadcasts onto the
    fact; no nested loop, no cartesian."""
    plan = plan_of(spark, sf_dir, "win_outlier_fence_iqr")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chi2_windows_ride_bounded_cell_frame(spark, sf_dir):
    """agg_chi2_independence: ONE fact aggregate; every window runs over
    the <=15-cell contingency frame."""
    import re

    plan = plan_of(spark, sf_dir, "agg_chi2_independence")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan  # single orders scan
    assert "CartesianProduct" not in plan


def test_balanced_classes_rank_is_partitioned(spark, sf_dir):
    """sample_balanced_classes: the per-class rank partitions by lang (no
    unpartitioned data window); the min-count scalar broadcasts."""
    plan = plan_of(spark, sf_dir, "sample_balanced_classes")
    assert "windowspecdefinition(lang" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stem_lite_pure_codegen_no_python(spark, sf_dir):
    """text_stem_lite: the rule cascade is codegen regexp_replace — no
    Python stage anywhere."""
    plan = plan_of(spark, sf_dir, "text_stem_lite")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_interval_coalesce_single_user_exchange(spark, sf_dir):
    """win_interval_coalesce: both window passes AND both aggregates ride
    ONE user_id exchange (hashpartitioning(user_id) satisfies the
    (user_id, island) clustering); no single-partition window."""
    plan = plan_of(spark, sf_dir, "win_interval_coalesce")
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert "windowspecdefinition(user_id" in plan, plan
    assert "CartesianProduct" not in plan


def test_fk_orphans_each_audit_subtree_once(spark, sf_dir):
    """join_fk_orphans: the report rows per audit explode from the 1-row
    aggregates — each join subtree (and thus each fact scan) appears
    exactly once. Since the r12 single-pass rewrite ALL THREE
    lineitem-rooted checks share one lineitem scan: orders+customer,
    lineitem+part(broadcast)+orders(left) = 5 scans total (was 7 with
    the separate count + anti-join passes; the naive per-row union
    doubled even those). Dims broadcast; no cartesian."""
    import re

    plan = plan_of(spark, sf_dir, "join_fk_orphans")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 5, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dq_profile_one_scan_expand(spark, sf_dir):
    """agg_dq_profile: one orders scan feeds the multi-count(distinct)
    Expand aggregate; the unpivot runs on the 1-row result."""
    import re

    plan = plan_of(spark, sf_dir, "agg_dq_profile")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan
    assert "Expand" in plan, plan
    assert "CartesianProduct" not in plan


def test_ks_two_sample_prefix_sum_range_exchange(spark, sf_dir):
    """agg_ks_two_sample: the dual ECDF rides the packed prefix-sum — the
    range exchange is present and no unpartitioned window touches the
    fact-sized frame (only the bounded numPartitions offset frame)."""
    plan = plan_of(spark, sf_dir, "agg_ks_two_sample")
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan


def test_holt_winters_single_arrow_group_stage(spark, sf_dir):
    """ts_holt_winters: daily cells aggregate first (map-side), then ONE
    applyInPandas stage keyed by series; nothing else is Python."""
    plan = plan_of(spark, sf_dir, "ts_holt_winters")
    nodes = _tree_nodes(plan)
    assert nodes.count("FlatMapGroupsInPandas") == 1, nodes
    assert nodes.count("Exchange") <= 2, nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hamming_topk_codegen_popcount_group_limit(spark, sf_dir):
    """emb_hamming_topk: signature packing and popcount are pure codegen
    (no Python stage); the bounded query block broadcasts; the per-query
    top-5 collapses in WindowGroupLimit before the final sort."""
    plan = plan_of(spark, sf_dir, "emb_hamming_topk")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_ndcg_eval_rides_bm25_plan_no_cartesian(spark, sf_dir):
    """text_ndcg_eval: query/stats frames broadcast; candidate frames are
    query-bounded; nothing plans a cartesian."""
    plan = plan_of(spark, sf_dir, "text_ndcg_eval")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ndcg_eval_single_tokenize_scan(spark, sf_dir):
    """Round-9 pin (VERDICT r8 task 1 / r7 task 5): the BM25-family tf
    postings frame is built from exactly ONE tokenize scan and then
    checkpointed, so text_ndcg_eval's executed plan — which consumes tf
    on BOTH the ranking and the relevance side — never re-reads the
    documents `text` column. The only surviving documents scan is the
    n_docs count(*), which reads no columns."""
    from filemap_spark.operators.text import _bm25_tf

    import io as _io
    import contextlib as _ctx

    # 1) the pre-checkpoint tf subplan tokenizes exactly once
    tf = _bm25_tf(spark, sf_dir)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        tf.explain("formatted")
    tf_plan = buf.getvalue()
    # one Location: line per distinct scan in the formatted detail section
    assert tf_plan.count("Location:") == 1, tf_plan

    # 2) downstream of the checkpoint, no scan reads `text` — every
    #    postings consumer (dl/df/avgdl, contrib, rel labels) rides the
    #    materialized frame instead of re-tokenizing
    plan = plan_of(spark, sf_dir, "text_ndcg_eval")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("text" not in l for l in reads), reads
    # and the bm25 op itself carries the same shape
    plan_bm25 = plan_of(spark, sf_dir, "text_bm25_topk")
    reads = [l for l in plan_bm25.splitlines() if "ReadSchema" in l]
    assert all("text" not in l for l in reads), reads


def test_collocation_llr_takeordered_on_integer_key(spark, sf_dir):
    """text_collocation_llr: top-30 collapses to TakeOrderedAndProject;
    marginals join on the bigram vocab, never cross."""
    plan = plan_of(spark, sf_dir, "text_collocation_llr")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_not_in_trap_plans_null_aware_and_plain_anti(spark, sf_dir):
    """subq_not_in_null_trap: the NOT IN leg plans a null-aware anti join
    and the NOT EXISTS leg a plain LeftAnti — the two shapes the op
    exists to contrast."""
    plan = plan_of(spark, sf_dir, "subq_not_in_null_trap")
    assert "LeftAnti" in plan, plan
    assert plan.count("LeftAnti") >= 3  # not-in, not-exists, filtered not-in


def test_bitmap_distinct_no_expand_two_exchanges(spark, sf_dir):
    """agg_bitmap_distinct: the bitmap path must NOT plan the
    count-distinct Expand (that's the point); two keyed exchanges
    ((type,bucket) then type) move only bitmap rows."""
    plan = plan_of(spark, sf_dir, "agg_bitmap_distinct")
    nodes = _tree_nodes(plan)
    assert "Expand" not in nodes, nodes
    assert nodes.count("Exchange") <= 2, nodes


def test_stl_lite_windows_ride_bounded_daily_frame(spark, sf_dir):
    """ts_stl_lite: one fact agg to daily cells; the trend window
    partitions by event_type (no single-partition window)."""
    plan = plan_of(spark, sf_dir, "ts_stl_lite")
    assert "windowspecdefinition(event_type" in plan, plan
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") <= 2, nodes
    assert "CartesianProduct" not in plan


def test_mann_whitney_prefix_sum_range_exchange(spark, sf_dir):
    """win_mann_whitney: the rank machinery rides the range exchange
    (with_global_cumsum); no fact-sized unpartitioned window."""
    plan = plan_of(spark, sf_dir, "win_mann_whitney")
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan


def test_importance_hashed_broadcasts_bucket_frame(spark, sf_dir):
    """sample_importance_hashed: the O(64) log-ratio frame broadcasts
    onto doc-bucket counts; top-100 collapses to TakeOrdered."""
    plan = plan_of(spark, sf_dir, "sample_importance_hashed")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_concurrency_peak_single_type_exchange(spark, sf_dir):
    """win_concurrency_peak: explode + both stacked windows + the agg all
    ride one event_type exchange."""
    plan = plan_of(spark, sf_dir, "win_concurrency_peak")
    nodes = _tree_nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert "windowspecdefinition(event_type" in plan, plan
    assert "CartesianProduct" not in plan


def test_acf_lag_join_on_bounded_daily_frame(spark, sf_dir):
    """ts_acf (round-8 persist form): the densified daily frame is
    persist()ed, so BOTH lag self-join sides read the same cached cells
    (one runtime fact scan) while — unlike round 7's eager
    localCheckpoint, ADVICE r7 — the pre-cache scan+agg+join segment
    stays in the explained plan for the CartesianProduct/window sweep,
    and building the plan runs no Spark job."""
    from scripts.plan_audit import unpartitioned_window_violations

    df = QUERIES["ts_acf"](spark, sf_dir)
    plan = plan_of(spark, sf_dir, "ts_acf")
    # both join sides hit the cache, and the cached segment is visible
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "Scan parquet" in plan, plan  # pre-cache segment auditable
    assert "CartesianProduct" not in plan
    assert not unpartitioned_window_violations(df), plan


def test_welch_single_hash_agg(spark, sf_dir):
    """agg_welch_ttest: one scan, one hash aggregate, pushed-down type
    filter."""
    import re

    plan = plan_of(spark, sf_dir, "agg_welch_ttest")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and (
        "PushedFilters: [In(event_type" in plan or "event_type" in pushed[0]
    ), plan
    assert "CartesianProduct" not in plan


def test_jaccard_neighbors_blocks_on_shared_order(spark, sf_dir):
    """graph_jaccard_neighbors: pairs generate inside each order's part
    basket (the _co_order_pairs kernel), never a part×part cross."""
    plan = plan_of(spark, sf_dir, "graph_jaccard_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["graph_triangle_count", "graph_jaccard_neighbors", "graph_label_propagation"],
)
def test_graph_ops_pair_parts_in_baskets_not_order_self_join(
    spark, sf_dir, name, monkeypatch
):
    """The three co-order graph ops build their part pairs inside each
    order's basket (_order_baskets + _co_order_pairs): no equi-join may
    key on the order key — under any name these ops give it — in the
    op's plan or in the plan of any frame it checkpoints. Join keys are
    read in both plan spellings: inline `Join [keys], [keys]` (a
    checkpointed frame's tree string) and the `Left keys` / `Right keys`
    details of explain("formatted")."""
    import re

    joins = re.compile(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r"(?: \[[^\]]*\], \[[^\]]*\]"
        r"|[^\n]*\nLeft keys \[\d+\]: \[[^\]]*\]\nRight keys \[\d+\]: \[[^\]]*\])"
    )
    order_key = re.compile(r"\b(?:l_orderkey|o|o2|ob)#")
    plans = plans_with_checkpoints(spark, sf_dir, name, monkeypatch)
    keyed = [m.group(0) for p in plans for m in joins.finditer(p)]
    assert keyed, plans  # the node-id joins are read, so the regex is live
    assert not [k for k in keyed if order_key.search(k)], keyed


def test_ngram_novelty_shingle_keyed_join(spark, sf_dir):
    """text_ngram_novelty: first-occurrence agg + membership join key on
    the shingle; no cross anywhere."""
    plan = plan_of(spark, sf_dir, "text_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_single_arrow_stage_no_text_shuffle(spark, sf_dir):
    """pack_sequences_bestfit: ONE applyInPandas stage; the shuffled
    relation carries (doc_id, n_tokens, shard) only — the text column
    never leaves the scan."""
    plan = plan_of(spark, sf_dir, "pack_sequences_bestfit")
    nodes = _tree_nodes(plan)
    assert nodes.count("FlatMapGroupsInPandas") == 1, nodes
    ex_lines = [
        l for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    ]
    assert ex_lines and all("text" not in l for l in ex_lines), ex_lines


def test_no_unpartitioned_window_class_pin(spark, sf_dir):
    """VERDICT r6 task 2 (class kill): the last two unpartitioned-window
    ops (win_ntile, win_percent_rank_cume) now route through the
    range-exchange decomposition, so NO graded window op plans a
    data-sized ORDER-only WindowExec. The registry-wide sweep lives in
    scripts/plan_audit.py (round 9: the STRUCTURAL tree-walking detector;
    its synthetic per-branch pins live in tests/test_plan_audit.py); this
    pin covers the two rewritten ops plus the window family explicitly so
    a regression fails fast in pytest."""
    import sys

    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from scripts.plan_audit import unpartitioned_window_violations

    for name in (
        "win_ntile",
        "win_percent_rank_cume",
        "win_pareto_share",
        "win_rolling_zscore",
        "win_topk_per_group",
        "text_zipf_fit",
        # round 8: frame-first OVER () evaders caught by the regex fix,
        # rewritten to persisted-frame + broadcast 1-row totals
        "agg_decile_lift",
        "agg_chi2_independence",
    ):
        df = QUERIES[name](spark, sf_dir)
        bad = unpartitioned_window_violations(df)
        assert not bad, (name, bad)


def test_percent_rank_cume_decomposition_matches_window_form(spark):
    """percent_rank/cume_dist/ntile(100) from the range-exchange rank must
    equal Spark's own unpartitioned-window results on data WITH duplicate
    order values (the total-order tiebreak makes rank == row_number, which
    is what licenses the (r-1)/(n-1) and r/n arithmetic)."""
    from pyspark.sql import Window, functions as F

    from filemap_spark.functions.ranks import ntile_expr, with_global_rank

    rows = [(i, float((i * 7) % 13)) for i in range(1, 402)]  # many ties
    df = spark.createDataFrame(rows, "id int, score double")

    w = Window.orderBy("score", "id")
    want = {
        r["id"]: (r["p"], r["c"], r["t"])
        for r in df.select(
            "id",
            F.round(F.percent_rank().over(w), 6).alias("p"),
            F.round(F.cume_dist().over(w), 6).alias("c"),
            F.ntile(100).over(w).alias("t"),
        ).collect()
    }

    ranked = with_global_rank(df, "score", "id", rank_col="_rk", total_col="_n")
    r, n = F.col("_rk"), F.col("_n")
    pct = F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0))
    got = {
        row["id"]: (row["p"], row["c"], row["t"])
        for row in ranked.select(
            "id",
            F.round(pct, 6).alias("p"),
            F.round(r / n, 6).alias("c"),
            ntile_expr("_rk", "_n", 100).alias("t"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Round 12 (VERDICT r11 task 6): single-pass rewrites of the deferred
# multi-scan ops. Each pin counts distinct scans in the plan — the r7
# shapes read their fact table 2-3x per query.
# ---------------------------------------------------------------------------


def _final_adaptive_plan(spark, sf_dir, name: str) -> str:
    """Executed (post-AQE) plan text — ReusedExchange nodes only appear
    after the adaptive plan finalizes, so reuse pins must collect first."""
    df = QUERIES[name](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_ts_anomaly_mad_single_scan_single_exchange(spark, sf_dir):
    """r12 rewrite: median and MAD run as unbounded-frame window
    aggregates over ONE partitionBy(event_type) — one events scan, one
    hash exchange (the only other exchange is the 5-row final sort)."""
    import re

    plan = plan_of(spark, sf_dir, "ts_anomaly_mad")
    assert plan.count("Location:") == 1, plan  # one distinct events scan
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) <= 1, plan


def test_join_fk_orphans_single_lineitem_scan(spark, sf_dir):
    """r12 rewrite: the part probe, the total count, and the orders
    membership check all ride ONE lineitem scan (was three)."""
    import re

    plan = plan_of(spark, sf_dir, "join_fk_orphans")
    locs = [l for l in plan.splitlines() if "Location:" in l]
    tables = [re.search(r"(\w+)\.parquet", l).group(1) for l in locs]
    assert tables.count("lineitem") == 1, tables
    # orders appears twice by design: once per audit branch (disjoint
    # column reads — o_custkey vs o_orderkey — after pruning)
    assert tables.count("orders") == 2, tables


def test_sample_importance_hashed_single_tokenize(spark, sf_dir):
    """r12 rewrite: the doc×bucket token agg feeds the target
    distribution, the corpus distribution, and the doc scores through
    ONE reused exchange — the explode+md5 pipeline runs once. The only
    other documents scan is the final (doc_id, lang) projection join."""
    plan = _final_adaptive_plan(spark, sf_dir, "sample_importance_hashed")
    import re

    tables = re.findall(r"(\w+)\.parquet", plan)
    assert tables.count("documents") == 2, tables
    assert plan.count("ReusedExchange") >= 1, plan


def test_text_rouge2_recall_exchange_reuse(spark, sf_dir):
    """r12 check (SCALE.md multi-scan sweep): the distinct-bigram frame
    feeds three consumers (nref/ra/ca); the tokenize exchange must be
    reused, not re-run — documents is scanned at most twice post-AQE."""
    plan = _final_adaptive_plan(spark, sf_dir, "text_rouge2_recall")
    import re

    tables = re.findall(r"(\w+)\.parquet", plan)
    assert tables.count("documents") <= 2, tables
    assert plan.count("ReusedExchange") >= 1, plan


def test_spread_single_split_rejects_shuffled_plans(spark, sf_dir):
    """r18 (VERDICT r17 task 5): spread_single_split's scan-only
    precondition is mechanical — probing partition counts on a shuffled
    plan would re-execute every upstream AQE stage (+4 s measured when a
    call site made exactly that mistake in r17), so the helper must
    refuse wide inputs instead of silently paying it."""
    import pytest as _pytest

    from filemap_spark.io import load_table, spread_single_split
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("spread_docs")
    # scan + narrow projection: accepted (the supported shape)
    spread_single_split(docs)
    spread_single_split(docs.where(F.length("text") > 0))
    spread_single_split(spark.sql("SELECT doc_id FROM spread_docs"))
    # checkpoint scans are scan-like: accepted (incremental-path inputs)
    spread_single_split(docs.limit(5).localCheckpoint().select("doc_id"))
    ck = docs.limit(0)  # cheap frame for plan-shape-only checks below
    ids = docs.select("doc_id")
    for bad in (
        docs.join(docs.select("doc_id"), "doc_id", "left_anti"),
        docs.groupBy("doc_id").count(),
        docs.orderBy("doc_id"),
        docs.distinct(),
        docs.repartition(4),
        ck.join(ck.select("doc_id"), "doc_id"),
        # wide nodes a plan-text match of listed names let through
        ids.intersect(ids),
        ids.exceptAll(ids),
        ids.subtract(ids),
        spark.sql("SELECT DISTINCT doc_id FROM spread_docs"),
        docs.offset(3),
        spark.sql(
            "SELECT doc_id FROM spread_docs WHERE doc_id IN "
            "(SELECT doc_id FROM spread_docs WHERE doc_id > 3)"
        ),
    ):
        with _pytest.raises(ValueError, match="scan-only"):
            spread_single_split(bad)


def test_dsir_ops_single_tokenize(spark, sf_dir):
    """r18 rewrite (the sample_importance_hashed r12 pattern applied to
    the bigram DSIR pair): the doc×bucket agg keeps the verdict as a
    grouping key and the model distribution re-aggregates that frame, so
    the explode+md5 tokenize pipeline must run ONCE per query through a
    reused exchange — not once per distribution."""
    for name in ("text_dsir_importance", "text_dsir_resample"):
        plan = _final_adaptive_plan(spark, sf_dir, name)
        assert plan.count("Generate explode(") == 1, (name, plan)
        assert plan.count("ReusedExchange") >= 1, name


def test_shell_reduce_one_exchange_on_key_per_bucket(spark, tmp_path, monkeypatch):
    """A `pipeline` reduce over a text scan shuffles ONCE, hash-partitioned
    on `substring_index(value, ' ', 1)` into exactly `--buckets`
    partitions, and feeds each bucket's fork through `mapInArrow`. Its
    action is a `collect()` of the per-bucket line counts, so no second
    (aggregate) exchange follows."""
    from filemap_spark.cli import run_pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x 1\ny 2\nx 3\n")
    cls = type(spark.range(1))
    real = cls.collect
    plans = []

    def spy(df):
        rows = real(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    assert run_pipeline(spark, str(src), str(tmp_path / "out"), [("reduce", "sort")], buckets=7) == 3
    (plan,) = plans
    final = plan.split("== Initial Plan ==")[0]
    assert "FileScan text" in final and "MapInArrow" in final, final
    assert final.count("Exchange") == 1, final
    assert re.search(r"Exchange hashpartitioning\(substring_index\(value#\d+,  , 1\), 7\)", final), final


def test_incremental_lsh_delta_signature_plans_no_exchange(spark, sf_dir, tmp_path, monkeypatch):
    """A stateful delta incremental_lsh_ingest clusters its batch reps by
    doc_id once, before shingling. In the executed plan of every frame it
    materializes: no `Exchange hashpartitioning(doc_id, i)` runs under
    the signature min; the signature's collect_list reads its partial
    aggregate directly, with no exchange between; the fused checkpoint's
    only shuffle is the doc_id repartition (its shingle and band legs
    share it); and _dup_groups' text aggregate runs once."""
    from pyspark.sql import functions as F

    from filemap_spark.io import load_table
    from filemap_spark.operators.text import incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = str(tmp_path / "lsh_state")
    incremental_lsh_ingest(spark, docs.where(F.col("doc_id") % 20 != 0), state)
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    frames = []

    def spy(df, *args, **kwargs):
        frames.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    assert incremental_lsh_ingest(
        spark, docs.where(F.col("doc_id") % 20 == 0), state
    ).collect()
    finals = [
        df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        for df in frames
    ]
    assert not any(
        re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, i#\d+", p) for p in finals
    ), finals
    (signed,) = [p for p in finals if "functions=[collect_list(struct(i" in p]
    lines = signed.splitlines()
    at = next(i for i, ln in enumerate(lines) if "functions=[collect_list(struct(i" in ln)
    assert "functions=[partial_collect_list(" in lines[at + 1], signed
    shuffles = [
        ln for ln in lines
        if "Exchange" in ln and "ReusedExchange" not in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1 and "REPARTITION_BY_NUM" in shuffles[0], signed
    assert sum(p.count("partial_min_by(text") for p in finals) == 1, finals
