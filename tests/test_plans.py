"""Plan-shape regression tests — the scale claims in SCALE.md, asserted.

Correctness tests prove the numbers; these prove the *plan* is the one that
survives a 100 TB scale-up: filters reach the parquet scan, column pruning
reaches ReadSchema, small dims broadcast, top-k plans TakeOrderedAndProject
(never a global sort), and partition-column predicates prune directories
instead of reading rows.
"""

from __future__ import annotations

import os
import sys

from conftest import count_codegen_stages, formatted_plan, has_broadcast_join, simple_plan
from pyspark.sql import functions as F

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import conf_scope, load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_digest import checkpoints_inlined  # noqa: E402

QS = all_queries()


def _df(name, spark, sf_dir):
    return QS[name].fn(spark, sf_dir)


def _raw_df(name, spark, sf_dir):
    """The key's frame from its raw build, for reads under
    ``checkpoints_inlined()``: the registered ``fn`` could hand out a frame
    prepared before the patch."""
    return QS[name].fn.__wrapped__(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(_df("s03_filter_predicates", spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("[]" not in l for l in pushed), pushed


def test_column_pruning_reaches_readschema(spark, sf_dir):
    plan = formatted_plan(_df("s03_filter_predicates", spark, sf_dir))
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas
    # lineitem has 16 columns incl. l_comment; the query needs a handful —
    # a scan that still reads l_comment would ship ~40% dead bytes.
    assert all("l_comment" not in l for l in schemas), schemas


def test_star_join_broadcasts_dims(spark, sf_dir):
    assert has_broadcast_join(_df("s04_star_join_revenue", spark, sf_dir))


def test_dim_lookup_broadcasts(spark, sf_dir):
    assert has_broadcast_join(_df("r07_code_to_text_dim_join", spark, sf_dir))


def test_global_topk_avoids_global_sort(spark, sf_dir):
    plan = simple_plan(_df("s07_global_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:500]


def test_partitioned_read_prunes_not_filters(spark, sf_dir):
    df = _df("s02b_partitioned_write_pruning", spark, sf_dir)
    scan_lines = [
        l for l in simple_plan(df).splitlines() if "FileScan parquet" in l
    ]
    assert scan_lines
    line = scan_lines[0]
    # The event_type predicate must be a directory-level PartitionFilter;
    # DataFilters stays empty (no row ever evaluated against it).
    assert "DataFilters: []" in line, line
    assert "PartitionFilters" in line and "event_type" in line.split(
        "PartitionFilters"
    )[1], line


def test_hot_paths_are_codegen(spark, sf_dir):
    # AQE hides codegen wrappers until stage materialization, so the helper
    # re-plans with AQE off; >=1 subtree means the scan→agg hot path is
    # compiled, not interpreted.
    for name in ("x04_term_frequencies", "s05_agg_pricing_summary"):
        n = count_codegen_stages(spark, lambda: _df(name, spark, sf_dir))
        assert n >= 1, name


def test_q10_composite_plans_topk_and_pushdown(spark, sf_dir):
    df = _df("s18_returned_items_report", spark, sf_dir)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:400]
    fp = formatted_plan(df)
    # The returnflag filter must reach the lineitem scan as a pushed filter.
    assert any(
        "PushedFilters" in l and "l_returnflag" in l for l in fp.splitlines()
    ), fp[:400]


def test_minhash_signatures_materialize_once(spark, sf_dir):
    # The signature table feeds three plan branches; the lazy
    # localCheckpoint must make them all read the materialized blocks —
    # the min-hash aggregate (partial_min(xxhash64(sh, ...))) may appear
    # in the downstream plan zero times, never once per branch.
    plan = simple_plan(_df("x02_minhash_near_dup", spark, sf_dir))
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:800]
    assert "partial_min(xxhash64" not in plan, plan[:800]


def test_q9_profit_join_shape(spark, sf_dir):
    """s19: the part filter is pushed to the scan, the three dims broadcast,
    and lineitem's scan reads only the 6 needed columns."""
    df = _df("s19_profit_by_nation_year", spark, sf_dir)
    plan = formatted_plan(df)
    assert "StringContains(p_name,bolt)" in plan, "part filter not pushed"
    assert has_broadcast_join(df)
    li_schemas = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_orderkey" in l
    ]
    assert li_schemas and all("l_shipdate" not in l for l in li_schemas), li_schemas


def test_unigram_lm_broadcasts(spark, sf_dir):
    """x20: the vocab-sized LM table broadcasts onto the token stream."""
    assert has_broadcast_join(_df("x20_unigram_logprob", spark, sf_dir))


def test_sequence_packing_has_no_global_window(spark, sf_dir):
    """x27: the token cumsum must be hierarchical — the only
    SinglePartition exchange allowed is over the tiny per-bucket prefix
    table (an aggregate of corpus/1024 rows), never over the doc table."""
    plan = simple_plan(_df("x27_sequence_packing", spark, sf_dir))
    lines = plan.splitlines()
    single = [i for i, l in enumerate(lines) if "SinglePartition" in l]
    assert single, "expected the bucket-prefix window exchange"
    # The doc-level branch partitions by bucket; bucket-prefix by single.
    assert any("hashpartitioning(bucket" in l for l in lines), plan[:900]


def test_pq_ann_corpus_stays_partition_local(spark, sf_dir):
    """x03f: no shuffle between the corpus scan and the PQ scoring UDF —
    only the tiny per-partition top-k output may exchange. Asserted with
    the checkpoints inlined (the registered query's plan is a checkpoint
    scan; its recall gate then runs on the inlined frame)."""
    with checkpoints_inlined():
        plan = simple_plan(_raw_df("x03f_pq_ann_topk", spark, sf_dir))
    scoring = plan.split("MapInPandas")[-1]  # below = scan side
    assert "Exchange hashpartitioning(neighbor_id" in scoring, plan[:900]


def test_time_rollup_single_aggregate_pass(spark, sf_dir):
    """s05m: ROLLUP expands inside one hash aggregate (expand + partial +
    final) — exactly one shuffle exchange in the whole plan."""
    plan = simple_plan(_df("s05m_time_rollup", spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges: {plan[:900]}"
    assert "Expand" in plan, plan[:500]


def test_pmi_prunes_before_pairing(spark, sf_dir):
    """x23: the quadratic self-join must sit above the broadcast
    support-prune join, not directly on the raw doc-term table."""
    plan = simple_plan(_df("x23_pmi_cooccurrence", spark, sf_dir))
    # both pairing inputs are pruned -> two broadcast joins appear before
    # the sort-merge/hash join on doc_id
    assert plan.count("BroadcastHashJoin") >= 2, plan[:900]


def test_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """s23: with the scale-emulating confs active, Catalyst must inject a
    might_contain runtime filter on the lineitem side of the join."""
    from presto_weather_spark.operators.relational import (
        BLOOM_CONFS,
        _bloom_join_frame,
    )

    with conf_scope(spark, BLOOM_CONFS):
        plan = (
            _bloom_join_frame(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
    assert "might_contain" in plan, plan[:800]


def test_skew_join_splits_hot_partition(spark, sf_dir):
    """s25: with the scale-emulating confs, AQE must mark the join
    skew-handled in the FINAL adaptive plan (requires executing the
    frame's own QueryExecution — a sink write plans a separate one)."""
    from presto_weather_spark.operators.relational import (
        SKEW_CONFS,
        _skew_join_frame,
    )

    with conf_scope(spark, SKEW_CONFS):
        df = _skew_join_frame(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:600]


def test_total_order_export_uses_range_partitioning(spark, sf_dir):
    """s26: a no-limit global sort must plan Exchange rangepartitioning
    (parallel total order), never a single-partition sort."""
    plan = simple_plan(_df("s26_total_order_export", spark, sf_dir))
    assert "rangepartitioning" in plan, plan[:600]
    assert "SinglePartition" not in plan, plan[:600]


def test_scd2_single_shuffle(spark, sf_dir):
    """s27: gaps-and-islands windows + run agg + history lead all share
    ONE hashpartitioning on user_id — the whole SCD2 build is a single
    shuffle."""
    plan = simple_plan(_df("s27_scd2_user_history", spark, sf_dir))
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1 and "user_id" in exchanges[0], exchanges


def test_semantic_dedup_single_cell_shuffle(spark, sf_dir):
    """x36: the only exchange is the cell-id partitioning feeding the
    per-cell matmul — no all-pairs join, no vector shuffle beyond it."""
    plan = simple_plan(_df("x36_semantic_dedup", spark, sf_dir))
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1 and "bucket" in exchanges[0], exchanges


def test_winsorize_bounds_broadcast(spark, sf_dir):
    """s28: the O(groups) percentile-bounds table broadcasts back onto
    the fact side."""
    assert has_broadcast_join(_df("s28_winsorized_stats", spark, sf_dir))


def test_oov_vocab_broadcasts(spark, sf_dir):
    """x38: the induced vocabulary joins the token stream as a
    broadcast — the corpus-sized side never shuffles for the join."""
    assert has_broadcast_join(_df("x38_oov_rate", spark, sf_dir))


def test_lateral_decorrelates_to_window_group_limit(spark, sf_dir):
    # s31: the LIMIT-ed correlated subquery must decorrelate into a ranked
    # window (WindowGroupLimit pre-filters to top-2 per key before the full
    # window) + one join — NOT per-row subquery re-execution.
    df = _df("s31_lateral_topk", spark, sf_dir)
    plan = simple_plan(df)
    assert "WindowGroupLimit" in plan, plan[:800]
    assert has_broadcast_join(df)


def test_zorder_layout_tightens_both_dims(spark, sf_dir):
    # s30: after Morton clustering, per-file user_id ranges must be strictly
    # narrower than the table-wide range for most files — that tightness is
    # what lets the 2-D box predicate skip row groups at scale. Also assert
    # both box predicates reach the scan as PushedFilters.
    import glob
    import os

    import pyarrow.parquet as pq

    from presto_weather_spark.session import stage_dir

    df = _df("s30_zorder_clustering", spark, sf_dir)
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("user_id" in l and "value" in l for l in pushed), pushed

    # s30 stages under the per-process scratch root (same process here, so
    # the path matches)
    out = stage_dir("zorder", sf_dir)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) > 1
    spans = []
    gmin, gmax = None, None
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "user_id"
        )
        lo = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
        spans.append(hi - lo)
        gmin = lo if gmin is None else min(gmin, lo)
        gmax = hi if gmax is None else max(gmax, hi)
    full = gmax - gmin
    narrower = sum(1 for s in spans if s < full)
    assert narrower >= len(spans) // 2, (spans, full)


def test_compaction_collapses_file_count(spark, sf_dir):
    # s34: the compacted directory must hold far fewer files than the
    # fragmented input (64 shards), and the same row count.
    import glob
    import os

    from presto_weather_spark.session import stage_dir

    df = _df("s34_small_file_compaction", spark, sf_dir)
    n_rows = df.count()
    # same-process scratch root (see the z-order test note above)
    base = stage_dir("compact", sf_dir)
    frag = glob.glob(os.path.join(base, "frag", "*.parquet"))
    compact = glob.glob(os.path.join(base, "compact", "*.parquet"))
    assert len(frag) == 64
    assert len(compact) <= 4, compact
    assert n_rows == spark.read.parquet(os.path.join(base, "frag")).count()


def test_mv_refresh_scans_delta_only(spark, sf_dir):
    # s37: the refresh-side events scan must carry the ts >= cutoff filter
    # into the parquet scan (PushedFilters) — proof the refresh reads the
    # delta, not the history. The MV side reads the materialized parquet.
    df = _df("s37_incremental_mv_refresh", spark, sf_dir)
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "ts" in l]
    assert any("GreaterThanOrEqual(ts" in l for l in pushed), pushed


def test_join_hints_force_each_strategy(spark, sf_dir):
    # s39: each hint must surface its physical join in the plan (the three
    # joins s39_join_strategy_hints compares, before it aggregates them).
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    on = c.c_nationkey == n.n_nationkey
    plans = {
        "merge": simple_plan(c.join(n.hint("merge"), on)),
        "shuffle_hash": simple_plan(c.join(n.hint("shuffle_hash"), on)),
        "broadcast": simple_plan(c.join(F.broadcast(n), on)),
    }
    assert "SortMergeJoin" in plans["merge"], plans["merge"][:400]
    assert "ShuffledHashJoin" in plans["shuffle_hash"], plans["shuffle_hash"][:400]
    assert "BroadcastHashJoin" in plans["broadcast"], plans["broadcast"][:400]


def test_bucketized_interval_join_uses_equi_key(spark, sf_dir):
    # s48: the join must be a hash/sort-merge join on (user_id, bucket) —
    # never a broadcast-nested-loop over the inequality predicate.
    df = _df("s48_bucketized_interval_join", spark, sf_dir)
    plan = simple_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:600]
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:600]


def test_exchange_reuse_plans_once(spark, sf_dir):
    # s50: the daily aggregate must appear once + a ReusedExchange, not two
    # independent aggregation subtrees. AQE materializes exchange reuse at
    # execution, so run the query first and read the FINAL plan.
    df = _df("s50_exchange_reuse", spark, sf_dir)
    df.collect()
    plan = simple_plan(df)
    assert "ReusedExchange" in plan, plan[:800]


def test_nested_schema_pruning_reaches_scan(spark, sf_dir):
    # s53: the read-back scan must decode only details.price (+ the
    # filtering subfield), never the full struct.
    df = _df("s53_nested_schema_pruning", spark, sf_dir)
    plan = formatted_plan(df)
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas
    assert all("priority" not in l for l in schemas), schemas


def test_q17_shape_aggregates_before_rejoin(spark, sf_dir):
    # s55: the per-part average must come from a pre-aggregated (partkey)
    # table rejoined to the fact — never a per-row correlated re-scan —
    # and the part dim must broadcast.
    plan = formatted_plan(_df("s55_small_quantity_revenue", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # two hash aggregates minimum: the per-part stats and the final brand
    # rollup (each plans partial+final)
    assert plan.count("HashAggregate") >= 4


def test_null_safe_join_broadcasts_dim(spark, sf_dir):
    # s59: the 5-row dim (with its NULL member row) must broadcast; a
    # shuffle here would put every null-keyed fact row in one partition.
    assert has_broadcast_join(_df("s59_null_safe_join", spark, sf_dir))


def test_curation_funnel_plans_no_join(spark, sf_dir):
    # x60: the nested-stage funnel is one linear plan of conditional
    # cumulative windows — the accounting must NOT re-join stage outputs
    # (the 5-scan/4-join shape it replaced).
    plan = simple_plan(_df("x60_curation_pipeline_v2", spark, sf_dir))
    assert "Join" not in plan, plan
    # exactly one scan of the documents table feeds the whole funnel
    assert plan.count("Relation") + plan.count("FileScan") <= 2


def test_length_histogram_single_aggregate(spark, sf_dir):
    # x78: one map-side-combinable aggregate; no window, no join.
    plan = simple_plan(_df("x78_length_histogram", spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan


def test_random_projection_no_fanout_join(spark, sf_dir):
    # x59: the sign matrix folds into the aggregate — the plan must not
    # contain the 1024-row projection-table join it replaced.
    plan = simple_plan(_df("x59_random_projection", spark, sf_dir))
    assert "Join" not in plan, plan


def test_theta_join_plans_broadcast_nested_loop(spark, sf_dir):
    # s60: a join with no equality key must plan BroadcastNestedLoopJoin
    # (the only safe form: the build side is a 4-row constant).
    plan = formatted_plan(_df("s60_theta_join_price_tiers", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_cdc_chunking_kernel_no_explode_no_join(spark, sf_dir):
    # x73: boundary detection must run inside the Arrow mapInPandas
    # kernel — the plan must NOT contain the row-per-character Generate
    # (explode) it replaced (~10^14-row intermediate at 100 TB), and the
    # per-hash frequency must come from a window, not a self-join (which
    # would force a second computation of the kernel output).
    plan = simple_plan(_df("x73_content_defined_chunking", spark, sf_dir))
    assert "MapInPandas" in plan, plan[:600]
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    # one scan of documents feeds the whole pipeline
    assert plan.count("Relation") + plan.count("FileScan") <= 2


def test_column_profile_single_scan(spark, sf_dir):
    # s52: the default profile must be ONE pass over lineitem (mergeable
    # sketches: approx_count_distinct + min/max/null-count), not one
    # full scan per profiled column.
    plan = simple_plan(_df("s52_column_profile", spark, sf_dir))
    n_scans = plan.count("FileScan") + plan.count("Relation")
    assert n_scans <= 1, plan


def test_funnel_single_pass(spark, sf_dir):
    """s38: the funnel is one aggregate pass over events — the events scan
    appears exactly once in the physical plan (no per-stage recompute) and
    there is no join anywhere; stage chaining happens in array algebra on
    the aggregated frame."""
    plan = simple_plan(_df("s38_funnel_analysis", spark, sf_dir))
    scans = [l for l in plan.splitlines() if "Scan parquet" in l or "FileScan" in l]
    assert len(scans) == 1, scans
    assert "Join" not in plan, plan[:900]


def test_decontamination_broadcasts_eval_set(spark, sf_dir):
    """x88: the eval shingle set must broadcast onto the training shingle
    stream — a shuffle join here would shuffle the whole corpus's shingles
    at 100 TB for an MB-sized build side."""
    plan = simple_plan(_df("x88_eval_decontamination", spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:900]
    assert "SortMergeJoin" not in plan, plan[:900]


def test_doc_repetition_two_shuffles_no_join(spark, sf_dir):
    """x85: words+bigrams ride ONE tagged explode -> two doc-keyed
    shuffles (plus the explicit spread repartition), and no join."""
    plan = simple_plan(_df("x85_doc_repetition", spark, sf_dir))
    assert "Join" not in plan, plan[:900]
    scans = [l for l in plan.splitlines() if "Scan parquet" in l or "FileScan" in l]
    assert len(scans) == 1, scans


def test_quality_rules_zero_shuffle(spark, sf_dir):
    """x86: the rule gate is a pure scan-side projection — no exchange at
    all; this is what makes it free at any corpus size."""
    plan = simple_plan(_df("x86_quality_rules", spark, sf_dir))
    assert "Exchange" not in plan, plan[:900]


def test_stratified_sample_single_window_pass(spark, sf_dir):
    """x87: rank and stratum size share one (lang, source) partitioning —
    exactly one hash exchange in the plan."""
    plan = simple_plan(_df("x87_stratified_sample", spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges: {plan[:900]}"


def test_bm25_tokenizes_once_and_broadcasts_dims(spark, sf_dir):
    """x89: the tf(doc, term) table is materialized, so the final plan
    contains NO parquet re-scan of the corpus (its four consumers read
    the checkpoint); query terms and per-term df broadcast, and the
    postings-to-lengths join never falls back to a sort-merge shuffle."""
    plan = formatted_plan(_df("x89_bm25_topk", spark, sf_dir))
    assert "Scan parquet" not in plan, plan[:1200]
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_prototype_prune_single_shuffle_no_join(spark, sf_dir):
    """x90: prototypes ride the closure — assignment is partition-local
    mapInPandas, so the plan has NO join and only the per-cell window
    exchange."""
    plan = simple_plan(_df("x90_prototype_prune", spark, sf_dir))
    assert "Join" not in plan, plan[:900]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges: {plan[:900]}"


def test_recursive_cte_plans_union_loop(spark, sf_dir):
    """s73: WITH RECURSIVE must execute as the engine's iterative union
    loop — proof the recursion is planned by Catalyst, not emulated by a
    driver-side loop."""
    plan = simple_plan(_df("s73_recursive_cte", spark, sf_dir))
    assert "UnionLoop" in plan, plan[:900]


def test_textrank_iterates_vocab_not_corpus(spark, sf_dir):
    """x92: the corpus is tokenized once into the checkpointed adjacency
    list — the 8 power-iteration rounds must join checkpoint scans, never
    re-reading parquet."""
    plan = simple_plan(_df("x92_textrank_keywords", spark, sf_dir))
    assert "Scan parquet" not in plan, plan[:1200]


def test_doremi_rounds_never_rescan_corpus(spark, sf_dir):
    """x93: the K-row domain table is checkpointed before the 10
    multiplicative-weights rounds; the final plan reads checkpoints only
    (one parquet scan anywhere downstream would mean a round re-derived
    the corpus aggregate)."""
    plan = simple_plan(_df("x93_doremi_reweighting", spark, sf_dir))
    assert "Scan parquet" not in plan, plan[:1200]


def test_twonn_no_shuffle_join(spark, sf_dir):
    """x94: the 2-NN kernel is partition-local against the closure matrix
    and the per-point table is checkpointed — the only join left is the
    1-row estimator broadcast back onto the rows."""
    plan = simple_plan(_df("x94_twonn_intrinsic_dim", spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:900]
    assert "Scan parquet" not in plan, plan[:900]


def test_editdist_pairs_no_cartesian_and_wide_text_stays_out(spark, sf_dir):
    """x96: candidate generation must be the bucketed gram self-join (no
    cartesian/broadcast-nested-loop anywhere), and the wide text column
    must not enter it — both self-join sides read the checkpointed
    (doc_id, gram) table, so every ExistingRDD scan line must exclude
    text; text joins back per surviving pair only."""
    plan = simple_plan(_df("x96_editdist_verified_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:900]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:900]
    rdd_scans = [l for l in plan.splitlines() if "ExistingRDD" in l]
    assert rdd_scans, plan[:900]
    assert all("text" not in l for l in rdd_scans), rdd_scans


def test_heaps_cumulative_window_is_bucketed(spark, sf_dir):
    """x97: the doc-spine cumulative runs as the two-level prefix sum —
    the spine-sized Window must be partitioned by bucket (the only
    unpartitioned window is over the tiny bucket-totals table). Asserted
    with the checkpoints inlined (the registered query's plan is truncated
    at its checkpoints)."""
    with checkpoints_inlined():
        plan = simple_plan(_raw_df("x97_heaps_law_fit", spark, sf_dir))
    assert "windowspecdefinition(bucket#" in plan, plan[:1500]


def test_dup_span_islands_window_is_doc_partitioned(spark, sf_dir):
    """x102: the gaps-and-islands pass must run as a doc_id-partitioned
    window (positions co-partitioned after the dup join) — and candidate
    generation must not degenerate to a cartesian."""
    plan = simple_plan(_df("x102_dup_span_extraction", spark, sf_dir))
    assert "windowspecdefinition(doc_id#" in plan, plan[:1200]
    assert "CartesianProduct" not in plan, plan[:900]


def test_entropy_screen_single_exchange(spark, sf_dir):
    """x108: the (doc_id, term) count, the doc_id window, and the final
    per-doc aggregate must all reuse ONE doc_id hash partitioning — a
    second exchange here would double the shuffle bytes of a pure
    per-document statistic."""
    plan = simple_plan(_df("x108_token_entropy_screen", spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]


def test_ccnet_buckets_lm_broadcasts(spark, sf_dir):
    """x106: the unigram LM join must broadcast the vocab-sized LM onto
    the token stream — a sort-merge join would shuffle the full token
    explosion by term."""
    df = _df("x106_ccnet_perplexity_buckets", spark, sf_dir)
    assert has_broadcast_join(df), simple_plan(df)[:1200]
    assert "SortMergeJoin" not in simple_plan(df), simple_plan(df)[:1200]


def test_weighted_sample_plans_group_limit(spark, sf_dir):
    """x109: the per-source top-k must plan WindowGroupLimit (per-partition
    k-heaps, survivors-only exchange) — a full per-source sort of the
    corpus would be the scale bug the operator exists to avoid."""
    plan = simple_plan(_df("x109_weighted_sample_aes", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:1200]


def test_token_budget_cap_plans_group_limit(spark, sf_dir):
    """x46: `source` is a low-cardinality key, so the per-source running
    token sum must NOT sort a dominant source's whole corpus slice in one
    window partition. Every per-source Window here must sit behind a
    WindowGroupLimit at TOKEN_BUDGET+1 rows — valid because every admitted
    non-empty doc consumes >= 1 token, so cum_tokens >= row_number and rank
    TOKEN_BUDGET+2 onward is over budget by construction. Partial mode
    prunes per input partition BEFORE the exchange, Final prunes after."""
    from presto_weather_spark.operators.text_analysis import TOKEN_BUDGET

    # assert on the lineage below the checkpoints: the registered query
    # materializes the corpus projection (and, with zero-token docs, the
    # window frame), which truncates the visible plan at definition
    with checkpoints_inlined():
        plan = simple_plan(_raw_df("x46_token_budget_cap", spark, sf_dir))
    limit = f"row_number(), {TOKEN_BUDGET + 1}"
    assert f"{limit}, Partial" in plan, plan[:1500]
    assert f"{limit}, Final" in plan, plan[:1500]
    # every window over the doc stream is budget-bounded: the plan has no
    # Window node that is not paired with a WindowGroupLimit below it
    assert plan.count("WindowGroupLimit") >= plan.count("+- Window ["), plan[:1500]
    # and the registered query materializes that subtree once — its plan
    # shows the checkpoint scans, not three copies of the corpus scan
    full = simple_plan(_df("x46_token_budget_cap", spark, sf_dir))
    assert "Scan ExistingRDD" in full, full[:1200]


def test_banded_stratified_sample_windows_are_bucket_grain(spark, sf_dir):
    """x87b: the doc stream must NEVER see a stratum-grain window — a
    dominant (lang, source) stratum would become one sort task. The only
    row_number over docs partitions on (lang, source, bucket); the two
    stratum-grain sum windows run on the 4096-rows-per-stratum bucket-count
    table (their input is the n_b aggregate, never doc rows)."""
    import re

    plan = simple_plan(_df("x87b_stratified_sample_banded", spark, sf_dir))
    rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert rn_specs, plan[:1500]
    for spec in rn_specs:
        assert re.match(r"lang#\d+, source#\d+, b#\d+,", spec), spec
    # stratum-grain windows exist only as sums over the bucket-count column
    strat_specs = re.findall(
        r"sum\((\w+)#\d+L?\) windowspecdefinition\(lang#\d+, source#\d+,(?: b#\d+ ASC)?",
        plan,
    )
    assert strat_specs and all(c == "n_b" for c in strat_specs), strat_specs


def test_global_row_numbering_no_single_partition_window(spark, sf_dir):
    """s74: the numbering must NOT plan a window with an empty PARTITION BY
    over the data (one task gets every row). The only unpartitioned window
    allowed is the offsets prefix-sum over the ~32-row per-partition count
    table; the data path is range-exchange + partition-local Arrow pass."""
    plan = simple_plan(_df("s74_global_row_numbering", spark, sf_dir))
    # no row_number window anywhere — the numbering is local_rn + offset:
    assert "row_number(" not in plan, plan[:1500]
    # the only unpartitioned window runs over the per-pid count aggregate
    # (the visible plan starts at the localCheckpoint), and the offsets
    # come back via broadcast, never a shuffled join of the data:
    assert "windowspecdefinition(_pid#" in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """s75: the fact scan must carry a dynamicpruning subquery — the dim's
    surviving join keys prune fact directories at runtime. Without it the
    join scans every partition and the operator is just s04 with extra
    steps."""
    plan = formatted_plan(_df("s75_dynamic_partition_pruning", spark, sf_dir))
    assert "dynamicpruning" in plan, plan[:2000]


def test_association_rules_pair_join_is_user_keyed(spark, sf_dir):
    """x119: the basket self-join must be an equi-join on user_id (pair
    fan-out bounded by the per-user type vocabulary) — a cartesian or
    type-keyed join would explode with event volume."""
    plan = simple_plan(_df("x119_event_association_rules", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:900]
    assert "user_id" in plan, plan[:900]


def test_cohort_join_reuses_user_partitioning(spark, sf_dir):
    """x120: the activity spine, per-user MIN, and the retention join all
    key on user_id — no exchange on any other key may appear between
    them (cohort/offset aggregation is the only non-user shuffle)."""
    plan = simple_plan(_df("x120_cohort_retention", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:900]


def test_markov_window_is_user_partitioned(spark, sf_dir):
    """x126: the lead() window must partition by user_id — an
    unpartitioned sequence window would funnel the event log through
    one task."""
    plan = simple_plan(_df("x126_markov_transitions", spark, sf_dir))
    assert "windowspecdefinition(user_id#" in plan, plan[:1200]


def test_rrf_fuses_retrieved_lists_not_corpus(spark, sf_dir):
    """x128: the fusion join's BM25 side is the top-k list (WindowGroupLimit
    upstream in x89), and the only global window is the corpus-sized
    quality prior — pinned so a regression can't silently fuse the full
    scored table."""
    plan = simple_plan(_df("x128_rrf_hybrid_retrieval", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:1200]


def test_cell_bucketed_station_assign_is_equi_join(spark, sf_dir):
    """x139b: the point-to-station join must be a broadcast HASH join on
    the integer cell key — never a BroadcastNestedLoopJoin over the raw
    distance predicate (that is exactly the cross join x139b exists to
    replace), and the per-point argmin must plan WindowGroupLimit so
    top-1 prunes map-side."""
    plan = simple_plan(_df("x139b_cell_bucketed_station_assign", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:900]
    assert "CartesianProduct" not in plan, plan[:900]
    assert "BroadcastHashJoin" in plan, plan[:900]
    assert "WindowGroupLimit" in plan, plan[:1200]


def test_salted_running_window_two_pass_shape(spark, sf_dir):
    """s06f: the row-grain window must partition by (event_type, bucket) —
    never bare event_type (that is the giant-partition hazard the rewrite
    exists to fix); the bare-event_type window may appear only at bucket
    grain (ordering by bucket), and the offset merge is a broadcast join."""
    plan = simple_plan(_df("s06f_salted_running_window", spark, sf_dir))
    windows = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert len(windows) == 2, windows
    row_grain = [l for l in windows if "event_id#" in l]
    assert len(row_grain) == 1 and "bucket#" in row_grain[0], windows
    bucket_grain = [l for l in windows if "event_id#" not in l]
    assert len(bucket_grain) == 1 and "bucket#" in bucket_grain[0], windows
    assert "BroadcastHashJoin" in plan, plan[:900]


def test_blocklist_screen_is_zero_shuffle(spark, sf_dir):
    """x140: the lexicon gate must stay a scan-side projection — any
    Exchange means the screen stopped being the cheapest possible pass."""
    plan = simple_plan(_df("x140_blocklist_screen", spark, sf_dir))
    assert "Exchange" not in plan, plan[:900]


def test_split_leakage_shuffles_grams_once(spark, sf_dir):
    """x142: exactly one aggregate exchange keyed on the gram, plus the
    final languages-sized rollup — the split label must be a scan-side
    expression (no join against a split table)."""
    plan = simple_plan(_df("x142_split_ngram_leakage", spark, sf_dir))
    assert "Join" not in plan, plan[:900]
    gram_ex = [l for l in plan.splitlines()
               if "Exchange hashpartitioning(gram#" in l]
    assert len(gram_ex) == 1, plan[:1200]


def test_gopher_ngram_table_never_shuffles_grams(spark, sf_dir):
    """x143: the only row-grain exchange must be the doc_id repartition
    BEFORE the 9-way gram fan-out — hashpartitioning(doc_id) satisfies
    both downstream aggregates, so no exchange keyed on the gram."""
    plan = simple_plan(_df("x143_gopher_dup_ngrams", spark, sf_dir))
    gram_ex = [l for l in plan.splitlines()
               if "Exchange hashpartitioning" in l and "gram#" in l]
    assert not gram_ex, gram_ex
    assert "REPARTITION_BY_NUM" in plan, plan[:900]


def test_dsir_logratio_tables_broadcast(spark, sf_dir):
    """x147/x148: the vocab/bucket log-ratio table must broadcast back
    onto the doc-feature counts — a shuffled join there would move the
    doc-grain side twice for a vocab-sized dimension."""
    for key in ("x147_dsir_importance", "x148_dsir_hashed_features"):
        plan = simple_plan(_df(key, spark, sf_dir))
        assert "BroadcastHashJoin" in plan, (key, plan[:900])


def test_voiced_spans_zero_ensure_requirements(spark, sf_dir):
    """x146: decode + framing + segmentation fuse into one partition-local
    Arrow stage — the only exchange is the explicit doc_id repartition,
    never an aggregation/join shuffle."""
    plan = simple_plan(_df("x146_audio_voiced_spans", spark, sf_dir))
    assert "ENSURE_REQUIREMENTS" not in plan, plan[:900]


def test_bitext_mining_broadcasts_denominators(spark, sf_dir):
    """x144: the k-NN denominator tables join back by BROADCAST (they are
    language-slice-sized) and no stage plans a cartesian product — the
    pair fan-out lives inside the Arrow kernel, not a join."""
    plan = simple_plan(_df("x144_margin_bitext_mining", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:900]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1200]


def test_minhash_band_join_splits_hot_band(spark, tmp_path):
    """x02 skew rehearsal (round-7 verdict task #6): the LSH band key is
    NOT uniform — a near-dup-dense corpus concentrates one template
    cluster into a handful of hot band buckets. Plant exactly that (a
    10% identical-template cluster: every member shares all 16 band
    hashes) and assert AQE splits the hot band-join partition in the
    FINAL adaptive plan — the s25 assertion applied to x02's exchange.
    forceOptimizeSkewedJoin is on because the downstream distinct()
    re-shuffles anyway, which is exactly the at-scale trade: one extra
    exchange beats a straggler task holding the whole stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from presto_weather_spark.operators.dedup import minhash_near_dup_pairs
    from presto_weather_spark.operators.relational import SKEW_CONFS

    template = " ".join(f"tmpl{i} shared duplicate body" for i in range(8))
    rows = []
    for i in range(1000):
        if i % 10 == 0:  # the 10% hot cluster — identical text
            rows.append((i, template))
        else:
            rows.append((i, " ".join(f"w{i}_{j} unique" for j in range(16))))
    out = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        out,
    )
    d = spark.read.parquet(out).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    confs = dict(SKEW_CONFS)
    confs["spark.sql.adaptive.forceOptimizeSkewedJoin"] = "true"
    with conf_scope(spark, confs):
        df = minhash_near_dup_pairs(d)
        # collect() (not count()) so the frame's OWN QueryExecution runs —
        # the adaptive final plan lives there, a count plans separately
        n_pairs = len(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
    # the planted cluster must be found (100 identical docs -> 4950 pairs)
    assert n_pairs >= 4950
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:800]


def test_hashed_nb_grid_joins_are_broadcast(spark, sf_dir):
    """x45b: every model table the scoring stream touches (the bucket
    grid, class priors, totals) is buckets- or classes-bounded and must
    BROADCAST onto the token stream — a SortMergeJoin against the grid
    would mean Catalyst thinks the model is corpus-sized, defeating the
    whole point of the 8192-bucket cap."""
    plan = simple_plan(_df("x45b_naive_bayes_hashed", spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:800]
    # the doc-grain frequency stream must never sort-merge against any
    # model table: the only SMJs allowed are none at all
    assert "SortMergeJoin" not in plan, plan[:800]


def test_probe_knn_corpus_stays_partition_local(spark, sf_dir):
    """x153/x155 (_probe_knn): the corpus scan feeds the closure-matmul
    kernel with NO shuffle below it — the only hash exchange in either
    screen is the query_id window/groupBy over the partitions x probes x k
    candidate rows the kernel emits."""
    from presto_weather_spark.operators.similarity import _probe_knn

    plan = simple_plan(_probe_knn(spark, sf_dir))
    scan_side = plan.split("MapInPandas")[-1]  # below the kernel = scan side
    assert "Exchange" not in scan_side, plan[:900]
    above = plan.split("MapInPandas")[0]
    assert "Exchange hashpartitioning(query_id" in above, plan[:900]


def test_parameterized_sql_binds_reach_scan_as_pushed_filters(spark, sf_dir):
    """s76's named parameters are substituted at parse time, so the bound
    constants must reach the lineitem scan as ordinary pushed filters —
    binding must not degrade the plan vs inlined literals."""
    plan = formatted_plan(_df("s76_parameterized_sql", spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_quantity" in joined, pushed
    # and the scan is pruned to the query's columns, params notwithstanding
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("l_comment" not in l for l in schemas), schemas
