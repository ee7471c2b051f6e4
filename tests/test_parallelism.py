"""Parallelism-invariance tests — the distributed-correctness claim in
SCALE.md ('results independent of partial-aggregation order, at any
parallelism'), asserted: the same query at a different shuffle partition
count must produce bit-identical normalized results. This is what makes
results reproducible when the same pipeline runs on 32 local threads or
1000 executors."""

from __future__ import annotations

import pytest
from conftest import driver_norm

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import conf_scope

QS = all_queries()

# Aggregation/join-heavy queries where float merge order would bite if the
# DECIMAL/rounding discipline slipped.
INVARIANT_QUERIES = [
    "s05_agg_pricing_summary",
    "s19_profit_by_nation_year",
    "x20_unigram_logprob",
    "x22_embedding_gram",
    "x21_corpus_pipeline",
    # per-partition top-k/argmax + hierarchical cumsum operators: their
    # exactness claim is precisely that partitioning and Arrow batch
    # boundaries cannot change the result
    "x03_cosine_topk",
    "x02d_embedding_cosine_neardup",
    "x03f_pq_ann_topk",
    "x31_hard_pair_mining",
    "x27_sequence_packing",
    "x30_psi_drift_monitor",
    # round-3 additions: per-cell matmul dedup, moment-partial whitening,
    # DECIMAL ln-sum bigram scoring, LOCF gap-fill, containment ranking
    "x36_semantic_dedup",
    "x37_pca_whitening",
    "x39_bigram_logprob",
    "s29_time_gapfill_locf",
    "x40_ngram_containment",
    "s28_winsorized_stats",
    # round-3 late additions: DECIMAL-threshold correlated filter, global
    # ntile over a range-partitioned total sort, per-cell window extremes,
    # conditional-cumulative funnel flags, isin-folded DECIMAL projection
    "s55_small_quantity_revenue",
    "x76_curriculum_ordering",
    "x77_preference_pairs",
    "x60_curation_pipeline_v2",
    "x59_random_projection",
]


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_result_invariant_to_shuffle_parallelism(spark, sf_dir, name):
    q = QS[name]
    base = driver_norm(q.fn(spark, sf_dir).toPandas())
    # shrink Arrow batches so mapInPandas operators also prove
    # batch-boundary invariance, not just shuffle invariance
    low_confs = {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "37",
    }
    with conf_scope(spark, low_confs):
        low = driver_norm(q.fn(spark, sf_dir).toPandas())
    assert base == low, f"{name}: result depends on shuffle parallelism"
