"""Config-invariance sweep: results must not depend on the optimizer knobs.

A 1000-executor deployment will not run this engine under the test
harness's exact configuration — AQE gets toggled by platform teams,
whole-stage codegen falls back to interpreted mode when a generated
method blows the JIT limit, and both are explicitly documented as
execution-strategy (not semantics) switches. Any key whose ROWS change
under those switches is silently depending on an execution artifact
(partition-order-sensitive aggregation, non-deterministic tie-break
resolved by plan shape, a double sum outside DECIMAL) — exactly the
defect class the oracle cannot see because the oracle runs in DuckDB.

One representative key per operator family (joins incl. bucketed/as-of,
salted two-phase agg, window frames + the salted running window, global
sort, TPC-H archetypes, exact/near dedup, span dedup, ANN, NB scoring,
BM25, RRF, multimodal codecs, the round-10 sources) runs twice — default
config vs AQE off + whole-stage codegen off — and must return identical
row multisets. Streaming keys are excluded: their checkpoint/scratch
reuse makes a second in-process run exercise recovery, which
tests/test_stream_recovery.py covers on its own terms.
"""

from __future__ import annotations

import pytest

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import conf_scope

SF_DIR = "/root/testdata/sf0.001"

KEYS = [
    "s04_star_join_revenue",
    "s04e_asof_join_latest_order",
    "s04g_bucketed_colocated_join",
    "s05_agg_pricing_summary",
    "s05h_salted_two_phase_agg",
    "s06b_window_frames_running",
    "s06f_salted_running_window",
    "s07_global_topk",
    "s25_skew_join_aqe",  # AQE off: plan loses the skew split, rows must not
    "s61_q2_min_cost_supplier",
    "s69_q21_waiting_supplier",
    "s01e_xml_roundtrip",
    "x01_exact_dedup",
    "x02b_ngram_jaccard",
    "x03_cosine_topk",
    "x03d_ivf_ann_topk",
    "x04_term_frequencies",
    "x45_naive_bayes_lang",
    "x89_bm25_topk",
    "x102_dup_span_extraction",
    "x128_rrf_hybrid_retrieval",
    "x05e_wav_decode",
    "x156_binary_file_ingest",
]

ALTS = {
    "aqe_codegen_off": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.codegen.wholeStage": "false",
    },
    # a 1000-executor deployment sizes this to the cluster, not to the
    # test harness's 32 — results must not care (catches
    # partition-count-dependent output: limit-without-order, ties
    # resolved by partition layout, accumulation order outside DECIMAL)
    "shuffle_partitions_7": {"spark.sql.shuffle.partitions": "7"},
}


def _rows(spark, key):
    df = all_queries()[key].fn(spark, SF_DIR)
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("alt", sorted(ALTS))
@pytest.mark.parametrize("key", KEYS)
def test_rows_identical_across_exec_configs(spark, key, alt):
    baseline = _rows(spark, key)
    with conf_scope(spark, ALTS[alt]):
        changed = _rows(spark, key)
    assert changed == baseline
    assert len(baseline) > 0
