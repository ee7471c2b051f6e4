"""Window-skew lint — the x46/x94 defect class, mechanized.

Round-6 and round-7 verdicts each found ONE operator whose window
partitioned on a low-cardinality key with an unbounded frame — the shape
where a dominant key value (one source, one language) becomes a single
sort task holding most of a 100 TB corpus. Both were found by a human
reading 320 plans. This lint walks every registered query's physical plan
and asserts each Window node is scale-safe by construction:

  1. its partition spec contains a HIGH-CARDINALITY key (doc/vec/user/
     order grain — partition count grows with the data, so no partition
     holds more than one key's rows) or a SALT/BUCKET key (explicitly
     engineered sub-partitioning); or
  2. a WindowGroupLimit bounds the same partition spec (Spark prunes each
     partition to k rows before the sort-heavy work); or
  3. the (key, spec) pair is ALLOWLISTED below with a written reason —
     bounded aggregate inputs (vocab-, bucket-, stratum-count-sized
     tables) or exact archetypes whose banded/salted scale sibling exists
     in the registry.

A new operator that reintroduces the defect fails here with its partition
spec in the message — it must either fix the plan or argue its case in
the allowlist, in writing.
"""

from __future__ import annotations

import re

import pytest
from conftest import simple_plan

from presto_weather_spark.registry import all_queries

# Keys whose per-key cardinality grows with the data: a window partitioned
# on any of these shards into (data / keys) ~ constant-sized groups.
HIGH_CARD_COLS = {
    "doc_id", "doc_a", "doc_b", "vec_id", "event_id", "query_id", "user_id",
    "src_id", "tgt_id", "train_id", "eval_id", "l_orderkey", "l_partkey",
    "o_custkey", "o_orderkey", "h", "gh", "grp", "cluster_id", "tri",
    "term", "chunk_id", "span_id", "pair_id", "station_id",
}

# Explicit sub-partitioning keys: their presence in a partition spec means
# the operator already salted/bucketed the heavy key.
SALT_COLS = {"b", "bucket", "band", "cell", "tile", "salt"}

# (key, partition-spec) pairs argued safe in writing. Specs are tuples of
# de-numbered column names exactly as the plan prints them.
ALLOWLIST: dict[tuple[str, tuple[str, ...]], str] = {
    ("s06c_window_ntile_distribution", ("o_orderpriority",)):
        "exact NTILE archetype (SURVEY §2.2 window demo); the salted "
        "two-pass sibling s06f is the registered scale path",
    ("s06f_salted_running_window", ("event_type",)):
        "merge pass over the per-(event_type, bucket) OFFSETS table — "
        "input rows = salt-bucket count per event type, not data rows",
    ("s14p_stream_weighted_sample", ("source",)):
        "structured-streaming operator: the window input is one "
        "micro-batch (trigger-bounded), never the accumulated stream",
    ("s14r_stream_sample_quantiles", ("event_type",)):
        "latest-emission filter over the memory-sink EMISSIONS table — "
        "rows = micro-batches x |SQ_QS| per key (trigger-bounded), "
        "never the stream's data rows",
    ("s74_global_row_numbering", ()):
        "offsets prefix-sum over the per-partition COUNT table "
        "(~numPartitions rows); the data path is range-exchange + "
        "partition-local Arrow pass, plan-pinned in test_plans.py",
    ("x103_lsh_parameter_planner", ()):
        "corpus-independent (bands x rows) planner grid — constant rows",
    ("x106_ccnet_perplexity_buckets", ("lang",)):
        "exact per-lang NTILE archetype; x106b (broadcast approx cut "
        "points) is the registered banded scale path",
    ("x121_rfm_segmentation", ()):
        "count-gated (global_rank, _util.py): the fixture takes the "
        "single-task window; above 1M customers the s74 two-pass "
        "numbering runs with NO unpartitioned data window — EXACT, "
        "equivalence pinned in test_properties.py",
    ("x124_gini_concentration", ()):
        "cumulative share over the per-source aggregate (sources-sized "
        "landing zone)",
    ("x128_rrf_hybrid_retrieval", ()):
        "count-gated (global_rank, _util.py): q_rank switches to the s74 "
        "two-pass numbering above 1M docs — EXACT, no banding error, "
        "equivalence pinned in test_properties.py",
    ("x130_kaplan_meier_survival", ()):
        "survival curve over the DISTINCT-event-time aggregate",
    ("x151_dsir_mixture_shift", ()):
        "runs on the fixed 8192-bucket DSIR importance table",
    ("x24_zipf_slope", ()):
        "rank over the vocab-sized term-frequency aggregate (Heaps-law "
        "sublinear, the standard aggregate landing zone)",
    ("x25_langid_confusion", ("lang",)):
        "confusion matrix over the langs x langs aggregate",
    ("x27_sequence_packing", ()):
        "hierarchical-cumsum offsets table (bucket-count rows)",
    ("x38_oov_rate", ()):
        "vocab-sized OOV coverage aggregate",
    ("x60_curation_pipeline_v2", ("lang", "source")):
        "exact v2-funnel semantics (oracle-pinned monotone counts); the "
        "budget-bounded siblings x57 (WindowGroupLimit cap) and x46 "
        "(rank pre-prune) are the registered scale paths per stage",
    ("x60_curation_pipeline_v2", ("source",)):
        "same funnel — see (lang, source) entry",
    ("x60_curation_pipeline_v2", ("_w0",)):
        "_w0 = md5(text): a content-digest partition key — "
        "high-cardinality by construction, printed as a computed expr",
    ("x63_signal_correlation", ()):
        "signal-pair aggregate (signals^2 rows)",
    ("x67_vocab_coverage_curve", ()):
        "vocab-sized frequency-rank curve",
    ("x76_curriculum_ordering", ()):
        "count-gated (global_rank, _util.py): train_order switches to "
        "the s74 two-pass numbering above 1M docs and NTILE is "
        "recomputed exactly from (rank, count) — equivalence pinned in "
        "test_properties.py",
    ("x87_stratified_sample", ("lang", "source")):
        "exact stratified-sample archetype; x87b (hash-prefix banding, "
        "EXACT same output) is the registered mega-stratum scale path",
    ("x87b_stratified_sample_banded", ("lang", "source")):
        "stratum-grain sums over the BUCKET-COUNT table (<= 4096 rows "
        "per stratum); the doc stream only sees (lang, source, b) "
        "windows — plan-pinned in test_plans.py",
}


def _partition_specs(plan: str) -> set[tuple[str, ...]]:
    specs = set()
    for w in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        cols: list[str] = []
        for tok in w.split(", "):
            if " ASC" in tok or " DESC" in tok or tok.startswith(
                "specifiedwindowframe"
            ):
                break
            cols.append(re.sub(r"#\d+L?", "", tok))
        specs.add(tuple(cols))
    return specs


def _grouplimit_specs(plan: str) -> set[tuple[str, ...]]:
    return {
        tuple(re.sub(r"#\d+L?", "", c) for c in g.split(", ") if c)
        for g in re.findall(r"WindowGroupLimit \[([^\]]*)\]", plan)
    }


@pytest.fixture(scope="module")
def window_inventory(spark, sf_dir):
    inv = {}
    for name, q in sorted(all_queries().items()):
        plan = simple_plan(q.fn(spark, sf_dir))
        inv[name] = (_partition_specs(plan), _grouplimit_specs(plan))
    return inv


def test_every_window_is_skew_safe(window_inventory):
    violations = []
    for name, (specs, limits) in window_inventory.items():
        for spec in specs:
            cols = set(spec)
            if cols & (HIGH_CARD_COLS | SALT_COLS):
                continue  # rule 1: sharding or salt key present
            if any(set(gl) <= cols for gl in limits):
                continue  # rule 2: WindowGroupLimit bounds this partition
            reason = ALLOWLIST.get((name, spec))
            if reason is None:
                violations.append((name, spec))
    assert not violations, (
        "window(s) partitioned on a low-cardinality key with no "
        "WindowGroupLimit and no written allowlist justification — the "
        f"x46/x94 skew class: {violations}"
    )


def test_allowlist_entries_still_exist(window_inventory):
    """A stale allowlist hides regressions: every entry must still match a
    live (key, spec) pair, and every allowlisted key must still be
    registered — delete entries when the plan improves."""
    stale = []
    for (name, spec), _ in ALLOWLIST.items():
        specs = window_inventory.get(name)
        if specs is None or spec not in specs[0]:
            stale.append((name, spec))
    assert not stale, f"allowlist entries no longer present in plans: {stale}"
