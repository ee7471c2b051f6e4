"""Property-based tests (hypothesis) — invariants that table-driven goldens
can't cover: arbitrary weather codes, arbitrary temperatures, arbitrary
document text through the hash-split and MinHash paths.

Driver-level properties run through plain Python twins of the Spark
expressions where one exists (exact-parity is separately pytest-proven in
test_weather_parity.py); Spark-side properties batch all generated cases
into ONE DataFrame per test so hypothesis's many examples don't pay a
per-example Spark job.
"""

from __future__ import annotations

import math
import os
import uuid

from hypothesis import given, settings
from hypothesis import strategies as st

from presto_weather_spark.functions.weather import (
    weather_code_to_icon_py,
    weather_code_to_text_py,
)

KNOWN_ICONS = {"sun", "cloud", "fog", "rain", "snow", "storm", "unknown"}


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_any_code_classifies_total(code):
    # Total functions: every int gets a text and an icon from the closed
    # icon set; unknown codes take the reference's formatted default
    # (/root/reference/weather.py:114) and the 'unknown' icon (:130).
    text = weather_code_to_text_py(code)
    icon = weather_code_to_icon_py(code)
    assert isinstance(text, str) and text
    assert icon in KNOWN_ICONS
    if icon == "unknown":
        assert code not in range(0, 4) and code != 95


@given(st.floats(min_value=-90, max_value=60, allow_nan=False))
def test_unit_conversion_roundtrip(celsius):
    # r20's client-side F conversion must invert exactly within float eps
    # (the reference pushes the conversion to the API, weather.py:69-70;
    # r20 proves option-pushed == client-computed, this proves stability).
    f = celsius * 9 / 5 + 32
    back = (f - 32) * 5 / 9
    assert math.isclose(back, celsius, abs_tol=1e-9)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.text(max_size=80)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None)
def test_hash_split_deterministic_and_total(pairs):
    # x07/x12's md5-bucket assignment: pure function of (doc_id, text) —
    # stable across calls, total over arbitrary unicode, buckets in range.
    import hashlib

    def bucket(doc_id, text, mod):
        h = hashlib.md5(f"{doc_id}:{text}".encode()).hexdigest()
        return int(h[:4], 16) % mod

    for doc_id, text in pairs:
        b1, b2 = bucket(doc_id, text, 10), bucket(doc_id, text, 10)
        assert b1 == b2
        assert 0 <= b1 < 10


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=50, deadline=None)
def test_scalar_quantization_error_bound(vectors):
    # x03e's int8 SQ, python twin: symmetric amax scaling means every
    # reconstructed component is within half a quantization step
    # (amax/254) of the original, and every code fits int8.
    for v in vectors:
        amax = max(abs(x) for x in v)
        if amax == 0:
            continue
        for x in v:
            qi = round(x * 127 / amax)
            assert -127 <= qi <= 127
            dq = qi * amax / 127
            assert abs(x - dq) <= amax / 254 + 1e-9


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-5, max_value=5, allow_nan=False),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=50, deadline=None)
def test_gram_matrix_symmetric_psd(vectors):
    # x22's G = X^T X must be symmetric positive-semidefinite whatever the
    # partition-partial decomposition — checked on the numpy twin of the
    # mapInPandas kernel.
    import numpy as np

    m = np.asarray(vectors)
    g = m.T @ m
    assert np.allclose(g, g.T)
    assert np.linalg.eigvalsh(g).min() >= -1e-8


def test_chunk_dedup_flags_planted_duplicates(spark):
    # x19 on a corpus with one planted duplicate pair: the duplicated docs'
    # chunks all collide (dup_ratio 1.0) and a unique doc stays clean.
    from presto_weather_spark.operators.dedup import CHUNK_LEN  # noqa: F401
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    dup_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [
        (1, dup_text, "en", "src0", len(dup_text)),
        (2, dup_text, "en", "src1", len(dup_text)),
        (3, "totally different unique content with its own words entirely", "en", "src0", 61),
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_chunkdedup_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    res = {
        r["doc_id"]: r
        for r in all_queries()["x19_chunk_dedup"].fn(spark, out).collect()
    }
    assert res[1]["dup_ratio"] == 1.0 and res[2]["dup_ratio"] == 1.0
    assert res[3]["dup_ratio"] == 0.0
    assert res[1]["n_chunks"] == res[1]["dup_chunks"]


def test_compression_ratio_gates_planted_repetition(spark):
    # x32 on a corpus with one highly repetitive doc and one high-entropy
    # doc: the repetitive one compresses hard and is gated 'drop'; ratios
    # are deterministic (zlib level pinned).
    from presto_weather_spark.registry import all_queries
    import os
    import random
    import tempfile

    rng = random.Random(7)
    noisy = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    rows = [
        (1, "spam ham " * 200, "en", "src0", 1800),
        (2, noisy, "en", "src1", len(noisy)),
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_compress_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    q = all_queries()["x32_compression_ratio"]
    res = {r["doc_id"]: r for r in q.fn(spark, out).collect()}
    assert res[1]["redundancy_gate"] == "drop" and res[1]["compression_ratio"] < 0.1
    assert res[2]["redundancy_gate"] == "keep" and res[2]["compression_ratio"] > 0.5
    # bit-stable across runs
    res2 = {r["doc_id"]: r["compression_ratio"] for r in q.fn(spark, out).collect()}
    assert res2 == {k: r["compression_ratio"] for k, r in res.items()}


def test_sequence_packing_invariants(spark, sf_dir):
    # x27: spans tile the concatenated token stream exactly — offsets stay
    # inside the context window, span counts match the doc's token mass,
    # and the final cumulative end equals the total token count.
    from presto_weather_spark.operators.text_analysis import CTX_TOKENS
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x27_sequence_packing"].fn(spark, sf_dir).collect()
    assert rows
    total_tokens = sum(r["n_tokens"] for r in rows)
    for r in rows:
        assert 0 <= r["offset_in_seq"] < CTX_TOKENS
        assert r["end_seq"] >= r["start_seq"]
        # a doc spanning s..e sequences must overlap each: its token mass
        # plus its offset must reach into the last sequence
        span_capacity = (r["n_seqs"] - 1) * CTX_TOKENS
        assert r["offset_in_seq"] + r["n_tokens"] > span_capacity
    last = max(rows, key=lambda r: (r["start_seq"], r["offset_in_seq"]))
    assert last["end_seq"] == (total_tokens - 1) // CTX_TOKENS


def test_mixture_weights_rebalance_to_target(spark, sf_dir):
    # x28: shares sum to 1 and weight * corpus_share == the uniform target
    # share for every cell (the defining property of the reweighting).
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x28_mixture_reweighting"].fn(spark, sf_dir).collect()
    n_cells = len(rows)
    # micro-unit integers truncate, losing at most 1 unit per cell
    total_share = sum(r["corpus_share_e6"] for r in rows)
    assert 1_000_000 - n_cells <= total_share <= 1_000_000
    for r in rows:
        prod = r["weight_e6"] * r["corpus_share_e6"] / 1e12
        assert abs(prod - 1.0 / n_cells) < 1e-4


def test_whitening_mahalanobis_identity(spark, sf_dir, tmp_path):
    # x37: with the sample covariance (1/(n-1)) and a full-rank spectrum,
    # the Mahalanobis squared distances to the sample mean sum EXACTLY to
    # dim * (n-1) — an algebraic identity, so it pins mean/cov/eigh/projection
    # end-to-end without golden values. A one-row corpus has no spread: the
    # sum is 0, and a covariance divided by n-1 = 0 would make it NaN.
    from presto_weather_spark.registry import all_queries

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb.limit(1).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    for corpus in (sf_dir, str(tmp_path)):
        rows = all_queries()["x37_pca_whitening"].fn(spark, corpus).collect()
        n = len(rows)
        assert n > 0
        total = sum(r["maha_sq"] for r in rows)
        assert math.isclose(total, 64 * (n - 1), rel_tol=1e-4), (n, total)
        # every score is a squared norm
        assert all(r["maha_sq"] >= 0 for r in rows)


def test_bpe_merges_match_reference_trainer(spark, sf_dir):
    # x43: the distributed trainer must reproduce, merge for merge, a
    # pure-Python BPE trainer run on the same word counts with the same
    # count-then-lexicographic tiebreak.
    import re
    from collections import Counter

    from presto_weather_spark.operators.text_analysis import (
        BPE_MERGES,
        _bpe_apply,
    )
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in sorted(
            all_queries()["x43_bpe_merges"].fn(spark, sf_dir).collect(),
            key=lambda r: r["merge_rank"],
        )
    ]

    wc: Counter = Counter()
    for row in load_table(spark, sf_dir, "documents").select("text").collect():
        for w in re.split(r"\s+", row["text"].lower()):
            if w:
                wc[w] += 1
    merges, want = [], []
    for rank in range(1, BPE_MERGES + 1):
        cnt: Counter = Counter()
        for word, c in wc.items():
            syms = _bpe_apply(list(word), merges)
            for pair in zip(syms, syms[1:]):
                cnt[pair] += c
        if not cnt:
            break
        (l, r), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r))
        want.append((rank, l, r, c))
    assert got == want


def test_token_budget_cap_zero_token_docs_exact(spark, tmp_path):
    # x46's zero-token side-path (empty docs consume no budget and are
    # admitted wherever the running total at their position still fits)
    # cannot fire on the driver fixtures — they contain no empty text —
    # so this plants a corpus where it must: empty docs interleaved
    # through the md5 admission order, including ones falling before,
    # between, and after the budget cutoff. Oracle-compared with the
    # registered SQL, the same check the driver runs.
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from presto_weather_spark.registry import all_queries

    rows = []
    for i in range(400):
        # every 3rd doc is empty; the rest carry enough tokens that the
        # per-source budget cuts well inside the corpus
        text = "" if i % 3 == 0 else ("tok " * (5 + i % 37)).strip()
        rows.append((i, text, "en", f"s{i % 3}", len(text)))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    q = all_queries()["x46_token_budget_cap"]
    sdf = q.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    ddf = con.execute(q.oracle).fetchdf()
    s = sorted(map(tuple, sdf[sorted(sdf.columns)].itertuples(index=False, name=None)))
    d = sorted(map(tuple, ddf[sorted(ddf.columns)].itertuples(index=False, name=None)))
    assert len(s) == len(d) and s == d
    # and the side-path genuinely fired: admitted zero-token docs exist
    assert (sdf["n_tok"] == 0).sum() > 0


def test_token_budget_cap_invariants(spark, sf_dir):
    # x46: per-source kept token mass never exceeds the budget; the running
    # total is consistent (sorted cum diffs reproduce each doc's n_tok), so
    # the kept set is exactly a prefix of the deterministic admission order.
    from presto_weather_spark.operators.text_analysis import TOKEN_BUDGET
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x46_token_budget_cap"].fn(spark, sf_dir).collect()
    assert rows
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r["cum_tokens"])
        assert docs[-1]["cum_tokens"] <= TOKEN_BUDGET, source
        prev = 0
        for r in docs:
            assert r["cum_tokens"] - prev == r["n_tok"], (source, r)
            prev = r["cum_tokens"]


def test_span_scrub_reconstructs_unscrubbed_docs(spark, sf_dir):
    # x47: a document with zero scrubbed spans must reconstruct to its
    # whitespace-normalized original text; scrub counts stay within bounds;
    # and at least one duplicated span in the fixture corpus is removed
    # somewhere (the fixture plants cross-doc duplicates).
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    out = {r["doc_id"]: r for r in
           all_queries()["x47_span_scrub"].fn(spark, sf_dir).collect()}
    originals = {
        r["doc_id"]: " ".join(r["text"].lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(out) == set(originals)
    for doc_id, r in out.items():
        assert 0 <= r["n_scrubbed"] <= r["n_spans"]
        if r["n_scrubbed"] == 0:
            assert r["clean_text"] == originals[doc_id], doc_id


def test_naive_bayes_covers_every_document(spark, sf_dir):
    # x45: the confusion matrix partitions the corpus — every doc with at
    # least one token gets exactly one prediction, and predictions only use
    # observed class labels.
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    rows = all_queries()["x45_naive_bayes_lang"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    langs = {r["lang"] for r in docs}
    n_docs_with_tokens = sum(1 for r in docs if r["text"].strip())
    assert sum(r["n_docs"] for r in rows) == n_docs_with_tokens
    assert {r["pred_lang"] for r in rows} <= langs


def test_nb_prediction_tiebreak_prefers_first_class_name(spark):
    # _nb_predictions round-10 delta-scoring rewrite: on an EXACT score tie
    # (symmetric corpus: docs 3/4 hold both terms, class-term counts are the
    # mirror image, priors equal), the argmax must break by class name
    # ascending — the same ordering the pre-rewrite row_number window
    # (ORDER BY score DESC, c) pinned. min(struct(-score, c)) must
    # reproduce it exactly.
    from presto_weather_spark.operators.text_analysis import _nb_predictions

    doc_term = spark.createDataFrame(
        [
            (1, "aa", "t1", 1),
            (2, "bb", "t2", 1),
            (3, "aa", "t1", 1),
            (3, "aa", "t2", 1),
            (4, "bb", "t1", 1),
            (4, "bb", "t2", 1),
        ],
        "doc_id bigint, lang string, term string, tf bigint",
    )
    out = {r["doc_id"]: r["c"] for r in _nb_predictions(doc_term).collect()}
    # docs 3 and 4 score identically under both classes -> tie -> 'aa'
    assert out[3] == "aa" and out[4] == "aa"
    # docs 1 and 2 are asymmetric: their own class must win
    assert out[1] == "aa" and out[2] == "bb"


def test_bpe_tokenize_matches_local_apply(spark, sf_dir):
    # x51: per-doc token counts must equal a pure-Python application of the
    # same learned merge table, and segmentation never increases token count
    # beyond character count nor below word count.
    from presto_weather_spark.operators.text_analysis import (
        _bpe_apply,
        x43_bpe_merges,
    )
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    merges = [
        (r["left"], r["right"])
        for r in x43_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert merges
    out = {r["doc_id"]: r for r in
           all_queries()["x51_bpe_tokenize"].fn(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    assert set(out) == {r["doc_id"] for r in docs}
    for r in docs:
        words = [w for w in r["text"].lower().split() if w]
        expected = sum(len(_bpe_apply(list(w), merges)) for w in words)
        got = out[r["doc_id"]]
        assert got["n_bpe_tokens"] == expected, r["doc_id"]
        assert got["n_words"] == len(words)
        assert got["n_words"] <= got["n_bpe_tokens"] <= sum(len(w) for w in words)


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    # x53: every member of a near-dup cluster must land on the same side of
    # the split, and both sides must be non-trivial at fixture scale.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x53_leakage_safe_split"].fn(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    splits = {r["split"] for r in rows}
    assert splits == {"train", "test"}


def test_random_projection_preserves_distances(spark, sf_dir):
    # x59: JL projection with +/-1 signs and 1/sqrt(k) scaling preserves
    # pairwise squared distances in expectation — check the mean relative
    # distortion over a sample of pairs is modest (k=16 gives coarse but
    # bounded distortion), and every vector got exactly RP_OUT_DIM dims.
    import itertools
    import math

    from presto_weather_spark.operators.similarity import RP_OUT_DIM
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    rows = all_queries()["x59_random_projection"].fn(spark, sf_dir).collect()
    proj: dict[int, dict[int, float]] = {}
    for r in rows:
        proj.setdefault(r["vec_id"], {})[r["dim_out"]] = r["component"]
    assert all(len(v) == RP_OUT_DIM for v in proj.values())
    orig = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(proj)[:12]
    distortions = []
    for a, b in itertools.combinations(ids, 2):
        d_orig = math.dist(orig[a], orig[b])
        pv_a = [proj[a][d] for d in range(RP_OUT_DIM)]
        pv_b = [proj[b][d] for d in range(RP_OUT_DIM)]
        d_proj = math.dist(pv_a, pv_b)
        if d_orig > 0:
            distortions.append(abs(d_proj - d_orig) / d_orig)
    assert distortions
    mean_distortion = sum(distortions) / len(distortions)
    assert mean_distortion < 0.5, mean_distortion


def test_curation_v2_funnel_monotone(spark, sf_dir):
    # x60: each stage can only shrink every source's cohort, and the global
    # budgeted token mass respects the per-source budget by construction.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x60_curation_pipeline_v2"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["n_input"] >= r["n_quality"] >= r["n_dedup"]
            >= r["n_capped"] >= r["n_budgeted"] >= 0
        ), r


def test_lsh_banding_eval_floors(spark, sf_dir):
    # x61: the banding scheme must keep recall high (that's its job) and
    # precision non-degenerate on the audit subset.
    from presto_weather_spark.registry import all_queries

    r = all_queries()["x61_lsh_banding_eval"].fn(spark, sf_dir).collect()[0]
    assert r["n_hits"] <= min(r["n_candidates"], r["n_exact"])
    if r["n_exact"]:
        assert r["recall"] >= 0.8, r
    if r["n_candidates"]:
        assert r["precision"] >= 0.5, r


def test_sketch_set_ops_accuracy(spark, sf_dir):
    # x62: every HLL estimate (including the inclusion-exclusion
    # intersection) must sit within 10% of the exact cardinality.
    import pyspark.sql.functions as F

    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    est = {
        r["set_op"]: r["est_users"]
        for r in all_queries()["x62_sketch_set_ops"].fn(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["union"] = e.select("user_id").distinct().count()
    exact["intersection"] = (
        exact["click"] + exact["purchase"] - exact["union"]
    )
    for k in ("click", "purchase", "union", "intersection"):
        assert abs(est[k] - exact[k]) <= max(1, 0.1 * exact[k]), (k, est[k], exact[k])


def test_kcenter_radius_monotone_and_deterministic(spark, sf_dir):
    # x65: greedy farthest-point selection — the radius at each pick never
    # increases (each new center is the farthest remaining point from a
    # GROWING center set), ranks are 1..k, centers are distinct, and a
    # second run reproduces the selection exactly.
    from presto_weather_spark.operators.similarity import KCENTER_K
    from presto_weather_spark.registry import all_queries

    fn = all_queries()["x65_kcenter_coreset"].fn
    rows = sorted(
        (r["selection_rank"], r["vec_id"], r["radius_at_selection"])
        for r in fn(spark, sf_dir).collect()
    )
    assert [r[0] for r in rows] == list(range(1, KCENTER_K + 1))
    assert len({r[1] for r in rows}) == KCENTER_K
    radii = [r[2] for r in rows[1:]]  # rank 1 has radius 0 by convention
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    rows2 = sorted(
        (r["selection_rank"], r["vec_id"], r["radius_at_selection"])
        for r in fn(spark, sf_dir).collect()
    )
    assert rows == rows2


def test_ks_drift_bounds_and_self_consistency(spark, sf_dir):
    # x79: a KS statistic is a sup over CDF differences — every value must
    # land in [0, 1], every source must appear exactly once, and the n_s
    # sizes must sum to the corpus size.
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    rows = all_queries()["x79_ks_drift"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len({r["source"] for r in rows}) == len(rows)
    assert sum(r["n_s"] for r in rows) == n_docs
    for r in rows:
        assert 0.0 <= r["ks_stat"] <= 1.0, r


def test_curriculum_phases_balanced_and_total(spark, sf_dir):
    # x76: train_order must be the total sequence 1..N, phases must be
    # ntile-balanced (sizes differ by at most 1), and difficulty must be
    # non-decreasing along the train order.
    from presto_weather_spark.registry import all_queries

    rows = sorted(
        all_queries()["x76_curriculum_ordering"].fn(spark, sf_dir).collect(),
        key=lambda r: r["train_order"],
    )
    assert [r["train_order"] for r in rows] == list(range(1, len(rows) + 1))
    sizes = {}
    for r in rows:
        sizes[r["phase"]] = sizes.get(r["phase"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    diffs = [r["difficulty"] for r in rows]
    assert all(a <= b for a, b in zip(diffs, diffs[1:]))


def test_preference_pairs_gap_positive_and_distinct(spark, sf_dir):
    # x77: chosen must strictly outscore rejected (gap > 0 — equal-score
    # cells produce no usable preference and are excluded by the
    # distinct-doc guard only when scores differ), and a doc can't be
    # paired with itself.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x77_preference_pairs"].fn(spark, sf_dir).collect()
    assert rows, "expected at least one multi-doc cell"
    for r in rows:
        assert r["chosen_doc_id"] != r["rejected_doc_id"]
        assert r["chosen_score"] >= r["rejected_score"]
        assert abs(r["score_gap"] - round(r["chosen_score"] - r["rejected_score"], 6)) < 1e-9


def test_exact_quartiles_ordered(spark, sf_dir):
    # s58: q1 <= median <= q3 within every group, and the interpolated
    # values must lie inside the group's value range.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["s58_exact_quartiles"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r["q1_quantity"] <= r["median_quantity"] <= r["q3_quantity"], r


def test_star_contraction_matches_label_propagation(spark, sf_dir):
    # x80 and x02f compute the same connected components by different
    # algorithms (log-round star contraction vs diameter-round min-label
    # propagation) — their cluster assignments must agree exactly.
    from presto_weather_spark.registry import all_queries

    qs = all_queries()
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in qs["x80_cc_star_contraction"].fn(spark, sf_dir).collect()
    }
    prop = {
        r["doc_id"]: r["cluster_id"]
        for r in qs["x02f_neardup_clusters"].fn(spark, sf_dir).collect()
    }
    assert star == prop


def test_banded_stratified_sample_matches_exact(spark, sf_dir):
    # x87b computes x87's EXACT output through bucket-grain windows only
    # (hash-prefix banding + per-bucket offsets). Row-for-row equality —
    # including the reconstructed sample_rank — is the claim that makes
    # x87b a lossless scale path rather than an approximation.
    from presto_weather_spark.registry import all_queries

    qs = all_queries()
    exact = sorted(
        map(tuple, qs["x87_stratified_sample"].fn(spark, sf_dir).collect())
    )
    banded = sorted(
        map(
            tuple,
            qs["x87b_stratified_sample_banded"].fn(spark, sf_dir).collect(),
        )
    )
    assert exact == banded


def test_distributed_global_rank_matches_window(spark, sf_dir):
    # The s74 two-pass numbering (global_rank's above-the-gate path for
    # x76/x121/x128) must reproduce the single-reducer window EXACTLY on
    # any total ordering, including descending keys — this is what makes
    # the count gate a plan choice, not a semantics choice.
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from presto_weather_spark.operators._util import (
        distributed_global_rank,
        exact_ntile,
    )
    from presto_weather_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    order = [F.col("len").desc(), F.col("doc_id")]
    dist = {
        r["doc_id"]: r["rn"]
        for r in distributed_global_rank(d, order, "rn").collect()
    }
    w = Window.orderBy(*order)
    local = {
        r["doc_id"]: r["rn"]
        for r in d.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert dist == local

    # exact_ntile must equal SQL NTILE including the uneven-tail rule
    # (first n%k tiles take the extra row) — fixture n is not divisible
    # by 7, so the boundary case is exercised for real.
    n = d.count()
    assert n % 7 != 0
    cnt = d.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    mine = {
        r["doc_id"]: r["t"]
        for r in d.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(cnt))
        .withColumn("t", exact_ntile(F.col("rn"), F.col("_n"), 7))
        .collect()
    }
    ref = {
        r["doc_id"]: r["t"]
        for r in d.withColumn("t", F.ntile(7).over(w)).collect()
    }
    assert mine == ref


def test_banded_stratified_sample_lossless_under_skew(spark, tmp_path):
    # the fixture strata are balanced; this plants the condition x87b
    # exists for — 90% of docs in ONE (lang, source) stratum — and pins
    # row-for-row equality with exact x87 there (the skew_stress tool
    # measures the task-input bound; this keeps the losslessness claim
    # under regression).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from presto_weather_spark.registry import all_queries

    n = 4000
    rows = []
    for i in range(n):
        dominant = (i * 2654435761) % 10 < 9
        rows.append(
            (i, f"doc {i} text", "en" if dominant else f"l{i % 4}",
             "web" if dominant else f"s{i % 5}", 10)
        )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    qs = all_queries()
    exact = sorted(
        map(tuple, qs["x87_stratified_sample"].fn(spark, str(tmp_path)).collect())
    )
    banded = sorted(
        map(
            tuple,
            qs["x87b_stratified_sample_banded"].fn(spark, str(tmp_path)).collect(),
        )
    )
    assert exact == banded
    # the skew is real: the dominant stratum holds ~90% and its ceil(n/5)
    # keep is reflected in the output
    dom = [r for r in exact if r[1] == "en" and r[2] == "web"]
    assert len(dom) > 0.8 * len(exact)


def test_global_rank_helpers_degenerate_inputs(spark):
    # the s74 two-pass numbering must survive the shapes a gate can hand
    # it: fewer rows than partitions (most partitions empty) and n < k
    # tiles (every tile holds at most one row, matching SQL NTILE).
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from presto_weather_spark.operators._util import (
        distributed_global_rank,
        exact_ntile,
    )

    tiny = spark.createDataFrame([(3,), (1,), (2,)], "k long")
    got = {
        r["k"]: r["rn"]
        for r in distributed_global_rank(tiny, [F.col("k")], "rn").collect()
    }
    assert got == {1: 1, 2: 2, 3: 3}

    # n=3 rows into k=7 tiles: SQL NTILE gives tiles 1..3 one row each
    w = Window.orderBy("k")
    ref = {
        r["k"]: r["t"]
        for r in tiny.withColumn("t", F.ntile(7).over(w)).collect()
    }
    mine = {
        r["k"]: r["t"]
        for r in tiny.withColumn("rn", F.row_number().over(w))
        .withColumn("t", exact_ntile(F.col("rn"), F.lit(3).cast("bigint"), 7))
        .collect()
    }
    assert mine == ref == {1: 1, 2: 2, 3: 3}


def test_soft_dedup_weights_conserve_cluster_mass(spark, sf_dir):
    # x81: per-cluster weights sum to exactly 1 (up to the round-6 on the
    # stored weight), so total weight equals the number of distinct
    # clusters — soft dedup preserves one unit of mass per content piece.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x81_soft_dedup_weights"].fn(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        n = len(members)
        assert all(m["cluster_size"] == n for m in members), cid
        # n * (1e6 DIV n): truncation loses < n micro-units per cluster
        total = sum(m["sample_weight_e6"] for m in members)
        assert 1_000_000 - n < total <= 1_000_000


def test_mmr_matches_local_greedy(spark, sf_dir):
    # x98: the distributed greedy MMR must replay EXACTLY against a local
    # numpy implementation of the same objective (lambda*rel -
    # (1-lambda)*max_cos(selected), 6dp-rounded scores, (score desc,
    # vec_id asc) tie-break) — pinning both the selection order and the
    # reported per-pick scores.
    import numpy as np

    from presto_weather_spark.operators.similarity import MMR_K, MMR_LAMBDA
    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    got = (
        all_queries()["x98_mmr_diverse_topk"].fn(spark, sf_dir)
        .orderBy("rank")
        .collect()
    )
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.asarray([r["vec_id"] for r in rows])
    m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(m, axis=1)
    nrm[nrm == 0.0] = 1.0
    unit = m / nrm[:, None]
    # Replicate the operator's aggregation-order-exact anchor: Spark
    # round(v, 12) is HALF_UP over the double's shortest decimal repr
    # (BigDecimal.valueOf), then the DECIMAL(28,18) sum is exact.
    from decimal import ROUND_HALF_UP, Decimal

    def _r12(v):
        return Decimal(repr(float(v))).quantize(
            Decimal("1e-12"), rounding=ROUND_HALF_UP
        )

    anchor = np.asarray(
        [
            float(sum(_r12(unit[r, c]) for r in range(unit.shape[0])))
            for c in range(unit.shape[1])
        ]
    )
    anchor /= max(np.linalg.norm(anchor), 1e-12)

    picked: list[int] = []
    sel = np.zeros((0, unit.shape[1]))
    for rank in range(1, MMR_K + 1):
        rel = unit @ anchor
        red = (unit @ sel.T).max(axis=1) if len(sel) else np.zeros(len(unit))
        score = np.round(MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * red, 6)
        mask = ~np.isin(ids, picked)
        # argmax with (score desc, vec_id asc): lexsort on (-score, id)
        order = np.lexsort((ids[mask], -score[mask]))
        win_id = int(ids[mask][order[0]])
        g = got[rank - 1]
        assert g["vec_id"] == win_id, (rank, g["vec_id"], win_id)
        i = int(np.flatnonzero(ids == win_id)[0])
        assert abs(g["mmr_score"] - score[mask][order[0]]) < 1e-9
        assert abs(g["relevance"] - round(float(rel[i]), 6)) < 1e-9
        picked.append(win_id)
        sel = np.vstack([sel, unit[i][None, :]])

    # Diversity property: the MMR set's mean pairwise cosine is strictly
    # below the plain relevance-top-K set's (the whole point of the op).
    def mean_pair_cos(mat):
        g = mat @ mat.T
        iu = np.triu_indices(len(mat), k=1)
        return float(g[iu].mean())

    topk_rel = np.argsort(-(unit @ anchor))[:MMR_K]
    sel_idx = [int(np.flatnonzero(ids == p)[0]) for p in picked]
    assert mean_pair_cos(unit[sel_idx]) < mean_pair_cos(unit[topk_rel])


def test_quantile_sketch_rank_error(spark, sf_dir):
    # x100: every estimated quantile must land within the sketch's rank
    # error bound of the exact empirical CDF (two compaction levels at
    # m=64 -> bound ~2/64, asserted at 0.04), and the result must be
    # deterministic for a fixed partitioning.
    import numpy as np

    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    fn = all_queries()["x100_quantile_sketch"].fn
    got = fn(spark, sf_dir).collect()
    assert got, "sketch returned no rows"
    exact = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect():
        exact.setdefault(r["event_type"], []).append(r["value"])
    for et in exact:
        exact[et] = np.sort(np.asarray(exact[et], dtype=np.float64))
    for r in got:
        vals = exact[r["event_type"]]
        # empirical CDF of the estimate (right-continuous)
        rank = np.searchsorted(vals, r["est_value"], side="right") / len(vals)
        assert abs(rank - r["q"]) <= 0.04, (
            r["event_type"], r["q"], r["est_value"], rank
        )
    again = {(r["event_type"], r["q"]): r["est_value"]
             for r in fn(spark, sf_dir).collect()}
    for r in got:
        assert again[(r["event_type"], r["q"])] == r["est_value"]


def test_stream_quantile_sketch_rank_error(spark, sf_dir):
    # s14o: the streaming sketch (x100's summary as GroupState) must land
    # within the same rank-error bound as the batch sketch, per
    # event_type, for every queried quantile.
    import numpy as np

    from presto_weather_spark.registry import all_queries
    from presto_weather_spark.session import load_table

    got = all_queries()["s14o_stream_quantile_sketch"].fn(spark, sf_dir).collect()
    assert got, "streaming sketch returned no rows"
    exact = {}
    for r in load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect():
        exact.setdefault(r["event_type"], []).append(r["value"])
    for et in exact:
        exact[et] = np.sort(np.asarray(exact[et], dtype=np.float64))
    assert {r["event_type"] for r in got} == set(exact)
    for r in got:
        vals = exact[r["event_type"]]
        rank = np.searchsorted(vals, r["est_value"], side="right") / len(vals)
        assert abs(rank - r["q"]) <= 0.04, (
            r["event_type"], r["q"], r["est_value"], rank
        )


def test_heaps_cumulatives_hand_computed(spark):
    # x97 on a 3-doc corpus with known vocabulary overlap: cumulative
    # token and vocab counts must match hand-derived values, and the
    # fitted curve must reproduce a pure power law exactly when the data
    # IS one (2 points determine the line in log-log space).
    import os
    import tempfile

    from presto_weather_spark.registry import all_queries

    rows = [
        (1, "a b c d", "en", "s0", 7),          # 4 tokens, 4 new
        (2, "a b e f g h", "en", "s1", 11),     # 6 tokens, 4 new
        (3, "a a a b c d e f", "en", "s0", 15), # 8 tokens, 0 new
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_heaps_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    got = {
        r["doc_id"]: r
        for r in all_queries()["x97_heaps_law_fit"].fn(spark, out).collect()
    }
    assert (got[1]["cum_tokens"], got[1]["cum_vocab"]) == (4, 4)
    assert (got[2]["cum_tokens"], got[2]["cum_vocab"]) == (10, 8)
    assert (got[3]["cum_tokens"], got[3]["cum_vocab"]) == (18, 8)
    # all rows carry the same corpus-level fit
    assert len({(r["heaps_beta"], r["heaps_k"]) for r in got.values()}) == 1


def test_temperature_sampling_invariants(spark, sf_dir):
    # x95: sampled shares form a distribution; alpha < 1 compresses the
    # mixture (largest cell's boost < 1 < smallest cell's boost) and
    # preserves the share ORDER (temperature never inverts ranks).
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x95_temperature_sampling"].fn(spark, sf_dir).collect()
    assert abs(sum(r["sampled_share"] for r in rows) - 1.0) < 1e-4
    by_share = sorted(rows, key=lambda r: r["corpus_share"])
    assert by_share[0]["boost"] > 1.0 > by_share[-1]["boost"]
    sampled_order = [
        r["sampled_share"] for r in by_share
    ]
    assert sampled_order == sorted(sampled_order)


def test_entropy_screen_tie_and_degenerate_docs(spark):
    # x108's gate on a structurally-tied doc ("a a b b": H = ln 2 =
    # 0.5*ln(4) EXACTLY) must resolve 'keep' — both sides 6dp-round to
    # 0.693147, and '<' is strict. A one-token doc and a single repeated
    # token must both gate 'drop'; a uniform 4-distinct doc gates 'keep'.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    rows = [
        (1, "a a b b", "en", "src0", 7),           # exact-tie doc
        (2, "word", "en", "src0", 4),              # n=1 -> drop
        (3, "spam spam spam spam spam spam", "en", "src0", 29),  # H=0 -> drop
        (4, "w x y z", "en", "src0", 7),           # uniform -> keep
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_entropy_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    res = {
        r["doc_id"]: r
        for r in all_queries()["x108_token_entropy_screen"].fn(spark, out).collect()
    }
    assert res[1]["entropy_gate"] == "keep" and res[1]["token_entropy"] == 0.693147
    assert res[2]["entropy_gate"] == "drop" and res[2]["token_entropy"] == 0.0
    assert res[3]["entropy_gate"] == "drop" and res[3]["token_entropy"] == 0.0
    assert res[4]["entropy_gate"] == "keep" and res[4]["token_entropy"] == 1.386294


def test_kappa_degenerate_and_known_value(spark):
    # x107 on a corpus where both labelers agree on everything (pe=1
    # degenerate branch -> kappa 1.0 by the integer-equality guard, not a
    # 0/0 NaN), and on a hand-computed 2x2 confusion.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    q = all_queries()["x107_annotator_agreement_kappa"]
    stopword_dense = "the a an and or of to in is it"  # 10/10 stopwords -> 'en'
    gibberish = "qqq www eee rrr ttt yyy uuu iii"      # 0 stopwords -> 'other'

    # Degenerate: every doc is (en, en) -> po=pe=1 -> kappa=1.0 exactly.
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_kappa1_{uuid.uuid4().hex}")
    spark.createDataFrame(
        [(i, stopword_dense, "en", "src0", len(stopword_dense)) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    row = q.fn(spark, out).collect()[0]
    assert row["kappa"] == 1.0 and row["expected_agreement"] == 1.0

    # Known value: confusion [[2,1],[1,2]] over 6 docs -> po=2/3,
    # pe=1/2, kappa=(2/3-1/2)/(1/2)=1/3.
    rows = [
        (1, stopword_dense, "en", "src0", 1),   # (en, en)
        (2, stopword_dense, "en", "src0", 1),   # (en, en)
        (3, stopword_dense, "es", "src0", 1),   # (en, other)
        (4, gibberish, "en", "src0", 1),        # (other, en)
        (5, gibberish, "es", "src0", 1),        # (other, other)
        (6, gibberish, "fr", "src0", 1),        # (other, other)
    ]
    out2 = os.path.join(tempfile.gettempdir(), f"pws_prop_kappa2_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out2, "documents.parquet"))
    row = q.fn(spark, out2).collect()[0]
    assert (row["en_en"], row["en_other"], row["other_en"], row["other_other"]) == (2, 1, 1, 2)
    assert row["observed_agreement"] == 0.666667
    assert row["expected_agreement"] == 0.5
    assert row["kappa"] == 0.333333


def test_ccnet_buckets_order_and_mass(spark):
    # x106 tercile semantics on a 6-doc single-lang corpus: buckets
    # partition the docs 2/2/2, head's min_logprob >= middle's max, and
    # middle's min >= tail's max (head = most probable under the corpus LM).
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    common = "common " * 20
    rows = []
    for i in range(4):
        rows.append((i, common.strip(), "en", "src0", 1))
    rows.append((4, "common common rareish tokens here", "en", "src0", 1))
    rows.append((5, "utterly unseen vocabulary everywhere now", "en", "src0", 1))
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_ccnet_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    res = {
        r["ppl_bucket"]: r
        for r in all_queries()["x106_ccnet_perplexity_buckets"].fn(spark, out).collect()
    }
    assert set(res) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in res.values()) == 6
    assert res["head"]["n_docs"] == res["middle"]["n_docs"] == res["tail"]["n_docs"] == 2
    assert res["head"]["min_logprob"] >= res["middle"]["max_logprob"]
    assert res["middle"]["min_logprob"] >= res["tail"]["max_logprob"]


def test_triangle_count_planted_clique_and_chain(spark):
    # x110 on a planted corpus: docs 1-3 share one 8-token passage (a
    # 3-clique -> 1 triangle, 3 wedges per vertex pairings: transitivity
    # 3*1/3=1.0); docs 4-5 share a different passage and doc 5 shares a
    # third with doc 6 (a path -> 0 triangles, 1 wedge at doc 5).
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    a = "alpha beta gamma delta epsilon zeta eta theta"          # 8 tokens
    b = "one two three four five six seven eight"
    c = "red orange yellow green blue indigo violet ultraviolet"
    filler = ["quartz topaz opal jasper onyx agate beryl garnet pearl amber",
              "lion tiger bear wolf fox otter lynx seal hare moose",
              "oak elm ash birch cedar maple pine spruce willow alder"]
    rows = [
        (1, a + " " + filler[0], "en", "s", 1),
        (2, a + " " + filler[1], "en", "s", 1),
        (3, a + " " + filler[2], "en", "s", 1),
        (4, b + " copper nickel cobalt iron zinc tin lead mercury", "en", "s", 1),
        (5, b + " " + c, "en", "s", 1),
        (6, c + " violin cello flute oboe harp drum horn tuba", "en", "s", 1),
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_triangles_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    row = all_queries()["x110_dup_graph_triangles"].fn(spark, out).collect()[0]
    # edges: (1,2),(1,3),(2,3) from passage a; (4,5) from b; (5,6) from c
    assert row["n_edges"] == 5 and row["n_nodes"] == 6
    assert row["n_triangles"] == 1
    # wedges: clique 3 (one per vertex) + path vertex 5 contributes 1 -> 4
    assert row["n_wedges"] == 4
    assert row["transitivity_e6"] == 750000  # 3*1e6*1 DIV 4


def test_global_row_numbering_is_dense_and_ordered(spark, sf_dir):
    # s74's two-phase numbering must be a dense 1..N permutation that
    # increases with the key — byte-identical to a single-reducer
    # row_number, with no gaps or dups across partition boundaries.
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["s74_global_row_numbering"].fn(spark, sf_dir).collect()
    seqs = sorted(r["global_seq"] for r in rows)
    assert seqs == list(range(1, len(rows) + 1))
    by_key = sorted(rows, key=lambda r: r["o_orderkey"])
    assert [r["global_seq"] for r in by_key] == list(range(1, len(rows) + 1))


def test_canonicalization_planted_unicode(spark):
    # x112 on planted non-ASCII: combining-mark e + acute must NFC-compose
    # to the single codepoint, control chars become spaces and collapse,
    # and an already-clean doc reports changed = False.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    decomposed = "café menu"          # e + COMBINING ACUTE
    composed = "café menu"             # precomposed é
    dirty = "tab\there\x00null  and\x1fus"
    rows = [
        (1, decomposed, "fr", "s", len(decomposed)),
        (2, dirty, "en", "s", len(dirty)),
        (3, "already clean text", "en", "s", 18),
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_canon_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    res = {
        r["doc_id"]: r
        for r in all_queries()["x112_text_canonicalization"].fn(spark, out).collect()
    }
    assert res[1]["clean_text"] == composed and res[1]["changed"]
    assert res[1]["n_chars_after"] == res[1]["n_chars_before"] - 1
    assert res[2]["clean_text"] == "tab here null and us" and res[2]["changed"]
    assert res[3]["clean_text"] == "already clean text" and not res[3]["changed"]


def test_stream_weighted_sample_equals_batch(spark, sf_dir):
    # s14p must be BYTE-identical to batch x109 — the mergeable-top-k
    # property that justifies giving a stateful streaming operator a full
    # SQL oracle.
    from presto_weather_spark.registry import all_queries

    qs = all_queries()
    batch = sorted(
        tuple(r) for r in qs["x109_weighted_sample_aes"].fn(spark, sf_dir)
        .select("source", "doc_id", "n_chars", "aes_key", "sample_rank").collect()
    )
    stream = sorted(
        tuple(r) for r in qs["s14p_stream_weighted_sample"].fn(spark, sf_dir).collect()
    )
    assert stream == batch and len(batch) > 0


def test_banded_buckets_agree_with_exact_terciles(spark, sf_dir):
    # x106b (sketch cut points) vs x106 (exact NTILE): per-(lang, bucket)
    # doc counts may differ only by the sketch's rank error around the two
    # cuts — at accuracy 10000 and fixture sizes, by at most 1 doc.
    from presto_weather_spark.registry import all_queries

    qs = all_queries()
    exact = {
        (r["lang"], r["ppl_bucket"]): r["n_docs"]
        for r in qs["x106_ccnet_perplexity_buckets"].fn(spark, sf_dir).collect()
    }
    banded = {
        (r["lang"], r["ppl_bucket"]): r["n_docs"]
        for r in qs["x106b_ccnet_buckets_banded"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(banded)
    for k in exact:
        assert abs(exact[k] - banded[k]) <= 1, (k, exact[k], banded[k])
    assert sum(exact.values()) == sum(banded.values())


def test_rouge_decontamination_catches_paraphrase(spark):
    # x113 on a planted corpus: eval doc 0 (doc_id % 97 == 0) leaked into
    # train doc 1 with an insertion every few tokens — every 8-gram is
    # broken but the LCS covers the whole eval doc; an unrelated train doc
    # shares a blocking gram yet scores low and is NOT flagged.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    ev = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    # same 12 tokens in order with insertions every 4 tokens (so one
    # blocking 4-gram survives but longer grams break) -> LCS recall 1.0
    leak = ("alpha beta gamma delta XX epsilon zeta eta theta YY iota "
            "kappa lam mu")
    # shares the 4-gram "alpha beta gamma delta" then diverges completely
    near = ("alpha beta gamma delta quartz topaz opal jasper onyx agate "
            "beryl garnet pearl amber lion tiger")
    rows = [
        (0, ev, "en", "s", 1),
        (1, leak, "en", "s", 1),
        (2, near, "en", "s", 1),
        (3, "totally unrelated words only here nothing shared at all", "en", "s", 1),
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_rouge_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    res = {
        (r["train_id"], r["eval_id"]): r
        for r in all_queries()["x113_rouge_decontamination"].fn(spark, out).collect()
    }
    assert (1, 0) in res and res[(1, 0)]["rouge_l_recall"] == 1.0
    assert res[(1, 0)]["contaminated"]
    assert (2, 0) in res and not res[(2, 0)]["contaminated"]
    assert res[(2, 0)]["lcs_tokens"] == 4
    assert not any(t == 3 for (t, _e) in res)


def test_norm_screen_flags_planted_outliers(spark):
    # x117 on a planted embedding table: many unit-ish vectors, one
    # near-zero (encoder failure) and one huge — both must flag 'outlier'
    # with opposite z signs; the bulk stays 'ok'.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    rows = [(i, [1.0, 0.0, 0.0, 0.0], i % 3) for i in range(40)]
    rows.append((100, [0.001, 0.0, 0.0, 0.0], 0))   # near-zero norm
    rows.append((101, [2.0, 0.0, 0.0, 0.0], 1))     # doubled norm
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_normscreen_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    res = {
        r["vec_id"]: r
        for r in all_queries()["x117_embedding_norm_screen"].fn(spark, out).collect()
    }
    assert res[100]["norm_flag"] == "outlier" and res[100]["z_score"] < 0
    assert res[101]["norm_flag"] == "outlier" and res[101]["z_score"] > 0
    assert all(res[i]["norm_flag"] == "ok" for i in range(40))


def test_norm_screen_constant_corpus_defines_z_zero(spark, sf_dir):
    # The fixture embeddings are unit-normalized -> std 0: every z must be
    # exactly 0.0 and nothing flags (the degenerate-guard branch).
    from presto_weather_spark.registry import all_queries

    rows = all_queries()["x117_embedding_norm_screen"].fn(spark, sf_dir).collect()
    assert rows and all(r["z_score"] == 0.0 and r["norm_flag"] == "ok" for r in rows)


def test_mmr_local_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    # x98: the driver-local greedy (taken whenever the table fits the
    # driver, i.e. in every test and bench run) must be row-identical to
    # the distributed per-round path. DRIVER_ROWS = 0 sends the PUBLIC
    # entry point down the distributed branch, so the gate's branch runs.
    from presto_weather_spark.operators import _util
    from presto_weather_spark.registry import all_queries

    fn = all_queries()["x98_mmr_diverse_topk"].fn
    local = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    monkeypatch.setattr(_util, "DRIVER_ROWS", 0)
    dist = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert local == dist and len(local) > 0


def test_split_ngram_leakage_short_docs(spark):
    # x142 regression (round-7 ADVICE, high): a doc with < 8 whitespace
    # tokens used to crash the gram generator — Spark's sequence(1, 0)
    # steps DOWNWARD to [1, 0] and slice(ws, 0, 8) raises
    # INVALID_PARAMETER_VALUE.START. Short docs must contribute zero
    # grams, matching DuckDB's empty generate_series(1, 0).
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    long_doc = " ".join(f"w{i}" for i in range(12))   # 12 tokens -> 5 grams
    rows = [
        (1, "tiny", "en", "s", 4),                    # 1 token
        (2, "a b c d e f g", "en", "s", 13),          # 7 tokens (= N-1)
        (3, long_doc, "en", "s", len(long_doc)),
        (4, long_doc, "fr", "s", len(long_doc)),      # duplicate content
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_leak_short_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    # Must not raise; every reported gram count comes from the >= 8-token
    # docs only (5 grams each at most, per language that landed in test).
    res = all_queries()["x142_split_ngram_leakage"].fn(spark, out).collect()
    for r in res:
        assert 0 <= r["n_leaked"] <= r["n_test_grams"] <= 5


# (round 8) test_fixture_documents_are_ascii retired: the x05f/x05g/x146
# oracles now stream utf-8 BYTES via hex(encode(text)), so they no longer
# assume ASCII fixtures — non-ASCII parity is proven directly in
# tests/test_multimodal_bytes.py on a planted multi-byte corpus.


def test_bitext_mining_empty_target_slice(spark):
    # x144 regression (round-7 ADVICE): a corpus with no target-language
    # (fr) documents is valid input — the oracle's CROSS JOIN yields zero
    # pairs — but np.stack([]) used to raise ValueError and fail the
    # whole query. Must return an empty frame with the output schema.
    from presto_weather_spark.registry import all_queries
    import os
    import tempfile

    rows = [(i, f"english only doc {i}", "en", "s", 20) for i in range(6)]
    emb = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_bitext_empty_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    res = all_queries()["x144_margin_bitext_mining"].fn(spark, out)
    assert res.columns == ["src_id", "tgt_id", "cosine_sim", "margin"]
    assert res.count() == 0


def test_twonn_sample_gate_is_deterministic(spark, monkeypatch):
    # x94's size gate: when the table does not fit the driver (more than
    # DRIVER_ROWS rows) the estimator runs on a deterministic
    # md5-rank sample. Pin (a) membership is a pure function of vec_id
    # (identical under different partitionings and across runs), (b) it
    # matches an independently computed md5-rank top-n, and (c) the gated
    # x94 output on the sampled corpus equals x94 run directly on a
    # corpus that contains only the sample members.
    import hashlib
    import os
    import tempfile

    from presto_weather_spark.operators import _util
    from presto_weather_spark.operators import similarity as sim
    from presto_weather_spark.registry import all_queries

    rows = [
        (i, [float((i * 7 + j * 3) % 13), float((i * 5 + j) % 11), float(i % 7), 1.0])
        for i in range(120)
        for j in [0]
    ]
    out = os.path.join(tempfile.gettempdir(), f"pws_prop_twonn_gate_{uuid.uuid4().hex}")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # (b) expected membership: md5("twonn:" + vec_id) rank, ties by id
    def key(i):
        return hashlib.md5(f"twonn:{i}".encode()).hexdigest()

    expect = set(sorted(range(120), key=lambda i: (key(i), i))[:50])

    emb = spark.read.parquet(os.path.join(out, "embeddings.parquet"))
    got1 = {r["vec_id"] for r in sim._twonn_sample(emb, 50).collect()}
    got2 = {
        r["vec_id"]
        for r in sim._twonn_sample(emb.repartition(7, "vec_id"), 50).collect()
    }
    assert got1 == got2 == expect

    # (c) gate trips at limit 50: gated run == direct run on the members
    monkeypatch.setattr(_util, "DRIVER_ROWS", 50)
    gated = sorted(
        tuple(r) for r in all_queries()["x94_twonn_intrinsic_dim"].fn(spark, out).collect()
    )
    assert len(gated) == 50
    sub = os.path.join(tempfile.gettempdir(), f"pws_prop_twonn_gate_sub_{uuid.uuid4().hex}")
    spark.createDataFrame(
        [r for r in rows if r[0] in expect], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sub, "embeddings.parquet")
    )
    monkeypatch.setattr(_util, "DRIVER_ROWS", 100_000)
    direct = sorted(
        tuple(r) for r in all_queries()["x94_twonn_intrinsic_dim"].fn(spark, sub).collect()
    )
    assert gated == direct


def test_fixture_values_nonnegative():
    # Pin the positivity assumption behind every cents-DIV-100 floor
    # rewrite (r09_12, s11, x141's guard class): if a future fixture
    # regeneration introduces negative readings/prices, this fails
    # loudly HERE rather than via the in-query raise_error mid-audit.
    import glob
    import os

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        base = f"/root/testdata/{sf}"
        if not glob.glob(os.path.join(base, "events.parquet")):
            continue
        con = duckdb.connect()
        neg_events = con.execute(
            f"SELECT count(*) FROM '{base}/events.parquet' WHERE value < 0"
        ).fetchone()[0]
        neg_prices = con.execute(
            f"SELECT count(*) FROM '{base}/lineitem.parquet'"
            " WHERE l_extendedprice < 0"
        ).fetchone()[0]
        con.close()
        assert neg_events == 0, f"{sf}: negative events.value"
        assert neg_prices == 0, f"{sf}: negative l_extendedprice"


def test_kcenter_local_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    # x65: the driver-local greedy (taken whenever the table fits the
    # driver, i.e. in every test and bench run) must be row-identical to the
    # distributed per-round path. DRIVER_ROWS = 0 sends the PUBLIC entry
    # point down the distributed branch — the branch itself executes, not
    # just the helper.
    import presto_weather_spark.operators.similarity as sim
    from presto_weather_spark.operators import _util
    from presto_weather_spark.registry import all_queries

    fn = all_queries()["x65_kcenter_coreset"].fn
    local = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    monkeypatch.setattr(_util, "DRIVER_ROWS", 0)
    dist = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert local == dist
    assert len(local) == sim.KCENTER_K
    # the coverage radius is non-increasing in selection rank on BOTH paths
    radii = [r[2] for r in sorted(local)][1:]  # rank 1 logs 0.0 by protocol
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii


def test_textrank_local_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    # x92: the 8-round distributed power iteration (vocab-graph joins) must
    # reproduce the driver-local fsum iteration byte-for-byte — both
    # quantize each round to 12dp, so exact agreement is the contract, not
    # a tolerance. x43's distributed merge loop (one mapInPandas pair count
    # per round) must pick the same merges as the driver-local loop.
    # DRIVER_ROWS = 0 sends each PUBLIC entry point down its distributed
    # branch.
    from presto_weather_spark.operators import _util
    from presto_weather_spark.registry import all_queries

    for key in ("x92_textrank_keywords", "x43_bpe_merges"):
        fn = all_queries()[key].fn
        local = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        with monkeypatch.context() as m:
            m.setattr(_util, "DRIVER_ROWS", 0)
            dist = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        assert local == dist and len(local) > 0, key


@given(
    st.integers(min_value=0, max_value=10**7),
    st.integers(min_value=1, max_value=10**7),
)
def test_half_away_div_identity(a, b):
    # The round-9 integer-rational convention (x94 mu, x93 weights, x02g
    # jaccard_e6): (2*a*s + b) DIV (2*b) must equal half-away-from-zero
    # rounding of the exact rational a*s/b — including EXACT .5 ties,
    # where float round() would be engine-rule roulette.
    from fractions import Fraction

    s = 10**6
    got = (2 * a * s + b) // (2 * b)
    q = Fraction(a * s, b)
    floor_q = q.numerator // q.denominator
    frac = q - floor_q
    want = floor_q + (1 if frac >= Fraction(1, 2) else 0)
    assert got == want, (a, b, got, want)


def test_scalar_quantization_exact_half_boundary(spark, tmp_path):
    # x03e's quantizer at the EXACT half-integer grid point: v = amax/2
    # gives q = 63.5 precisely — the case the trunc(q +- 0.5) rewrite
    # exists for. Both engines must produce identical rows (driver-style
    # comparison) on a planted-boundary corpus, positive and negative.
    import os

    import duckdb

    from presto_weather_spark.registry import all_queries

    # amax = 2.0; v values hit 63.5 (2->1), -63.5 (2->-1), 31.75, 0
    rows = [
        (0, [2.0, 1.0, -1.0, 0.5, 0.0, 1.0, 1.0, 1.0]),
        (1, [4.0, 2.0, -2.0, 1.0, 3.0, 0.0, 2.0, 2.0]),
        (2, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # amax = 0 path
    ]
    out = str(tmp_path / "pws_prop_sq_boundary")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    q = all_queries()["x03e_scalar_quantization"]
    sdf = q.fn(spark, out).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{out}/embeddings.parquet/*.parquet')"
    )
    # the oracle divides by 64 (fixture dim) in rmse; planted dim is 8 —
    # compare the dim-independent columns only
    ddf = con.execute(q.oracle).fetchdf()
    con.close()
    key = ["vec_id", "amax", "sq_err"]

    def norm(df):
        return sorted(
            tuple("NaN" if v != v else v for v in r)
            for r in df[key].itertuples(index=False, name=None)
        )

    assert norm(sdf) == norm(ddf), (norm(sdf), norm(ddf))


def test_banding_recall_gate_fires_when_floor_unreachable(spark, sf_dir, monkeypatch):
    # x02g's in-engine gate is the key's entire fidelity claim — prove the
    # raise branch EXECUTES (not just exists) by making the floor
    # unsatisfiable (> 100% recall required) and expecting the loud error.
    import presto_weather_spark.operators.dedup as dd
    from presto_weather_spark.registry import all_queries

    import pytest as _pytest

    monkeypatch.setattr(dd, "X02G_RECALL_NUM", 11)
    monkeypatch.setattr(dd, "X02G_RECALL_DEN", 10)
    with _pytest.raises(ValueError, match="banding recall gate"):
        all_queries()["x02g_banding_recall_gate"].fn(spark, sf_dir).collect()


def test_ann_recall_gates_fire_when_floor_unreachable(spark, sf_dir, monkeypatch):
    # The x03b/x03d/x03f in-engine recall gates (round-9 verdict task #1,
    # the x02g pattern): prove each raise branch EXECUTES by making the
    # floor unsatisfiable (> 100% recall required) and expecting the loud
    # error through the public entry point. sf0.001 carries
    # N_QUERIES x TOP_K = 40 exact pairs >= the gate's MIN_SUPPORT, so the
    # gate is live there.
    import presto_weather_spark.operators.similarity as sim
    from presto_weather_spark.registry import all_queries

    import pytest as _pytest

    monkeypatch.setattr(sim, "X03_ANN_RECALL_NUM", 11)
    monkeypatch.setattr(sim, "X03_ANN_RECALL_DEN", 10)
    for key in ("x03b_lsh_ann_topk", "x03d_ivf_ann_topk", "x03f_pq_ann_topk"):
        with _pytest.raises(ValueError, match="ann recall gate"):
            all_queries()[key].fn(spark, sf_dir).collect()


def test_display_floor_guard_fires_on_negative_reading(spark, tmp_path):
    # r09_12's positivity guard: a negative reading must raise loudly, not
    # silently shift floor(-3.5) = -4 to trunc = -3 (both engines would
    # move together, invisible to the parity hash — the guard is the only
    # detector). Planted via a one-row events table.
    import os

    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from presto_weather_spark.registry import all_queries

    out = str(tmp_path / "pws_prop_neg_events")
    spark.createDataFrame(
        [(1, "reading", -3.5, '{"k": 1}', "2026-01-01 00:00:00")],
        "event_id long, event_type string, value double, props string, ts string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value", "props",
        "CAST(1 AS LONG) AS user_id",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    with _pytest.raises(Exception, match="r09_12"):
        all_queries()["r09_12_display_formatting"].fn(spark, out).collect()


def test_price_floor_guard_fires_on_negative_price(spark, tmp_path):
    # s11's twin of the r09_12 guard, planted through a minimal lineitem.
    import os

    import pytest as _pytest

    from presto_weather_spark.registry import all_queries

    out = str(tmp_path / "pws_prop_neg_lineitem")
    spark.createDataFrame(
        [(1, 1, -10.5, 0.05, 5.0, 0.04)],
        "l_orderkey long, l_linenumber int, l_extendedprice double, "
        "l_discount double, l_quantity double, l_tax double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )
    with _pytest.raises(Exception, match="s11"):
        all_queries()["s11_math_functions"].fn(spark, out).collect()


def test_wap_failed_audit_keeps_previous_version(spark, tmp_path):
    # s41's audit-fail branch executed: a dirty candidate must abort
    # BEFORE publish, and a previously published version must survive
    # byte-for-byte (consumers see old-or-new, never a mix, never a loss).
    import os

    import pytest as _pytest

    from presto_weather_spark.operators.relational import wap_publish

    base = str(tmp_path / "pws_prop_wap")
    staging, published = f"{base}/staging", f"{base}/published"
    clean = spark.createDataFrame(
        [(1, 1, "click", 2.5)], "event_id long, user_id long, event_type string, value double"
    )
    first = wap_publish(spark, clean, staging, published)
    assert first.count() == 1

    dirty = spark.createDataFrame(
        [(2, 1, "click", -1.0)], "event_id long, user_id long, event_type string, value double"
    )
    with _pytest.raises(ValueError, match="not publishing"):
        wap_publish(spark, dirty, staging, published)
    # previous version intact; staging left for forensics
    survivors = spark.read.parquet(published).collect()
    assert [tuple(r) for r in survivors] == [(1, 1, "click", 2.5)]
    assert os.path.isdir(staging)


def test_calibration_guard_fires_on_degenerate_vocabulary(spark, tmp_path):
    # x141's avg_logprob >= 0 guard: a single-token vocabulary makes every
    # token probability 1.0 -> ln = 0 -> bin 0 would be double-width under
    # truncating DIV. The guard must turn that corpus into a loud error.
    import os

    import pytest as _pytest

    from presto_weather_spark.registry import all_queries

    out = str(tmp_path / "pws_prop_x141_degen")
    rows = [(i, "a", "en", "web", 1) for i in range(10)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    with _pytest.raises(Exception, match="x141"):
        all_queries()["x141_score_calibration"].fn(spark, out).collect()


def test_geocode_miss_fails_fast_when_asked(spark):
    # open_meteo's reference-parity fail-fast (weather.py:50-51): an
    # unknown place in replay mode with fail_on_empty must raise, not
    # return an empty frame.
    import pytest as _pytest

    from presto_weather_spark.sources.open_meteo import register_open_meteo

    register_open_meteo(spark)
    with _pytest.raises(Exception, match="Could not find location"):
        (
            spark.read.format("open_meteo")
            .option("endpoint", "geocoding")
            .option("name", "Nowhereville")
            .option("country_code", "ZZ")
            .option("fail_on_empty", "true")
            .load()
            .collect()
        )
