"""Driver-exact parity on degenerate TEXT values (round-11 advisor finds).

The n ∈ {0, 1, 2} corpus sweeps (test_empty_corpus.py) shrink the corpus;
this suite degenerates individual VALUES inside a normal-sized corpus —
the other thing 100-TB shard boundaries actually produce:

- zero-token documents (empty string, whitespace-only): the round-11
  advisor claimed the DuckDB oracles emit ONE empty-string gram for such
  docs (pairing two of them) while _hashed_gram_stream emits nothing — a
  DuckDB probe DISPROVED the oracle half: array_to_string(list_slice(
  toks, i, i+2), ' ') over an empty token list is NULL (not '') and the
  enclosing list_distinct drops NULLs, so the oracle emits ZERO grams
  for a zero-token doc, exactly like the posexplode stream. (It was the
  round-9 STRING builders, whose concat_ws yields '', that silently
  diverged; round 10 fixed that by accident.) Pinned here: empty docs
  pair with NOTHING on both sides.
- NULL text: a NULL score must not win an argmax — DuckDB's row_number
  sorts NULLS LAST in both directions, while a NULL struct field is
  SMALLEST under Spark's min(struct(...)), so an un-coalesced ordering
  key steals the extreme (advisor x77 find; x144 already guarded).

Each case plants the degenerate texts into a copy of the sf0.001 fixture
(doc_id < 2000, inside x02g's audit subset) and runs the EXACT driver
comparison (rows + schema + normalized values, conftest.driver_norm)
against the DuckDB oracle for the affected keys.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from conftest import driver_norm

# keys whose oracles consume documents.text and are sensitive to the
# degenerate values planted here
GRAM_KEYS = (
    "x02g_banding_recall_gate",
    "x96_editdist_verified_pairs",
    "x110_dup_graph_triangles",
    "x115_dedup_threshold_sensitivity",
)
ARGMAX_KEYS = ("x77_preference_pairs",)


@pytest.fixture(scope="module")
def degenerate_dir(spark, sf_dir, tmp_path_factory) -> str:
    """sf0.001 with planted degenerate text: two empty docs, two
    whitespace-only docs (all zero-token after the non-empty filter), two
    NULL-text docs, and two identical docs of seven words after leading
    whitespace — all under doc_id 2000 so x02g's audit subset sees them.
    The last pair is one token short of an 8-token containment gram, so it
    may share a gram only if the leading empty token is kept."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("pws_degen_text"))
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "embeddings",
    ):
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            os.makedirs(dst, exist_ok=True)
            shutil.copy(src, os.path.join(dst, "part-0.parquet"))
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    text = (
        F.when(F.col("doc_id").isin(11, 13), F.lit(""))
        .when(F.col("doc_id").isin(17, 19), F.lit(" \t  "))
        .when(F.col("doc_id").isin(23, 29), F.lit(None).cast("string"))
        .when(
            F.col("doc_id").isin(31, 37),
            F.lit("  alpha beta gamma delta epsilon zeta eta"),
        )
        .otherwise(F.col("text"))
    )
    d.withColumn("text", text).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _oracle_con(out: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(out, t + '.parquet')}/*.parquet')"
        )
    return con


@pytest.mark.parametrize("key", GRAM_KEYS + ARGMAX_KEYS)
def test_degenerate_text_driver_parity(spark, degenerate_dir, key):
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries()[key]
    oracle = entry_mod.oracle_sql()[key]
    sdf = fn(spark, degenerate_dir).toPandas()
    con = _oracle_con(degenerate_dir)
    try:
        ddf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    assert len(sdf) == len(ddf), f"{key}: {len(sdf)} rows vs oracle {len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert driver_norm(sdf) == driver_norm(ddf), f"{key}: values diverge"


def test_empty_docs_pair_with_nothing(spark, degenerate_dir):
    """Zero-token and NULL-text docs contribute no grams on either side
    (the probe-verified semantics above), so none of the planted doc_ids
    may appear in x02g's exact pair set."""
    import __spark_entry__ as entry_mod

    sdf = (
        entry_mod.queries()["x02g_banding_recall_gate"](spark, degenerate_dir)
        .toPandas()
    )
    planted = {11, 13, 17, 19, 23, 29}
    touched = (set(int(a) for a in sdf.doc_a) | set(int(b) for b in sdf.doc_b)) & planted
    assert not touched, f"planted degenerate docs appear in pairs: {touched}"
