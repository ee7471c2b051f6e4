"""End-to-end training-corpus curation pipeline (X21) — the composite that
chains the individual X-series stages the way a production data pipeline
would: quality gate -> exact dedup -> near-dup (duplicated-span) gate ->
per-language yield report.

Reference precedent: the reference's whole program is itself a composed
pipeline (fetch -> extract -> classify -> format -> render,
/root/reference/weather.py:324-333); this is the corpus-scale analogue.

Scale design: every stage is a scan-side predicate or a high-cardinality
shuffle (md5 keys, chunk hashes); stages fuse into ~3 shuffles total.
Nothing is collected to the driver; the final report is lang-cardinality
rows. At 100 TB the same plan holds — the chunk-frequency aggregate is the
only stage whose state grows with corpus size, and it shards by hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.operators._util import (
    GLOBAL_RANK_LOCAL_LIMIT,
    SQL_TOKENS,
    distributed_global_rank,
    exact_ntile,
    materialize,
    spread,
    tokens,
)
from presto_weather_spark.operators.dedup import CHUNK_LEN
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table

MIN_CHARS = 100  # quality gate: minimum document length
MAX_DUP_RATIO_DEN = 4  # near-dup gate: keep while dup chunks <= 1/4 of chunks


@register(
    "x21_corpus_pipeline",
    oracle=f"""
WITH quality AS (
  SELECT doc_id, lang, text
  FROM documents
  WHERE n_chars >= {MIN_CHARS}
),
exact AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality
  ) r WHERE rn = 1
),
ch AS (
  SELECT doc_id, md5(substr(text, CAST(s AS INT), {CHUNK_LEN})) AS h
  FROM exact,
       unnest(generate_series(1, greatest(len(text), 1), {CHUNK_LEN})) AS t(s)
),
freq AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY h),
ratio AS (
  SELECT ch.doc_id,
         CAST(count(*) FILTER (freq.n_docs > 1) AS BIGINT) AS dup_n,
         CAST(count(*) AS BIGINT) AS tot_n
  FROM ch JOIN freq USING (h)
  GROUP BY ch.doc_id
),
kept AS (
  SELECT e.doc_id, e.lang, e.text
  FROM exact e JOIN ratio USING (doc_id)
  WHERE ratio.dup_n * {MAX_DUP_RATIO_DEN} <= ratio.tot_n
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS docs_in,
       CAST(count(k.doc_id) AS BIGINT) AS docs_kept,
       round(count(k.doc_id) * 1.0 / count(*), 4) AS keep_rate,
       CAST(coalesce(SUM(len(string_split_regex(trim(k.text), '\\s+'))), 0)
            AS BIGINT) AS tokens_kept
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY d.lang
""",
    doc="X21: composite corpus-curation pipeline — length-based quality "
    "gate, deterministic exact dedup (md5 + windowed survivor), "
    "duplicated-span gate (X19's chunk profile as a filter), then a "
    "per-language yield report (docs in/kept, keep rate, surviving "
    "tokens). The judged composite proving the X-series stages compose "
    "into one Catalyst plan.",
)
def x21_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")

    quality = d.filter(F.col("n_chars") >= MIN_CHARS).select("doc_id", "lang", "text")

    # Round-10 optimization (the r14/x01 move): the md5-keyed survivor
    # window (exchange + sort of every quality-surviving doc WITH its
    # text) becomes a map-side-combinable min(struct(doc_id, lang, text))
    # per text hash — identical survivor (lowest doc_id; doc_id unique,
    # so the carried lang/text never tip a comparison).
    exact = (
        quality.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min(
                F.struct(
                    F.col("doc_id").alias("doc_id"),
                    F.col("lang").alias("lang"),
                    F.col("text").alias("text"),
                )
            ).alias("m")
        )
        .select("m.doc_id", "m.lang", "m.text")
        # the chunk profile and the final keep-join read it
        .transform(materialize, "reused")
    )

    starts = F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_LEN))
    ch = exact.select("doc_id", "text", F.explode(starts).alias("s")).select(
        "doc_id", F.md5(F.col("text").substr(F.col("s"), F.lit(CHUNK_LEN))).alias("h")
    )
    # Single-consumption profile (the x73/x84 pattern): rolling the
    # (h, doc_id) partial first makes count() OVER (PARTITION BY h) equal
    # the distinct-doc frequency, so the old freq-aggregate + join-back —
    # which read the chunk table twice and needed a checkpoint — collapses
    # into a linear groupBy -> window -> groupBy chain, no join.
    per_pair = ch.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup_c = F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(0))
    ratio = (
        per_pair.withColumn("nd", nd)
        .groupBy("doc_id")
        # integer gate: dup/tot <= 1/4 <=> 4*dup <= tot (no float quotient)
        .agg(dup_c.alias("dup_n"), F.sum("c").alias("tot_n"))
    )
    kept = (
        exact.join(ratio, "doc_id")
        .filter(F.col("dup_n") * MAX_DUP_RATIO_DEN <= F.col("tot_n"))
        .select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"))
    )

    return (
        d.join(kept, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.count("n_tokens").alias("docs_kept"),
            F.round(F.count("n_tokens") / F.count(F.lit(1)), 4).alias("keep_rate"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias("tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# X60 — curation pipeline v2 (round-3 stages fused into one plan)
# ---------------------------------------------------------------------------

V2_MIN_CHARS = 50
V2_CELL_CAP = 10
V2_TOKEN_BUDGET = 600


@register(
    "x60_curation_pipeline_v2",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars, text,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
quality AS (SELECT * FROM base WHERE n_chars >= {V2_MIN_CHARS}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY lang, source
      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS cap_rk
    FROM dedup
  ) WHERE cap_rk <= {V2_CELL_CAP}
),
budgeted AS (
  SELECT * FROM (
    SELECT *, SUM(n_tok) OVER (
      PARTITION BY source
      ORDER BY md5('budget:' || CAST(doc_id AS VARCHAR)), doc_id
      ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM capped
  ) WHERE cum_tok <= {V2_TOKEN_BUDGET}
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dedup,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_capped,
       CAST(SUM(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_budgeted
FROM base b
LEFT JOIN quality q ON q.doc_id = b.doc_id
LEFT JOIN dedup d ON d.doc_id = b.doc_id
LEFT JOIN capped c ON c.doc_id = b.doc_id
LEFT JOIN budgeted g ON g.doc_id = b.doc_id
GROUP BY b.source
""",
    doc="X60: CURATION PIPELINE v2 — the round-3 stages composed into one "
    "fused plan with per-stage yield accounting: quality gate "
    "(min-chars) -> exact dedup (md5 keep-lowest, x34's survivor rule "
    "simplified) -> per-cell doc cap (x57) -> per-source token budget "
    "(x46), reported as a per-source funnel (n_input -> n_quality -> "
    "n_dedup -> n_capped -> n_budgeted). The yield report is how a "
    "curation run is actually reviewed — which stage costs which "
    "source how much — and the funnel monotonicity is asserted in "
    "tests/test_properties.py. Plan: because the stages NEST "
    "(budgeted c= capped c= dedup c= quality), each stage's "
    "membership is a conditional cumulative window over the previous "
    "stage's flag — no row is ever filtered out and no stage is "
    "re-computed, so the whole funnel is ONE linear plan: a single "
    "scan, three window shuffles (dup-key, cell, source), one final "
    "rollup, zero joins (the earlier stage-flag formulation re-ran "
    "the chain once per accounting join — 5 scans + 4 joins). "
    "Companion to x21 (round-1 pipeline: quality/dup-span/lang "
    "yield).",
)
def x60_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "text",
        F.size(tokens()).cast("bigint").alias("n_tok"),
    )
    q = (F.col("n_chars") >= V2_MIN_CHARS).cast("int")
    # Survivor rank among quality rows only = cumulative sum of the q flag
    # in doc_id order; the first quality row of a text-hash partition has
    # rank 1 — identical to row_number over the quality-filtered frame.
    w_dup = (
        Window.partitionBy(F.md5("text"))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = base.withColumn("q", q).withColumn(
        "d", ((F.col("q") == 1) & (F.sum("q").over(w_dup) == 1)).cast("int")
    )
    w_cap = (
        Window.partitionBy("lang", "source")
        .orderBy(F.md5(F.concat_ws(":", F.lit("cap"), F.col("doc_id"))), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = flagged.withColumn(
        "c",
        (
            (F.col("d") == 1) & (F.sum("d").over(w_cap) <= V2_CELL_CAP)
        ).cast("int"),
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.concat_ws(":", F.lit("budget"), F.col("doc_id"))), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_tok_c = F.sum(F.when(F.col("c") == 1, F.col("n_tok")).otherwise(F.lit(0))).over(
        w_budget
    )
    flagged = flagged.withColumn(
        "g", ((F.col("c") == 1) & (cum_tok_c <= V2_TOKEN_BUDGET)).cast("int")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum("q").alias("n_quality"),
        F.sum("d").alias("n_dedup"),
        F.sum("c").alias("n_capped"),
        F.sum("g").alias("n_budgeted"),
    )


# ---------------------------------------------------------------------------
# X75 — chat-template assembly (SFT record rendering)
# ---------------------------------------------------------------------------

SFT_SYSTEM = "You are a helpful assistant."
SFT_COMPLETION_CHARS = 200


@register(
    "x75_chat_template_assembly",
    oracle=f"""
SELECT doc_id,
       3 AS n_turns,
       '<|system|>' || chr(10) || '{SFT_SYSTEM}' || chr(10) ||
       '<|user|>' || chr(10) ||
         'Summarize the following ' || lang || ' document from ' || source
         || '.' || chr(10) ||
       '<|assistant|>' || chr(10) || substr(text, 1, {SFT_COMPLETION_CHARS})
         AS rendered,
       CAST(len('<|system|>' || chr(10) || '{SFT_SYSTEM}' || chr(10) ||
       '<|user|>' || chr(10) ||
         'Summarize the following ' || lang || ' document from ' || source
         || '.' || chr(10) ||
       '<|assistant|>' || chr(10) || substr(text, 1, {SFT_COMPLETION_CHARS}))
         AS BIGINT) AS rendered_chars
FROM documents
WHERE n_chars >= 50
""",
    doc="X75: CHAT-TEMPLATE ASSEMBLY — render supervised-fine-tuning "
    "records from raw corpus rows: a fixed system turn, a metadata-"
    "derived user instruction, and a truncated document body as the "
    "assistant completion, joined with role sentinel tokens into the "
    "flat string a tokenizer consumes. This is the format boundary "
    "between data curation and training — every SFT/chat corpus ships "
    "through a deterministic renderer exactly like this, and template "
    "drift (a stray space after a sentinel) silently changes every "
    "token id downstream, which is why the render is pure column "
    "concatenation, byte-stable across engines and partitionings. "
    "Scale: scan-side projection only — no shuffle, no UDF; the "
    "template literals fold into codegen constants.",
)
def x75_chat_template_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 50)
    nl = F.lit("\n")
    rendered = F.concat(
        F.lit("<|system|>"), nl, F.lit(SFT_SYSTEM), nl,
        F.lit("<|user|>"), nl,
        F.lit("Summarize the following "), F.col("lang"),
        F.lit(" document from "), F.col("source"), F.lit("."), nl,
        F.lit("<|assistant|>"), nl,
        F.substring("text", 1, SFT_COMPLETION_CHARS),
    )
    return d.select(
        "doc_id",
        F.lit(3).alias("n_turns"),
        rendered.alias("rendered"),
        F.length(rendered).cast("bigint").alias("rendered_chars"),
    )


# ---------------------------------------------------------------------------
# X76 — curriculum ordering (difficulty phases for staged training)
# ---------------------------------------------------------------------------

CURRICULUM_PHASES = 4


@register(
    "x76_curriculum_ordering",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         round(CAST(n_chars AS DOUBLE) /
               greatest(len({SQL_TOKENS}), 1), 4) AS difficulty
  FROM documents
)
SELECT doc_id, source, difficulty,
       CAST(ntile({CURRICULUM_PHASES})
              OVER (ORDER BY difficulty, doc_id) AS INT) AS phase,
       CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT)
         AS train_order
FROM scored
""",
    doc="X76: CURRICULUM ORDERING — stage training data easy-to-hard: "
    "score each document's difficulty (mean chars per token — longer "
    "words read harder; any scalar difficulty model drops in), assign "
    "a global easy-first train_order, and cut the corpus into "
    "equal-size curriculum phases with ntile. Ties break on doc_id so "
    "the ordering is total and reproducible — a curriculum that "
    "reshuffles between runs invalidates checkpoint comparisons. "
    "Scale note: the global ORDER BY is a total sort (range "
    "partitioner, no single-reducer bottleneck), the honest cost of a "
    "global curriculum; train_order rides the count-gated global_rank "
    "(_util.py) — above 1M docs the s74 two-pass numbering assigns the "
    "EXACT order with no task sorting the corpus, and the phase cut is "
    "recomputed exactly from (rank, count), not a sketch. Equivalence "
    "pinned in tests/test_properties.py.",
)
def x76_curriculum_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.greatest(F.size(tokens()), F.lit(1))
    scored = d.select(
        "doc_id",
        "source",
        F.round(F.col("n_chars").cast("double") / n_tok, 4).alias("difficulty"),
    )
    # round 8: the global curriculum order moves onto the count-gated
    # global_rank (single-task window under 1M rows, the s74 two-pass
    # numbering above — no task ever sorts a 100-TB corpus), and NTILE is
    # recomputed exactly from (rank, count) so the phase cut is
    # path-independent. Identical output either way; equivalence pinned in
    # tests/test_properties.py.
    # ONE count drives both the path gate and the exact-ntile denominator
    scored = materialize(scored, "reused")  # count + rank both read it
    n_rows = scored.count()
    order = [F.col("difficulty"), F.col("doc_id")]
    if n_rows <= GLOBAL_RANK_LOCAL_LIMIT:
        ranked = scored.withColumn(
            "train_order", F.row_number().over(Window.orderBy(*order)).cast("bigint")
        )
    else:
        ranked = distributed_global_rank(scored, order, "train_order")
    return ranked.select(
        "doc_id",
        "source",
        "difficulty",
        exact_ntile(
            F.col("train_order"), F.lit(n_rows).cast("bigint"), CURRICULUM_PHASES
        ).alias("phase"),
        F.col("train_order").cast("bigint").alias("train_order"),
    )


# ---------------------------------------------------------------------------
# X77 — preference-pair assembly (DPO/RLHF chosen-vs-rejected construction)
# ---------------------------------------------------------------------------


@register(
    "x77_preference_pairs",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source, lang,
         round(CAST(len(list_distinct({SQL_TOKENS}))
               AS DOUBLE) /
               greatest(len({SQL_TOKENS}), 1), 6) AS score
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY score DESC, doc_id) AS rk_best,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY score ASC, doc_id) AS rk_worst
  FROM scored
)
SELECT b.source, b.lang,
       b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
       b.score AS chosen_score, w.score AS rejected_score,
       round(b.score - w.score, 6) AS score_gap
FROM ranked b
JOIN ranked w ON b.source = w.source AND b.lang = w.lang
WHERE b.rk_best = 1 AND w.rk_worst = 1 AND b.doc_id <> w.doc_id
""",
    doc="X77: PREFERENCE-PAIR ASSEMBLY — construct DPO/RLHF-style "
    "(chosen, rejected) training pairs from a scored corpus: within "
    "each (source, lang) cell, pair the highest-scoring document "
    "(lexical diversity — distinct/total token ratio — standing in "
    "for any reward model) against the lowest-scoring one, emitting "
    "the pair plus its score gap (pairs with tiny gaps carry weak "
    "preference signal and get filtered or down-weighted). "
    "Single-member cells produce no pair (a doc can't be preferred "
    "over itself). Plan: one scan computes scores, two window ranks "
    "over the same (source, lang) shuffle, and a cell-key self-join "
    "of two 1-row-per-cell extremes — the join input is |cells| "
    "rows, not |corpus|, so the pair assembly is free at any scale.",
)
def x77_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    score = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = d.select("doc_id", "source", "lang", score.alias("score"))
    # Round-10 optimization (the r14/x01 argmax move, doubled): both
    # per-cell extremes come from ONE map-side-combinable aggregate —
    # min(struct(-score, doc_id)) is the rk_best==1 row (score DESC,
    # doc_id ASC; -score negates a finite double exactly, and (score,
    # doc_id) is unique per cell so the carried id never tips a
    # comparison), min(struct(score, doc_id)) the rk_worst==1 row. The
    # two full-corpus window sorts AND the cell self-join disappear.
    # Round-11 (advisor find): a NULL score (NULL text) would sort FIRST
    # under min(struct) — a NULL struct field is smallest — while the
    # oracle's row_number sorts NULLS LAST in DuckDB for BOTH directions;
    # coalesce each ordering key to +inf (the x144 neg_or_inf guard) so a
    # NULL-score doc can never displace a real extreme on either side.
    # The carried b.score/w.s fields stay the ORIGINAL (possibly NULL)
    # score, matching the oracle's projected b.score/w.score.
    inf = F.lit(float("inf"))
    cells = scored.groupBy("source", "lang").agg(
        F.min(
            F.struct(
                F.coalesce(-F.col("score"), inf).alias("ns"),
                F.col("doc_id").alias("doc_id"),
                F.col("score").alias("score"),  # original, no -(-x) roundtrip
            )
        ).alias("b"),
        F.min(
            F.struct(
                F.coalesce(F.col("score"), inf).alias("sk"),
                F.col("doc_id").alias("doc_id"),
                F.col("score").alias("s"),  # original (possibly NULL) score
            )
        ).alias("w"),
    )
    best_worst = cells.select(
        "source",
        "lang",
        F.col("b.doc_id").alias("chosen_doc_id"),
        F.col("b.score").alias("chosen_score"),
        F.col("w.doc_id").alias("rejected_doc_id"),
        F.col("w.s").alias("rejected_score"),
    )
    return (
        best_worst
        .filter(F.col("chosen_doc_id") != F.col("rejected_doc_id"))
        .select(
            "source", "lang", "chosen_doc_id", "rejected_doc_id",
            "chosen_score", "rejected_score",
            F.round(F.col("chosen_score") - F.col("rejected_score"), 6).alias(
                "score_gap"
            ),
        )
    )
