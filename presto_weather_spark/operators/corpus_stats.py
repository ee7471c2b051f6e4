"""Corpus-statistics operators X82-X84: novelty, fertility, sub-doc dup.

Three training-data diagnostics that complement the dedup (x01-x02*) and
text-analysis (x04-x79) families:

- x82: n-gram NOVELTY attribution — how much genuinely new n-gram mass
  each document adds in ingestion order (the dedup-adjacent measure of
  corpus redundancy growth used to decide when more crawl stops helping).
- x83: tokenizer FERTILITY by language — bytes and BPE-ish tokens per
  whitespace word; the standard multi-lingual tokenizer-budget metric.
- x84: duplicate SPAN mass by source — sub-document dedup at 5-word tile
  granularity (the C4/RefinedWeb paragraph-dedup shape; tiles stand in
  for paragraphs since the fixture text has no paragraph breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.operators._util import (
    SQL_RAW_TOKENS,
    SQL_TOKENS,
    STOPWORDS,
    materialize,
    spread,
    tokens,
)
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table


def _words(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# X82 — n-gram novelty curve (first-occurrence attribution)
# ---------------------------------------------------------------------------


@register(
    "x82_ngram_novelty",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tri AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tri
  FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
),
f AS (SELECT tri, MIN(doc_id) AS first_doc FROM tri GROUP BY tri)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_trigrams,
       round(CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
FROM tri t JOIN f USING (tri)
GROUP BY t.doc_id
""",
    doc="X82: N-GRAM NOVELTY CURVE — per document (in doc_id ingestion "
    "order): how many of its word trigrams occur for the FIRST time "
    "in the corpus. The declining novelty ratio over ingestion order "
    "is the standard 'is more crawl still adding information' "
    "diagnostic. Plan: one narrow trigram explode (array transform "
    "over the word array, ~n_words rows per doc — not per char), "
    "then first-occurrence via MIN(doc_id) OVER (PARTITION BY "
    "trigram) — a window, NOT a groupBy+self-join, so the trigram "
    "stream is consumed once: exactly two shuffles (trigram, then "
    "doc_id). At 100 TB the trigram exchange hash-partitions "
    "uniformly (no skew: trigram cardinality is near-corpus-sized); "
    "attributing by hash(trigram) instead of the string would cut "
    "exchange bytes ~3x, kept as strings here for oracle exactness.",
)
def x82_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _words().alias("w")
    )
    tris = (
        d.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias("tri"),
        )
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("tri"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        tris.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            novel.alias("novel_trigrams"),
            F.round(novel / F.count(F.lit(1)), 6).alias("novelty_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# X83 — tokenizer fertility by language
# ---------------------------------------------------------------------------


@register(
    "x83_tokenizer_fertility",
    oracle="""
WITH per_doc AS (
  SELECT lang,
         strlen(text) AS n_bytes,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
             AS ws_tokens,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS bpe_tokens
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_words,
       round(CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens), 6)
           AS fertility,
       round(CAST(SUM(n_bytes) AS DOUBLE) / SUM(bpe_tokens), 6)
           AS bytes_per_token
FROM per_doc
GROUP BY lang
""",
    doc="X83: TOKENIZER FERTILITY — BPE-ish tokens per whitespace word "
    "and bytes per token, by language (same tokenizer conventions as "
    "x10: letter-runs | digit-runs | single punctuation). Fertility "
    "skew across languages is the standard signal that a tokenizer "
    "under-serves a language (each word costing more subwords = "
    "shorter effective context, higher training cost). Plan: pure "
    "map-side per-doc counting folded by one tiny lang-keyed "
    "hash aggregate — integer-exact, one shuffle of ~5 rows.",
)
def x83_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    )
    bpe = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )
    per_doc = d.select(
        "lang",
        F.octet_length("text").alias("n_bytes"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("ws_tokens").alias("total_words"),
        F.round(F.sum("bpe_tokens") / F.sum("ws_tokens"), 6).alias("fertility"),
        F.round(F.sum("n_bytes") / F.sum("bpe_tokens"), 6).alias(
            "bytes_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# X84 — duplicate span mass by source (sub-document dedup)
# ---------------------------------------------------------------------------


@register(
    "x84_dup_span_mass",
    oracle="""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
tiles AS (
  SELECT doc_id, source,
         array_to_string(ws[(5*i + 1):(5*i + 5)], ' ') AS tile
  FROM w, UNNEST(generate_series(0, len(ws) // 5 - 1)) AS t(i)
),
pp AS (
  SELECT tile, doc_id, source, COUNT(*) AS c
  FROM tiles GROUP BY tile, doc_id, source
),
wn AS (SELECT *, COUNT(*) OVER (PARTITION BY tile) AS nd FROM pp)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS total_tiles,
       CAST(SUM(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tiles,
       round(CAST(SUM(CASE WHEN nd > 1 THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS dup_mass
FROM wn
GROUP BY source
""",
    doc="X84: DUPLICATE SPAN MASS — sub-document dedup accounting at "
    "5-word tile granularity: per source, what fraction of its text "
    "tiles also appear in at least one OTHER document (the "
    "C4/RefinedWeb paragraph-dedup diagnostic; non-overlapping "
    "stride-5 tiles stand in for paragraphs since fixture text has "
    "no paragraph breaks). Plan mirrors x73's single-consumption "
    "shape: tile explode (n_words/5 rows per doc) -> (tile, doc) "
    "partial count -> COUNT(*) OVER (PARTITION BY tile) gives the "
    "distinct-doc frequency without a groupBy+join-back -> source "
    "rollup. Three shuffles, the tile stream consumed exactly once; "
    "at 100 TB tiles would carry a 64-bit hash instead of the "
    "string (same plan, ~10x narrower exchange).",
)
def x84_dup_span_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _words().alias("w")
    )
    tiles = (
        d.filter(F.size("w") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, CAST(floor(size(w)/5) AS INT) - 1),"
                    " i -> concat_ws(' ', slice(w, 5*i + 1, 5)))"
                )
            ).alias("tile"),
        )
    )
    pp = tiles.groupBy("tile", "doc_id", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("tile"))
    dup = F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(0))
    return (
        pp.withColumn("nd", nd)
        .groupBy("source")
        .agg(
            F.sum("c").alias("total_tiles"),
            dup.alias("dup_tiles"),
            F.round(dup / F.sum("c"), 6).alias("dup_mass"),
        )
    )


# ---------------------------------------------------------------------------
# X85 — within-document repetition ratios (Gopher/MassiveText repetition rules)
# ---------------------------------------------------------------------------


@register(
    "x85_doc_repetition",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
wc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
wagg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS max_c
  FROM wc GROUP BY doc_id
),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
bagg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS d_bigrams
  FROM bc GROUP BY doc_id
)
SELECT wagg.doc_id, n_words,
       round(CAST(max_c AS DOUBLE) / n_words, 6) AS top_word_frac,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
       round(CASE WHEN COALESCE(n_bigrams, 0) > 0
                  THEN 1.0 - CAST(d_bigrams AS DOUBLE) / n_bigrams
                  ELSE 0.0 END, 6) AS dup_bigram_frac
FROM wagg LEFT JOIN bagg USING (doc_id)
""",
    doc="X85: WITHIN-DOCUMENT repetition ratios — the Gopher/MassiveText "
    "quality rules that catch templated or looping text: most-frequent-"
    "word mass, duplicate-word fraction, duplicate word-bigram "
    "fraction, all per document. Complements x82/x84 which measure "
    "CROSS-document duplication. Plan: words and bigrams are emitted "
    "by ONE tagged explode (kind='w'|'b'), so the text is scanned and "
    "tokenized once; then groupBy(doc, kind, gram) -> groupBy(doc) "
    "with conditional aggregates — exactly two shuffles, both on "
    "doc-sized keys, no join. At 100 TB per-doc cardinalities are "
    "bounded by document length, so nothing grows with the corpus "
    "except the embarrassingly-parallel doc axis.",
)
def x85_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _words().alias("w"))
        .transform(spread, "doc_id")
    )
    tagged = d.select(
        "doc_id",
        F.explode(
            F.concat(
                F.expr("transform(w, x -> named_struct('kind', 'w', 'gram', x))"),
                F.expr(
                    "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2),"
                    " i -> named_struct('kind', 'b', 'gram',"
                    " concat(w[i], ' ', w[i+1])))"
                    " ELSE array() END"
                ),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.kind").alias("kind"), F.col("t.gram").alias("gram"))
    gc = tagged.groupBy("doc_id", "kind", "gram").agg(F.count(F.lit(1)).alias("c"))
    is_w = F.col("kind") == "w"
    per_doc = gc.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.count(F.when(is_w, F.lit(1))).alias("n_distinct"),
        F.max(F.when(is_w, F.col("c"))).alias("max_c"),
        F.sum(F.when(~is_w, F.col("c"))).alias("n_bigrams"),
        F.count(F.when(~is_w, F.lit(1))).alias("d_bigrams"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round(F.col("max_c").cast("double") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.round(
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.lit(1.0) - F.col("d_bigrams").cast("double") / F.col("n_bigrams"),
            ).otherwise(0.0),
            6,
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# X86 — composite quality-rule gate (Gopher rules, integer-exact thresholds)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")


@register(
    "x86_quality_rules",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars_m,
         CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT)
             AS sum_word_len,
         CAST(len(list_filter(string_split(text, ' '),
                  w -> list_contains({list(GOPHER_STOPWORDS)!r}, w))) AS BIGINT)
             AS stop_count,
         CAST(length(text)
              - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
              AS BIGINT) AS sym_count
  FROM documents
)
SELECT doc_id, n_words,
       round(CAST(sum_word_len AS DOUBLE) / n_words, 4) AS mean_word_len,
       round(CAST(stop_count AS DOUBLE) / n_words, 6) AS stop_frac,
       sym_count,
       n_words BETWEEN 30 AND 10000 AS r_word_count,
       sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
           AS r_mean_word_len,
       stop_count * 50 >= n_words AS r_stopwords,
       sym_count * 10 <= n_chars_m AS r_symbols,
       (n_words BETWEEN 30 AND 10000)
         AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
         AND stop_count * 50 >= n_words
         AND sym_count * 10 <= n_chars_m AS keep
FROM base
""",
    doc="X86: COMPOSITE QUALITY GATE — the Gopher-style rule battery "
    "(word-count bounds, mean word length in [3,10], >=2% stopword "
    "mass, <=10% symbol characters) with per-rule verdicts plus the "
    "conjunction, per document. Every threshold compares in INTEGER "
    "arithmetic (sum_len >= 3*n_words, stop*50 >= n_words, sym*10 <= "
    "chars) so boundary documents are engine-exact — no float "
    "epsilon at the keep/drop line, the property that matters when a "
    "filter decides training membership. Mean word length uses the "
    "identity sum_len = length(text) - (n_words - 1) for a "
    "single-space-joined text (no second tokenize pass). Plan: pure "
    "scan-side projection, zero shuffles — the cheapest possible "
    "filter shape at any corpus size.",
)
def x86_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words()
    n_words = F.size(ws).cast("bigint")
    n_chars_m = F.length("text").cast("bigint")
    sum_word_len = (F.length("text") - F.size(ws) + 1).cast("bigint")
    stop_lit = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_count = F.size(
        F.filter(ws, lambda w: F.array_contains(stop_lit, w))
    ).cast("bigint")
    sym_count = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    ).cast("bigint")
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars_m.alias("n_chars_m"),
        sum_word_len.alias("sum_word_len"),
        stop_count.alias("stop_count"),
        sym_count.alias("sym_count"),
    )
    r_wc = F.col("n_words").between(30, 10000)
    r_mwl = (F.col("sum_word_len") >= 3 * F.col("n_words")) & (
        F.col("sum_word_len") <= 10 * F.col("n_words")
    )
    r_stop = F.col("stop_count") * 50 >= F.col("n_words")
    r_sym = F.col("sym_count") * 10 <= F.col("n_chars_m")
    return base.select(
        "doc_id",
        "n_words",
        F.round(F.col("sum_word_len").cast("double") / F.col("n_words"), 4).alias(
            "mean_word_len"
        ),
        F.round(F.col("stop_count").cast("double") / F.col("n_words"), 6).alias(
            "stop_frac"
        ),
        "sym_count",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_sym.alias("r_symbols"),
        (r_wc & r_mwl & r_stop & r_sym).alias("keep"),
    )


# ---------------------------------------------------------------------------
# X87 — deterministic stratified sampling (per-stratum hash-ranked fraction)
# ---------------------------------------------------------------------------

STRATUM_KEEP_DENOM = 5  # keep ceil(n/5) = 20% of every (lang, source) stratum


@register(
    "x87_stratified_sample",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank,
         CAST(COUNT(*) OVER (PARTITION BY lang, source) AS BIGINT)
             AS stratum_size
  FROM documents
)
SELECT doc_id, lang, source, stratum_size, sample_rank
FROM s
WHERE sample_rank * {STRATUM_KEEP_DENOM} <= stratum_size + {STRATUM_KEEP_DENOM - 1}
""",
    doc="X87: DETERMINISTIC STRATIFIED SAMPLE — keep exactly "
    "ceil(20%) of every (lang, source) stratum, chosen by md5 rank "
    "so the sample is reproducible across runs, engines and corpus "
    "repartitions (seed-free: the hash IS the randomness, the same "
    "device as x53's split assignment). The ceil(n/5) cut is the "
    "integer comparison rank*5 <= n+4 — no float fraction at the "
    "boundary. Plan: one window per stratum (rank + size share the "
    "same partitioning pass) then a residual filter. At 100 TB "
    "strata are (lang, source) shards — each sorts independently; "
    "a skewed mega-stratum would salt the rank by hash prefix and "
    "merge, but per-stratum sort on hash keys is already the "
    "TABLESAMPLE-reproducible shape distributed engines use.",
)
def x87_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang", "source").orderBy(key, "doc_id")
    cnt = Window.partitionBy("lang", "source")
    return (
        d.withColumn("sample_rank", F.row_number().over(w))
        .withColumn("stratum_size", F.count(F.lit(1)).over(cnt).cast("bigint"))
        .filter(
            # bigint arithmetic: row_number() is int32 and a 100-TB stratum
            # can exceed 2^31/5 rows — int overflow here would keep the
            # wrong tail of the stratum (or abort under ANSI mode)
            F.col("sample_rank").cast("bigint") * STRATUM_KEEP_DENOM
            <= F.col("stratum_size") + (STRATUM_KEEP_DENOM - 1)
        )
        .select("doc_id", "lang", "source", "stratum_size", "sample_rank")
    )


# ---------------------------------------------------------------------------
# X87b — banded stratified sample (x87's 100-TB path: bucket-grain windows)
# ---------------------------------------------------------------------------

STRAT_BUCKET_HEX = 3  # md5-prefix bucketing: 16^3 = 4096 rank buckets


@register(
    "x87b_stratified_sample_banded",
    # EXACT same semantics as x87 — same oracle, hash-verified. The banding
    # changes the PLAN, not the answer: md5-hex-prefix buckets respect the
    # (md5, doc_id) sort order, so per-bucket rank + per-bucket offset
    # reconstructs the per-stratum rank exactly.
    oracle=lambda o: o["x87_stratified_sample"],
    doc="X87b: x87's documented mega-stratum path, made real and kept "
    "EXACT (identical output, same oracle — unlike x106b's sketch this "
    "banding loses nothing, because ranks on a uniform hash key "
    "decompose by hash prefix). (lang, source) is low-cardinality, so "
    "x87's per-stratum row_number hands one task a dominant stratum's "
    f"whole corpus slice. Here docs band into 16^{STRAT_BUCKET_HEX} "
    "buckets by md5-hex prefix — bucket order IS key order — and the "
    "heavy table only ever sees BUCKET-grain windows (~n/4096 rows): "
    "(1) per-(stratum, bucket) counts aggregate map-side; (2) bucket "
    "offsets + stratum sizes + the ceil(n/5) keep target compute on "
    "that 4096-rows-per-stratum count table; (3) buckets whose offset "
    "already passes the target drop WHOLE — ~4/5 of the corpus never "
    "reaches a sort; (4) survivors rank within their bucket and add "
    "the broadcast offset: sample_rank = offset + within-bucket rank, "
    "exactly x87's rank. The only stratum-grain window runs on the "
    "bucket-count table. Plan-pinned in tests/test_plans.py (every "
    "doc-stream window partitions on the bucket key); equivalence to "
    "x87 pinned row-for-row in tests/test_properties.py.",
)
def x87b_stratified_sample_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    d = d.withColumn("b", F.substring("k", 1, STRAT_BUCKET_HEX))
    bc = d.groupBy("lang", "source", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b")
    )
    stratum = Window.partitionBy("lang", "source")
    cum = stratum.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bc = (
        bc.withColumn("stratum_size", F.sum("n_b").over(stratum).cast("bigint"))
        .withColumn("offset", (F.sum("n_b").over(cum) - F.col("n_b")).cast("bigint"))
        .withColumn(
            "keep_target",
            # integer DIV: double division would lose exactness past 2^53
            F.expr(
                f"CAST((stratum_size + {STRATUM_KEEP_DENOM - 1})"
                f" DIV {STRATUM_KEEP_DENOM} AS BIGINT)"
            ),
        )
        # whole-bucket prune: a bucket whose offset has already passed the
        # keep target contains no kept doc — ~(1 - 1/denom) of the corpus
        # is eliminated before any doc-grain sort
        .filter(F.col("offset") < F.col("keep_target"))
        .select("lang", "source", "b", "stratum_size", "offset", "keep_target")
    )
    wb = Window.partitionBy("lang", "source", "b").orderBy("k", "doc_id")
    return (
        d.join(bc, ["lang", "source", "b"])
        .withColumn(
            "sample_rank",
            (F.col("offset") + F.row_number().over(wb)).cast("bigint"),
        )
        .filter(F.col("sample_rank") <= F.col("keep_target"))
        .select("doc_id", "lang", "source", "stratum_size", "sample_rank")
    )


# ---------------------------------------------------------------------------
# X88 — benchmark decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

DECON_GRAM = 8  # overlapping word shingle width (industry range 8-13)
DECON_EVAL_MOD = 20  # doc_id % 20 == 0 plays the held-out benchmark set


@register(
    "x88_eval_decontamination",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id,
         {" || ' ' || ".join(f"ws[i+{k}]" for k in range(DECON_GRAM))} AS g
  FROM w, UNNEST(generate_series(1, len(ws) - {DECON_GRAM - 1})) AS t(i)
),
ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id, g FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0)
SELECT tr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared,
       SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated,
       round(CAST(SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS contaminated_frac
FROM tr LEFT JOIN ev ON tr.g = ev.g
GROUP BY tr.doc_id
""",
    doc="X88: BENCHMARK DECONTAMINATION — the GPT-3/PaLM-style eval-set "
    "scrub: flag every training document sharing any overlapping "
    f"{DECON_GRAM}-word shingle with the held-out set (doc_id % "
    f"{DECON_EVAL_MOD} == 0 stands in for the benchmark corpus). "
    "Output is the full per-train-doc report (total shingles, shared "
    "shingles, contaminated flag + fraction) — the drop-list a "
    "training run consumes. Plan: shingles are scan-side array "
    "transforms; the eval shingle set is DISTINCT-ed then BROADCAST "
    "onto the training shingle stream (eval sets are benchmark-sized "
    "— MBs — even when the training corpus is 100 TB, so the "
    "broadcast join is the permanently-right strategy, never a "
    "shuffle); one hash aggregate on doc_id finishes. In the fixture "
    "both sides come from the same table (two scans, one tiny); in "
    "production the eval side is its own small input.",
)
def x88_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("ws"))
    shingle_expr = (
        f"CASE WHEN size(ws) >= {DECON_GRAM} THEN "
        f"transform(sequence(0, size(ws) - {DECON_GRAM}), "
        f"i -> concat_ws(' ', slice(ws, i + 1, {DECON_GRAM}))) "
        "ELSE array() END"
    )
    sh = d.select("doc_id", F.explode(F.expr(shingle_expr)).alias("g"))
    ev = (
        sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    shared = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        tr.join(F.broadcast(ev), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            shared.alias("n_shared"),
            (shared > 0).alias("contaminated"),
            F.round(shared.cast("double") / F.count(F.lit(1)), 6).alias(
                "contaminated_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X97 — Heaps'-law vocabulary-growth fit (distributed prefix sums + OLS)
# ---------------------------------------------------------------------------

X97_BUCKET = 64  # doc_ids per prefix-sum bucket (the distribution knob)


@register(
    "x97_heaps_law_fit",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
attributed AS (
  SELECT doc_id, term,
         MIN(doc_id) OVER (PARTITION BY term) AS first_doc
  FROM tok
),
newv AS (
  SELECT doc_id, count(*) AS n_tokens,
         count(DISTINCT CASE WHEN first_doc = doc_id THEN term END) AS new_terms
  FROM attributed GROUP BY doc_id
),
cum AS (
  SELECT doc_id,
         SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         SUM(new_terms) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
  FROM newv
),
pts AS (
  SELECT doc_id, cum_tokens, cum_vocab,
         round(ln(cum_tokens), 12) AS x, round(ln(cum_vocab), 12) AS y
  FROM cum
),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,18))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,18))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(28,18))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(28,18))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT p.doc_id, CAST(p.cum_tokens AS BIGINT) AS cum_tokens,
       CAST(p.cum_vocab AS BIGINT) AS cum_vocab,
       round((f.n * f.sxy - f.sx * f.sy) / (f.n * f.sxx - f.sx * f.sx), 6)
           AS heaps_beta,
       round(exp((f.sy - (f.n * f.sxy - f.sx * f.sy)
                          / (f.n * f.sxx - f.sx * f.sx) * f.sx) / f.n), 6)
           AS heaps_k
FROM pts p CROSS JOIN fit f
""",
    doc="X97: Heaps'-law vocabulary-growth fit — V(N) = K * N^beta over "
    "the corpus in doc_id ingestion order: per document the cumulative "
    "token count and cumulative distinct vocabulary, plus the log-log "
    "OLS fit (K, beta). beta well below ~0.8 means vocabulary growth is "
    "saturating — the 'is more crawl still adding new language' "
    "companion to x82's novelty curve. Plan: one tokenize pass; "
    "first-occurrence attribution via MIN(doc_id) OVER (PARTITION BY "
    "term) (x82's window idiom — the term stream is consumed once); "
    "then the cumulative sums are a DISTRIBUTED TWO-LEVEL PREFIX SUM — "
    "per-bucket running sums (Window partitioned by doc_id DIV 64, so "
    "no single-partition global window over the doc-count spine) plus "
    "a broadcast prefix of the bucket totals. At 100 TB the spine is "
    "~1e9 rows: the bucketed form keeps every window partition bounded "
    "while the bucket-total table (spine/64 rows) prefix-sums cheaply; "
    "the oracle uses the plain global window — result-identical. The "
    "OLS moment sums go through 12dp rounding + DECIMAL(28,18) (the "
    "x20 convention) so the fit is aggregation-order-exact.",
)
def x97_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens()
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    # Round-10 optimization (guide §2.3, aggregate before you shuffle): the
    # old shape computed first_doc with min(doc_id) OVER (PARTITION BY term)
    # — a term-keyed exchange plus SORT of every token OCCURRENCE. The same
    # integers come from two hash aggregates with map-side partial combine:
    # per-term min(doc_id) shuffles at most one row per distinct term per
    # map partition (no sort), and "new_terms per doc" is a count over that
    # (terms are unique per group, so the old count_distinct is a plain
    # count). Docs whose every term first appeared earlier get 0 via the
    # left join, exactly the rows the old aggregate produced.
    tok = materialize(tok, "reused")  # n_tokens agg + first-doc agg
    n_tok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    firsts = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    per_doc = n_tok.join(firsts, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("new_terms"), F.lit(0)).alias("new_terms"),
    )
    # Two-level prefix sum: intra-bucket running totals + broadcast offsets
    # of completed buckets — no global single-partition window over the
    # doc-count spine.
    bucket = (F.col("doc_id") / F.lit(X97_BUCKET)).cast("bigint")
    intra_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = materialize(per_doc.withColumn("bucket", bucket), "reused")
    intra = per_doc.select(
        "doc_id",
        "bucket",
        F.sum("n_tokens").over(intra_w).alias("i_tok"),
        F.sum("new_terms").over(intra_w).alias("i_voc"),
    )
    off_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )  # bucket-total table: spine/64 rows — tiny, single partition by design
    offsets = (
        per_doc.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("b_tok"), F.sum("new_terms").alias("b_voc"))
        .select(
            "bucket",
            F.coalesce(F.sum("b_tok").over(off_w), F.lit(0)).alias("o_tok"),
            F.coalesce(F.sum("b_voc").over(off_w), F.lit(0)).alias("o_voc"),
        )
    )
    cum = intra.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        (F.col("i_tok") + F.col("o_tok")).alias("cum_tokens"),
        (F.col("i_voc") + F.col("o_voc")).alias("cum_vocab"),
    )
    pts = cum.select(
        "doc_id",
        "cum_tokens",
        "cum_vocab",
        F.round(F.log("cum_tokens"), 12).alias("x"),
        F.round(F.log("cum_vocab"), 12).alias("y"),
    ).transform(materialize, "reused")  # the fit AND the final join
    dec = lambda c: F.sum(c.cast("decimal(28,18)")).cast("double")  # noqa: E731
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.round(F.col("x") * F.col("y"), 12)).alias("sxy"),
        dec(F.round(F.col("x") * F.col("x"), 12)).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "doc_id",
        "cum_tokens",
        "cum_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6
        ).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# X105 — boilerplate prefix mining (shared document templates per source)
# ---------------------------------------------------------------------------

X105_P = 5  # prefix width in tokens

@register(
    "x105_boilerplate_prefixes",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, {SQL_TOKENS} AS ts FROM documents
),
pref AS (
  SELECT doc_id, source,
         array_to_string(list_slice(ts, 1, {X105_P}), ' ') AS prefix
  FROM tok WHERE len(ts) >= {X105_P}
),
per_source AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_source_docs
  FROM pref GROUP BY source
)
SELECT p.source, p.prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(COUNT(*) / s.n_source_docs, 6) AS source_share
FROM pref p JOIN per_source s USING (source)
GROUP BY p.source, p.prefix, s.n_source_docs
HAVING COUNT(*) >= 2
""",
    doc="X105: boilerplate PREFIX mining — the C4/web-crawl template "
    "signal: document openings (first 5 tokens) shared by >= 2 "
    "documents of the same source, with the share of that source they "
    "cover. A prefix covering a large share of a source is a scraper "
    "template/navigation header a curation pipeline strips before "
    "dedup (templates inflate near-dup scores and pollute LM "
    "statistics). Plan: prefix forms scan-side from the token array "
    "head (no explode — one slice per doc), one map-side-combined "
    "shuffle on (source, prefix), per-source totals broadcast back. "
    "At 100 TB the aggregate is near-corpus-cardinality but "
    "uniformly hash-partitioned (prefix strings are high-entropy "
    "outside the templates being mined); only the >= 2 survivors "
    "reach the output.",
)
def x105_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    pref = (
        d.select("doc_id", "source", toks.alias("ts"))
        .filter(F.size("ts") >= X105_P)
        .select(
            "doc_id",
            "source",
            F.concat_ws(" ", F.slice("ts", 1, X105_P)).alias("prefix"),
        )
    )
    pref = materialize(pref, "reused")  # totals AND the main aggregate
    per_source = pref.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_source_docs")
    )
    return (
        pref.groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .join(F.broadcast(per_source), "source")
        .select(
            "source",
            "prefix",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("n_source_docs"), 6).alias(
                "source_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X109 — weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

AES_TOPK = 10  # survivors per source


@register(
    "x109_weighted_sample_aes",
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(
           ln((CAST(('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 12)) AS BIGINT) + 1)
              / 281474976710656.0)
           / greatest(n_chars, 1), 12) AS aes_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars, aes_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY aes_key DESC, doc_id) AS sample_rank
  FROM keyed
)
SELECT source, doc_id, n_chars, aes_key, sample_rank
FROM ranked WHERE sample_rank <= {AES_TOPK}
""",
    doc="X109: weighted sampling WITHOUT replacement — Efraimidis & "
    "Spirakis 2006 (A-ES): every item gets key u^(1/w) (equivalently "
    "ln(u)/w) with u uniform in (0,1], and the top-k keys ARE an exact "
    "weight-proportional sample — the one-pass, merge-able way to draw "
    "'sample 10 docs per source, long docs proportionally more often' "
    "(w = n_chars) that sample()/rand() cannot do reproducibly. u "
    "derives from the x12 md5-content primitive: a 48-bit hash slice "
    "maps to (v+1)/2^48 ∈ (0,1] — exact integer arithmetic in both "
    "engines, ln 12dp-rounded with doc_id tie-break, so membership is "
    "engine-identical and stable under repartitioning. Scale: key is "
    "scan-side; top-k per source is one windowed row_number (Spark "
    "plans WindowGroupLimit: per-partition heaps of k, then one "
    "source-keyed exchange of survivors only — never a per-source "
    "sort of the corpus).",
)
def x109_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    v = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("aes"), F.col("doc_id"), F.col("text"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    u = (v + F.lit(1)) / F.lit(281474976710656.0)  # (v+1) / 2^48
    aes_key = F.round(F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)), 12)
    keyed = d.select("source", "doc_id", "n_chars", aes_key.alias("aes_key"))
    w = Window.partitionBy("source").orderBy(
        F.col("aes_key").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= AES_TOPK)
    )


# ---------------------------------------------------------------------------
# X114 — metadata information gain on the quality gate
# ---------------------------------------------------------------------------


def _x86_keep_sql() -> str:
    """DuckDB expression for x86's integer-exact composite keep flag."""
    return (
        "(len(string_split(text, ' ')) BETWEEN 30 AND 10000) "
        "AND length(text) - len(string_split(text, ' ')) + 1 "
        "    >= 3 * len(string_split(text, ' ')) "
        "AND length(text) - len(string_split(text, ' ')) + 1 "
        "    <= 10 * len(string_split(text, ' ')) "
        f"AND len(list_filter(string_split(text, ' '), "
        f"        w -> list_contains({list(GOPHER_STOPWORDS)!r}, w))) * 50 "
        "    >= len(string_split(text, ' ')) "
        "AND (length(text) "
        "     - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 10 "
        "    <= length(text)"
    )


@register(
    "x114_metadata_information_gain",
    oracle=f"""
WITH base AS (
  SELECT lang, source, ({_x86_keep_sql()}) AS keep FROM documents
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
gate AS (
  SELECT round(CAST(SUM(CAST(-(c / n) * ln(c / n) AS DECIMAL(28,18)))
               AS DOUBLE), 6) AS h_gate
  FROM (SELECT CAST(count(*) AS DOUBLE) AS c FROM base GROUP BY keep)
  CROSS JOIN tot
),
lab AS (
  SELECT 'lang' AS field, lang AS v, keep FROM base
  UNION ALL
  SELECT 'source' AS field, source AS v, keep FROM base
),
cell AS (
  SELECT field, v, keep, CAST(count(*) AS DOUBLE) AS c
  FROM lab GROUP BY field, v, keep
),
grp AS (SELECT field, v, SUM(c) AS cv FROM cell GROUP BY field, v),
hv AS (
  SELECT cell.field, cell.v, any_value(grp.cv) AS cv,
         SUM(CAST(-(cell.c / grp.cv) * ln(cell.c / grp.cv)
                  AS DECIMAL(28,18))) AS h_v
  FROM cell JOIN grp USING (field, v)
  GROUP BY cell.field, cell.v
)
SELECT hv.field,
       CAST(count(*) AS BIGINT) AS n_values,
       gate.h_gate AS entropy_gate,
       round(CAST(SUM(CAST((hv.cv / tot.n) * CAST(hv.h_v AS DOUBLE)
                           AS DECIMAL(28,18))) AS DOUBLE), 6)
           AS cond_entropy,
       round(gate.h_gate
             - CAST(SUM(CAST((hv.cv / tot.n) * CAST(hv.h_v AS DOUBLE)
                             AS DECIMAL(28,18))) AS DOUBLE), 6) AS info_gain
FROM hv CROSS JOIN tot CROSS JOIN gate
GROUP BY hv.field, gate.h_gate
""",
    doc="X114: metadata INFORMATION GAIN on the quality gate — for each "
    "metadata field (lang, source): H(gate) - H(gate | field), where "
    "gate is x86's integer-exact Gopher keep/drop. The curation "
    "read-out: high gain means the field already explains the quality "
    "verdict (filter by metadata, skip the expensive content rules for "
    "that slice — or conversely, a leaking proxy to audit); near-zero "
    "gain means content rules are doing real work. Pure count algebra: "
    "every probability is an exact-integer ratio, per-term ln goes "
    "through DECIMAL(28,18) so both the per-value entropies and their "
    "weighted sum are aggregation-order-exact, outputs 6dp. Scale: one "
    "scan computes the gate (zero-shuffle projection), then two "
    "aggregates over (field, value, gate) cells — cardinality = "
    "languages + sources, vocab-sized however big the corpus.",
)
def x114_metadata_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = _words()
    n_words = F.size(ws).cast("bigint")
    sum_word_len = (F.length("text") - F.size(ws) + 1).cast("bigint")
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_count = F.size(
        F.filter(ws, lambda w: F.array_contains(stop_lit, w))
    ).cast("bigint")
    sym_count = (
        F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
    ).cast("bigint")
    keep = (
        n_words.between(30, 10000)
        & (sum_word_len >= 3 * n_words)
        & (sum_word_len <= 10 * n_words)
        & (stop_count * 50 >= n_words)
        & (sym_count * 10 <= F.length("text").cast("bigint"))
    )
    # gate entropy AND both field labelings read it
    base = materialize(d.select("lang", "source", keep.alias("keep")), "reused")
    tot = base.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ent_term = lambda c, n: (  # noqa: E731
        -(c / n) * F.log(c / n)
    ).cast("decimal(28,18)")
    gate = (
        base.groupBy("keep")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(ent_term(F.col("c"), F.col("n"))).cast("double"), 6)
            .alias("h_gate")
        )
    )
    lab = base.select(
        F.lit("lang").alias("field"), F.col("lang").alias("v"), "keep"
    ).unionAll(
        base.select(
            F.lit("source").alias("field"), F.col("source").alias("v"), "keep"
        )
    )
    cell = lab.groupBy("field", "v", "keep").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    grp = cell.groupBy("field", "v").agg(F.sum("c").alias("cv"))
    hv = (
        cell.join(F.broadcast(grp), ["field", "v"])
        .groupBy("field", "v")
        .agg(
            F.any_value("cv").alias("cv"),
            F.sum(ent_term(F.col("c"), F.col("cv"))).alias("h_v"),
        )
    )
    cond = (F.col("cv") / F.col("n")) * F.col("h_v").cast("double")
    return (
        hv.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(gate))
        .groupBy("field", "h_gate")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.sum(cond.cast("decimal(28,18)")).cast("double"), 6)
            .alias("cond_entropy"),
        )
        .select(
            "field",
            "n_values",
            F.col("h_gate").alias("entropy_gate"),
            "cond_entropy",
            F.round(F.col("h_gate") - F.col("cond_entropy"), 6).alias(
                "info_gain"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X124 — Gini concentration of corpus mass across sources
# ---------------------------------------------------------------------------


@register(
    "x124_gini_concentration",
    oracle="""
WITH mass AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, chars,
         row_number() OVER (ORDER BY chars, source) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(SUM(chars) OVER () AS BIGINT) AS total
  FROM mass
)
SELECT CAST(any_value(n) AS BIGINT) AS n_sources,
       CAST(any_value(total) AS BIGINT) AS total_chars,
       round(CAST(2 * SUM(rk * chars) AS DOUBLE)
             / (any_value(n) * any_value(total))
             - CAST(any_value(n) + 1 AS DOUBLE) / any_value(n), 6) AS gini
FROM ranked
""",
    doc="X124: GINI concentration — how unequal the corpus mass is across "
    "sources (G = 2*Sigma(i*x_i)/(n*Sigma x) - (n+1)/n over ascending-"
    "sorted mass): the one-number balance audit behind mixture "
    "decisions — G near 0 says sources contribute evenly, G near 1 "
    "says one scraper dominates and the x28/x93 reweighting operators "
    "have work to do. Sigma(i*x_i) is an exact integer (rank x chars, "
    "< 2^63 at any realistic corpus), so the 6dp Gini is "
    "engine-identical; ranks tie-break on source name. Scale: the "
    "sort/rank runs over the SOURCE table (one row per source), never "
    "documents — the single corpus-sized operation is the per-source "
    "SUM, one shuffle on a low-cardinality key (salt it if one source "
    "is itself skewed, the s05h pattern).",
)
def x124_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mass = d.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("chars"))
    w_rk = Window.orderBy(F.col("chars"), F.col("source"))
    w_all = Window.partitionBy()
    ranked = mass.select(
        "source",
        "chars",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("chars").over(w_all).alias("total"),
    )
    return ranked.agg(
        F.any_value("n").cast("bigint").alias("n_sources"),
        F.any_value("total").cast("bigint").alias("total_chars"),
        F.round(
            (2 * F.sum(F.col("rk") * F.col("chars"))).cast("double")
            / (F.any_value("n") * F.any_value("total"))
            - (F.any_value("n") + 1).cast("double") / F.any_value("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# X134 — language budget planner (epochs-per-language under a token budget)
# ---------------------------------------------------------------------------

LANG_BUDGET_ALPHA = 0.5  # temperature smoothing for target shares
LANG_EPOCH_CAP_E6 = 4000000  # micro-unit cap: integer compare, no float literal
LANG_EPOCH_CAP = 4.0  # upsampling beyond this repeats data too hard


@register(
    "x134_language_budget_planner",
    oracle=f"""
WITH mass AS (
  SELECT lang,
         CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total FROM mass),
p AS (
  SELECT lang, lang_tokens,
         CAST(lang_tokens AS DOUBLE) / total AS share, total
  FROM mass CROSS JOIN tot
),
z AS (
  SELECT CAST(SUM(CAST(round(pow(share, {LANG_BUDGET_ALPHA}), 12)
                       AS DECIMAL(28,18))) AS DOUBLE) AS z
  FROM p
)
SELECT p.lang, p.lang_tokens,
       round(p.share, 6) AS corpus_share,
       round(round(pow(p.share, {LANG_BUDGET_ALPHA}), 12) / z.z, 6)
           AS target_share,
       CAST(round(round(pow(p.share, {LANG_BUDGET_ALPHA}), 12) / z.z
                  * p.total, 0) AS BIGINT) AS allocated_tokens,
       round(round(pow(p.share, {LANG_BUDGET_ALPHA}), 12) / z.z
             * p.total / p.lang_tokens, 6) AS epochs,
       CAST(round(round(pow(p.share, {LANG_BUDGET_ALPHA}), 12) / z.z
             * p.total / p.lang_tokens * 1000000) AS BIGINT)
             > {LANG_EPOCH_CAP_E6}
           AS upsample_risk
FROM p CROSS JOIN z
""",
    doc="X134: LANGUAGE BUDGET PLANNER — the table a multilingual data "
    "recipe is decided from: per language, its token mass, its "
    "temperature-smoothed target share (x95's alpha-sampling with "
    f"alpha={LANG_BUDGET_ALPHA}), the token allocation under a budget "
    "equal to the corpus total, and the implied EPOCHS (allocation / "
    "native mass) — epochs > "
    f"{LANG_EPOCH_CAP} flags languages the schedule would repeat too "
    "hard (the known overfitting regime for low-resource upsampling). "
    "Determinism is x95's recipe: pow 12dp-rounded before the DECIMAL "
    "normalizer sum, every output 6dp, and the risk flag compares the "
    "ROUNDED epochs. Scale: one tokenize scan into a per-lang "
    "aggregate — the planner operates on a languages-sized table.",
)
def x134_language_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    mass = d.groupBy("lang").agg(
        F.sum(F.size(tokens())).cast("bigint").alias("lang_tokens")
    )
    tot = mass.agg(F.sum("lang_tokens").cast("bigint").alias("total"))
    p = mass.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("lang_tokens").cast("double") / F.col("total")
    )
    smoothed = F.round(F.pow(F.col("share"), F.lit(LANG_BUDGET_ALPHA)), 12)
    z = p.agg(
        F.sum(smoothed.cast("decimal(28,18)")).cast("double").alias("z")
    )
    target = smoothed / F.col("z")
    epochs = F.round(target * F.col("total") / F.col("lang_tokens"), 6)
    # risk flag in exact micro-units (round-7 burn-down): same rounded
    # value, integer threshold compare
    epochs_e6 = F.expr(
        "CAST(round(round(pow(share, "
        f"{LANG_BUDGET_ALPHA}), 12) / z * total / lang_tokens * 1000000) "
        "AS BIGINT)"
    )
    return p.crossJoin(F.broadcast(z)).select(
        "lang",
        "lang_tokens",
        F.round(F.col("share"), 6).alias("corpus_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target * F.col("total"), 0).cast("bigint").alias(
            "allocated_tokens"
        ),
        epochs.alias("epochs"),
        (epochs_e6 > LANG_EPOCH_CAP_E6).alias("upsample_risk"),
    )


# ---------------------------------------------------------------------------
# X136 — chi-square independence audit (lang x source contingency)
# ---------------------------------------------------------------------------


@register(
    "x136_chi_square_independence",
    oracle="""
WITH cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
rowm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cell GROUP BY lang),
colm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cell GROUP BY source),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
terms AS (
  SELECT cell.lang, cell.source, cell.o,
         CAST(rowm.r * colm.c AS DOUBLE) / tot.n AS e
  FROM cell JOIN rowm USING (lang) JOIN colm USING (source) CROSS JOIN tot
)
SELECT CAST((SELECT count(*) FROM rowm) AS BIGINT) AS n_langs,
       CAST((SELECT count(*) FROM colm) AS BIGINT) AS n_sources,
       CAST(((SELECT count(*) FROM rowm) - 1)
            * ((SELECT count(*) FROM colm) - 1) AS BIGINT) AS dof,
       round(CAST(SUM(CAST(round((o - e) * (o - e) / e, 6)
                           AS DECIMAL(28,6))) AS DOUBLE), 6) AS chi_square
FROM terms
""",
    doc="X136: CHI-SQUARE independence audit — is language independent of "
    "source in this corpus? Pearson's chi-square over the lang x source "
    "contingency table (observed vs expected r*c/n), with degrees of "
    "freedom — a large statistic means per-source language skew, so "
    "any per-source quality rule doubles as a hidden language filter "
    "(the confound x114's information gain measures from the other "
    "side). Expected counts are integer-product ratios (r*c exact "
    "BIGINT), each cell's term is 6dp-rounded then DECIMAL-summed so "
    "the statistic is aggregation-order-exact; zero-count cells "
    "contribute through the joined cell table exactly as in the "
    "oracle (both engines only materialize observed cells — the "
    "OBSERVED-cells-only convention is stated, and expected mass from "
    "absent cells is excluded identically on both sides). Scale: one "
    "(lang, source) aggregate; everything downstream is "
    "contingency-table sized.",
)
def x136_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowm = cell.groupBy("lang").agg(F.sum("o").alias("r"))
    colm = cell.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cell.agg(F.sum("o").alias("n"))
    terms = (
        cell.join(F.broadcast(rowm), "lang")
        .join(F.broadcast(colm), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "e", (F.col("r") * F.col("c")).cast("double") / F.col("n")
        )
    )
    n_langs = rowm.count()  # contingency dims: bounded driver scalars
    n_sources = colm.count()
    term = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), 6
    )
    return terms.agg(
        F.lit(n_langs).cast("bigint").alias("n_langs"),
        F.lit(n_sources).cast("bigint").alias("n_sources"),
        F.lit((n_langs - 1) * (n_sources - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sum(term.cast("decimal(28,6)")).cast("double"), 6
        ).alias("chi_square"),
    )


# ---------------------------------------------------------------------------
# X140 — lexicon/blocklist screen (the C4/RefinedWeb badword gate)
# ---------------------------------------------------------------------------

BLOCKLIST = ("slow", "error", "dup", "spam")  # policy lexicon (configurable)
BLOCKLIST_GATE = 50  # flag when flagged tokens exceed 1/GATE of the doc


@register(
    "x140_blocklist_screen",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter({SQL_RAW_TOKENS},
                     w -> w <> '') AS ws
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(ws, w -> list_contains(
              {list(BLOCKLIST)!r}, w))) AS BIGINT) AS n_flagged
  FROM t
)
SELECT doc_id, n_tokens, n_flagged,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE n_flagged * 1000000 // n_tokens END AS BIGINT)
         AS flag_rate_e6,
       CASE WHEN n_flagged * {BLOCKLIST_GATE} > n_tokens
            THEN 'flag' ELSE 'ok' END AS gate
FROM c
""",
    doc="X140: LEXICON/BLOCKLIST screen — the C4/RefinedWeb badword gate "
    "x86's statistical rule battery deliberately lacks: per document, "
    "how many tokens hit a policy lexicon, the hit rate, and a "
    "flag/ok gate at >2% lexicon mass (integer compare n_flagged*50 > "
    "n_tokens — keep/drop never rides float noise; rate reported as a "
    "scaled integer for the same reason). The fixture lexicon "
    "intersects the synthetic vocabulary so the gate actually fires; "
    "a deployment swaps the tuple for its policy list. Plan: pure "
    "scan-side HOF array arithmetic — tokenize, filter, count inside "
    "one projection, ZERO shuffles at any corpus size (the cheapest "
    "possible screen, like x86/x131).",
)
def x140_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = tokens()
    flagged = F.filter(
        ws, lambda w: w.isin(*BLOCKLIST)
    )
    c = d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(flagged).cast("bigint").alias("n_flagged"),
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "n_flagged",
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.expr("n_flagged * 1000000 DIV n_tokens")
        )
        .cast("bigint")
        .alias("flag_rate_e6"),
        F.when(
            F.col("n_flagged") * BLOCKLIST_GATE > F.col("n_tokens"), "flag"
        )
        .otherwise("ok")
        .alias("gate"),
    )


# ---------------------------------------------------------------------------
# X141 — quality-score calibration (reliability of x20's LM score vs x86)
# ---------------------------------------------------------------------------

CALIB_BINS_PER_UNIT = 2  # half-logprob-unit equal-width bins


@register(
    "x141_score_calibration",
    oracle=lambda o: f"""
WITH score AS ({o['x20_unigram_logprob']}),
keep AS ({o['x86_quality_rules']}),
joined AS (
  SELECT CAST(round(score.avg_logprob * {CALIB_BINS_PER_UNIT * 1000000})
                AS BIGINT) // 1000000
           AS bin,
         score.avg_logprob,
         CAST(keep.keep AS INT) AS keep_i
  FROM score JOIN keep USING (doc_id)
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(keep_i) AS BIGINT) AS n_keep,
       CAST(CAST(sum(keep_i) AS BIGINT) * 1000000 // count(*) AS BIGINT)
         AS keep_rate_e6,
       round(CAST(sum(CAST(avg_logprob AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_score
FROM joined GROUP BY bin
""",
    doc="X141: QUALITY-SCORE CALIBRATION — before thresholding a corpus "
    "on a quality score, check the score actually orders quality: bin "
    "x20's unigram-LM document score into equal-width half-unit bins "
    "and report, per bin, the document count and the rate at which "
    "x86's independent rule-battery gate says keep — a reliability "
    "table (monotone keep-rate = the score is a usable ranking; flat "
    "= thresholding it is noise). Bin = the 6dp score's exact scaled "
    "integer, truncating-DIV'd into half-unit bins (DuckDB // and "
    "Spark DIV both truncate toward zero, so the rule is engine-exact "
    "with no float floor) — no data-dependent quantiles, no global "
    "sort (the equal-width variant of calibration exists precisely "
    "because equal-mass deciles need a rank pass). keep_rate in "
    "scaled-integer micro-units; mean score via DECIMAL sum. Oracle "
    "composed textually from x20's and x86's registered oracles at "
    "load (the x128/x133 pattern) so all three stay in lockstep. "
    "Scale: two doc-grain aggregates joined on doc_id + one bins-"
    "sized rollup; every shuffle is doc- or bins-bounded.",
)
def x141_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.operators.text_analysis import (
        x20_unigram_logprob,
    )

    score = x20_unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    keep = x86_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("keep_i")
    )
    joined = score.join(keep, "doc_id").select(
        # scaled-integer binning (round-7 risk burn-down): avg_logprob
        # is a 6dp-rounded value, so *2e6 is integer-valued within ulp;
        # round() recovers the exact integer and truncating DIV bins it.
        # DuckDB's // truncates toward zero exactly like Spark's DIV
        # (verified: -7 // 2 = -3 in both), so the bin rule is
        # engine-exact with no float floor anywhere. The half-unit
        # equal-width invariant DEPENDS on avg_logprob < 0: truncation
        # toward zero would make bin 0 span (-0.5, +0.5) — a double-width
        # bin — if a non-negative score ever appeared. A unigram avg log
        # prob is strictly negative by construction (every corpus has
        # >= 2 distinct tokens, so every token prob < 1); the guard turns
        # a future violation into a loud error instead of a quiet
        # double-width bin.
        F.expr(
            f"CAST(CASE WHEN avg_logprob >= 0 THEN raise_error("
            f"'x141: avg_logprob must be strictly negative — bin 0 would"
            f" be double-width under truncating DIV')"
            f" ELSE round(avg_logprob * {CALIB_BINS_PER_UNIT * 1000000})"
            f" END AS BIGINT) DIV 1000000"
        )
        .cast("bigint")
        .alias("bin"),
        "avg_logprob",
        "keep_i",
    )
    return joined.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("keep_i").cast("bigint").alias("n_keep"),
        F.expr(
            "CAST(CAST(sum(keep_i) AS BIGINT) * 1000000"
            " DIV count(1) AS BIGINT)"
        ).alias("keep_rate_e6"),
        F.round(
            F.sum(F.col("avg_logprob").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
    )


# ---------------------------------------------------------------------------
# X142 — cross-split n-gram leakage audit (8-gram overlap over x07's split)
# ---------------------------------------------------------------------------

LEAK_N = 8  # n-gram order (the x88 decontamination convention)


@register(
    "x142_split_ngram_leakage",
    oracle=lambda o: f"""
WITH split AS ({o['x07_train_test_split']}),
grams AS (
  SELECT d.lang, s.split,
         array_to_string(ws[CAST(t.i AS INT):CAST(t.i + {LEAK_N - 1} AS INT)], ' ') AS gram
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) d
  JOIN split s USING (doc_id),
  UNNEST(generate_series(1, len(d.ws) - {LEAK_N - 1})) AS t(i)
  WHERE s.split <> 'valid'
),
per_gram AS (
  SELECT gram,
         max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
         list_distinct(list(CASE WHEN split = 'test' THEN lang END))
           AS test_langs
  FROM grams GROUP BY gram
),
test_grams AS (
  SELECT unnest(list_filter(test_langs, x -> x IS NOT NULL)) AS lang,
         in_train
  FROM per_gram
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_test_grams,
       CAST(sum(in_train) AS BIGINT) AS n_leaked,
       CAST(CAST(sum(in_train) AS BIGINT) * 1000000 // count(*) AS BIGINT)
         AS leaked_share_e6
FROM test_grams GROUP BY lang
""",
    doc="X142: CROSS-SPLIT N-GRAM LEAKAGE — x53 makes the split "
    "group-safe and x71 checks its balance; this measures what "
    "neither does: how much verbatim 8-gram mass the test split "
    "shares with train anyway (near-identical docs that straddle the "
    "hash split inflate eval scores exactly like external benchmark "
    "contamination, x88's problem pointed at one's own split). Per "
    "language: distinct test-split 8-grams, how many also occur in "
    "train (any language), and the leaked share in scaled-integer "
    "micro-units. The split label is x07's md5 rule computed "
    "scan-side in the same projection as the grams (no join against "
    "the split table), and the oracle composes x07's registered "
    "oracle textually so the rule cannot drift. Scale: gram explode "
    "-> one distinct-aggregate shuffle on the gram key (grams could "
    "carry a 64-bit hash instead of the string for a ~10x narrower "
    "exchange, the x84 note); leakage is a per-gram boolean "
    "aggregate, the report a languages-sized rollup.",
)
def x142_split_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("text"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "valid").otherwise("test")
    )
    # Round-10 optimization (the batch-2 dedup move): LEAK_N-token window
    # HASHES via per-token xxhash64 + lead() instead of the interpreted
    # transform(i -> array_join(slice(...))) string builder — the gram
    # aggregate's exchange ships 8 bytes/key instead of ~8-token strings
    # (the docstring's own "x84 note" made real). Complete windows only
    # (tail lead non-null), exactly the rows the old size(ws) >= LEAK_N
    # CASE guard emitted; leaked-share counts are identical short of a
    # 64-bit collision (the x18/x40 convention, oracle-verified
    # end-to-end at both SFs).
    words = d.select(
        "doc_id",
        "lang",
        split.alias("split"),
        F.split(F.col("text"), " ").alias("ws"),
    ).filter(F.col("split") != "valid")
    words = spread(words, "doc_id")
    th = words.select(
        "doc_id", "lang", "split", F.posexplode("ws").alias("pos", "tok")
    ).select("doc_id", "lang", "split", "pos", F.xxhash64("tok").alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("h", i).over(w) for i in range(1, LEAK_N)]
    grams = (
        th.select(
            "lang",
            "split",
            F.xxhash64(F.col("h"), *leads).alias("gram"),
            leads[-1].alias("tail"),
        )
        .filter(F.col("tail").isNotNull())
        .drop("tail")
    )
    per_gram = grams.groupBy("gram").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        ),
        F.collect_set(
            F.when(F.col("split") == "test", F.col("lang"))
        ).alias("test_langs"),
    )
    test_grams = per_gram.select(
        F.explode("test_langs").alias("lang"), "in_train"
    )
    return test_grams.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_grams"),
        F.sum("in_train").cast("bigint").alias("n_leaked"),
        F.expr(
            "CAST(CAST(sum(in_train) AS BIGINT) * 1000000"
            " DIV count(1) AS BIGINT)"
        ).alias("leaked_share_e6"),
    )


# ---------------------------------------------------------------------------
# X143 — the complete Gopher repeated-n-gram table (Rae et al. 2021, A1.1)
# ---------------------------------------------------------------------------

GOPHER_TOP_NS = (2, 3, 4)  # most-frequent-n-gram mass
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)  # duplicated-n-gram mass


@register(
    "x143_gopher_dup_ngrams",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
),
g AS (
  SELECT doc_id, nt, n.n AS n,
         array_to_string(w[CAST(t.i AS INT):CAST(t.i + n.n - 1 AS INT)], ' ')
           AS gram
  FROM ws, (VALUES {', '.join(f'({n})' for n in GOPHER_TOP_NS + GOPHER_DUP_NS)}) n(n),
       UNNEST(generate_series(1, len(w) - n.n + 1)) t(i)
  WHERE len(w) >= n.n
),
c AS (
  SELECT doc_id, n, gram, any_value(nt) AS nt, count(*) AS c
  FROM g GROUP BY doc_id, n, gram
),
m AS (
  SELECT doc_id, n, any_value(nt) AS nt, max(c) AS mx,
         coalesce(sum(c) FILTER (c >= 2), 0) AS dup
  FROM c GROUP BY doc_id, n
),
f AS (
  SELECT doc_id, n,
         CAST((CASE WHEN n <= {max(GOPHER_TOP_NS)} THEN mx ELSE dup END)
              * n * 1000000 // nt AS BIGINT) AS e6
  FROM m
)
SELECT d.doc_id,
{','.join(f"       coalesce(max(CASE WHEN f.n = {n} THEN f.e6 END), 0) AS top{n}_e6"
          for n in GOPHER_TOP_NS)},
{','.join(f"       coalesce(max(CASE WHEN f.n = {n} THEN f.e6 END), 0) AS dup{n}_e6"
          for n in GOPHER_DUP_NS)}
FROM documents d LEFT JOIN f USING (doc_id)
GROUP BY d.doc_id
""",
    doc="X143: the COMPLETE Gopher repeated-n-gram table (Rae et al. 2021 "
    "Appendix A1.1, public) — x85 implements the word-grain third of the "
    "MassiveText repetition battery; this adds the remaining nine rules: "
    "token mass of the single most frequent {2,3,4}-gram and token mass "
    "inside duplicated (count >= 2) {5..10}-grams, per document. "
    "Convention (stated, identical in both engines): mass is occurrences "
    "x n tokens over total tokens — overlapping occurrences double-count, "
    "so a fraction may exceed 1; reported as scaled-integer micro-units "
    "via integer division, never a float quotient. Docs shorter than n "
    "report 0 via LEFT JOIN. Plan: ONE tokenize feeding one tagged "
    "generator (9 n-values in a single explode — the x85 kind-tag shape), "
    "then two hash aggregates whose (doc, n, gram) partials combine "
    "map-side, and a doc-grain pivot; at 100 TB the gram stream is the "
    "only fan-out and it shuffles once on (doc, n, gram).",
)
def x143_gopher_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ns = GOPHER_TOP_NS + GOPHER_DUP_NS
    # words array materialized as a column BEFORE the generator (the x142
    # lesson: inline split() is re-inlined into every lambda use site)
    # One narrow exchange on doc_id BEFORE the 9-way gram fan-out: a
    # doc's grams then stay in one partition, so hashpartitioning(doc_id)
    # satisfies the clustering of BOTH downstream aggregates — the 60M-row
    # gram stream never shuffles (measured 7.4 s -> the doc-grain plan).
    ws = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).cast("bigint").alias("nt"),
    ).transform(spread, "doc_id")
    gram_arrays = [
        F.expr(
            f"CASE WHEN size(w) >= {n} THEN "
            f"transform(sequence(1, size(w) - {n - 1}), "
            f"i -> named_struct('n', {n}, 'gram', "
            f"array_join(slice(w, i, {n}), ' '))) "
            f"ELSE array() END"
        )
        for n in ns
    ]
    g = ws.select(
        "doc_id",
        "nt",
        F.explode(F.concat(*gram_arrays)).alias("s"),
    ).select("doc_id", "nt", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
    c = g.groupBy("doc_id", "n", "gram").agg(
        F.any_value("nt").alias("nt"), F.count(F.lit(1)).alias("c")
    )
    m = c.groupBy("doc_id", "n").agg(
        F.any_value("nt").alias("nt"),
        F.max("c").alias("mx"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)).alias(
            "dup"
        ),
    )
    f = m.select(
        "doc_id",
        "n",
        F.expr(
            f"CAST((CASE WHEN n <= {max(GOPHER_TOP_NS)} THEN mx ELSE dup END)"
            f" * n * 1000000 DIV nt AS BIGINT)"
        ).alias("e6"),
    )
    pivoted = (
        d.select("doc_id")
        .join(f, "doc_id", "left")
        .groupBy("doc_id")
        .pivot("n", list(ns))
        .agg(F.first("e6"))
    )
    cols = [F.coalesce(F.col(f"`{n}`"), F.lit(0)).alias(
        f"top{n}_e6" if n in GOPHER_TOP_NS else f"dup{n}_e6") for n in ns]
    return pivoted.select("doc_id", *cols)


# ---------------------------------------------------------------------------
# X145 — quality-screen ensemble agreement (pairwise Cohen's kappa)
# ---------------------------------------------------------------------------

SCREEN_GATES = ("g86", "g09", "g17", "g140")  # column order fixes pair ids


def _screen_pairs_sql() -> str:
    """x145's oracle confusion rows: one SELECT over ``gates`` per
    SCREEN_GATES pair, in the Spark kernel's pair order."""
    return "\nUNION ALL\n".join(
        f"""
SELECT '{ga}' AS gate_a, '{gb}' AS gate_b,
       CAST(SUM(CASE WHEN {ga} = 1 AND {gb} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_keep,
       CAST(SUM(CASE WHEN {ga} = 1 AND {gb} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_drop,
       CAST(SUM(CASE WHEN {ga} = 0 AND {gb} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_keep,
       CAST(SUM(CASE WHEN {ga} = 0 AND {gb} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_drop
FROM gates"""
        for i, ga in enumerate(SCREEN_GATES)
        for gb in SCREEN_GATES[i + 1 :]
    )


@register(
    "x145_screen_agreement",
    oracle=lambda o: f"""
WITH s86 AS ({o['x86_quality_rules']}),
s09 AS ({o['x09_quality_score']}),
s17 AS ({o['x17_repetition_filter']}),
s140 AS ({o['x140_blocklist_screen']}),
gates AS (
  SELECT s86.doc_id,
         CAST(s86.keep AS INT) AS g86,
         CASE WHEN s09.quality_gate = 'keep' THEN 1 ELSE 0 END AS g09,
         coalesce(CASE WHEN s17.repetition_gate = 'keep' THEN 1 ELSE 0 END, 1)
           AS g17,
         CASE WHEN s140.gate = 'ok' THEN 1 ELSE 0 END AS g140
  FROM s86
  JOIN s09 USING (doc_id)
  LEFT JOIN s17 USING (doc_id)
  JOIN s140 USING (doc_id)
),
conf AS ({_screen_pairs_sql()})
SELECT gate_a, gate_b, n_keep_keep, n_keep_drop, n_drop_keep, n_drop_drop,
       CASE WHEN (n_keep_keep + n_keep_drop + n_drop_keep + n_drop_drop)
                 * (n_keep_keep + n_keep_drop + n_drop_keep + n_drop_drop)
                 - ((n_keep_keep + n_keep_drop) * (n_keep_keep + n_drop_keep)
                    + (n_drop_keep + n_drop_drop) * (n_keep_drop + n_drop_drop))
                 = 0
            THEN 1.0
            ELSE round(
              CAST((n_keep_keep + n_keep_drop + n_drop_keep + n_drop_drop)
                   * (n_keep_keep + n_drop_drop)
                   - ((n_keep_keep + n_keep_drop) * (n_keep_keep + n_drop_keep)
                      + (n_drop_keep + n_drop_drop) * (n_keep_drop + n_drop_drop))
                   AS DOUBLE)
              / CAST((n_keep_keep + n_keep_drop + n_drop_keep + n_drop_drop)
                     * (n_keep_keep + n_keep_drop + n_drop_keep + n_drop_drop)
                     - ((n_keep_keep + n_keep_drop) * (n_keep_keep + n_drop_keep)
                        + (n_drop_keep + n_drop_drop) * (n_keep_drop + n_drop_drop))
                     AS DOUBLE), 6)
       END AS kappa
FROM conf
""",
    doc="X145: QUALITY-SCREEN ENSEMBLE AGREEMENT — before combining "
    "filters into a pipeline, measure how much they agree: for every "
    "pair of the four rule gates (x86 Gopher battery, x09 "
    "length/punctuation, x17 repetition, x140 blocklist), the 2x2 "
    "keep/drop confusion counts and Cohen's kappa. Near-1 kappa means "
    "a redundant screen (drop it, save a pass); near-0 means the "
    "screens fire on DIFFERENT documents and stacking them multiplies "
    "yield loss — the filter-ensemble ablation signal. Determinism: "
    "the four gate columns compose textually from the registered "
    "oracles (composed in register), x17's short-doc gap defaults to keep "
    "via LEFT JOIN, and kappa is exact-integer algebra (n(a+d) - "
    "marginal products over n^2 - the same) with a single 6dp "
    "division; the degenerate pe=1 case is an INTEGER equality branch "
    "(x107's rule). Scale: one doc-grain gate table (four scan-side "
    "rules joined on doc_id), then SIX constant-size aggregates over "
    "it — the audit costs one corpus pass regardless of pair count.",
)
def x145_screen_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.operators.text_analysis import (
        x09_quality_score,
        x17_repetition_filter,
    )

    g86 = x86_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("g86")
    )
    g09 = x09_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality_gate") == "keep").cast("int").alias("g09")
    )
    g17 = x17_repetition_filter(spark, sf_dir).select(
        "doc_id", (F.col("repetition_gate") == "keep").cast("int").alias("g17")
    )
    g140 = x140_blocklist_screen(spark, sf_dir).select(
        "doc_id", (F.col("gate") == "ok").cast("int").alias("g140")
    )
    gates = (
        g86.join(g09, "doc_id")
        .join(g17, "doc_id", "left")  # x17 emits no row for <2-token docs
        .join(g140, "doc_id")
        .select(
            "doc_id",
            "g86",
            "g09",
            F.coalesce(F.col("g17"), F.lit(1)).alias("g17"),
            "g140",
        )
    )
    # ALL six confusions in ONE aggregate pass (24 conditional sums) —
    # separate per-pair aggregates launch six jobs over the same table
    # and job latency dominates at any scale; then unstack to pair rows.
    pairs = [
        (SCREEN_GATES[i], SCREEN_GATES[j])
        for i in range(len(SCREEN_GATES))
        for j in range(i + 1, len(SCREEN_GATES))
    ]
    sums = []
    for ga, gb in pairs:
        for va, vb, tag in ((1, 1, "kk"), (1, 0, "kd"), (0, 1, "dk"), (0, 0, "dd")):
            sums.append(
                F.sum(
                    ((F.col(ga) == va) & (F.col(gb) == vb)).cast("bigint")
                ).alias(f"{ga}_{gb}_{tag}")
            )
    one = gates.agg(*sums)
    rows = F.array(
        *[
            F.struct(
                F.lit(ga).alias("gate_a"),
                F.lit(gb).alias("gate_b"),
                F.col(f"{ga}_{gb}_kk").alias("n_keep_keep"),
                F.col(f"{ga}_{gb}_kd").alias("n_keep_drop"),
                F.col(f"{ga}_{gb}_dk").alias("n_drop_keep"),
                F.col(f"{ga}_{gb}_dd").alias("n_drop_drop"),
            )
            for ga, gb in pairs
        ]
    )
    conf = one.select(F.explode(rows).alias("r")).select("r.*")
    n = (
        F.col("n_keep_keep")
        + F.col("n_keep_drop")
        + F.col("n_drop_keep")
        + F.col("n_drop_drop")
    )
    pe_num = (F.col("n_keep_keep") + F.col("n_keep_drop")) * (
        F.col("n_keep_keep") + F.col("n_drop_keep")
    ) + (F.col("n_drop_keep") + F.col("n_drop_drop")) * (
        F.col("n_keep_drop") + F.col("n_drop_drop")
    )
    num = n * (F.col("n_keep_keep") + F.col("n_drop_drop")) - pe_num
    den = n * n - pe_num
    return conf.select(
        "gate_a",
        "gate_b",
        "n_keep_keep",
        "n_keep_drop",
        "n_drop_keep",
        "n_drop_drop",
        # degenerate pe=1 (both screens unanimous): kappa := 1 by the
        # INTEGER equality den == 0, never a float compare
        F.when(den == 0, F.lit(1.0))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("kappa"),
    )
