"""Text-analysis operators for training-data pipelines (X4 + extensions).

Token statistics, tf-idf, language ID, quality scoring, token counting and
document fingerprinting over the ``documents`` table.  All hot paths are
built-in Catalyst expressions (split/explode/groupBy, regexp) — no Python in
the row loop — so they parallelize trivially: at 100 TB these are one scan +
(for the aggregating ones) one shuffle on a high-cardinality key.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.operators._util import (
    SQL_RAW_TOKENS,
    SQL_TOKENS,
    STOPWORDS,
    fits_driver,
    global_rank,
    gram_hashes,
    materialize,
    raw_tokens,
    spread,
    tokens,
)
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table, local_rows


@register(
    "x04_term_frequencies",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents
)
SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM toks WHERE term <> ''
GROUP BY term
""",
    doc="X4: corpus term/document frequencies — explode+groupBy; the "
    "building block for tf-idf. One shuffle on term.",
)
def x04_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


@register(
    "x04b_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks WHERE term <> '' GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf, rn AS term_rank FROM ranked WHERE rn <= 3
""",
    doc="X4: per-document top-3 tf-idf terms. The corpus is tokenized ONCE: "
    "df derives from the tf table itself (df(term) = rows per term in "
    "tf), so the second explode pass and the countDistinct disappear; "
    "the tiny df table broadcasts onto the tf side; top-k via windowed "
    "row_number (no global sort).",
)
def x04b_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar; at scale use a broadcast single-row agg
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    # tf feeds both the df aggregate and the scoring join; the two branches
    # share an identical shuffle, so Spark plans a ReusedExchange and the
    # tokenize+explode scan runs once — no checkpoint needed.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", "tfidf", "term_rank")
    )


@register(
    "x08_language_id_heuristic",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
stats AS (
  SELECT doc_id, any_value(lang) AS lang,
         COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN term IN ({', '.join(repr(s) for s in STOPWORDS)}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM toks WHERE term <> '' GROUP BY doc_id
)
SELECT doc_id, lang,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       CASE WHEN n_stop * 10 >= n_tokens THEN 'en' ELSE 'other' END AS lang_guess
FROM stats
""",
    doc="X8: n-gram/stopword-ratio language-ID heuristic — a deterministic, "
    "SQL-expressible classifier (English stopword density >= 0.1 -> 'en').",
)
def x08_language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(raw_tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    stats = toks.groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("term").isin(*STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return stats.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("stopword_ratio"),
        # integer gate: n_stop/n_tokens >= 0.1 <=> 10*n_stop >= n_tokens
        F.when(F.col("n_stop") * 10 >= F.col("n_tokens"), "en")
        .otherwise("other")
        .alias("lang_guess"),
    )


@register(
    "x09_quality_score",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars_actual,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS INT) AS n_tokens,
       round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
       round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
       CASE WHEN length(text) BETWEEN 20 AND 10000
             AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 5 < length(text)
            THEN 'keep' ELSE 'drop' END AS quality_gate
FROM documents
""",
    doc="X9: document quality scoring — length, punctuation density, "
    "alphabetic ratio, and a keep/drop gate; pure regexp expressions, "
    "embarrassingly parallel.",
)
def x09_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    text_len = F.length("text")
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    punct_ratio = punct.cast("double") / text_len
    return d.select(
        "doc_id",
        text_len.alias("n_chars_actual"),
        F.size(tokens()).alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(alpha.cast("double") / text_len, 6).alias("alpha_ratio"),
        F.when(
            # integer gate: punct/len < 0.2 <=> 5*punct < len
            text_len.between(20, 10000) & (punct * 5 < text_len), "keep"
        )
        .otherwise("drop")
        .alias("quality_gate"),
    )


@register(
    "x10_token_counting",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_ish_tokens,
       CAST((length(text) + 3) // 4 AS INT) AS byte_estimate_tokens
FROM documents
""",
    doc="X10: token counting three ways — whitespace, BPE-ish regex "
    "(letter-runs | digit-runs | single punctuation), and the chars/4 "
    "estimate used for LLM budget planning.",
)
def x10_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id",
        F.size(tokens()).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
            )
        ).alias("bpe_ish_tokens"),
        F.expr("(length(text) + 3) DIV 4").cast("int").alias("byte_estimate_tokens"),
    )


@register(
    "x11_document_fingerprint",
    oracle=None,  # xxhash64 is Spark-specific -> rows-only check; pytest
    # covers determinism and collision behavior on goldens.
    doc="X11: document fingerprinting — full-text xxhash64 plus a "
    "rolling-window fingerprint (min of 8-gram token-window hashes, i.e. a "
    "winnowing-style signature). Hash function is engine-specific, so this "
    "is a rows-only check; stability is pytest-verified.",
)
def x11_document_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array in its own projection: it is referenced
    # from inside the shingle lambda, and projection collapse would
    # otherwise re-run split+filter for every window position.
    tokenized = spread(d, "doc_id").select(
        "doc_id",
        "text",
        tokens().alias("toks"),
    )
    n = F.size(F.col("toks"))
    # 8-token shingles via transform over a 1..n-7 index sequence.
    window_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i, 8))),
    )
    return tokenized.select(
        "doc_id",
        F.xxhash64("text").alias("full_hash"),
        F.array_min(window_hashes).alias("winnow_fingerprint"),
        n.alias("n_tokens"),
    )


@register(
    "x07_train_test_split",
    oracle="""
WITH hashed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4)) AS INT) % 10 AS bucket
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'valid'
            ELSE 'test' END AS split
FROM hashed
""",
    doc="X7: deterministic content-hash train/valid/test split (80/10/10) "
    "— bucket = first 16 bits of md5(doc_id:text) mod 10. Hash-based "
    "assignment is the training-pipeline standard: stable under "
    "re-partitioning, re-runs, and corpus growth (a doc never migrates "
    "between splits), unlike sample()/randomSplit whose output depends "
    "on partitioning. Pure codegen expression — scan-local at any scale; "
    "md5 chosen because both engines define it identically (oracle "
    "proves exact parity).",
)
def x07_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("text"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 10
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "x12_stratified_sample",
    oracle="""
WITH hashed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 4)) AS INT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang
FROM hashed
WHERE bucket < (CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 50 ELSE 90 END)
""",
    doc="X12: deterministic stratified downsampling — per-language keep "
    "rates (en 20%, de 50%, rest 90%), the standard rebalancing move for "
    "training corpora dominated by one language. Membership = content "
    "hash bucket < per-stratum rate: scan-local (no shuffle, no state), "
    "reproducible under re-partitioning and corpus growth, and "
    "incremental (new docs never flip old membership) — everything "
    "sample()/randomSplit can't guarantee. Same md5-bucket primitive as "
    "x07, oracle-proved bit-identical in both engines.",
)
def x12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("strat"), F.col("doc_id"), F.col("text"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 20)
        .when(F.col("lang") == "de", 50)
        .otherwise(90)
    )
    return d.filter(bucket < rate).select("doc_id", "lang")


@register(
    "x13_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                   OR lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, ts_us,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS session_start_us,
       ROUND((MAX(ts_us) - MIN(ts_us)) / 1000000.0, 3) AS duration_s
FROM sessions
GROUP BY user_id, session_idx
""",
    doc="X13: batch gap-sessionization — a new session starts after a "
    ">30-min silence; session id is the running sum of new-session flags "
    "(lag + cumulative sum, two window passes over ONE shuffle on "
    "user_id, since both windows share the partitioning). The batch twin "
    "of the streaming session_window (s14d). At 100 TB this is the "
    "canonical one-shuffle sessionization: all window work is "
    "partition-local after the single exchange on the session key.",
)
def x13_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(ts_us).over(w)
    flagged = e.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.when(prev.isNull() | ((ts_us - prev) > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn(
        "session_idx", F.sum("new_session").over(wsum).cast("int")
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.round((F.max("ts_us") - F.min("ts_us")) / 1_000_000.0, 3).alias("duration_s"),
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"


@register(
    "x16_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567.' AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones
FROM seeded
""",
    doc="X16: PII scrubbing — email/phone regex redaction plus per-doc "
    "match counts (the audit trail). Deterministic synthetic PII is "
    "seeded into each doc so the redaction paths actually execute "
    "(fixture text contains none). Pure regexp expressions: scan-local, "
    "no shuffle, trivially parallel at 100 TB; the oracle proves both "
    "engines' regex dialects agree on these patterns.",
)
def x16_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567."),
    )
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(seeded, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(seeded, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(seeded, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
    )


@register(
    "x17_repetition_filter",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         {SQL_TOKENS} AS t
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(CAST(len(t) AS INT) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks WHERE len(t) >= 2
),
cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
agg AS (SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot
        FROM cnt GROUP BY doc_id)
SELECT doc_id,
       round(CAST(mx AS DOUBLE) / tot, 6) AS top_bigram_ratio,
       CASE WHEN mx * 5 > tot THEN 'drop' ELSE 'keep' END
           AS repetition_gate
FROM agg
""",
    doc="X17: repetition filter (Gopher-style quality rule) — fraction of "
    "all bigrams taken by the single most frequent bigram; docs above "
    "0.2 are boilerplate/spam-like and dropped from training corpora. "
    "Bigrams come from the same codegen lead()-window shape as the "
    "MinHash shingles (no string-array materialization); two hash "
    "aggregates, one shuffle on doc_id that the window already needs.",
)
def x17_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    th = d.select(
        "doc_id",
        F.posexplode(tokens()).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("tok").over(w)
    bigrams = th.select(
        "doc_id", F.concat_ws(" ", F.col("tok"), nxt).alias("bg"), nxt.alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    cnt = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.max("c").alias("mx"), F.sum("c").alias("tot")
    )
    ratio = F.col("mx").cast("double") / F.col("tot")
    return agg.select(
        "doc_id",
        F.round(ratio, 6).alias("top_bigram_ratio"),
        # integer gate: mx/tot > 0.2 <=> 5*mx > tot
        F.when(F.col("mx") * 5 > F.col("tot"), "drop")
        .otherwise("keep")
        .alias("repetition_gate"),
    )


DECON_NGRAM = 4  # n-gram width: real pipelines use 8-13; the synthetic
# corpus's vocabulary only produces cross-doc collisions at 4-grams, and a
# 0-hit result would make the oracle check vacuous
DECON_EVAL_MOD = 97  # doc_id % 97 == 0 designates the synthetic eval set


@register(
    "x18_decontamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(CAST(len(t) AS INT) - {DECON_NGRAM - 1}, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + {DECON_NGRAM - 1}), ' ')))) AS gram
  FROM toks WHERE len(t) >= {DECON_NGRAM}
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
),
train AS (SELECT doc_id, gram FROM grams WHERE doc_id % {DECON_EVAL_MOD} <> 0)
SELECT train.doc_id,
       CAST(COUNT(DISTINCT train.gram) AS BIGINT) AS n_shared_ngrams
FROM train JOIN eval_grams ON train.gram = eval_grams.gram
GROUP BY train.doc_id
""",
    doc="X18: benchmark decontamination — flag training docs sharing any "
    f"{DECON_NGRAM}-gram with a held-out eval set (the standard "
    "n-gram-overlap contamination rule). Eval grams are DISTINCT and "
    "small relative to the corpus -> broadcast onto the train side, so "
    "the contamination scan is one broadcast hash join at scan "
    "parallelism — no shuffle of the training corpus; only the per-doc "
    "count aggregates (one shuffle on doc_id). Gram identity uses the "
    "token strings (not hashes) so the oracle is exact in both engines; "
    "at 100 TB swap the join key for xxhash64(gram) to shrink state "
    "with identical plan shape.",
)
def x18_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # Distinct/join/count on the 8-byte gram hash, not the gram string —
    # the oracle matches on string grams, which is the same answer short of
    # a 64-bit collision; the distinct gram table is materialized because
    # both the eval and train branches read it (it would otherwise recompute
    # tokenize+window+distinct per branch). Together: 4.4s -> ~1s at sf0.1.
    grams = materialize(gram_hashes(d, tokens(), DECON_NGRAM), "reused")
    eval_grams = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select("gh").distinct()
    )
    train = grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        train.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_shared_ngrams"))
    )


@register(
    "x20_unigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents
  ) AS t
  WHERE t.term <> ''
),
lm AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(ln(lm.tf / tot.t) AS DECIMAL(28,18))) AS DOUBLE)
             / count(*), 6) AS avg_logprob
FROM tok JOIN lm USING (term) CROSS JOIN tot
GROUP BY tok.doc_id
""",
    doc="X20: unigram language-model quality score — the CCNet-style "
    "perplexity gate, with the corpus's own unigram distribution standing "
    "in for KenLM: score each document by its mean token log-probability; "
    "low scorers are boilerplate/outliers. Per-token ln() goes through "
    "DECIMAL before summing so the result is independent of aggregation "
    "order (libm-vs-JVM ln differs by ulps; the fixed-scale cast absorbs "
    "it). Scale: the LM table is vocab-sized -> broadcast onto the token "
    "stream (no shuffle of the big side); the corpus total is a scalar "
    "cross join; one final shuffle on doc_id.",
)
def x20_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _unigram_lm_join(_doc_terms(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), _mean_logprob())
    )


def _doc_terms(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(doc_id, *cols, term) for every non-empty token of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return (
        spread(d, "doc_id")
        .select("doc_id", *cols, F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )


def _unigram_lm_join(tok: DataFrame) -> DataFrame:
    """``tok`` with its term's corpus count ``tf`` and the corpus token
    total ``t``. The LM is vocab-sized and the total a scalar, so both
    broadcast onto the token stream."""
    lm = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return tok.join(F.broadcast(lm), "term").crossJoin(F.broadcast(tot))


def _mean_logprob() -> Column:
    """avg_logprob: the group's mean ln(tf / t), rounded to 6dp. Per-token
    ln goes through DECIMAL before summing, so the score does not depend
    on the aggregation order."""
    logp = F.log(F.col("tf") / F.col("t"))
    return F.round(
        F.sum(logp.cast("decimal(28,18)")).cast("double") / F.count(F.lit(1)), 6
    ).alias("avg_logprob")


@register(
    "x23_pmi_cooccurrence",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents) t
  WHERE t.term <> ''
),
d AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT p.term_a, p.term_b, CAST(p.n_ab AS BIGINT) AS n_ab,
       round(ln(p.n_ab * d.n_docs * 1.0 / (fa.df * fb.df)), 6) AS pmi
FROM pairs p
JOIN df fa ON fa.term = p.term_a
JOIN df fb ON fb.term = p.term_b
CROSS JOIN d
WHERE p.n_ab * 4 >= d.n_docs
""",
    doc="X23: pointwise mutual information over term co-occurrence — "
    "which token pairs appear in the same document more often than "
    "chance (collocation mining / topic signal for corpus curation). "
    "Support gate n_ab >= D/4 keeps the pair table dense-only, and it "
    "licenses an EXACT pre-prune: n_ab <= min(df_a, df_b), so only "
    "terms with df >= D/4 can appear in a surviving pair — dt is "
    "filtered to those (broadcast semi-join against the vocab-sized df "
    "table) BEFORE the quadratic per-doc pairing. Result-identical by "
    "construction, and at 100 TB the pair generation is quadratic only "
    "in the per-doc count of corpus-frequent terms, not full per-doc "
    "vocabulary. For lower support thresholds the same broadcast prune "
    "takes a top-k df cut instead.",
)
def x23_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dt = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
        .transform(materialize, "reused")  # df counts, the self-join, scalar D
    )
    n_docs = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Exact support prune: a pair needs n_ab*4 >= D and n_ab <= min(df_a,
    # df_b), so any term with df*4 < D cannot survive the final gate.
    eligible = (
        df.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 4 >= F.col("n_docs"))
        .select("term", "df")
    )
    dt_pruned = dt.join(F.broadcast(eligible.select("term")), "term")
    a = dt_pruned.select(F.col("doc_id"), F.col("term").alias("term_a"))
    b = dt_pruned.select(F.col("doc_id"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    fa = eligible.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    fb = eligible.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(fa), "term_a")
        .join(F.broadcast(fb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_ab") * 4 >= F.col("n_docs"))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab") * F.col("n_docs") / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "x24_zipf_slope",
    oracle=f"""
WITH toks AS (
  SELECT unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
freq AS (
  SELECT term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY term
),
ranked AS (
  SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rnk FROM freq
)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       round(regr_slope(ln(CAST(tf AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
           AS zipf_slope,
       round(regr_r2(ln(CAST(tf AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
           AS zipf_r2
FROM ranked
""",
    doc="X24: Zipf's-law fit over the corpus rank-frequency curve — "
    "log-log regression slope (natural text ~ -1; synthetic/boilerplate "
    "corpora deviate) plus R^2, a one-number distribution-shift monitor "
    "for corpus curation. Composes term aggregation, a global rank "
    "window, and regression aggregates. Scale: the window is a total "
    "order over the VOCABULARY (not the corpus) — vocab fits one "
    "executor after the term aggregate; at trillion-token scale swap "
    "row_number for a rank computed from a cumulative histogram.",
)
def x24_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    freq = (
        spread(d, "doc_id")
        .select(F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("term"))
    ranked = freq.select("tf", F.row_number().over(w).alias("rnk"))
    lf = F.log(F.col("tf").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("zipf_r2"),
    )


@register(
    "x25_langid_confusion",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
pred AS (
  SELECT doc_id, any_value(lang) AS lang,
         CASE WHEN 10 * SUM(CASE WHEN term IN ({', '.join(repr(s) for s in STOPWORDS)}) THEN 1 ELSE 0 END)
                   >= COUNT(*)
              THEN 'en' ELSE 'other' END AS lang_guess
  FROM toks WHERE term <> '' GROUP BY doc_id
)
SELECT lang, lang_guess,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * 1.0 / SUM(count(*)) OVER (PARTITION BY lang), 4)
           AS row_rate
FROM pred
GROUP BY lang, lang_guess
""",
    doc="X25: language-ID confusion matrix — evaluate the x08 classifier "
    "against the labeled lang column: per (label, prediction) doc counts "
    "and per-label rates (recall on the diagonal). The evaluation-loop "
    "pattern every classifier-driven curation stage needs. Scale: one "
    "doc_id shuffle for per-doc prediction, then a cells-sized aggregate "
    "+ a window over the tiny cell table.",
)
def x25_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", "lang", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    is_stop = F.col("term").isin(*STOPWORDS).cast("int")
    pred = toks.groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"),
        F.when(
            # integer gate: stop share >= 0.1 <=> 10*n_stop >= n_tokens
            F.sum(is_stop) * 10 >= F.count(F.lit(1)), "en"
        ).otherwise("other").alias("lang_guess"),
    )
    cells = pred.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_guess",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("row_rate"),
    )


TOP_K_TERMS = 5
# The sketch tracks far more items than it returns so the top-k cut can be
# re-ranked under a deterministic (count DESC, term ASC) total order —
# count ties AT the boundary (guaranteed on degenerate corpora, where every
# term counts 1) then resolve identically in both engines. TRACK bounds the
# sketch map AND the one-row result array; vocab above TRACK means the
# counts themselves are approximate and the exact oracle no longer applies
# (not the shipped-fixture regime, per the x26 doc).
X26_TRACK = 10000


@register(
    "x26_heavy_hitters_sketch",
    oracle=f"""
WITH toks AS (
  SELECT unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
freq AS (
  SELECT term, count(*) AS est_count FROM toks WHERE term <> '' GROUP BY term
)
SELECT term, CAST(est_count AS BIGINT) AS est_count
FROM freq ORDER BY est_count DESC, term LIMIT {TOP_K_TERMS}
""",
    doc="X26: heavy-hitter terms via Spark 4's approx_top_k frequent-items "
    "sketch — the mergeable one-pass path to 'most common tokens' over a "
    "100 TB corpus: map-side sketches of bounded size merge associatively "
    "(like x14's HLL), so no term-cardinality shuffle ever happens; "
    "contrast with x04, which shuffles the full term table. The corpus "
    "vocabulary is far below the sketch's tracked-item capacity, so "
    "counts are exact here and the DuckDB oracle is the exact top-k; at "
    "web scale the same plan returns epsilon-approximate counts.",
)
def x26_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select(F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    # Ask the sketch for its full tracked map (one bounded array in a 1-row
    # aggregate), re-rank under the engine-independent (count DESC, term
    # ASC) order with an array_sort comparator — no window, no shuffle —
    # then slice the top k. approx_top_k's own tie order among equal counts
    # is map-iteration-dependent, which diverged from the oracle on a
    # singleton corpus (every term counts 1 — the round-10 parity find).
    return (
        toks.agg(
            F.expr(f"approx_top_k(term, {X26_TRACK}, {X26_TRACK})").alias("tk")
        )
        .select(
            F.explode(
                F.slice(
                    F.expr(
                        "array_sort(tk, (a, b) -> CASE"
                        " WHEN a.count > b.count THEN -1"
                        " WHEN a.count < b.count THEN 1"
                        " WHEN a.item < b.item THEN -1"
                        " WHEN a.item > b.item THEN 1"
                        " ELSE 0 END)"
                    ),
                    1,
                    TOP_K_TERMS,
                )
            ).alias("e")
        )
        .select(F.col("e.item").alias("term"), F.col("e.count").alias("est_count"))
    )


CTX_TOKENS = 512  # training context length (tokens) for sequence packing
PACK_BUCKET = 1024  # docs per cumsum bucket in the hierarchical prefix sum


@register(
    "x27_sequence_packing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, count(*) AS n_tokens
  FROM (SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents) t
  WHERE term <> ''
  GROUP BY doc_id
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum_end - n_tokens) // {CTX_TOKENS} AS BIGINT) AS start_seq,
       CAST((cum_end - 1) // {CTX_TOKENS} AS BIGINT) AS end_seq,
       CAST(((cum_end - 1) // {CTX_TOKENS})
            - ((cum_end - n_tokens) // {CTX_TOKENS}) + 1 AS BIGINT) AS n_seqs,
       CAST((cum_end - n_tokens) % {CTX_TOKENS} AS BIGINT) AS offset_in_seq
FROM cum
""",
    doc="X27: concat-and-chunk sequence packing — the standard LLM "
    "pretraining layout: documents are concatenated in deterministic "
    "doc_id order and sliced into fixed CTX_TOKENS-sized training "
    "sequences; each doc maps to its [start_seq, end_seq] span and "
    "offset within the first sequence. The global running token sum is "
    "computed HIERARCHICALLY: an intra-bucket cumsum (window partitioned "
    "by doc_id DIV 1024 — parallel) plus a broadcast per-bucket prefix "
    "table (corpus/1024 rows), so no single-partition global window ever "
    "materializes — the two-level scan + broadcast-prefix shape survives "
    "100 TB where a bare ORDER BY window would serialize on one task. "
    "Oracle uses the plain global cumsum (identical arithmetic).",
)
def x27_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    b = toks.withColumn("bucket", F.expr(f"doc_id DIV {PACK_BUCKET}"))
    intra_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = b.withColumn("intra_end", F.sum("n_tokens").over(intra_w))
    # Per-bucket totals are corpus/1024 rows — the only global ordering is
    # over THIS tiny table, then broadcast back.
    prefix_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        b.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("btot"))
        .withColumn("prefix", F.coalesce(F.sum("btot").over(prefix_w), F.lit(0)))
        .select("bucket", "prefix")
    )
    start_seq = F.expr(f"cum_start DIV {CTX_TOKENS}")
    end_seq = F.expr(f"(cum_end - 1) DIV {CTX_TOKENS}")
    return (
        b.join(F.broadcast(prefix), "bucket")
        .withColumn("cum_end", F.col("prefix") + F.col("intra_end"))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            start_seq.alias("start_seq"),
            end_seq.alias("end_seq"),
            (end_seq - start_seq + 1).alias("n_seqs"),
            (F.col("cum_start") % CTX_TOKENS).alias("offset_in_seq"),
        )
    )


@register(
    "x28_mixture_reweighting",
    oracle="""
WITH counts AS (
  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source
),
tot AS (SELECT SUM(n_docs) AS total, count(*) AS n_cells FROM counts)
SELECT lang, source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 1000000 // total AS BIGINT) AS corpus_share_e6,
       CAST(total * 1000000 // (n_cells * n_docs) AS BIGINT) AS weight_e6
FROM counts CROSS JOIN tot
""",
    doc="X28: domain-mixture reweighting — per-(lang, source) sampling "
    "weights that rebalance the corpus toward a target mixture (uniform "
    "across cells here; any broadcast target table slots in the same "
    "way): weight = target_share / corpus_share, the multiplier a "
    "training-data sampler applies per domain. One partial-aggregated "
    "shuffle on the tiny (lang, source) key set plus a broadcast scalar "
    "total — nothing scales with corpus size except the first map-side "
    "count.",
)
def x28_mixture_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_cells")
    )
    # micro-unit integers (round-7 risk burn-down): share = n/total and
    # weight = (1/cells)/share = total/(cells*n) are integer ratios, so
    # they ship as exact DIV micro-units with no float division anywhere
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 DIV total AS BIGINT)").alias(
            "corpus_share_e6"
        ),
        F.expr(
            "CAST(total * 1000000 DIV (n_cells * n_docs) AS BIGINT)"
        ).alias("weight_e6"),
    )


PSI_BINS = 10  # fixed equal-width bins over the global value range


@register(
    "x30_psi_drift_monitor",
    oracle=f"""
WITH bounds AS (
  SELECT min(ts) AS t0, max(ts) AS t1, min(value) AS v0, max(value) AS v1
  FROM events
),
binned AS (
  SELECT e.event_type,
         CASE WHEN epoch(e.ts) * 2 <= epoch(b.t0) + epoch(b.t1)
              THEN 'ref' ELSE 'cur' END AS period,
         CASE WHEN CAST(round(b.v1 * 100) AS BIGINT)
                   = CAST(round(b.v0 * 100) AS BIGINT)
              THEN 0  -- degenerate range (all values equal): one bin
              ELSE least(CAST((CAST(round(e.value * 100) AS BIGINT)
                      - CAST(round(b.v0 * 100) AS BIGINT)) * {PSI_BINS}
                     // (CAST(round(b.v1 * 100) AS BIGINT)
                         - CAST(round(b.v0 * 100) AS BIGINT)) AS INT),
               {PSI_BINS - 1}) END AS bin
  FROM events e CROSS JOIN bounds b
),
spine AS (
  SELECT DISTINCT event_type, s.bin
  FROM binned CROSS JOIN (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) s
),
counts AS (
  SELECT s.event_type, s.bin,
         count(*) FILTER (b.period = 'ref') AS n_ref,
         count(*) FILTER (b.period = 'cur') AS n_cur
  FROM spine s
  LEFT JOIN binned b ON b.event_type = s.event_type AND b.bin = s.bin
  GROUP BY s.event_type, s.bin
),
tot AS (
  SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
  FROM counts GROUP BY event_type
)
SELECT c.event_type,
       CAST(SUM(c.n_ref) AS BIGINT) AS n_ref,
       CAST(SUM(c.n_cur) AS BIGINT) AS n_cur,
       round(SUM(
         ((c.n_ref + 0.5) / (t.t_ref + {PSI_BINS} * 0.5)
          - (c.n_cur + 0.5) / (t.t_cur + {PSI_BINS} * 0.5))
         * ln(((c.n_ref + 0.5) / (t.t_ref + {PSI_BINS} * 0.5))
              / ((c.n_cur + 0.5) / (t.t_cur + {PSI_BINS} * 0.5)))
       ), 6) AS psi
FROM counts c JOIN tot t USING (event_type)
GROUP BY c.event_type
""",
    doc="X30: population-stability-index drift monitor — the standard "
    "training-data distribution-shift check: per event_type, the value "
    "distribution of the first time half (reference) vs the second "
    "(current) over 10 fixed equal-width bins, Laplace-smoothed "
    "(+0.5/bin) so empty bins stay finite; PSI = sum (p_ref - p_cur) * "
    "ln(p_ref/p_cur). >0.2 conventionally flags drift. Scale: global "
    "min/max ride a broadcast scalar row; one partial-agg shuffle on "
    "(event_type, period, bin) — cardinality bins x types x 2, "
    "independent of row count; the bin spine is generated, not scanned.",
)
def x30_psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    )
    # integer-space binning (risk burn-down): event values are exact 2dp,
    # so floor((v - v0) / ((v1 - v0)/BINS)) == (cents - c0) * BINS DIV
    # (c1 - c0) — an exact integer rational with no float floor at bin
    # boundaries in either engine
    cents = "CAST(round(value * 100) AS BIGINT)"
    c0 = "CAST(round(v0 * 100) AS BIGINT)"
    c1 = "CAST(round(v1 * 100) AS BIGINT)"
    binned = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(
            F.unix_seconds("ts") * 2 <= F.unix_seconds("t0") + F.unix_seconds("t1"),
            F.lit("ref"),
        )
        .otherwise("cur")
        .alias("period"),
        # degenerate range (all values equal, e.g. a 1-row shard): the
        # divisor (c1 - c0) is 0 and ANSI DIV raises — route every row to
        # bin 0 instead (CASE branches evaluate lazily in codegen, so the
        # DIV never runs when guarded)
        F.when(F.expr(f"{c1} = {c0}"), F.lit(0))
        .otherwise(
            F.least(
                F.expr(
                    f"CAST(({cents} - {c0}) * {PSI_BINS} DIV ({c1} - {c0}) AS INT)"
                ),
                F.lit(PSI_BINS - 1),
            )
        )
        .alias("bin"),
    )
    counts = (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count(F.when(F.col("period") == "ref", 1)).alias("n_ref"),
            F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur"),
        )
    )
    # dense bin spine so empty bins contribute their smoothed mass
    spine = (
        counts.select("event_type")
        .distinct()
        .crossJoin(spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin")))
    )
    dense = spine.join(counts, ["event_type", "bin"], "left").fillna(
        0, subset=["n_ref", "n_cur"]
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    sm = F.lit(0.5)
    p_ref = (F.col("n_ref") + sm) / (F.col("t_ref") + PSI_BINS * sm)
    p_cur = (F.col("n_cur") + sm) / (F.col("t_cur") + PSI_BINS * sm)
    return (
        dense.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
            F.round(F.sum((p_ref - p_cur) * F.log(p_ref / p_cur)), 6).alias("psi"),
        )
    )


@register(
    "x32_compression_ratio",
    oracle=None,  # zlib has no DuckDB analogue -> rows-only; determinism
    # and the planted-repetition property are pinned in
    # tests/test_properties.py (zlib DEFLATE with a fixed level is a
    # deterministic function of the bytes).
    doc="X32: compression-ratio quality signal — deflated_size / raw_size "
    "per document (zlib level 6). Highly repetitive or templated text "
    "compresses far below ~0.4 and is a classic corpus-filter signal "
    "(complements the explicit n-gram repetition gate, x17: compression "
    "catches ANY redundancy, not just fixed-length repeats). Runs as an "
    "Arrow-batched pandas UDF — CPU-bound, partition-local, no shuffle; "
    "the gate column makes it directly usable as a curation filter.",
)
def x32_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: round(
                len(zlib.compress(t.encode("utf-8"), 6)) / max(len(t.encode("utf-8")), 1),
                6,
            )
        )

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    r = ratio(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        r.alias("compression_ratio"),
        F.when(r < 0.4, "drop").otherwise("keep").alias("redundancy_gate"),
    )


RAG_CHUNK = 64  # chars per retrieval chunk
RAG_STRIDE = 48  # 16-char overlap between consecutive chunks


@register(
    "x33_rag_chunking",
    oracle=f"""
SELECT doc_id,
       CAST((s - 1) // {RAG_STRIDE} AS INT) AS chunk_idx,
       CAST(s AS INT) AS chunk_start,
       substr(text, CAST(s AS INT), {RAG_CHUNK}) AS chunk_text,
       md5(substr(text, CAST(s AS INT), {RAG_CHUNK})) AS chunk_hash
FROM documents,
     unnest(generate_series(1, greatest(len(text), 1), {RAG_STRIDE})) AS t(s)
""",
    doc="X33: overlapping-window chunking for retrieval corpora (RAG prep) "
    "— 64-char chunks every 48 chars so no boundary-straddling phrase is "
    "lost to a hard cut (the overlap twin of x19's ALIGNED dedup chunks; "
    "same scan-side explode, different purpose). chunk_idx derives "
    "arithmetically from the start offset — no window function, so the "
    "chunk table is born fully parallel with zero shuffles; the md5 "
    "chunk_hash is the join key downstream (chunk-level dedup, chunk -> "
    "embedding association).",
)
def x33_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(RAG_STRIDE)
    )
    chunk = F.col("text").substr(F.col("s"), F.lit(RAG_CHUNK))
    return d.select("doc_id", "text", F.explode(starts).alias("s")).select(
        "doc_id",
        F.expr(f"CAST((s - 1) DIV {RAG_STRIDE} AS INT)").alias("chunk_idx"),
        F.col("s").cast("int").alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.md5(chunk.cast("binary")).alias("chunk_hash"),
    )


RESAMPLE_DENOM = 10_000  # hash-bucket resolution for acceptance thresholds


@register(
    "x35_mixture_resample",
    oracle=f"""
WITH counts AS (
  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source
),
tot AS (SELECT SUM(n_docs) AS total, count(*) AS n_cells FROM counts),
thresh AS (
  SELECT lang, source,
         least(1.0, (1.0 / n_cells) / (n_docs * 1.0 / total)) AS keep_rate
  FROM counts CROSS JOIN tot
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN thresh t USING (lang, source)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':resample'), 1, 8)) AS BIGINT)
      % {RESAMPLE_DENOM}
      < CAST(round(t.keep_rate * {RESAMPLE_DENOM}) AS BIGINT)
""",
    doc="X35: mixture resampling — the EXECUTABLE form of x28: over-"
    "represented (lang, source) cells are downsampled toward the uniform "
    "target mixture by a content-hash acceptance test (keep when "
    "hash(doc) mod 10k falls under the cell's keep-rate threshold). "
    "Deterministic and reproducible like x07's split — never "
    "rand()-based, so the same corpus yields the same sample on any "
    "cluster layout; under-represented cells keep everything (rate "
    "capped at 1; upweighting happens at training time via x28's "
    "weights). One tiny aggregate + broadcast threshold join over the "
    "scan — shuffle-free for the corpus side; the 32-bit md5 bucket is "
    "identical in both engines (the x07 parity pattern).",
)
def x35_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_cells")
    )
    thresh = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.least(
            F.lit(1.0),
            (F.lit(1.0) / F.col("n_cells")) / (F.col("n_docs") / F.col("total")),
        ).alias("keep_rate"),
    )
    # same 32-bit md5 bucket in both engines (the x07 parity pattern)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.lit("resample"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % RESAMPLE_DENOM
    )
    return (
        d.join(F.broadcast(thresh), ["lang", "source"])
        .filter(bucket < F.round(F.col("keep_rate") * RESAMPLE_DENOM).cast("bigint"))
        .select("doc_id", "lang", "source")
    )


VOCAB_K = 200  # induced-vocabulary size for the OOV-rate monitor


@register(
    "x38_oov_rate",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents) AS t
  WHERE t.term <> ''
),
tf AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rk FROM tf
  ) WHERE rk <= {VOCAB_K}
),
per_doc AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok LEFT JOIN vocab v USING (term)
  GROUP BY tok.doc_id
)
SELECT d.lang, d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_oov) AS BIGINT) AS total_oov,
       round(CAST(SUM(n_oov) AS DOUBLE) / SUM(n_tokens), 6) AS oov_rate
FROM per_doc JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source
""",
    doc="X38: out-of-vocabulary rate against a corpus-induced top-K "
    "vocabulary — the tokenizer-coverage monitor run before committing a "
    "vocab to a training run. Vocabulary induction is rank-by-frequency "
    "with a deterministic term tiebreak; the rank window runs on the "
    "ALREADY-AGGREGATED term-frequency table (vocab-sized, not "
    "corpus-sized), and at 100 TB the exact global rank is replaced by a "
    "frequency threshold or approx_top_k — noted, same contract. The "
    "vocab is broadcast back onto the token stream (no shuffle of the "
    "big side); OOV mass aggregates per (lang, source) as ratios of "
    "BIGINT sums, which are order-independent.",
)
def x38_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = (
        tf.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("tf").desc(), F.col("term"))),
        )
        .filter(F.col("rk") <= VOCAB_K)
        .select("term")
    )
    per_doc = (
        toks.join(F.broadcast(vocab).withColumn("in_vocab", F.lit(1)), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_oov").alias("total_oov"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            "total_oov",
            F.round(
                F.col("total_oov").cast("double") / F.col("total_tokens"), 6
            ).alias("oov_rate"),
        )
    )


BIGRAM_ALPHA = 0.5  # add-alpha smoothing for unseen-context robustness

# x39/x101 oracle CTEs: tok(doc_id, term, pos) without empty tokens, each
# doc's bigrams big(doc_id, w1, w2) (w2 NULL at the last token) and the
# bigram counts bg(w1, w2, c12).
_SQL_BIGRAMS = f"""tok AS (
  SELECT doc_id, term, pos FROM (
    SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term,
           generate_subscripts({SQL_RAW_TOKENS}, 1) AS pos
    FROM documents
  ) WHERE term <> ''
),
big AS (
  SELECT doc_id, term AS w1,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big WHERE w2 IS NOT NULL GROUP BY w1, w2),"""


def _positioned_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, term) for every non-empty token; pos is the DuckDB
    position of the token in the raw split."""
    d = load_table(spark, sf_dir, "documents")
    return (
        spread(d, "doc_id")
        .select("doc_id", F.posexplode(raw_tokens()).alias("pos", "term"))
        .filter(F.col("term") != "")
    )


def _doc_bigrams(toks: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) for each adjacent pair of ``toks``; the lead() runs
    on the doc-partitioned token stream, so it adds no exchange."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return toks.select(
        "doc_id",
        F.col("term").alias("w1"),
        F.lead("term").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())


@register(
    "x39_bigram_logprob",
    oracle=f"""
WITH {_SQL_BIGRAMS}
ug AS (SELECT w1, CAST(SUM(c12) AS DOUBLE) AS c1 FROM bg GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs FROM tok)
SELECT big.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(ln((bg.c12 + {BIGRAM_ALPHA}) / (ug.c1 + {BIGRAM_ALPHA} * v.vs))
                          AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM big
JOIN bg ON big.w1 = bg.w1 AND big.w2 = bg.w2
JOIN ug ON big.w1 = ug.w1
CROSS JOIN v
WHERE big.w2 IS NOT NULL
GROUP BY big.doc_id
""",
    doc="X39: bigram language-model quality score with add-alpha smoothing "
    "— x20's unigram gate upgraded one Markov order: each document is "
    "scored by its mean bigram log-probability under the corpus's own "
    "bigram distribution. Bigrams form scan-side with a lead() over the "
    "per-doc token positions (the tokens are already partitioned by "
    "doc_id, so the window adds no extra exchange); the bigram LM table "
    "aggregates once and joins back; per-bigram ln() goes through "
    "DECIMAL(28,18) before summing so the score is independent of "
    "partial-aggregation order. At 100 TB the LM table is pruned to "
    "min-count >= t before the join (same contract, smaller broadcast).",
)
def x39_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _positioned_tokens(spark, sf_dir)
    # one tokenize+window pass feeds the LM build AND the scoring join
    big = materialize(_doc_bigrams(toks), "reused")
    bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ug = bg.groupBy("w1").agg(F.sum("c12").cast("double").alias("c1"))
    vs = float(toks.select("term").distinct().count())
    scored = (
        big.join(bg, ["w1", "w2"])
        .join(F.broadcast(ug), "w1")
        .select(
            "doc_id",
            F.log(
                (F.col("c12") + F.lit(BIGRAM_ALPHA))
                / (F.col("c1") + F.lit(BIGRAM_ALPHA * vs))
            )
            .cast("decimal(28,18)")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


MASK_SPAN = 3  # tokens per corruption span
MASK_PCT = 15  # percent of spans masked


@register(
    "x41_span_corruption",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, pos, (pos - 1) // {MASK_SPAN} AS span_id FROM (
    SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term,
           generate_subscripts({SQL_RAW_TOKENS}, 1) AS pos
    FROM documents
  ) WHERE term <> ''
),
flagged AS (
  SELECT doc_id, pos, span_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                  CAST(span_id AS VARCHAR)), 1, 4)) AS INT)
           % 100 < {MASK_PCT} AS masked
  FROM tok
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(COUNT(DISTINCT CASE WHEN masked THEN span_id END) AS BIGINT)
         AS n_spans_masked,
       round(CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS mask_ratio
FROM flagged
GROUP BY doc_id
""",
    doc="X41: T5/BART-style span-corruption mask layout — tokens group into "
    "fixed-width spans and each span is masked by a deterministic "
    "content hash (first 16 md5 bits of doc_id:span_id mod 100 < pct), "
    "the x07 pattern: stable under re-partitioning, re-runs, and corpus "
    "growth, so a denoising dataset rebuild masks the same spans (no "
    "rand(), which would change per run/partitioning). Pure codegen "
    "expressions, scan-local; one shuffle on doc_id for the per-doc "
    "layout summary. The span width / mask rate are the T5 knobs.",
)
def x41_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.posexplode(raw_tokens()).alias("pos0", "term"))
        .filter(F.col("term") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"))
        .withColumn("span_id", ((F.col("pos") - 1) / MASK_SPAN).cast("bigint"))
    )
    masked = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("span_id"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 100
        < MASK_PCT
    )
    flagged = toks.withColumn("masked", masked)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0)).alias("n_masked"),
        F.count_distinct(
            F.when(F.col("masked"), F.col("span_id"))
        ).alias("n_spans_masked"),
        F.round(
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mask_ratio"),
    )


FPRINT_PREFIX = 64  # chars of boilerplate prefix fingerprinted for x42


@register(
    "x42_cross_source_overlap",
    oracle=f"""
WITH fp AS (
  SELECT DISTINCT source, md5(substring(text, 1, {FPRINT_PREFIX})) AS h
  FROM documents
),
sizes AS (SELECT source, COUNT(*) AS n_fp FROM fp GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared,
       round(CAST(COUNT(*) AS DOUBLE) / sa.n_fp, 6) AS overlap_a,
       round(CAST(COUNT(*) AS DOUBLE) / sb.n_fp, 6) AS overlap_b
FROM fp a
JOIN fp b ON a.h = b.h AND a.source < b.source
JOIN sizes sa ON a.source = sa.source
JOIN sizes sb ON b.source = sb.source
GROUP BY a.source, b.source, sa.n_fp, sb.n_fp
""",
    doc="X42: cross-source contamination matrix — for every source pair, "
    "how many distinct content fingerprints (md5 of the leading "
    "boilerplate prefix) appear in both: the corpus-governance view of "
    "dedup, answering 'which ingestion pipelines copy from each other' "
    "before any doc is dropped. Fingerprints distinct per source first, "
    "so the self-join key fan-out is bounded by the SOURCE COUNT (a "
    "fingerprint appears once per source), never by duplicate volume — "
    "the pair space is O(n_fp * sources^2) worst case, and the tiny "
    "per-source size table broadcasts for the ratios. md5 gives exact "
    "two-engine parity.",
)
def x42_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source", F.md5(F.substring("text", 1, FPRINT_PREFIX)).alias("h")
    ).distinct()
    sizes = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")), "source_a"
        )
        .withColumnRenamed("n_fp", "na")
        .join(
            F.broadcast(
                sizes.withColumnRenamed("source", "source_b").withColumnRenamed(
                    "n_fp", "nb"
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("na"), 6).alias(
                "overlap_a"
            ),
            F.round(F.col("n_shared").cast("double") / F.col("nb"), 6).alias(
                "overlap_b"
            ),
        )
    )


@register(
    "x44_js_divergence",
    oracle=f"""
WITH tok AS (
  SELECT lang, t.term
  FROM (SELECT lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents) AS t
  WHERE t.term <> ''
),
tc AS (SELECT lang, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT lang, CAST(SUM(c) AS DOUBLE) AS t FROM tc GROUP BY 1),
p AS (SELECT tc.lang, tc.term, tc.c / tot.t AS p FROM tc JOIN tot USING (lang)),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(SUM(CAST(0.5 * a.p * ln(2 * a.p / (a.p + b.p))
                     + 0.5 * b.p * ln(2 * b.p / (a.p + b.p))
                     AS DECIMAL(28,18))) AS DOUBLE) AS shared_term,
         CAST(SUM(CAST(a.p AS DECIMAL(28,18))) AS DOUBLE) AS pa_shared,
         CAST(SUM(CAST(b.p AS DECIMAL(28,18))) AS DOUBLE) AS pb_shared,
         COUNT(*) AS n_shared_terms
  FROM p a JOIN p b ON a.term = b.term AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT lang_a, lang_b, n_shared_terms,
       round(shared_term
             + 0.5 * ln(2) * ((1 - pa_shared) + (1 - pb_shared)), 6)
         AS js_divergence
FROM pairs
""",
    doc="X44: Jensen-Shannon divergence between per-language unigram "
    "distributions — the lexical-drift companion to x30's doc-level PSI: "
    "JSD(P,Q) decomposes into a sum over SHARED terms plus "
    "0.5*ln2*(disjoint mass), so only the term-level inner join is "
    "needed — terms private to one side contribute through the exact "
    "closed form (1 - shared mass), never a full-outer join over the "
    "vocabulary union. Per-term ln() products and the mass sums go "
    "through DECIMAL(28,18), making the divergence independent of "
    "partial-aggregation order. Scale: the per-cell distribution tables "
    "are vocab-sized aggregates; the pair join shuffles on term with "
    "fan-out bounded by the cell count.",
)
def x44_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("lang", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    # Materialize the vocab-sized (lang, term, c) aggregate ONCE: without
    # this, the a/b self-join below re-derives tc AND tot per side — four
    # full document scans + tokenizes (11 exchanges, measured 1.5x the
    # baseline row in round 5). The checkpoint is langs x vocab rows —
    # bounded at any corpus scale.
    tc = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    tc = materialize(tc, "reused")
    tot = tc.groupBy("lang").agg(F.sum("c").cast("double").alias("t"))
    p = tc.join(F.broadcast(tot), "lang").select(
        "lang", "term", (F.col("c") / F.col("t")).alias("p")
    )
    # The pair join's right side is the same vocab-sized table — broadcast
    # it (langs x vocab rows, bounded at any corpus scale) so the join is
    # shuffle-free on top of the checkpointed aggregate.
    a, b = p.alias("a"), F.broadcast(p.alias("b"))
    pa, pb = F.col("a.p"), F.col("b.p")
    dec = "decimal(28,18)"
    pairs = (
        a.join(b, "term")
        .filter(F.col("a.lang") < F.col("b.lang"))
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(
            F.sum(
                (
                    0.5 * pa * F.log(2 * pa / (pa + pb))
                    + 0.5 * pb * F.log(2 * pb / (pa + pb))
                ).cast(dec)
            )
            .cast("double")
            .alias("shared_term"),
            F.sum(pa.cast(dec)).cast("double").alias("pa_shared"),
            F.sum(pb.cast(dec)).cast("double").alias("pb_shared"),
            F.count(F.lit(1)).alias("n_shared_terms"),
        )
    )
    import math

    return pairs.select(
        "lang_a",
        "lang_b",
        "n_shared_terms",
        F.round(
            F.col("shared_term")
            + 0.5
            * math.log(2.0)
            * ((1 - F.col("pa_shared")) + (1 - F.col("pb_shared"))),
            6,
        ).alias("js_divergence"),
    )


BPE_MERGES = 8  # merge-table prefix learned by x43
_BPE_SCHEMA = "merge_rank int, left string, right string, pair_count bigint"


def _bpe_merges_local(words) -> "DataFrame":
    """Driver-local BPE merge loop over the collected word-count table —
    exact same selection rule as the distributed loop (max pair count,
    ties broken lexicographically on (left, right)), with incremental
    re-segmentation so each round only re-applies the newest merge."""
    from collections import Counter

    spark = words.sparkSession
    vocab = [(list(r["word"]), int(r["wc"])) for r in words.collect()]
    rows = []
    for rank in range(1, BPE_MERGES + 1):
        cnt: Counter = Counter()
        for syms, wc in vocab:
            for x, y in zip(syms, syms[1:]):
                cnt[(x, y)] += wc
        if not cnt:
            break
        (left, right), pc = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rows.append((rank, left, right, pc))
        vocab = [(_bpe_apply(syms, [(left, right)]), wc) for syms, wc in vocab]
    return local_rows(spark, rows, _BPE_SCHEMA)


def _bpe_apply(syms: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Apply a merge list to a symbol sequence, in learned order (the
    standard greedy left-to-right BPE application)."""
    for left, right in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@register(
    "x43_bpe_merges",
    oracle=None,  # iterative argmax loop, not SQL-expressible; pinned by
    # tests/test_properties.py::test_bpe_merges_match_reference_trainer
    # (exact equality with a pure-Python BPE trainer on the same corpus).
    doc="X43: byte-pair-encoding merge learning (Sennrich-style tokenizer "
    "training) — the step that turns a raw corpus into a tokenizer "
    "vocab. Key scale property: after ONE corpus-sized aggregation into "
    "the word-frequency table, every merge iteration runs over that "
    "VOCAB-sized table only (mapInPandas pair counting weighted by word "
    "count, a tiny distributed argmax, deterministic count-then-lex "
    "tiebreak) — corpus size never re-enters the loop, exactly how "
    "production BPE trainers operate on word-count dictionaries. "
    "k merges = k vocab-table scans; communication O(distinct pairs) "
    "per round. When the (frequency-prunable) vocab fits on the driver "
    "— the subword-nmt/HF-trainer regime, and the common case even for "
    "100 TB corpora after a min-count cut — the merge loop runs "
    "driver-local on the collected word-count dictionary instead "
    "(identical results, pinned by the golden test; same "
    "tiny-data-to-driver contract as the x15 k-means centroid reduce), "
    "skipping per-round job latency. The distributed per-round loop "
    "remains the fallback for oversized vocabularies.",
)
def x43_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        spread(d, "doc_id")
        .select(F.explode(raw_tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        # corpus touched once; the merge loop below re-scans only this
        # vocab-sized table
        .transform(materialize, "reused")
    )
    if fits_driver(words):
        return _bpe_merges_local(words)
    merges: list[tuple[str, str]] = []
    rows = []
    for rank in range(1, BPE_MERGES + 1):
        frozen = list(merges)

        def pair_counts(batches, frozen=frozen):
            for pdf in batches:
                if not len(pdf):
                    continue
                from collections import Counter

                cnt: Counter = Counter()
                for word, wc in zip(pdf["word"], pdf["wc"]):
                    syms = _bpe_apply(list(word), frozen)
                    for x, y in zip(syms, syms[1:]):
                        cnt[(x, y)] += int(wc)
                if cnt:
                    yield pd.DataFrame(
                        {
                            "left": [k[0] for k in cnt],
                            "right": [k[1] for k in cnt],
                            "c": list(cnt.values()),
                        }
                    )

        top = (
            words.mapInPandas(pair_counts, "left string, right string, c long")
            .groupBy("left", "right")
            .agg(F.sum("c").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merges.append((t["left"], t["right"]))
        rows.append((rank, t["left"], t["right"], int(t["pair_count"])))
    return local_rows(spark, rows, _BPE_SCHEMA)


# ---------------------------------------------------------------------------
# X45 — trained naive-Bayes language classifier (train + apply in one plan)
# ---------------------------------------------------------------------------

NB_ALPHA = 0.5  # add-alpha smoothing for unseen (term, class) pairs

# x45/x45b oracle CTEs over t(doc_id, lang, term): class priors, the corpus
# doc count, class-term counts and class totals; then the per-doc class
# scores over grid(term, c, lp), the argmax (ties by class name) and the
# confusion matrix.
_NB_SQL_MODEL = """classes AS (
  SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS docs_c
  FROM t GROUP BY lang
),
d AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM t),
counts AS (SELECT lang AS c, term, COUNT(*) AS c_tc FROM t GROUP BY lang, term),
tot AS (SELECT c, CAST(SUM(c_tc) AS DOUBLE) AS n_c FROM counts GROUP BY c),"""
_NB_SQL_CONFUSION = """sums AS (
  SELECT t.doc_id, t.lang, g.c, SUM(g.lp) AS sum_lp
  FROM t JOIN grid g ON g.term = t.term
  GROUP BY t.doc_id, t.lang, g.c
),
scored AS (
  SELECT s.doc_id, s.lang, s.c,
         s.sum_lp + CAST(ln(cl.docs_c / d.n_docs) AS DECIMAL(28,18)) AS score
  FROM sums s JOIN classes cl ON cl.c = s.c CROSS JOIN d
),
pred AS (
  SELECT doc_id, lang, c AS pred_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
  FROM scored
)
SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY lang, pred_lang"""


@register(
    "x45_naive_bayes_lang",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
t AS (SELECT * FROM tok WHERE term <> ''),
{_NB_SQL_MODEL}
v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs FROM t),
grid AS (
  SELECT vt.term, cl.c,
         CAST(ln((COALESCE(ct.c_tc, 0) + {NB_ALPHA}) / (tot.n_c + {NB_ALPHA} * v.vs))
              AS DECIMAL(28,18)) AS lp
  FROM (SELECT DISTINCT term FROM t) vt
  CROSS JOIN classes cl
  JOIN tot ON tot.c = cl.c
  CROSS JOIN v
  LEFT JOIN counts ct ON ct.term = vt.term AND ct.c = cl.c
),
{_NB_SQL_CONFUSION}
""",
    doc="X45: multinomial naive-Bayes language classifier, trained on the "
    "corpus's own labels and applied in the SAME plan (the "
    "model-based-filtering pattern: fastText-style quality/lang "
    "classifiers trained on corpus statistics, then scored at scale). "
    "The corpus is tokenized ONCE into a checkpointed per-(doc, term) "
    "frequency table; training (class-term counts, class totals, priors, "
    "vocab) and scoring all derive from it, so the raw text is scanned "
    "a single time. The model is a V x C log-probability grid that BROADCASTS "
    "onto the token stream (at 100 TB the grid is pruned to the top-K "
    "vocabulary first, x38's contract, keeping the broadcast bounded). "
    "Scoring is one hash aggregate per (doc, class); per-token ln() goes "
    "through DECIMAL(28,18) so sums are exact and order-independent, "
    "making the argmax (ties broken by class name) engine-identical. "
    "Output is the confusion matrix of true vs predicted language.",
)
def x45_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _nb_predictions(_nb_doc_features(spark, sf_dir, hashed=False))
    return pred.groupBy("lang", F.col("c").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


NBH_BUCKETS = 8192  # fixed hashed-feature space for x45b (the x148 cap)


def _nb_doc_features(spark: SparkSession, sf_dir: str, hashed: bool) -> DataFrame:
    """Per-(doc, lang, term, tf) frequency table, tokenized EXACTLY ONCE.

    One aggregate collapses the token stream to the frequency table,
    which is materialized once and then feeds the five downstream
    consumers (class priors, doc total, class-term counts, vocab size,
    scoring). The round-4 shape re-tokenized the corpus for each
    consumer — six corpus passes; at 100 TB this materialization
    (persist-to-disk there) is the difference between one scan and six.

    hashed=True replaces the raw term with its md5 bucket in
    [0, NBH_BUCKETS) — the x148/x07 idiom (first 8 md5 hex chars as a
    BIGINT, mod buckets; both engines define it identically) — so the
    downstream model tables are buckets-bounded however large the
    vocabulary grows.
    """
    base = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", "lang", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    if hashed:
        base = base.select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint")
                % NBH_BUCKETS
            ).alias("term"),
        )
    tf = base.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    return materialize(tf, "reused")


def _nb_predictions(
    doc_term: DataFrame, vocab_size: float | None = None
) -> DataFrame:
    """Multinomial-NB argmax per doc over the given frequency table.

    Returns one row per doc: (doc_id, lang, c) with c the predicted
    class — the shared core of x45 (exact terms, vocab_size computed
    from the corpus) and x45b (hashed buckets, vocab_size fixed at
    NBH_BUCKETS so the smoothing denominator is corpus-independent).

    Scoring uses sum(lp * tf) over the frequency table, which equals a
    per-occurrence SUM(lp) exactly: lp is DECIMAL(28,18) and tf rides
    as DECIMAL(9,0), so the product stays inside DECIMAL(38,18) with no
    precision loss.

    Round-10 optimization note: a delta-scoring rewrite (score via
    sum_{t seen in c} tf*(lp - lp0) + T_d*lp0, shipping only the SEEN
    (term, class) pairs instead of the V x C grid) was implemented,
    proved oracle-identical at both SFs, and MEASURED SLOWER at bench
    scale (x45 2.05 s -> 2.37 s min-of-3 A/B): at sf0.1 the grid is
    broadcast-small and the delta shape's extra aggregates (doc totals,
    union, wider final agg) cost more than the C-fold join fan-out they
    remove. Kept: the grid. At true 100-TB vocabularies the delta shape
    is the right plan; the exact recipe is recorded in
    OPTIMIZATION_r10.md ("Changes (batch 1)").

    The argmax IS changed (kept from that experiment, measured neutral
    to positive): a hash aggregate min(struct(-score, c)) — struct
    ordering compares -score first (score DESC), then c (name ASC),
    exactly the row_number ordering it replaces, without the window's
    extra exchange + sort. -score negates a DECIMAL(38,17) (exact), so
    ties still break by class name and the prediction stays
    engine-identical.
    """
    classes = doc_term.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").cast("double").alias("docs_c")
    )
    d = doc_term.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    counts = doc_term.groupBy(F.col("lang").alias("c"), "term").agg(
        F.sum("tf").alias("c_tc")
    )
    tot = counts.groupBy("c").agg(F.sum("c_tc").cast("double").alias("n_c"))
    if vocab_size is None:
        v = doc_term.agg(F.countDistinct("term").cast("double").alias("vs"))
    else:
        v = doc_term.sparkSession.range(1).select(
            F.lit(float(vocab_size)).alias("vs")
        )
    vocab = counts.select("term").distinct()
    grid = (
        vocab.crossJoin(F.broadcast(classes.select("c")))
        .join(F.broadcast(tot), "c")
        .crossJoin(F.broadcast(v))
        .join(counts, ["term", "c"], "left")
        .select(
            "term",
            "c",
            F.log(
                (F.coalesce(F.col("c_tc"), F.lit(0)) + F.lit(NB_ALPHA))
                / (F.col("n_c") + F.lit(NB_ALPHA) * F.col("vs"))
            )
            .cast("decimal(28,18)")
            .alias("lp"),
        )
    )
    sums = (
        doc_term.join(F.broadcast(grid), "term")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.col("lp") * F.col("tf").cast("decimal(9,0)")).alias("sum_lp"))
    )
    scored = (
        sums.join(F.broadcast(classes), "c")
        .crossJoin(F.broadcast(d))
        .select(
            "doc_id",
            "lang",
            "c",
            (
                F.col("sum_lp")
                + F.log(F.col("docs_c") / F.col("n_docs")).cast("decimal(28,18)")
            ).alias("score"),
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("neg"), F.col("c").alias("c"))
            ).alias("m")
        )
        .select("doc_id", "lang", F.col("m.c").alias("c"))
    )


@register(
    "x45b_naive_bayes_hashed",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS raw FROM documents
),
t AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(raw), 1, 8)) AS BIGINT) % {NBH_BUCKETS}
           AS term
  FROM tok WHERE raw <> ''
),
{_NB_SQL_MODEL}
grid AS (
  SELECT vt.term, cl.c,
         CAST(ln((COALESCE(ct.c_tc, 0) + {NB_ALPHA})
                 / (tot.n_c + {NB_ALPHA} * {NBH_BUCKETS}))
              AS DECIMAL(28,18)) AS lp
  FROM (SELECT DISTINCT term FROM t) vt
  CROSS JOIN classes cl
  JOIN tot ON tot.c = cl.c
  LEFT JOIN counts ct ON ct.term = vt.term AND ct.c = cl.c
),
{_NB_SQL_CONFUSION}
""",
    doc="X45b: naive Bayes over HASHED features — x45's What's-wrong knob "
    "made executable (the x148-for-DSIR move applied to the language "
    "model): terms hash into a FIXED {8192}-bucket space via the x07 md5 "
    "idiom (first 8 hex chars as BIGINT, mod buckets — the one hash both "
    "engines define identically, so the bucketed model is hash-verified, "
    "not rows-only), and the smoothing denominator uses the constant "
    "bucket count, so every model table (class-bucket counts, grid, "
    "broadcast) is buckets-bounded however large the web-scale "
    "vocabulary grows — x45's V x C grid grows with Heaps'-law vocab, "
    "this one cannot. Same single-tokenize checkpointed frequency table, "
    "DECIMAL(28,18)-exact scoring, and name-tie-broken argmax as x45 "
    "(shared _nb_predictions core); output is the same confusion-matrix "
    "shape. x152 measures what the hashing costs in prediction fidelity.",
)
def x45b_naive_bayes_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _nb_predictions(
        _nb_doc_features(spark, sf_dir, hashed=True), vocab_size=NBH_BUCKETS
    )
    return pred.groupBy("lang", F.col("c").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# X46 — per-source token-budget cap (data-mixing curation)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 600  # per-source token budget for the capped mixture


@register(
    "x46_token_budget_cap",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok,
         md5('budget:' || CAST(doc_id AS VARCHAR)) AS pri
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM d
)
SELECT doc_id, source, n_tok, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
""",
    doc="X46: per-source token-budget cap — the mixture-curation step that "
    "bounds each source's contribution to the training corpus by TOKENS, "
    "not documents (a 100-doc source of novels outweighs a 100-doc "
    "source of tweets otherwise). Docs are admitted in a deterministic "
    "pseudo-random order (md5 priority — never rand(), so the cut is "
    "stable under reruns and repartitioning, the x07 contract) until the "
    "source's running token total exceeds the budget. `source` is a "
    "low-cardinality key, so a naive per-source running sum would hand "
    "one task most of a skewed 100 TB corpus; instead the cumsum "
    "partition is budget-bounded BY CONSTRUCTION: every admitted "
    "non-empty doc consumes >= 1 token, so `row_number() <= "
    "TOKEN_BUDGET+1` over the same (source -> pri) window prunes each "
    "partition to at most budget+1 rows BEFORE the sort-heavy work — "
    "Spark plans WindowGroupLimit (partial per-partition k-heaps ahead "
    "of the exchange, the x109/x57 shape; plan-pinned in "
    "tests/test_plans.py::test_token_budget_cap_plans_group_limit). The "
    "+1 row is the first over-budget doc, kept as the cutoff key for the "
    "exact zero-token side-path (zero-token docs consume no budget and "
    "are admitted wherever the running total at their position is still "
    "within budget — resolved against the per-source one-row cutoff "
    "table and the <= budget-row admitted table, never a corpus-sized "
    "window). Complements x28 (ratio reweighting) and x35 (bucket "
    "resampling) with an absolute-budget form.",
)
def x46_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The tokenized 4-column corpus projection: both the group-limit window
    # AND the zero-token branch read it, and without the checkpoint each
    # re-runs the tokenize pass — the expensive part of the scan. It is 4
    # narrow columns (~tens of bytes/doc), the standard one-tokenize trade
    # (round-9 x46 constant shave, was 2 corpus passes).
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "source",
        F.size(tokens()).cast("bigint").alias("n_tok"),
        F.md5(F.concat_ws(":", F.lit("budget"), F.col("doc_id"))).alias("pri"),
    ).transform(materialize, "reused")
    order_w = Window.partitionBy("source").orderBy("pri", "doc_id")
    cum_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Non-empty docs: cum >= row_number (each doc >= 1 token), so any doc
    # beyond rank TOKEN_BUDGET+1 is over budget in the oracle too. The rank
    # filter plans WindowGroupLimit — per-partition pruning BEFORE the
    # per-source exchange — so a dominant source's window partition holds at
    # most TOKEN_BUDGET+1 rows no matter how big the corpus is.
    ne = (
        d.filter(F.col("n_tok") >= 1)
        .withColumn("rn", F.row_number().over(order_w))
        .filter(F.col("rn") <= TOKEN_BUDGET + 1)
        .withColumn("cum_tokens", F.sum("n_tok").over(cum_w).cast("bigint"))
    )
    # Zero-token probe (round-9 constant shave): the whole zero-token
    # resolution — checkpoint, cutoff aggregate, as-of join, union — only
    # exists for docs that tokenize to []. limit(1).count() on the
    # checkpointed narrow d early-stops at the FIRST zero-token doc (a
    # corpus that has any, has one early); when there is none the key
    # returns the admitted window directly, dropping three empty-frame
    # stages whose task overhead dominated the fixture-scale bench
    # (1.47x -> ~0.9x of baseline). The planted-skew rehearsal
    # (SCALE_REHEARSAL.json monolang scenario, 1500 zero-token docs)
    # executes the full path.
    if d.filter(F.col("n_tok") == 0).limit(1).count() == 0:
        return ne.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
            "doc_id", "source", "n_tok", "cum_tokens"
        )
    # three consumers (admitted union branch, cutoff table, zero-doc as-of
    # join) — the group-limit window runs ONCE; the materialized table is
    # budget x sources bounded, so at 100 TB this trades two extra window
    # passes for one tiny materialization
    ne = materialize(ne, "reused")
    ne_adm = ne.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "source", "n_tok", "pri", "cum_tokens"
    )
    # Zero-token docs contribute nothing to the running sum, so the oracle
    # admits one exactly when it sorts before the first OVER-budget non-empty
    # doc of its source (that doc is guaranteed inside the rank-pruned set
    # when it exists at all). Its cum_tokens is the cumsum of the last
    # preceding admitted non-empty doc. Both lookups land on budget-bounded
    # tables: `cut` is one row per source, `ne_adm` is <= TOKEN_BUDGET rows
    # per source.
    ze = d.filter(F.col("n_tok") == 0)
    cut = (
        ne.filter(F.col("cum_tokens") > TOKEN_BUDGET)
        .groupBy("source")
        .agg(F.min(F.struct("pri", "doc_id")).alias("cut"))
    )
    ze_adm = (
        ze.join(cut, "source", "left")
        .filter(
            F.col("cut").isNull()
            | (F.struct(F.col("pri"), F.col("doc_id")) < F.col("cut"))
        )
        .select("doc_id", "source", "n_tok", "pri")
    )
    prior = ne_adm.select(
        F.col("source").alias("a_source"),
        F.col("pri").alias("a_pri"),
        F.col("doc_id").alias("a_doc_id"),
        F.col("cum_tokens").alias("a_cum"),
    )
    ze_out = (
        ze_adm.join(
            prior,
            (ze_adm["source"] == prior["a_source"])
            & (
                F.struct(prior["a_pri"], prior["a_doc_id"])
                < F.struct(ze_adm["pri"], ze_adm["doc_id"])
            ),
            "left",
        )
        .groupBy("doc_id", "source", "n_tok")
        .agg(F.coalesce(F.max("a_cum"), F.lit(0)).cast("bigint").alias("cum_tokens"))
    )
    return ne_adm.select("doc_id", "source", "n_tok", "cum_tokens").unionByName(
        ze_out.select("doc_id", "source", "n_tok", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# X47 — duplicated-span removal with text reconstruction (C4-style scrub)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 8  # tokens per dedup span (C4 uses three-sentence spans)


@register(
    "x47_span_scrub",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tk
),
spans AS (
  SELECT doc_id, span_id, string_agg(term, ' ' ORDER BY pos) AS span_text
  FROM (SELECT doc_id, term, pos, (pos - 1) // {SPAN_TOKENS} AS span_id FROM tok)
  GROUP BY doc_id, span_id
),
h AS (SELECT doc_id, span_id, span_text, md5(span_text) AS sh FROM spans),
st AS (
  SELECT sh, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper
  FROM h GROUP BY sh
),
k AS (
  SELECT h.doc_id, h.span_id, h.span_text,
         (st.nd = 1 OR h.doc_id = st.keeper) AS keep
  FROM h JOIN st ON h.sh = st.sh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_scrubbed,
       COALESCE(string_agg(CASE WHEN keep THEN span_text END, ' ' ORDER BY span_id),
                '') AS clean_text
FROM k GROUP BY doc_id
""",
    doc="X47: C4-style duplicated-span REMOVAL with text reconstruction — "
    "unlike x19 (which only profiles duplicated chunks), this actually "
    "scrubs: documents are cut into fixed 8-token spans, a span whose "
    "md5 appears in more than one document survives only in the "
    "lowest-doc_id holder (deterministic keeper, the C4 keep-one rule), "
    "and each document's clean_text is reassembled from its surviving "
    "spans in order. Three shuffles — spans (doc_id), span-hash stats "
    "(md5 digests only, never span bodies twice), reassembly (doc_id); "
    "the hash join ships 16-byte digests, so at 100 TB the heavy text "
    "bytes cross the wire exactly once.",
)
def x47_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(tokens()).alias("pos0", "term"),
        )
        .select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    )
    spans = (
        tok.withColumn("span_id", ((F.col("pos") - 1) / SPAN_TOKENS).cast("bigint"))
        .groupBy("doc_id", "span_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda p: p.term,
                ),
                " ",
            ).alias("span_text")
        )
        .withColumn("sh", F.md5(F.col("span_text")))
    )
    st = spans.groupBy("sh").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("keeper")
    )
    k = spans.join(st, "sh").withColumn(
        "keep", (F.col("nd") == 1) | (F.col("doc_id") == F.col("keeper"))
    )
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_scrubbed"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("span_id", "span_text"))
                        )
                    ),
                    lambda p: p.span_text,
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# X48 — incremental dedup: new batch vs existing corpus (digest anti-join)
# ---------------------------------------------------------------------------


@register(
    "x48_incremental_dedup",
    oracle="""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 4
),
batch AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 5 = 4
),
in_batch AS (
  SELECT doc_id, source, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM batch
)
SELECT b.doc_id, b.source, b.h AS content_hash
FROM in_batch b
LEFT JOIN corpus c ON b.h = c.h
WHERE c.h IS NULL AND b.rn = 1
""",
    doc="X48: INCREMENTAL dedup — the production ingest shape: a new batch "
    "is deduplicated against the existing corpus WITHOUT rescanning "
    "corpus text. The corpus side reduces to distinct 16-byte md5 "
    "digests once (maintained as a digest table in production — append "
    "new survivors' digests each ingest); the batch anti-joins on "
    "digest, then keeps one survivor per within-batch duplicate group "
    "(min doc_id). Two hash joins over digests — the 100 TB corpus's "
    "text bytes never move, only its digest table does. Complements x01 "
    "(full-corpus dedup) with the delta form every recurring crawl "
    "needs.",
)
def x48_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "h", F.md5(F.col("text"))
    )
    corpus_digests = (
        docs.filter(F.col("doc_id") % 5 != 4).select("h").distinct()
    )
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "source", "h")
    w = Window.partitionBy("h").orderBy("doc_id")
    survivors = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(corpus_digests, "h", "left_anti")
    )
    return survivors.select("doc_id", "source", F.col("h").alias("content_hash"))


# ---------------------------------------------------------------------------
# X49 — per-source corpus datasheet (one-pass reporting)
# ---------------------------------------------------------------------------


@register(
    "x49_source_datasheet",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, lang,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok,
         n_chars
  FROM documents
),
per_lang AS (
  SELECT source, lang, COUNT(*) AS n FROM d GROUP BY source, lang
),
top_lang AS (
  SELECT source, lang AS top_lang,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
  FROM per_lang
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       round(quantile_cont(n_tok, 0.50), 4) AS p50_tokens,
       round(AVG(n_chars), 4) AS avg_chars,
       ANY_VALUE(t.top_lang) AS top_lang
FROM d JOIN top_lang t ON d.source = t.source AND t.rn = 1
GROUP BY d.source
""",
    doc="X49: per-source corpus DATASHEET — the dataset-documentation "
    "report (datasheets-for-datasets shape): document/token volumes, "
    "median document length, language diversity and the dominant "
    "language per source, in one aggregation pass plus a tiny "
    "per-(source, lang) side aggregate for the mode. All counts are "
    "per-source hash aggregates (one shuffle on source); the exact "
    "median swaps to approx_percentile at 100 TB (the s05f contract). "
    "This is the first artifact a data-governance review asks for.",
)
def x49_source_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens()).cast("bigint").alias("n_tok"),
        "n_chars",
    )
    per_lang = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "lang")
    top_lang = (
        per_lang.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    sheet = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.50)), 4).alias("p50_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    return sheet.join(F.broadcast(top_lang), "source").select(
        "source", "n_docs", "n_langs", "total_tokens", "p50_tokens",
        "avg_chars", "top_lang",
    )


# ---------------------------------------------------------------------------
# X50 — length-bucketed batching / padding-waste report
# ---------------------------------------------------------------------------

LEN_BUCKET = 16  # pad-to-multiple bucket width (tokens)


@register(
    "x50_length_bucket_packing",
    oracle=f"""
WITH d AS (
  SELECT CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
b AS (
  SELECT n_tok,
         CAST(((n_tok + {LEN_BUCKET} - 1) // {LEN_BUCKET}) * {LEN_BUCKET} AS BIGINT)
           AS bucket
  FROM d WHERE n_tok > 0
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
       CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
       round(1.0 - CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * bucket), 6)
         AS waste_ratio
FROM b GROUP BY bucket
""",
    doc="X50: length-bucketed batching report — the dynamic-padding "
    "efficiency table: documents grouped into pad-to-multiple-of-16 "
    "length buckets, with real vs padded token mass and the padding "
    "waste ratio per bucket (what a training dataloader wastes if it "
    "batches by bucket). One scan-side projection + one hash aggregate "
    "on the bucket key — fully scan-parallel at any scale. The bucket "
    "table is what drives sequence-bucketing samplers; pairs with x27 "
    "(concat-and-chunk packing), the zero-padding alternative.",
)
def x50_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        F.size(tokens()).cast("bigint").alias("n_tok")
    )
    b = d.filter(F.col("n_tok") > 0).withColumn(
        "bucket",
        (
            F.floor((F.col("n_tok") + LEN_BUCKET - 1) / LEN_BUCKET) * LEN_BUCKET
        ).cast("bigint"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket")).cast("bigint").alias("padded_tokens"),
        F.round(
            1.0 - F.sum("n_tok").cast("double") / (F.count(F.lit(1)) * F.col("bucket")),
            6,
        ).alias("waste_ratio"),
    )


# ---------------------------------------------------------------------------
# X51 — tokenizer application at scale (learned BPE merges over the corpus)
# ---------------------------------------------------------------------------


@register(
    "x51_bpe_tokenize",
    oracle=None,  # BPE segmentation is not SQL-expressible; pinned by
    # tests/test_properties.py::test_bpe_tokenize_matches_local_apply
    # (exact per-doc equality with a pure-Python application of the same
    # merge table) plus monotonicity invariants.
    doc="X51: tokenizer APPLICATION — the deploy half of x43: the learned "
    "merge table (vocab-sized, collected once) broadcasts into a "
    "mapInPandas pass that segments every document and reports per-doc "
    "token counts under the learned vocab plus the chars-per-token "
    "compression. Per-batch word-level memoization makes the cost "
    "O(distinct words per batch), not O(tokens) — the standard trick, "
    "since word frequency is Zipfian. One corpus scan, zero shuffles; "
    "the merge table is the only broadcast state. This is the shape of "
    "every production 'tokenize the corpus' job.",
)
def x51_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = [
        (r["left"], r["right"])
        for r in x43_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]

    def tokenize(batches):
        memo: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            n_words, n_tokens = [], []
            for text in pdf["text"]:
                words = [w for w in text.lower().split() if w]
                total = 0
                for w in words:
                    if w not in memo:
                        memo[w] = len(_bpe_apply(list(w), merges))
                    total += memo[w]
                n_words.append(len(words))
                n_tokens.append(total)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_bpe_tokens": n_tokens,
                }
            )
            yield out

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    d = d.select("doc_id", "text")
    toks = d.mapInPandas(
        tokenize, "doc_id bigint, n_words bigint, n_bpe_tokens bigint"
    )
    return toks.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_words") / F.col("n_bpe_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("words_per_token"),
    )


# ---------------------------------------------------------------------------
# X52 — DSIR-style importance weighting toward a target domain
# ---------------------------------------------------------------------------

DSIR_ALPHA = 0.5  # add-alpha smoothing shared by target and corpus LMs
DSIR_TARGET_SOURCE = "src0"  # the 'high-quality target domain' stand-in


@register(
    "x52_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
t AS (SELECT * FROM tok WHERE term <> ''),
corpus AS (SELECT term, COUNT(*) AS cq FROM t GROUP BY term),
target AS (
  SELECT term, COUNT(*) AS cp FROM t WHERE source = '{DSIR_TARGET_SOURCE}'
  GROUP BY term
),
nq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
np AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t WHERE source = '{DSIR_TARGET_SOURCE}'),
v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs FROM t),
lr AS (
  SELECT c.term,
         CAST(ln((COALESCE(tg.cp, 0) + {DSIR_ALPHA}) / (np.n + {DSIR_ALPHA} * v.vs))
              AS DECIMAL(28,18))
         - CAST(ln((c.cq + {DSIR_ALPHA}) / (nq.n + {DSIR_ALPHA} * v.vs))
                AS DECIMAL(28,18)) AS llr
  FROM corpus c
  LEFT JOIN target tg ON tg.term = c.term
  CROSS JOIN nq CROSS JOIN np CROSS JOIN v
)
SELECT t.doc_id,
       ANY_VALUE(t.source) AS source,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       round(CAST(SUM(lr.llr) AS DOUBLE), 6) AS log_importance
FROM t JOIN lr ON lr.term = t.term
GROUP BY t.doc_id
""",
    doc="X52: DSIR-shaped importance weighting — data selection via "
    "importance resampling (Xie et al. 2023): each document is scored by "
    "the log-likelihood ratio of a target-domain unigram LM over the "
    "raw-corpus LM, the score used to resample a raw crawl toward a "
    "high-quality target distribution. Both LMs train in one token "
    "aggregation each (target = one source, standing in for the quality "
    "corpus); the per-term log-ratio table broadcasts onto the token "
    "stream and each doc's score is one hash aggregate. ln values go "
    "through DECIMAL(28,18) subtraction/summation — scores are exact "
    "and partial-aggregation-order independent. Feed log_importance "
    "into x35's deterministic bucket resampler to complete the DSIR "
    "pipeline. At 100 TB the ratio table is hashed n-grams (fixed 10k "
    "buckets) instead of raw vocab — same plan, bounded broadcast.",
)
def x52_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", "source", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    corpus = t.groupBy("term").agg(F.count(F.lit(1)).alias("cq"))
    target = (
        t.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cp"))
    )
    nq = t.agg(F.count(F.lit(1)).cast("double").alias("nq"))
    np_ = t.filter(F.col("source") == DSIR_TARGET_SOURCE).agg(
        F.count(F.lit(1)).cast("double").alias("np")
    )
    v = t.agg(F.countDistinct("term").cast("double").alias("vs"))
    dec = "decimal(28,18)"
    lr = (
        corpus.join(target, "term", "left")
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(v))
        .select(
            "term",
            (
                F.log(
                    (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(DSIR_ALPHA))
                    / (F.col("np") + F.lit(DSIR_ALPHA) * F.col("vs"))
                ).cast(dec)
                - F.log(
                    (F.col("cq") + F.lit(DSIR_ALPHA))
                    / (F.col("nq") + F.lit(DSIR_ALPHA) * F.col("vs"))
                ).cast(dec)
            ).alias("llr"),
        )
    )
    return (
        t.join(F.broadcast(lr), "term")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.sum("llr").cast("double"), 6).alias("log_importance"),
        )
    )


# ---------------------------------------------------------------------------
# X54 — skip-gram pair generation (embedding training data)
# ---------------------------------------------------------------------------

SKIPGRAM_MIN_COUNT = 2  # emit pairs seen at least twice corpus-wide


@register(
    "x54_skipgram_pairs",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tk
),
ahead AS (
  SELECT doc_id, term,
         lead(term, 1) OVER w AS n1,
         lead(term, 2) OVER w AS n2
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
pairs AS (
  SELECT term AS center, n1 AS context FROM ahead WHERE n1 IS NOT NULL
  UNION ALL
  SELECT n1, term FROM ahead WHERE n1 IS NOT NULL
  UNION ALL
  SELECT term, n2 FROM ahead WHERE n2 IS NOT NULL
  UNION ALL
  SELECT n2, term FROM ahead WHERE n2 IS NOT NULL
)
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS pair_count
FROM pairs
GROUP BY center, context
HAVING COUNT(*) >= {SKIPGRAM_MIN_COUNT}
""",
    doc="X54: SKIP-GRAM pair generation — the word2vec/embedding "
    "training-data extraction: (center, context) co-occurrence pairs "
    "within a +/-2 token window, aggregated to weighted pair counts "
    "(the input to SGNS or GloVe-style training). Forward offsets come "
    "from lead(1)/lead(2) over the per-doc token order — already "
    "partitioned by doc_id, so the window adds no extra exchange — and "
    "the backward directions are the mirrored projections of the SAME "
    "lead columns (no lag pass, no self-join: each undirected "
    "co-occurrence is materialized once and emitted twice). One "
    "shuffle on the pair key; the min-count gate bounds the output "
    "vocabulary exactly like word2vec's min_count. Differs from x23 "
    "(document-level PMI): this is positional, windowed, and directed.",
)
def x54_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(tokens()).alias("pos", "term"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ahead = tok.select(
        "term",
        F.lead("term", 1).over(w).alias("n1"),
        F.lead("term", 2).over(w).alias("n2"),
    )
    # Round-10 optimization: the four directed projections used to ride a
    # 4-way unionAll over `ahead` — physical plans do not share subtrees
    # across union branches, so the tokenize + explode + window SORT ran
    # FOUR times (plan showed 4 Window nodes). One explode over the array
    # of the same four (center, context) structs emits the identical pair
    # multiset in a single window pass; rows where the lead is NULL (last
    # 1-2 tokens of a doc) drop via the null filter exactly as the
    # isNotNull-filtered union branches dropped them.
    p = F.explode(
        F.array(
            F.struct(F.col("term").alias("center"), F.col("n1").alias("context")),
            F.struct(F.col("n1").alias("center"), F.col("term").alias("context")),
            F.struct(F.col("term").alias("center"), F.col("n2").alias("context")),
            F.struct(F.col("n2").alias("center"), F.col("term").alias("context")),
        )
    )
    pairs = (
        ahead.select(p.alias("p"))
        .filter(F.col("p.center").isNotNull() & F.col("p.context").isNotNull())
        .select("p.center", "p.context")
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= SKIPGRAM_MIN_COUNT)
    )


# ---------------------------------------------------------------------------
# X55 — time-decayed feature aggregates (recency-weighted user features)
# ---------------------------------------------------------------------------

DECAY_HALF_LIFE_DAYS = 7.0


@register(
    "x55_time_decayed_features",
    oracle=f"""
WITH m AS (SELECT MAX(ts) AS mx FROM events)
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(
           e.value * exp(-(ln(2) / {DECAY_HALF_LIFE_DAYS})
                         * (epoch_us(m.mx) - epoch_us(e.ts)) / 86400000000.0)
         AS DECIMAL(28,18))) AS DOUBLE), 6) AS decayed_value,
       round(CAST(SUM(CAST(
           exp(-(ln(2) / {DECAY_HALF_LIFE_DAYS})
               * (epoch_us(m.mx) - epoch_us(e.ts)) / 86400000000.0)
         AS DECIMAL(28,18))) AS DOUBLE), 6) AS decayed_count
FROM events e CROSS JOIN m
GROUP BY e.user_id
""",
    doc="X55: TIME-DECAYED feature aggregates — recency-weighted per-user "
    "features as of the corpus watermark (exponential decay, 7-day "
    "half-life): the standard feature-engineering shape for churn/CTR "
    "training sets, where yesterday's event should outweigh last "
    "month's. Each event's weight exp(-lambda * age) is computed "
    "scan-side and cast to DECIMAL(28,18) before summing, so the "
    "per-user totals are exact and independent of partial-aggregation "
    "order (the x20 ln-sum contract applied to exp). One scalar "
    "max(ts) pass + one hash aggregate on user_id. Key property vs a "
    "windowed 'last N days' feature: decay never forgets abruptly, and "
    "the SAME aggregate is incrementally maintainable (multiply the "
    "stored sum by the inter-refresh decay factor, then add the "
    "delta's sum — the s37 merge with one extra scalar multiply).",
)
def x55_time_decayed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx")).first()["mx"]
    lam = math.log(2) / DECAY_HALF_LIFE_DAYS
    age_days = (
        F.unix_micros(F.lit(mx)) - F.unix_micros(F.col("ts"))
    ) / 86400000000.0
    weight = F.exp(-F.lit(lam) * age_days).cast("decimal(28,18)")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum((F.col("value") * F.exp(-F.lit(lam) * age_days)).cast("decimal(28,18)"))
            .cast("double"),
            6,
        ).alias("decayed_value"),
        F.round(F.sum(weight).cast("double"), 6).alias("decayed_count"),
    )


# ---------------------------------------------------------------------------
# X56 — corpus version diff (dataset-versioning changelog)
# ---------------------------------------------------------------------------


@register(
    "x56_corpus_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 450
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN md5('rev2:' || text) ELSE md5(text) END AS h
  FROM documents WHERE doc_id >= 50
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.h = v2.h THEN 'unchanged'
            ELSE 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
""",
    doc="X56: CORPUS VERSION DIFF — the dataset-versioning changelog "
    "between two corpus snapshots: added / removed / changed / "
    "unchanged per document, decided by full-outer-joining the two "
    "versions' (doc_id, content-md5) manifests. Only 16-byte digests "
    "and ids cross the wire — text bytes are hashed scan-side in each "
    "version's own scan, so diffing two 100 TB snapshots moves two "
    "digest tables, not two corpora (the same manifest trick as x48's "
    "incremental dedup, applied to auditing instead of filtering). The "
    "fixture simulates v2 by dropping the head, appending a tail, and "
    "revising every 10th doc.",
)
def x56_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    v1 = docs.filter(F.col("doc_id") < 450).select(
        F.col("doc_id").alias("id1"), F.md5("text").alias("h1")
    )
    v2 = docs.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("id2"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.md5(F.concat_ws(":", F.lit("rev2"), F.col("text"))),
        )
        .otherwise(F.md5("text"))
        .alias("h2"),
    )
    return v1.join(v2, v1.id1 == v2.id2, "full_outer").select(
        F.coalesce("id1", "id2").alias("doc_id"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("h1") == F.col("h2"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# X57 — per-cell document cap (crawl-domination guard)
# ---------------------------------------------------------------------------

CELL_DOC_CAP = 10  # max docs admitted per (lang, source) cell


@register(
    "x57_per_cell_doc_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {CELL_DOC_CAP}
""",
    doc="X57: PER-CELL document cap — at most K documents admitted per "
    "(lang, source) cell, in deterministic md5-priority order: the "
    "guard against one crawl domain or language flooding the mixture "
    "(x46 caps token mass; this caps document count — both are used, "
    "token caps for volume balance, doc caps for per-source diversity "
    "limits). One shuffle on the cell key; at 100 TB the rank is "
    "cheaper than a sort because WindowGroupLimit prunes each "
    "partition to its top-K before the final rank (same plan shape the "
    "s31 LATERAL decorrelation produces).",
)
def x57_per_cell_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat_ws(":", F.lit("cap"), F.col("doc_id"))).alias("pri"),
    )
    w = Window.partitionBy("lang", "source").orderBy("pri", "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= CELL_DOC_CAP)
        .select("doc_id", "lang", "source", "rk")
    )


# ---------------------------------------------------------------------------
# X63 — curation-signal cross-calibration (quality deciles vs duplication)
# ---------------------------------------------------------------------------

X63_CHUNK = 16  # same aligned-chunk scheme as x19


@register(
    "x63_signal_correlation",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         CAST(len({SQL_TOKENS}) AS DOUBLE) AS n_tok,
         CAST(len(replace(text, ' ', '')) AS DOUBLE) AS n_letters
  FROM documents
),
qual AS (
  SELECT doc_id, n_letters / greatest(n_tok, 1) AS mean_tok_len FROM q
),
ch AS (
  SELECT doc_id, md5(substr(text, CAST(s AS INT), {X63_CHUNK})) AS h
  FROM documents,
       unnest(generate_series(1, greatest(len(text), 1), {X63_CHUNK})) AS t(s)
),
freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h),
dup AS (
  SELECT ch.doc_id,
         count(*) FILTER (freq.nd > 1) * 1.0 / count(*) AS dup_ratio
  FROM ch JOIN freq USING (h) GROUP BY ch.doc_id
),
deciled AS (
  SELECT qual.doc_id, qual.mean_tok_len, dup.dup_ratio,
         ntile(10) OVER (ORDER BY qual.mean_tok_len, qual.doc_id) AS decile
  FROM qual JOIN dup ON qual.doc_id = dup.doc_id
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(mean_tok_len), 6) AS avg_quality,
       round(AVG(dup_ratio), 6) AS avg_dup_ratio
FROM deciled GROUP BY decile
""",
    doc="X63: SIGNAL CROSS-CALIBRATION — does the cheap quality signal "
    "(mean token length, an x09 component) predict the expensive one "
    "(x19's duplicated-chunk ratio)? Documents are ntile(10)-deciled "
    "by quality and each decile reports its average duplication — the "
    "calibration curve a curation team reads before deciding which "
    "signal gates at which threshold (if low-quality deciles carry "
    "most duplication, the cheap gate can run FIRST and shrink the "
    "corpus before the chunk-hash pass pays its shuffles — signal "
    "ordering is a real 100 TB cost decision). The global ntile is "
    "the one scale caveat: at 100 TB swap it for fixed quantile "
    "boundaries from approx_percentile (same report, no global sort).",
)
def x63_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    qual = d.select(
        "doc_id",
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.greatest(
                F.size(tokens()).cast("double"),
                F.lit(1.0),
            )
        ).alias("mean_tok_len"),
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(X63_CHUNK)
    )
    ch = d.select("doc_id", "text", F.explode(starts).alias("s")).select(
        "doc_id",
        F.md5(F.col("text").substr(F.col("s"), F.lit(X63_CHUNK))).alias("h"),
    )
    freq = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    dup = (
        ch.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("dup_ratio")
        )
    )
    w = Window.orderBy("mean_tok_len", "doc_id")
    deciled = (
        qual.join(dup, "doc_id")
        .withColumn("decile", F.ntile(10).over(w))
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("mean_tok_len"), 6).alias("avg_quality"),
        F.round(F.avg("dup_ratio"), 6).alias("avg_dup_ratio"),
    )


# ---------------------------------------------------------------------------
# X64 — training-epoch shard assignment with balance audit
# ---------------------------------------------------------------------------

N_SHARDS = 8
N_EPOCHS = 2


@register(
    "x64_epoch_shards",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
epochs AS (SELECT unnest(range(0, {N_EPOCHS})) AS epoch),
assigned AS (
  SELECT d.doc_id, d.n_tok, e.epoch,
         CAST(('0x' || substr(md5('shard:' || CAST(e.epoch AS VARCHAR)
                  || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {N_SHARDS} AS shard
  FROM d CROSS JOIN epochs e
)
SELECT epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM assigned GROUP BY epoch, shard
""",
    doc="X64: EPOCH SHARD assignment — the distributed-training data "
    "layout: every document is assigned to one of 8 worker shards per "
    "epoch by md5(epoch, doc_id), so (a) each epoch reshuffles the "
    "data (the hash keys on epoch — different epoch, independent "
    "assignment, the reshuffle-between-epochs training requirement) "
    "while (b) staying fully deterministic and resumable (a preempted "
    "job recomputes the same shards — rand() could not). The report "
    "is the per-(epoch, shard) doc/token balance a training launch "
    "checks before committing GPUs: hash sharding balances counts to "
    "within sampling noise without any coordination, versus "
    "bin-packing which balances better but serializes. One shuffle "
    "on (epoch, shard).",
)
def x64_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tok"),
    )
    epochs = d.sparkSession.range(N_EPOCHS).select(
        F.col("id").cast("int").alias("epoch")
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("shard"), F.col("epoch"), F.col("doc_id"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % N_SHARDS
    )
    assigned = d.crossJoin(F.broadcast(epochs)).select(
        "doc_id", "n_tok", "epoch", shard.alias("shard")
    )
    return assigned.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# X66 — deterministic token-dropout augmentation
# ---------------------------------------------------------------------------

DROPOUT_RATE_PCT = 10  # drop ~10% of tokens, chosen by hash


@register(
    "x66_token_dropout_augment",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM tk
),
flagged AS (
  SELECT doc_id, term, pos,
         CAST(('0x' || substr(md5('aug:' || CAST(doc_id AS VARCHAR)
                 || ':' || CAST(pos AS VARCHAR)), 1, 4)) AS INT) % 100
           < {DROPOUT_RATE_PCT} AS dropped
  FROM tok
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CASE WHEN NOT dropped THEN term END, ' ' ORDER BY pos),
                '') AS augmented_text
FROM flagged GROUP BY doc_id
""",
    doc="X66: deterministic TOKEN-DROPOUT augmentation — the "
    "data-augmentation shape (word dropout regularization for "
    "embedding/LM training) made REPRODUCIBLE: each (doc, position) "
    "decides its own fate from md5('aug:doc:pos') rather than a rand() "
    "stream, so the augmented corpus is stable across reruns, "
    "repartitionings, and cluster sizes (the x07/x46 hash contract "
    "applied to augmentation — a retried task regenerates byte-equal "
    "output, which exactly-once sinks require). Varying the salt "
    "string ('aug2:', 'aug3:') yields independent augmentation "
    "epochs. Scan-side flagging plus one per-doc reassembly "
    "aggregate; same two-shuffle profile as x47.",
)
def x66_token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.posexplode(tokens()).alias("pos0", "term"),
        )
        .select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    )
    dropped = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("aug"), F.col("doc_id"), F.col("pos"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 100
        < DROPOUT_RATE_PCT
    )
    flagged = tok.withColumn("dropped", dropped)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("dropped"), F.struct("pos", "term"))
                        )
                    ),
                    lambda p: p.term,
                ),
                " ",
            ),
            F.lit(""),
        ).alias("augmented_text"),
    )


# ---------------------------------------------------------------------------
# X67 — vocabulary coverage curve (tokenizer vocab-size selection)
# ---------------------------------------------------------------------------

VOCAB_CURVE_POINTS = (5, 10, 15, 20, 25, 30)


@register(
    "x67_vocab_coverage_curve",
    oracle=f"""
WITH tok AS (
  SELECT unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
t AS (SELECT term FROM tok WHERE term <> ''),
freq AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
ranked AS (
  SELECT term, tf,
         row_number() OVER (ORDER BY tf DESC, term) AS rk,
         SUM(tf) OVER (ORDER BY tf DESC, term ROWS UNBOUNDED PRECEDING)
           AS cum_tf
  FROM freq
),
total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM freq),
points AS (SELECT unnest([{", ".join(str(p) for p in VOCAB_CURVE_POINTS)}]) AS k)
SELECT p.k AS vocab_size,
       CAST(MAX(r.cum_tf) AS BIGINT) AS tokens_covered,
       round(MAX(r.cum_tf) / t.n, 6) AS coverage
FROM points p
JOIN ranked r ON r.rk <= p.k
CROSS JOIN total t
GROUP BY p.k, t.n
""",
    doc="X67: VOCABULARY COVERAGE CURVE — the tokenizer-design report: "
    "for each candidate vocab size K, what fraction of corpus token "
    "mass do the top-K terms (by frequency, lexicographic tiebreak) "
    "cover? The Zipfian knee of this curve is where vocab growth stops "
    "paying — the empirical basis for choosing |V| before x43 trains "
    "merges, and the corpus-side complement of x38's OOV monitor "
    "(which fixes K and watches drift). One term aggregate + a "
    "vocab-sized rank/cumsum window + a tiny broadcast of the K "
    "points; the corpus is touched once.",
)
def x67_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    freq = t.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    w_rank = Window.orderBy(F.col("tf").desc(), "term")
    ranked = freq.select(
        "tf",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("tf")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_tf"),
    )
    total = freq.agg(F.sum("tf").cast("double").alias("n"))
    points = local_rows(t.sparkSession, [(k,) for k in VOCAB_CURVE_POINTS], "k int")
    return (
        F.broadcast(points)
        .join(ranked, ranked.rk <= points.k)
        .crossJoin(F.broadcast(total))
        .groupBy(F.col("k").alias("vocab_size"), "n")
        .agg(
            F.max("cum_tf").alias("tokens_covered"),
            F.round(F.max("cum_tf") / F.first("n"), 6).alias("coverage"),
        )
        .drop("n")
    )


# ---------------------------------------------------------------------------
# X68 — context/continuation pair assembly (LM eval-data construction)
# ---------------------------------------------------------------------------

CTX_FRACTION_PCT = 75  # leading share of tokens used as context


@register(
    "x68_context_continuation_pairs",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         CAST((len(toks) * {CTX_FRACTION_PCT}) // 100 AS BIGINT) AS n_ctx
  FROM tk WHERE len(toks) >= 4
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       n_ctx,
       array_to_string(toks[1:n_ctx], ' ') AS context,
       array_to_string(toks[n_ctx+1:], ' ') AS continuation
FROM sized
""",
    doc="X68: CONTEXT/CONTINUATION pair assembly — LM evaluation data "
    "construction: each document splits at the 75% token mark into a "
    "(context, continuation) pair, the input shape for held-out "
    "perplexity and continuation-match evals (and for distillation "
    "prompt/target pairs). Pure scan-side array slicing — split point "
    "derived from the doc itself, zero shuffles, trivially "
    "100-TB-parallel. Pairs with x41 (span-corruption layout) and x33 "
    "(RAG chunks) as the third training-example-assembly geometry; "
    "docs under 4 tokens are dropped (no meaningful continuation).",
)
def x68_context_continuation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", tokens().alias("toks")
    )
    sized = d.withColumn("n_tok", F.size("toks").cast("bigint")).filter(
        F.col("n_tok") >= 4
    ).withColumn(
        "n_ctx", F.expr(f"n_tok * {CTX_FRACTION_PCT} DIV 100").cast("bigint")
    )
    return sized.select(
        "doc_id",
        "n_tok",
        "n_ctx",
        F.array_join(
            F.slice(F.col("toks"), 1, F.col("n_ctx").cast("int")), " "
        ).alias("context"),
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("n_ctx") + 1).cast("int"),
                (F.col("n_tok") - F.col("n_ctx")).cast("int"),
            ),
            " ",
        ).alias("continuation"),
    )


# ---------------------------------------------------------------------------
# X69 — tail-loop detection (generation-artifact filter)
# ---------------------------------------------------------------------------

TAIL_WINDOW = 8  # compare the final 8 tokens against the preceding 8


@register(
    "x69_tail_loop_filter",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) >= {2 * TAIL_WINDOW}),
tails AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
         toks[n - {TAIL_WINDOW} + 1:] AS tail,
         toks[n - {2 * TAIL_WINDOW} + 1:n - {TAIL_WINDOW}] AS prev
  FROM sized
)
SELECT doc_id, n_tok,
       CAST(len(list_filter(range(1, {TAIL_WINDOW} + 1),
                            i -> tail[i] = prev[i])) AS BIGINT) AS n_echoed,
       len(list_filter(range(1, {TAIL_WINDOW} + 1),
                       i -> tail[i] = prev[i])) * 2 >= {TAIL_WINDOW} AS looping
FROM tails
""",
    doc="X69: TAIL-LOOP detection — the generation-artifact filter for "
    "synthetic/model-written data: degenerate decodes end in a "
    "repeating cycle, so the final 8 tokens are compared positionally "
    "against the preceding 8 and a doc is flagged when at least half "
    "echo (period-8-or-divisor loops light up; x17's top-bigram "
    "fraction catches short cycles anywhere, this targets "
    "END-of-sequence periodicity, where decode loops live). Pure "
    "scan-side array slicing + a positional zip compare, zero "
    "shuffles — the cheapest pre-filter in a synthetic-data intake "
    "pipeline, run before any hashing pass.",
)
def x69_tail_loop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", tokens().alias("toks")
    )
    sized = d.withColumn("n", F.size("toks")).filter(F.col("n") >= 2 * TAIL_WINDOW)
    tails = sized.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tok"),
        F.slice(F.col("toks"), F.col("n") - TAIL_WINDOW + 1, TAIL_WINDOW).alias("tail"),
        F.slice(
            F.col("toks"), F.col("n") - 2 * TAIL_WINDOW + 1, TAIL_WINDOW
        ).alias("prev"),
    )
    n_echoed = F.size(
        F.filter(
            F.zip_with(F.col("tail"), F.col("prev"), lambda a, b: a == b),
            lambda m: m,
        )
    ).cast("bigint")
    return tails.select(
        "doc_id",
        "n_tok",
        n_echoed.alias("n_echoed"),
        (n_echoed * 2 >= TAIL_WINDOW).alias("looping"),
    )


# ---------------------------------------------------------------------------
# X71 — split balance audit (does the held-out split look like train?)
# ---------------------------------------------------------------------------


@register(
    "x71_split_balance_audit",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CAST(len({SQL_TOKENS}) AS DOUBLE) AS n_tok,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4))
                   AS INT) % 10 < 8
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(n_tok), 6) AS avg_tokens,
       round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       round(COUNT(*) FILTER (lang = 'en') * 1.0 / COUNT(*), 6) AS en_share
FROM assigned GROUP BY split
""",
    doc="X71: SPLIT BALANCE AUDIT — the check that a hash-based held-out "
    "split (x07's assignment, reproduced bit-exactly here) actually "
    "resembles the training side: per-split doc counts, token-length "
    "mean/median, language coverage, and majority-language share. "
    "Hash splits are unbiased in expectation but any SPECIFIC split "
    "can land skewed — and an eval set that is longer, more English, "
    "or shorter-tailed than train silently miscalibrates every metric "
    "derived from it, which is why the audit gates eval-set "
    "publication (pairs with x53, which fixes WHERE near-dups land; "
    "this checks WHAT the sides look like). One scan + a two-group "
    "aggregate; the exact median swaps for approx_percentile at "
    "scale (s05f contract).",
)
def x71_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("text"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 10
    )
    assigned = d.select(
        "lang",
        F.size(tokens()).cast("double").alias("n_tok"),
        F.when(bucket < 8, "train").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("p50_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("en_share"),
    )


# ---------------------------------------------------------------------------
# X72 — mixture entropy monitor (corpus diversity summary)
# ---------------------------------------------------------------------------


@register(
    "x72_mixture_entropy",
    oracle="""
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cells)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(CAST(SUM(CAST(-(n / t.t) * ln(n / t.t) AS DECIMAL(28,18)))
                  AS DOUBLE), 6) AS entropy_nats,
       round(exp(CAST(SUM(CAST(-(n / t.t) * ln(n / t.t) AS DECIMAL(28,18)))
                      AS DOUBLE)), 6) AS effective_cells,
       round(MAX(n) / t.t, 6) AS max_cell_share
FROM cells CROSS JOIN tot t
GROUP BY t.t
""",
    doc="X72: MIXTURE ENTROPY — the one-number diversity summary of the "
    "(lang, source) mixture: Shannon entropy of cell shares, its "
    "exponential (the EFFECTIVE number of cells — 100 cells at "
    "entropy 3.2 nats behave like ~25 balanced ones), and the largest "
    "single cell's share. This is the monitoring scalar over x06's "
    "full profile and x28/x35's rebalancing target: a curation run "
    "that silently collapses the mixture shows up as effective_cells "
    "dropping long before any per-cell table is eyeballed. Per-term "
    "entropy contributions go through DECIMAL so the scalar is "
    "bit-stable across partitionings (the x20 contract). One "
    "aggregate over the cell table — free at any scale.",
)
def x72_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").cast("double").alias("t"))
    share = F.col("n") / F.col("t")
    ent = F.sum((-share * F.log(share)).cast("decimal(28,18)")).cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(ent, 6).alias("entropy_nats"),
            F.round(F.exp(ent), 6).alias("effective_cells"),
            F.round(F.max("n") / F.first("t"), 6).alias("max_cell_share"),
        )
        .drop("t")
    )


# ---------------------------------------------------------------------------
# X78 — equal-width length histogram (per-source document profile)
# ---------------------------------------------------------------------------

HIST_BIN_WIDTH = 100  # chars per bin
HIST_MAX_BIN = 19  # lengths past bin 19 clamp into the top bin


@register(
    "x78_length_histogram",
    oracle=f"""
SELECT source,
       CAST(least(n_chars // {HIST_BIN_WIDTH}, {HIST_MAX_BIN}) AS INT) AS bin,
       CAST(least(n_chars // {HIST_BIN_WIDTH}, {HIST_MAX_BIN})
              * {HIST_BIN_WIDTH} AS BIGINT) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2, 3
""",
    doc="X78: EQUAL-WIDTH LENGTH HISTOGRAM per source — the binned "
    "distribution profile behind every corpus datasheet plot and "
    "truncation-threshold choice (where does each source's mass sit "
    "relative to the training context window?). Bin assignment is pure "
    "integer arithmetic (floor-divide + clamp into a top overflow "
    "bin), so the histogram is exact and engine-independent — no "
    "width_bucket float edges, no approximate sketch. Scale: one "
    "map-side-combinable aggregate over (source, bin) — a few hundred "
    "groups regardless of corpus size; this is the cheapest query in "
    "the profiling family and the first one a 100 TB run fires.",
)
def x78_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bin_ = F.least(
        F.floor(F.col("n_chars") / HIST_BIN_WIDTH), F.lit(HIST_MAX_BIN)
    ).cast("int")
    return (
        d.select(
            "source",
            bin_.alias("bin"),
            (bin_ * HIST_BIN_WIDTH).cast("bigint").alias("bin_lo"),
        )
        .groupBy("source", "bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# X79 — Kolmogorov-Smirnov drift statistic (each source vs rest of corpus)
# ---------------------------------------------------------------------------


@register(
    "x79_ks_drift",
    oracle="""
WITH counts AS (
  SELECT source, n_chars AS v, COUNT(*) AS c
  FROM documents GROUP BY source, n_chars
),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY source),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
grid AS (
  SELECT t.source, g.v
  FROM (SELECT DISTINCT source FROM counts) t
  CROSS JOIN (SELECT DISTINCT v FROM counts) g
),
cum AS (
  SELECT grid.source, grid.v,
         SUM(COALESCE(c.c, 0)) OVER (PARTITION BY grid.source
                                     ORDER BY grid.v) AS cum_s,
         SUM(COALESCE(a.c, 0)) OVER (PARTITION BY grid.source
                                     ORDER BY grid.v) AS cum_all
  FROM grid
  LEFT JOIN counts c ON c.source = grid.source AND c.v = grid.v
  LEFT JOIN (SELECT v, SUM(c) AS c FROM counts GROUP BY v) a
    ON a.v = grid.v
)
SELECT cum.source, totals.n_s,
       round(MAX(abs(CAST(cum_s * (grand.n - totals.n_s)
                          - (cum_all - cum_s) * totals.n_s AS DOUBLE)))
             / (CAST(totals.n_s AS DOUBLE) * (grand.n - totals.n_s)), 6)
         AS ks_stat
FROM cum JOIN totals ON cum.source = totals.source CROSS JOIN grand
GROUP BY cum.source, totals.n_s, grand.n
""",
    doc="X79: KOLMOGOROV-SMIRNOV drift statistic — for each source, the "
    "exact two-sample KS distance between its document-length "
    "distribution and the rest of the corpus: max_v |F_src(v) - "
    "F_rest(v)|. Complements x30's binned PSI with the binning-free "
    "order statistic (PSI moves when mass shifts between coarse bins; "
    "KS catches any CDF separation). Exactness: the max runs over "
    "INTEGER cross-multiplied cumulative counts (cum_s*(n-n_s) - "
    "cum_rest*n_s), divided once at the end — no per-row float CDFs, "
    "so the statistic is bit-stable across engines and partial-agg "
    "orders. Plan: per-(source, value) counts, a sources x values "
    "grid (|sources| * |distinct lengths| rows — tiny), two window "
    "cumsums over the same ordering, one max-aggregate. At 100 TB "
    "the value grid would quantize to a sampled quantile lattice; "
    "the max-over-lattice contract is unchanged.",
)
def x79_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = counts.persist()
    totals = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    per_val = counts.groupBy("v").agg(F.sum("c").alias("c_all"))
    grand = counts.agg(F.sum("c").alias("n"))
    grid = totals.select("source").crossJoin(per_val.select("v"))
    w = Window.partitionBy("source").orderBy("v")
    cum = (
        grid.join(counts, ["source", "v"], "left")
        .join(F.broadcast(per_val), "v")
        .select(
            "source",
            "v",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(w).alias("cum_s"),
            F.sum(F.col("c_all")).over(w).alias("cum_all"),
        )
    )
    out = (
        cum.join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
        .groupBy("source", "n_s", "n")
        .agg(
            # try_divide: a single-source corpus has an EMPTY "rest"
            # distribution (n - n_s = 0) — KS vs nothing is undefined,
            # NULL in both engines (DuckDB x/0 is NULL), not a crash
            F.round(
                F.try_divide(
                    F.max(
                        F.abs(
                            F.col("cum_s") * (F.col("n") - F.col("n_s"))
                            - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
                        ).cast("double")
                    ),
                    F.col("n_s").cast("double") * (F.col("n") - F.col("n_s")),
                ),
                6,
            ).alias("ks_stat")
        )
        .select("source", "n_s", "ks_stat")
    )
    # Materialize the (tiny) result while `counts` is still cached, then
    # release the cache — otherwise the block outlives the query across a
    # 222-query bench session (the x02f persist/unpersist pattern).
    out = materialize(out, "release")
    counts.unpersist()
    return out


# ---------------------------------------------------------------------------
# X89: BM25 retrieval — rank documents against a fixed query set
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# A small fixed query workload (query_id, term). Terms are plain corpus
# vocabulary; a term may appear in several queries. The table is constant
# and vocabulary-sized — it broadcasts.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "hash"), (1, "join"),
    (2, "sort"), (2, "merge"), (2, "join"),
    (3, "window"), (3, "agg"),
    (4, "stream"), (4, "batch"),
    (5, "fast"), (5, "scan"), (5, "filter"),
)

_BM25_QUERY_VALUES = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERIES)


@register(
    "x89_bm25_topk",
    oracle=f"""
WITH qt(query_id, term) AS (VALUES {_BM25_QUERY_VALUES}),
toks AS (
  SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
tf_all AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf_all GROUP BY doc_id),
corpus AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs FROM dl
),
tfq AS (
  SELECT tf_all.doc_id, tf_all.term, tf_all.tf
  FROM tf_all JOIN (SELECT DISTINCT term FROM qt) q ON tf_all.term = q.term
),
dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT tfq.doc_id, tfq.term,
         round(
           ln(1.0 + (corpus.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (tfq.tf * ({BM25_K1} + 1.0))
           / (tfq.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / corpus.avgdl)),
           6) AS term_score
  FROM tfq
  JOIN dl ON tfq.doc_id = dl.doc_id
  JOIN dft ON tfq.term = dft.term
  CROSS JOIN corpus
),
per_query AS (
  SELECT qt.query_id, scored.doc_id,
         CAST(SUM(CAST(scored.term_score AS DECIMAL(18, 6))) AS DOUBLE) AS bm25
  FROM scored JOIN qt ON scored.term = qt.term
  GROUP BY qt.query_id, scored.doc_id
),
ranked AS (
  SELECT query_id, doc_id, bm25,
         row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
  FROM per_query
)
SELECT query_id, doc_id, bm25, rn AS doc_rank
FROM ranked WHERE rn <= {BM25_TOP_K}
""",
    doc="X89: BM25 top-k retrieval over a constant query workload — the "
    "lexical-search complement to the dense ANN suite (x03*). The corpus "
    "is tokenized ONCE into tf(doc, term) and that table is materialized "
    "(localCheckpoint): four consumers — doc lengths, the (avgdl, N) "
    "scalars, per-term df, and the postings join — would otherwise each "
    "replay the tokenize scan (the shuffle-reuse trick does not apply "
    "here: the spread partitioning already satisfies the groupBy, so "
    "there is no aggregate exchange to reuse). tf is doc-id-partitioned, "
    "so doc lengths aggregate exchange-free and the postings-to-lengths "
    "join co-locates without a shuffle. Query terms and per-term df are "
    "vocabulary-sized and broadcast. Per-term scores are rounded then "
    "summed as DECIMAL(18,6), so the per-(query, doc) total is exact and "
    "order-independent (the registry's decimal ln-sum convention); top-k "
    "is a windowed row_number per query — no global sort. At 100 TB the "
    "materialized tf table is the classic inverted-index build; "
    "everything after it touches |docs matching query terms| rows, not "
    "|corpus|.",
)
def x89_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    # Tokenize ONCE: tf_all has four consumers (dl, corpus scalars, df,
    # postings join) — materialize it so the explode scan runs once.
    tf_all = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf_all = materialize(tf_all, "reused")
    dl = tf_all.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))

    # Corpus scalars: two driver-side numbers (bounded — a 1-row aggregate).
    stats = dl.agg(
        F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:  # empty corpus: no postings -> empty ranking, typed
        return local_rows(
            spark,
            [], "query_id int, doc_id bigint, bm25 double, doc_rank int"
        )
    avgdl = float(stats["s"]) / n_docs

    qt = local_rows(spark, list(BM25_QUERIES), "query_id int, term string")
    tfq = tf_all.join(F.broadcast(qt.select("term").distinct()), "term")
    dft = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    scored = (
        tfq.join(dl, "doc_id")
        .join(F.broadcast(dft), "term")
        .select(
            "doc_id",
            "term",
            F.round(idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom, 6).alias(
                "term_score"
            ),
        )
    )
    per_query = (
        scored.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("term_score").cast("decimal(18,6)"))
            .cast("double")
            .alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        per_query.withColumn("doc_rank", F.row_number().over(w))
        .filter(F.col("doc_rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "bm25", "doc_rank")
    )


# ---------------------------------------------------------------------------
# X91: weak-label linear classifier trained in-engine (full-batch GD)
# ---------------------------------------------------------------------------

LR_N_ITERS = 20
LR_RATE = 2.0  # full-batch gradient descent on standardized features
LR_FEATURES = ("stopword_ratio", "punct_ratio", "alpha_ratio", "log_len")


def _weak_label_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc surface features + weak label (the x08 heuristic gate:
    stopword density >= 0.1). The label is produced by the upstream
    rule-based stage — the trained model distills that gate into a
    calibrated soft score, the standard bootstrap for quality/domain
    classifiers when no human labels exist (weak supervision).

    One tokenize pass for the stopword ratio, one scan for the character
    ratios, joined on doc_id (doc-sized join). Empty/NULL text yields no
    tokens and is excluded — a classifier has nothing to score there."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    stop = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("term").isin(*STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )
    chars = d.select(
        "doc_id",
        (
            F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
        (
            F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).cast("double")
            / F.length("text")
        ).alias("alpha_ratio"),
        F.log(F.lit(1.0) + F.length("text")).alias("log_len"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return chars.join(stop, "doc_id").select(
        "doc_id",
        (stop_ratio >= 0.1).cast("double").alias("y"),
        stop_ratio.alias("stopword_ratio"),
        "punct_ratio",
        "alpha_ratio",
        "log_len",
    )


def train_weak_label_lr(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float], list[float]]:
    """Train logistic regression by full-batch GD; returns the CACHED
    standardized-feature DataFrame, the learned weights (bias last), and
    the per-iteration log-loss trace. Caller must unpersist the frame.

    When the feature table fits the driver (``fits_driver``) the 20 GD
    rounds run driver-local on the collected (doc-sized) feature matrix:
    each distributed round is one tiny aggregate whose job-launch
    latency dominates at test scale (6.7 s -> ~1.5 s at sf0.1). The
    feature table itself stays a cached DataFrame either way (the
    scoring pass and the 100-TB path are unchanged); weight agreement
    between paths is pinned in tests/test_weak_label_lr.py."""
    raw = _weak_label_features(spark, sf_dir)
    stats = raw.agg(
        *[F.avg(c).alias(f"m_{c}") for c in LR_FEATURES],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in LR_FEATURES],
    ).collect()[0]
    if stats[f"m_{LR_FEATURES[0]}"] is None:
        # empty corpus: nothing to standardize or train on — zero weights,
        # empty loss trace, empty (persisted-for-contract) feature frame
        return raw.limit(0).persist(), [0.0] * (len(LR_FEATURES) + 1), []
    feats = raw.select(
        "doc_id",
        "y",
        *[
            (
                (F.col(c) - F.lit(float(stats[f"m_{c}"])))
                / F.lit(max(float(stats[f"s_{c}"]), 1e-12))
            ).alias(c)
            for c in LR_FEATURES
        ],
    ).persist()

    if fits_driver(feats):
        import numpy as np

        rows = feats.orderBy("doc_id").collect()
        X = np.asarray(
            [[float(r[c]) for c in LR_FEATURES] for r in rows], dtype=np.float64
        )
        yv = np.asarray([float(r["y"]) for r in rows], dtype=np.float64)
        w = np.zeros(len(LR_FEATURES), dtype=np.float64)
        b = 0.0
        losses_l: list[float] = []
        eps_l = 1e-12
        for _ in range(LR_N_ITERS):
            pv = 1.0 / (1.0 + np.exp(-(X @ w + b)))
            losses_l.append(
                float(
                    np.mean(
                        -(yv * np.log(pv + eps_l) + (1.0 - yv) * np.log(1.0 - pv + eps_l))
                    )
                )
            )
            g = (pv - yv) @ X / len(yv)
            gb = float(np.mean(pv - yv))
            w -= LR_RATE * g
            b -= LR_RATE * gb
        return feats, [float(v) for v in w] + [b], losses_l

    weights = [0.0] * len(LR_FEATURES) + [0.0]  # bias last
    losses: list[float] = []
    eps = 1e-12
    for _ in range(LR_N_ITERS):
        margin = F.lit(weights[-1])
        for j, c in enumerate(LR_FEATURES):
            margin = margin + F.lit(weights[j]) * F.col(c)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        agg = feats.agg(
            *[F.avg((p - F.col("y")) * F.col(c)).alias(f"g_{j}") for j, c in enumerate(LR_FEATURES)],
            F.avg(p - F.col("y")).alias("g_bias"),
            F.avg(
                -(
                    F.col("y") * F.log(p + F.lit(eps))
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p + F.lit(eps))
                )
            ).alias("loss"),
        ).collect()[0]
        losses.append(float(agg["loss"]))
        for j in range(len(LR_FEATURES)):
            weights[j] -= LR_RATE * float(agg[f"g_{j}"])
        weights[-1] -= LR_RATE * float(agg["g_bias"])
    return feats, weights, losses


@register(
    "x91_weak_label_classifier",
    oracle=None,  # iterative training (20 GD rounds) — explicitly
    # non-SQL-expressible; pinned by tests/test_weak_label_lr.py:
    # monotone loss decrease, accuracy beats the majority class AND the
    # x08 single-threshold heuristic's feature is recovered (largest
    # |weight| is the stopword ratio), determinism across runs.
    doc="X91: the quality/domain-classifier stage of a curation pipeline "
    "(CCNet/LLaMA-style 'wiki-like' filtering, public): train a linear "
    "classifier IN-ENGINE on weak labels (lang=='en') over surface "
    "features (stopword/punct/alpha ratios, log length), then score "
    "every document. Training is full-batch gradient descent: per round "
    "ONE scan of the cached doc-sized feature table computes the "
    "d+1-scalar gradient + loss via a single aggregate (weights ride "
    "the plan as literals — the x15 k-means fixpoint idiom); no per-row "
    "Python, no shuffle beyond the 1-row aggregate, rounds scale as "
    "O(iters) scans independent of d. At 100 TB the feature table is "
    "built once (the expensive tokenize pass) and each GD round moves "
    "d+2 doubles to the driver.",
)
def x91_weak_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats, weights, _losses = train_weak_label_lr(spark, sf_dir)
    margin = F.lit(weights[-1])
    for j, c in enumerate(LR_FEATURES):
        margin = margin + F.lit(weights[j]) * F.col(c)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    out = feats.select(
        "doc_id",
        F.col("y").cast("int").alias("y_weak"),
        F.round(p, 6).alias("score"),
        (p >= 0.5).cast("int").alias("pred"),
    )
    out = materialize(out, "release")
    feats.unpersist()
    return out


# ---------------------------------------------------------------------------
# X92: TextRank keyword extraction — PageRank over the word adjacency graph
# ---------------------------------------------------------------------------

TEXTRANK_ITERS = 8
TEXTRANK_DAMP = 0.85

_TR_STOPLIST = ", ".join(repr(s) for s in STOPWORDS)


def _textrank_oracle() -> str:
    """Unrolled fixed-round power iteration: each round is one plain CTE, so
    the whole iterative algorithm stays DuckDB-checkable (no aggregates in a
    recursive term needed — the round count is a constant)."""
    head = f"""
WITH toks AS (
  SELECT doc_id, pos, term FROM (
    SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term,
           generate_subscripts({SQL_RAW_TOKENS}, 1) AS pos
    FROM documents
  ) WHERE term <> '' AND term NOT IN ({_TR_STOPLIST})
),
adj AS (
  SELECT term AS w1,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
edges AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT w1, w2 FROM adj WHERE w2 IS NOT NULL AND w1 <> w2
    UNION ALL
    SELECT w2 AS w1, w1 AS w2 FROM adj WHERE w2 IS NOT NULL AND w1 <> w2
  ) GROUP BY w1, w2
),
g AS (
  SELECT w1, w2,
         CAST(c AS DOUBLE)
           / CAST(SUM(c) OVER (PARTITION BY w1) AS DOUBLE) AS f
  FROM edges
),
r0 AS (SELECT DISTINCT w1 AS term, CAST(1.0 AS DOUBLE) AS rank FROM edges)"""
    rounds = []
    for t in range(TEXTRANK_ITERS):
        rounds.append(f""",
r{t + 1} AS (
  SELECT g.w2 AS term,
         round({1.0 - TEXTRANK_DAMP} + {TEXTRANK_DAMP}
               * CAST(SUM(CAST(r{t}.rank * g.f AS DECIMAL(28,18))) AS DOUBLE),
               12) AS rank
  FROM g JOIN r{t} ON g.w1 = r{t}.term
  GROUP BY g.w2
)""")
    tail = f"""
SELECT term, rank,
       CAST(row_number() OVER (ORDER BY rank DESC, term) AS INT) AS kw_rank
FROM r{TEXTRANK_ITERS}
"""
    return head + "".join(rounds) + tail


@register(
    "x92_textrank_keywords",
    oracle=_textrank_oracle(),
    doc="X92: TextRank keyword extraction (Mihalcea & Tarau 2004, public) — "
    "weighted PageRank over the word co-occurrence graph: stopword-filtered "
    "adjacent-token pairs, symmetrized with edge weight = co-occurrence "
    "count, then a fixed 8-round damped power iteration; output is every "
    "graph node's final rank plus its keyword position. The plan follows "
    "the BPE/x43 corpus-vs-vocab split: the CORPUS-scale work is one "
    "tokenize pass building the adjacency list (lead() over per-doc "
    "positions — no extra exchange past the doc_id partitioning; "
    "localCheckpointed once because the symmetrizing union consumes it "
    "twice); everything iterated is VOCAB-sized (edges, per-node "
    "out-weight, ranks), so the 8 rounds cost 8 joins + 8 aggregates on "
    "tables whose size is independent of corpus bytes. Per-edge "
    "contributions go through DECIMAL(28,18) before summing and each "
    "round's ranks are rounded to 12dp, so every round is "
    "aggregation-order-exact and bit-reproducible across engines — the "
    "oracle unrolls the same 8 rounds as chained CTEs. The final keyword "
    "ordering is a vocab-sized single-partition window (bounded by "
    "construction). At 100 TB only the adjacency build scans the corpus; "
    "the iteration cost is unchanged.",
)
def x92_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.posexplode(raw_tokens()).alias("pos", "term"))
        .filter((F.col("term") != "") & ~F.col("term").isin(*STOPWORDS))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        toks.select(
            F.col("term").alias("w1"), F.lead("term").over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull() & (F.col("w1") != F.col("w2")))
        .transform(materialize, "reused")  # corpus-scale; read twice below
    )
    edges = (
        adj.union(adj.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # vocab-sized; wsum AND the g join both read it — without this the
        # corpus-scale union+aggregate above would run twice
        .transform(materialize, "reused")
    )
    wsum = edges.groupBy("w1").agg(F.sum("c").alias("wsum"))
    g = (
        edges.join(wsum, "w1")
        .select(
            "w1",
            "w2",
            (F.col("c").cast("double") / F.col("wsum").cast("double")).alias("f"),
        )
        .transform(materialize, "reused")  # vocab-sized; read every round
    )
    if fits_driver(g):
        # Driver-local power iteration on the collected vocab graph (8
        # vocab-sized join rounds pay 8 job launches at test scale —
        # 3.0 s -> ~1.3 s at sf0.1). math.fsum per node reproduces the
        # unrolled oracle's DECIMAL-exact sums; the distributed loop below
        # is the at-scale path (a 100-TB vocabulary graph outgrows one
        # driver).
        import math
        from collections import defaultdict

        edges_l = [
            (r["w1"], r["w2"], float(r["f"])) for r in g.collect()
        ]
        rank = {a: 1.0 for a, _b, _f in edges_l}
        for _ in range(TEXTRANK_ITERS):
            contrib: dict[str, list[float]] = defaultdict(list)
            for a, b, f_ab in edges_l:
                contrib[b].append(rank[a] * f_ab)
            rank = {
                b: round(
                    (1.0 - TEXTRANK_DAMP) + TEXTRANK_DAMP * math.fsum(vs), 12
                )
                for b, vs in contrib.items()
            }
        ordered = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))
        return local_rows(
            spark,
            [(t, r, i + 1) for i, (t, r) in enumerate(ordered)],
            "term string, rank double, kw_rank int",
        )

    ranks = g.select(F.col("w1").alias("term")).distinct().withColumn(
        "rank", F.lit(1.0)
    )
    for _ in range(TEXTRANK_ITERS):
        ranks = (
            g.join(ranks, g["w1"] == ranks["term"])
            .groupBy(F.col("w2").alias("term"))
            .agg(
                F.round(
                    F.lit(1.0 - TEXTRANK_DAMP)
                    + F.lit(TEXTRANK_DAMP)
                    * F.sum(
                        (F.col("rank") * F.col("f")).cast("decimal(28,18)")
                    ).cast("double"),
                    12,
                ).alias("rank")
            )
        )
    kw = Window.orderBy(F.col("rank").desc(), F.col("term"))
    return ranks.select(
        "term", "rank", F.row_number().over(kw).cast("int").alias("kw_rank")
    )


# ---------------------------------------------------------------------------
# X93: DoReMi-lite domain reweighting — multiplicative weights on excess loss
# ---------------------------------------------------------------------------

DOREMI_ROUNDS = 10
DOREMI_ETA = 0.5


def _doremi_oracle() -> str:
    """Unrolled multiplicative-weights rounds as chained CTEs (constant round
    count, so no recursion needed). Each round needs two scalars — the
    weighted mean loss and the renormalizer — hence two aggregate CTEs plus
    two cross joins per round; every sum goes through DECIMAL(28,18) so the
    K-row aggregation is order-exact and rounds reproduce bit-for-bit."""
    head = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
lm AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
doc_lp AS (
  SELECT tok.doc_id,
         round(CAST(SUM(CAST(ln(lm.tf / tot.t) AS DECIMAL(28,18))) AS DOUBLE)
               / COUNT(*), 6) AS avg_lp
  FROM tok JOIN lm ON tok.term = lm.term CROSS JOIN tot
  GROUP BY tok.doc_id
),
dom AS MATERIALIZED (
  SELECT d.lang, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         round(CAST(SUM(CAST(-doc_lp.avg_lp AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS loss
  FROM documents d JOIN doc_lp ON d.doc_id = doc_lp.doc_id
  GROUP BY d.lang, d.source
),
k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM dom),
w0 AS MATERIALIZED (SELECT lang, source, n_docs, loss, 1.0 / k.k AS w FROM dom CROSS JOIN k)"""
    # Renormalization runs in EXACT integer space (round-8 round_on_div
    # burn-down): the raw update wr quantizes to femto-units (round of the
    # same IEEE double on both engines — wr*1e15 < 2^53, so the integer is
    # exact), the normalizer is an exact integer sum, and the next round's
    # 12dp weight is the half-away integer rational
    # (2*wr_e15*1e12 + z) // (2*z) — no float quotient under rounding
    # anywhere in the recurrence. Intermediates pass through HUGEINT
    # (Spark side: DECIMAL(38,0)); max magnitude 2e27 << 38 digits.
    rounds = []
    for t in range(DOREMI_ROUNDS):
        rounds.append(f""",
m{t} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(w * loss AS DECIMAL(28,18))) AS DOUBLE) AS mu FROM w{t}
),
u{t} AS MATERIALIZED (
  SELECT lang, source, n_docs, loss,
         CAST(round(w * (1.0 + {DOREMI_ETA} * greatest(loss - m{t}.mu, 0.0))
                    * 1000000000000000) AS HUGEINT) AS wr_e15
  FROM w{t} CROSS JOIN m{t}
),
z{t} AS MATERIALIZED (SELECT SUM(wr_e15) AS z FROM u{t}),
w{t + 1} AS MATERIALIZED (
  SELECT lang, source, n_docs, loss,
         CAST((2 * wr_e15 * 1000000000000 + z{t}.z) // (2 * z{t}.z)
              AS DOUBLE) / 1000000000000 AS w
  FROM u{t} CROSS JOIN z{t}
)""")
    tail = f"""
SELECT lang, source, n_docs, loss, w AS weight
FROM w{DOREMI_ROUNDS}
"""
    return head + "".join(rounds) + tail


@register(
    "x93_doremi_reweighting",
    oracle=_doremi_oracle(),
    doc="X93: DoReMi-shaped domain reweighting (Xie et al. 2023, public) — "
    "x28's one-shot ratio upgraded to the genuinely ITERATIVE scheme: 10 "
    "multiplicative-weights rounds that shift sampling weight toward "
    "domains with loss above the current weighted mean (excess loss), "
    "renormalizing each round; because the mean is weight-dependent the "
    "rounds do not collapse analytically. The domain loss proxy is the "
    "x20 unigram cross-entropy per (lang, source) cell. Scale split is "
    "strict: the CORPUS-scale work is one tokenize pass + one broadcast "
    "LM join producing the K-row domain table (K = #lang x #source, "
    "independent of corpus bytes); the 10 rounds then run on K rows — "
    "each round two 1-row aggregates cross-joined back (the weighted "
    "mean and the renormalizer), with every K-row sum cast through "
    "DECIMAL(28,18) so round t+1's weights are aggregation-order-exact "
    "and both engines replay identical rounds (oracle = the same rounds "
    "unrolled as chained CTEs; the linear 1+eta*excess update keeps the "
    "recurrence transcendental-free, so doubles stay bit-identical). "
    "Per-round frames are localCheckpointed: the mean/renormalizer each "
    "reference the round's frame twice, which would otherwise double the "
    "plan per round (2^10 subtree blowup). At 100 TB the loop cost is "
    "unchanged — only the one corpus scan grows.",
)
def x93_doremi_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
        .transform(materialize, "reused")  # lm AND the scoring join
    )
    lm = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    lm = materialize(lm, "reused")  # tot derives from it AND it joins
    # corpus token total = sum of the vocab-sized tf table (free — no
    # second corpus pass)
    tot = lm.agg(F.sum("tf").cast("double").alias("t"))
    doc_lp = (
        tok.join(F.broadcast(lm), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(F.col("tf") / F.col("t")).cast("decimal(28,18)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_lp")
        )
    )
    dom = (
        d.select("doc_id", "lang", "source")
        .join(doc_lp, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum((-F.col("avg_lp")).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("loss"),
        )
    )
    # The multiplicative-weights loop runs DRIVER-LOCAL on the collected
    # domain table: its size is |lang x source| — a vocabulary, not a
    # volume — so the collect is bounded at ANY corpus scale and the loop
    # is pure scalar math (the Spark-loop version paid ~40 tiny jobs:
    # 4.4 s -> ~1.4 s at sf0.1). math.fsum reproduces the DECIMAL-exact
    # sums of the unrolled oracle bit for bit (exactly-rounded sum of the
    # same doubles); per-round weights round to 12dp as in the oracle.
    import math

    rows = sorted(
        ((r["lang"], r["source"], r["n_docs"], r["loss"]) for r in dom.collect())
    )
    losses = [r[3] for r in rows]
    k = len(rows)
    if k == 0:  # empty corpus: no domains to reweight -> empty, typed
        return local_rows(
            spark,
            [],
            "lang string, source string, n_docs bigint, loss double, "
            "weight double",
        )
    w_vec = [1.0 / k] * k
    for _ in range(DOREMI_ROUNDS):
        mu = math.fsum(wi * li for wi, li in zip(w_vec, losses))
        wr = [
            wi * (1.0 + DOREMI_ETA * max(li - mu, 0.0))
            for wi, li in zip(w_vec, losses)
        ]
        # exact-integer renormalization mirroring the oracle CTEs (see
        # _doremi_oracle): quantize wr to femto-units with half-away
        # rounding of the same IEEE double (floor + exact fractional
        # compare — y < 2^53, so y - floor(y) is exact), then the 12dp
        # weight is the half-away integer rational in arbitrary-precision
        # Python ints, bit-identical to HUGEINT by construction.
        wr_e15 = []
        for x in wr:
            y = x * 1e15
            f = math.floor(y)
            wr_e15.append(f + (1 if y - f >= 0.5 else 0))
        z = sum(wr_e15)
        w_vec = [
            (2 * we * 10**12 + z) // (2 * z) / 1e12 for we in wr_e15
        ]
    return local_rows(
        spark,
        [
            (lang, source, n_docs, loss, w)
            for (lang, source, n_docs, loss), w in zip(rows, w_vec)
        ],
        "lang string, source string, n_docs bigint, loss double, weight double",
    )


# ---------------------------------------------------------------------------
# X95: temperature-scaled multinomial sampling weights (alpha-sampling)
# ---------------------------------------------------------------------------

SAMPLING_ALPHA = 0.3  # the XLM-R / mT5 default smoothing exponent


@register(
    "x95_temperature_sampling",
    oracle=f"""
WITH counts AS (
  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source
),
tot AS (SELECT SUM(n_docs) AS total FROM counts),
p AS (
  SELECT lang, source, n_docs, n_docs * 1.0 / total AS share
  FROM counts CROSS JOIN tot
),
z AS (
  SELECT CAST(SUM(CAST(round(pow(share, {SAMPLING_ALPHA}), 12)
                       AS DECIMAL(28,18))) AS DOUBLE) AS z
  FROM p
)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
       round(share, 6) AS corpus_share,
       round(round(pow(share, {SAMPLING_ALPHA}), 12) / z, 6) AS sampled_share,
       round(round(pow(share, {SAMPLING_ALPHA}), 12) / z / share, 6) AS boost
FROM p CROSS JOIN z
""",
    doc="X95: temperature-scaled multinomial sampling weights — the "
    "alpha-smoothing scheme multilingual pretraining uses to rebalance "
    "domain mixtures (XLM-R / mT5, public): q_i proportional to "
    "p_i^alpha with alpha=0.3, which upsamples low-resource "
    "(lang, source) cells and downsamples the head without inverting "
    "the order. Complements x28 (explicit target mixture) with the "
    "parametric temperature family. Output per cell: raw corpus share, "
    "temperature-scaled sampled share, and the boost multiplier a "
    "sampler applies. Scale: one map-side-combined count shuffle on the "
    "tiny (lang, source) key; everything after runs on K rows with "
    "broadcast scalars. pow() is rounded to 12dp before the "
    "DECIMAL(28,18) normalization sum so libm-vs-JVM ulp differences "
    "cannot leak into the aggregate (the x20 ln convention).",
)
def x95_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        (F.col("n_docs") / F.col("total")).alias("share"),
    )
    p = materialize(p, "reused")  # z and the final select
    q_raw = F.round(F.pow(F.col("share"), F.lit(SAMPLING_ALPHA)), 12)
    z = p.agg(F.sum(q_raw.cast("decimal(28,18)")).cast("double").alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "lang",
        "source",
        "n_docs",
        F.round(F.col("share"), 6).alias("corpus_share"),
        F.round(q_raw / F.col("z"), 6).alias("sampled_share"),
        F.round(q_raw / F.col("z") / F.col("share"), 6).alias("boost"),
    )


# ---------------------------------------------------------------------------
# X101: interpolated Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75  # the standard fixed absolute discount


@register(
    "x101_kneser_ney_logprob",
    oracle=f"""
WITH {_SQL_BIGRAMS}
ug AS (SELECT w1, CAST(SUM(c12) AS DOUBLE) AS c1,
              CAST(COUNT(*) AS DOUBLE) AS n_follow
       FROM bg GROUP BY w1),
cont AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS n_precede FROM bg GROUP BY w2),
types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM bg)
SELECT big.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(ln(
                 greatest(bg.c12 - {KN_DISCOUNT}, 0) / ug.c1
                 + ({KN_DISCOUNT} * ug.n_follow / ug.c1)
                   * (cont.n_precede / types.n_types)
             ) AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM big
JOIN bg ON big.w1 = bg.w1 AND big.w2 = bg.w2
JOIN ug ON big.w1 = ug.w1
JOIN cont ON big.w2 = cont.w2
CROSS JOIN types
WHERE big.w2 IS NOT NULL
GROUP BY big.doc_id
""",
    doc="X101: interpolated Kneser-Ney bigram document scoring (Kneser & "
    "Ney 1995 / Chen & Goodman 1998, public) — the principled LM gate "
    "x39's add-alpha approximates: P(w2|w1) = max(c12 - D, 0)/c1 + "
    "(D * N1+(w1,.)/c1) * N1+(.,w2)/|bigram types|, D = 0.75. The "
    "continuation probability (how many CONTEXTS a word follows) is "
    "what makes KN the standard n-gram smoother — frequent-but-"
    "context-bound words (e.g. the second half of a fixed collocation) "
    "stop inflating scores. Plan shape is x39's: bigrams form scan-side "
    "via lead() on the doc-partitioned token stream (no extra "
    "exchange); the bigram table aggregates once and derives BOTH "
    "follower and continuation tables (vocab-sized, broadcast back); "
    "per-bigram ln() through DECIMAL(28,18) keeps the mean "
    "aggregation-order-exact. At 100 TB the LM tables prune to "
    "min-count >= t before the broadcast, same as x39.",
)
def x101_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LM tables AND the scoring join
    big = materialize(_doc_bigrams(_positioned_tokens(spark, sf_dir)), "reused")
    bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bg = materialize(bg, "reused")  # ug, cont, types all derive from it
    ug = bg.groupBy("w1").agg(
        F.sum("c12").cast("double").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("n_follow"),
    )
    cont = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("n_precede")
    )
    types = bg.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    p_kn = (
        F.greatest(F.col("c12") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("c1")
        + (F.lit(KN_DISCOUNT) * F.col("n_follow") / F.col("c1"))
        * (F.col("n_precede") / F.col("n_types"))
    )
    return (
        big.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(ug), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.log(p_kn).cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# X106 — CCNet-style perplexity terciles (head / middle / tail per language)
# ---------------------------------------------------------------------------


def _ccnet_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, avg_logprob): x20's document score with
    the doc's language, shared by x106 and x106b."""
    return (
        _unigram_lm_join(_doc_terms(spark, sf_dir, "lang"))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            _mean_logprob(),
        )
    )


def _ppl_bucket_summary(b: DataFrame) -> DataFrame:
    """Per (lang, ppl_bucket) doc/token mass and score range of the scored
    and bucketed docs ``b``; x106 and x106b's shared output."""
    return b.groupBy("lang", "ppl_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bucket_tokens"),
        F.round(F.min("avg_logprob"), 6).alias("min_logprob"),
        F.round(F.max("avg_logprob"), 6).alias("max_logprob"),
        F.round(
            F.sum(F.col("avg_logprob").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bucket_avg_logprob"),
    )


@register(
    "x106_ccnet_perplexity_buckets",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, t.term
  FROM (
    SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents
  ) AS t
  WHERE t.term <> ''
),
lm AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
doc AS (
  SELECT tok.doc_id,
         any_value(tok.lang) AS lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(CAST(SUM(CAST(ln(lm.tf / tot.t) AS DECIMAL(28,18))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
  FROM tok JOIN lm USING (term) CROSS JOIN tot
  GROUP BY tok.doc_id
),
b AS (
  SELECT lang, n_tokens, avg_logprob,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY avg_logprob DESC, doc_id) AS tile
  FROM doc
)
SELECT lang,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS ppl_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
       round(MIN(avg_logprob), 6) AS min_logprob,
       round(MAX(avg_logprob), 6) AS max_logprob,
       round(CAST(SUM(CAST(avg_logprob AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 6) AS bucket_avg_logprob
FROM b
GROUP BY lang, ppl_bucket
""",
    doc="X106: CCNet-style perplexity bucketing (Wenzek et al. 2020) — "
    "score every document by mean unigram log-probability (x20's LM "
    "idiom: vocab-sized LM broadcast onto the token stream, per-token "
    "ln through DECIMAL so the doc score is aggregation-order-exact), "
    "then split each language into head/middle/tail terciles by score "
    "and report per-bucket doc/token mass and score ranges — the "
    "standard 'train on head, sample middle, drop tail' curation split. "
    "Tie-break (avg_logprob DESC, doc_id) makes the NTILE assignment "
    "engine-exact. Scale: one tokenize scan, one doc_id shuffle for the "
    "doc score, one lang-partitioned window; at 100 TB the per-lang "
    "NTILE sort is the knob — swap it for approx-percentile cut points "
    "broadcast against the doc table (banding instead of ranking), "
    "which removes the per-lang global sort at the cost of ~eps bucket "
    "skew at the cuts.",
)
def x106_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _ccnet_doc_scores(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    b = doc.withColumn("tile", F.ntile(3).over(w)).withColumn(
        "ppl_bucket",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail"),
    )
    return _ppl_bucket_summary(b)


# ---------------------------------------------------------------------------
# X107 — annotator agreement (Cohen's kappa between two labelers)
# ---------------------------------------------------------------------------


@register(
    "x107_annotator_agreement_kappa",
    oracle=f"""
WITH lab AS (
  SELECT doc_id,
         CASE WHEN 10 * len(list_filter({SQL_RAW_TOKENS},
                       t -> t IN ({', '.join(repr(s) for s in STOPWORDS)})))
                   >= len({SQL_TOKENS})
              THEN 'en' ELSE 'other' END AS label_a,
         CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS label_b
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN label_a = 'en'    AND label_b = 'en'    THEN 1 ELSE 0 END) AS BIGINT) AS en_en,
         CAST(SUM(CASE WHEN label_a = 'en'    AND label_b = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS en_other,
         CAST(SUM(CASE WHEN label_a = 'other' AND label_b = 'en'    THEN 1 ELSE 0 END) AS BIGINT) AS other_en,
         CAST(SUM(CASE WHEN label_a = 'other' AND label_b = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS other_other
  FROM lab
)
SELECT n, en_en, en_other, other_en, other_other,
       round(CAST(en_en + other_other AS DOUBLE) / n, 6) AS observed_agreement,
       round(CAST((en_en + en_other) * (en_en + other_en)
                  + (other_en + other_other) * (en_other + other_other) AS DOUBLE)
             / (n * n), 6) AS expected_agreement,
       CASE WHEN (n * n) = (en_en + en_other) * (en_en + other_en)
                          + (other_en + other_other) * (en_other + other_other)
            THEN 1.0
            ELSE round(
              (CAST(en_en + other_other AS DOUBLE) / n
               - CAST((en_en + en_other) * (en_en + other_en)
                      + (other_en + other_other) * (en_other + other_other) AS DOUBLE)
                 / (n * n))
              / (1.0 - CAST((en_en + en_other) * (en_en + other_en)
                            + (other_en + other_other) * (en_other + other_other) AS DOUBLE)
                   / (n * n)), 6)
       END AS kappa
FROM c
""",
    doc="X107: annotator-agreement audit — Cohen's kappa (Cohen 1960) "
    "between two independent labelers of the same corpus: the x08 "
    "stopword-density language heuristic (labeler A) and the declared "
    "lang metadata collapsed to en/other (labeler B). The curation use: "
    "kappa near 0 means the heuristic adds no information over chance "
    "given the label marginals, so gating on it would be noise. All "
    "four confusion cells are exact BIGINTs; observed/expected "
    "agreement divide integer products (< 2^53, exact in double) in "
    "the same expression shape in both engines, so the 6dp kappa is "
    "engine-identical; the degenerate pe=1 case is decided by an "
    "INTEGER equality, not a float compare. Scale: one scan-side "
    "projection (the stopword filter is an array expression, no "
    "explode), one all-to-one partial aggregate — confusion matrices "
    "are the cheapest corpus-wide audit shape.",
)
def x107_annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = tokens()
    n_stop = F.size(F.filter(raw_tokens(), lambda t: F.array_contains(stop_lit, t)))
    label_a = F.when(
        # integer gate: stop share >= 0.1 <=> 10*n_stop >= n_tokens
        n_stop * 10 >= F.size(toks), "en"
    ).otherwise("other")
    label_b = F.when(F.col("lang") == "en", "en").otherwise("other")
    lab = d.select(label_a.alias("label_a"), label_b.alias("label_b"))
    cell = lambda a, b: F.sum(  # noqa: E731
        F.when((F.col("label_a") == a) & (F.col("label_b") == b), 1).otherwise(0)
    ).cast("bigint")
    c = lab.agg(
        F.count(F.lit(1)).alias("n"),
        cell("en", "en").alias("en_en"),
        cell("en", "other").alias("en_other"),
        cell("other", "en").alias("other_en"),
        cell("other", "other").alias("other_other"),
    )
    pe_num = (F.col("en_en") + F.col("en_other")) * (
        F.col("en_en") + F.col("other_en")
    ) + (F.col("other_en") + F.col("other_other")) * (
        F.col("en_other") + F.col("other_other")
    )
    po = (F.col("en_en") + F.col("other_other")).cast("double") / F.col("n")
    pe = pe_num.cast("double") / (F.col("n") * F.col("n"))
    return c.select(
        "n", "en_en", "en_other", "other_en", "other_other",
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        F.when(F.col("n") * F.col("n") == pe_num, F.lit(1.0))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .alias("kappa"),
    )


# ---------------------------------------------------------------------------
# X108 — token-entropy screen (low-diversity / gibberish gate)
# ---------------------------------------------------------------------------


@register(
    "x108_token_entropy_screen",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term FROM documents) AS t
  WHERE t.term <> ''
),
cnt AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS c
        FROM tok GROUP BY doc_id, term),
tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM cnt GROUP BY doc_id)
SELECT cnt.doc_id,
       CAST(tot.n AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(SUM(CAST(-(cnt.c / tot.n) * ln(cnt.c / tot.n)
                           AS DECIMAL(28,18))) AS DOUBLE), 6) AS token_entropy,
       CASE WHEN tot.n <= 1 THEN 'drop'
            WHEN round(CAST(SUM(CAST(-(cnt.c / tot.n) * ln(cnt.c / tot.n)
                                     AS DECIMAL(28,18))) AS DOUBLE), 6)
                 < round(0.5 * ln(tot.n), 6)
            THEN 'drop' ELSE 'keep' END AS entropy_gate
FROM cnt JOIN tot USING (doc_id)
GROUP BY cnt.doc_id, tot.n
""",
    doc="X108: token-entropy screen — per-document Shannon entropy of the "
    "token distribution, the low-diversity/gibberish gate that catches "
    "what length and punctuation rules miss (a 500-token doc of one "
    "repeated word passes x86 but has near-zero entropy). Normalized "
    "gate: drop when H < 0.5*ln(n_tokens), i.e. the doc carries less "
    "than half the information of a uniform token stream its length; "
    "BOTH comparison sides are 6dp-rounded (the sum through "
    "DECIMAL(28,18) for order-exactness) so the keep/drop boundary is "
    "engine-exact even for structurally-tied docs (e.g. 2 distinct "
    "tokens x 2, where H = 0.5*ln(n) exactly). Scale: one tokenize "
    "scan, one (doc_id, term) shuffle; the per-doc total rides a "
    "doc_id window WHOSE PARTITIONING THE FINAL GROUPBY REUSES (no "
    "third exchange) — per-doc state is vocabulary-of-doc sized, "
    "never corpus sized.",
)
def x108_token_entropy_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    cnt = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    scored = cnt.withColumn("n", n).withColumn(
        "h_term",
        (-(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))).cast(
            "decimal(28,18)"
        ),
    )
    ent = F.round(F.sum("h_term").cast("double"), 6)
    return scored.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        ent.alias("token_entropy"),
        F.when(F.max("n") <= 1, "drop")
        .when(ent < F.round(0.5 * F.log(F.max("n")), 6), "drop")
        .otherwise("keep")
        .alias("entropy_gate"),
    )


# ---------------------------------------------------------------------------
# X111 — low-quality SPAN localization (worst window under the corpus LM)
# ---------------------------------------------------------------------------

X111_WIN = 16  # non-overlapping window width, tokens


@register(
    "x111_low_quality_span_localization",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKENS} AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, i, ts[i] AS term
  FROM tok, unnest(generate_series(1, len(ts))) AS u(i)
),
lm AS (SELECT term, count(*) AS tf FROM pos GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM pos),
win AS (
  SELECT pos.doc_id,
         CAST((pos.i - 1) // {X111_WIN} AS BIGINT) AS win_id,
         CAST(count(*) AS BIGINT) AS win_tokens,
         round(CAST(SUM(CAST(ln(lm.tf / tot.t) AS DECIMAL(28,18))) AS DOUBLE)
               / count(*), 6) AS win_logprob
  FROM pos JOIN lm USING (term) CROSS JOIN tot
  GROUP BY pos.doc_id, (pos.i - 1) // {X111_WIN}
),
ranked AS (
  SELECT doc_id, win_id, win_tokens, win_logprob,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_windows,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY win_logprob ASC, win_id) AS rn
  FROM win
)
SELECT doc_id, n_windows,
       win_id AS worst_win_id,
       win_tokens AS worst_win_tokens,
       win_logprob AS worst_win_logprob
FROM ranked WHERE rn = 1
""",
    doc="X111: low-quality SPAN localization — x20 scores whole documents; "
    "this finds WHERE the quality problem lives: the corpus-LM mean "
    "log-probability of every non-overlapping 16-token window, and per "
    "document the worst-scoring window (the boilerplate/gibberish "
    "passage a trimming pass would cut — C4-style span removal needs "
    "coordinates, not a doc verdict). Same determinism discipline as "
    "x20 (DECIMAL ln-sums, 6dp round, (score ASC, win_id) argmin "
    "tie-break). Scale: positions come from the SAME posexplode the "
    "tokenize scan produces (no second pass), the LM broadcasts, and "
    "windows aggregate on (doc_id, win_id) — the argmin is a doc_id "
    "window over the WINDOW table (corpus/16 rows, not the token "
    "stream).",
)
def x111_low_quality_span_localization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    pos = spread(d, "doc_id").select(
        "doc_id", F.posexplode(toks).alias("pos0", "term")
    )
    lm = pos.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = pos.agg(F.count(F.lit(1)).cast("double").alias("t"))
    logp = F.log(F.col("tf") / F.col("t"))
    win = (
        pos.join(F.broadcast(lm), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy(
            "doc_id",
            F.floor(F.col("pos0") / X111_WIN).cast("bigint").alias("win_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("win_tokens"),
            F.round(
                F.sum(logp.cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("win_logprob"),
        )
    )
    w_doc = Window.partitionBy("doc_id")
    w_rank = w_doc.orderBy(F.col("win_logprob").asc(), F.col("win_id"))
    return (
        win.withColumn("n_windows", F.count(F.lit(1)).over(w_doc))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_windows",
            F.col("win_id").alias("worst_win_id"),
            F.col("win_tokens").alias("worst_win_tokens"),
            F.col("win_logprob").alias("worst_win_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# X112 — text canonicalization (NFC + control-char strip + ws collapse)
# ---------------------------------------------------------------------------


@register(
    "x112_text_canonicalization",
    oracle=r"""
WITH cleaned AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text), '[\x00-\x1f\x7f]', ' ', 'g'),
           '\s+', ' ', 'g')) AS clean_text
  FROM documents
)
SELECT doc_id, clean_text,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(clean_text) AS BIGINT) AS n_chars_after,
       clean_text <> text AS changed
FROM cleaned
""",
    doc="X112: text canonicalization — the first stage of every ingest "
    "pipeline, made deterministic: Unicode NFC normalization (so "
    "composed and combining-mark spellings of the same text dedup and "
    "tokenize identically), control characters stripped to spaces, "
    "whitespace runs collapsed, ends trimmed. NFC has no Catalyst "
    "built-in, so it runs as an Arrow-vectorized pandas UDF "
    "(unicodedata.normalize — byte-identical to DuckDB's "
    "nfc_normalize, both implement UAX #15); everything else stays "
    "JVM-side regexp. Scale: pure scan-side projection, zero "
    "shuffles; the Python stage is the narrow per-batch map that "
    "mapInPandas multimodal kernels already pay, with no state. "
    "Accent/control-char behavior pinned on a planted corpus in "
    "tests/test_properties.py (the fixture text is ASCII, where NFC "
    "is the identity).",
)
def x112_text_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc(F.col("text")), r"[\x00-\x1f\x7f]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length("text").cast("bigint").alias("n_chars_before"),
        F.length(clean).cast("bigint").alias("n_chars_after"),
        (clean != F.col("text")).alias("changed"),
    )


# ---------------------------------------------------------------------------
# X106b — CCNet buckets via broadcast cut points (the x106 100-TB path)
# ---------------------------------------------------------------------------


@register(
    "x106b_ccnet_buckets_banded",
    # Banding replaces the exact per-lang NTILE sort with approx-percentile
    # cut points -> bucket boundaries move by the sketch's rank error, so
    # the result is not SQL-reproducible row-for-row; agreement with exact
    # x106 is pinned in tests/test_properties.py instead.
    oracle=None,
    doc="X106b: the scale path x106's docstring promises, made real — "
    "per-language head/middle/tail buckets WITHOUT the per-lang global "
    "sort: percentile_approx (Greenwald-Khanna, accuracy 10k) computes "
    "the two tercile cut points per language into a langs-sized table, "
    "which broadcasts back onto the doc-score stream; bucket membership "
    "becomes two scan-side comparisons. Same doc scoring as x106 (the "
    "broadcast-LM mean log-prob), same output shape. At 100 TB this is "
    "the difference between sorting every language's documents and one "
    "extra vocab-sized aggregate: the NTILE sort is O(n log n) per lang "
    "on the full doc table, the sketch is one pass with bounded state. "
    "Cost: bucket edges move by the sketch's rank error (n/accuracy per "
    "cut) and, because membership is a VALUE comparison, every doc tied "
    "at the moved cut's 6dp score flips together — the deviation bound "
    "is 2 x (rank error + max tie group), measured under degenerate "
    "monolang skew in SCALE_REHEARSAL.json (dev 60 <= bound 451 at 150k "
    "single-language docs) and <= 1 doc at fixture sizes (pinned in "
    "tests).",
)
def x106b_ccnet_buckets_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cuts AND the banding read it
    doc = materialize(_ccnet_doc_scores(spark, sf_dir), "reused")
    cuts = doc.groupBy("lang").agg(
        F.percentile_approx(
            "avg_logprob", F.array(F.lit(2.0 / 3.0), F.lit(1.0 / 3.0)), 10000
        ).alias("c")
    ).select(
        "lang", F.col("c")[0].alias("head_cut"), F.col("c")[1].alias("mid_cut")
    )
    b = doc.join(F.broadcast(cuts), "lang").withColumn(
        "ppl_bucket",
        F.when(F.col("avg_logprob") >= F.col("head_cut"), "head")
        .when(F.col("avg_logprob") >= F.col("mid_cut"), "middle")
        .otherwise("tail"),
    )
    return _ppl_bucket_summary(b)


# ---------------------------------------------------------------------------
# X113 — ROUGE-L paraphrase decontamination (LCS recall vs the eval set)
# ---------------------------------------------------------------------------

ROUGE_CONTAM_MIN = 0.5  # LCS recall of the eval doc that flags a train doc


@register(
    "x113_rouge_decontamination",
    # LCS is a dynamic program — not SQL-expressible; planted paraphrase /
    # clean corpora pin the behavior in tests/test_properties.py.
    oracle=None,
    doc="X113: paraphrase-robust decontamination — x18's exact n-gram rule "
    "misses eval text that leaked with insertions or light edits (every "
    "shared n-gram is broken, the contamination is not). ROUGE-L "
    "catches it: per (train, eval) candidate pair, the token-level "
    "longest common subsequence as a fraction of the eval doc "
    f"(recall >= {ROUGE_CONTAM_MIN} flags). Candidates block on shared "
    f"{DECON_NGRAM}-grams (a paraphrase with edits every few tokens "
    "still shares short runs), so the quadratic LCS kernel runs on the "
    "gram-join survivors only — never all train x eval pairs; texts "
    "stay OUT of the gram shuffle and join back per side by id before "
    "one applyInPandas DP pass (O(|a|*|b|) per pair, token-int arrays). "
    "Same eval convention as x18 (doc_id % 97 == 0).",
)
def x113_rouge_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    base = spread(d, "doc_id").select("doc_id", toks.alias("ts"))
    grams = gram_hashes(base, F.col("ts"), DECON_NGRAM)
    ev = grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "gh"
    )
    tr = grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_id"), "gh"
    )
    pairs = (
        tr.join(F.broadcast(ev), "gh")  # eval side is 1/97th of the corpus
        .select("train_id", "eval_id")
        .distinct()
    )
    with_txt = (
        pairs.join(base.select(F.col("doc_id").alias("train_id"),
                               F.col("ts").alias("train_ts")), "train_id")
        .join(F.broadcast(base.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
                          .select(F.col("doc_id").alias("eval_id"),
                                  F.col("ts").alias("eval_ts"))), "eval_id")
    )

    def lcs_batch(batches):
        for pdf in batches:
            out = []
            for train_id, eval_id, a, b in zip(
                pdf["train_id"], pdf["eval_id"], pdf["train_ts"], pdf["eval_ts"]
            ):
                # int-encode tokens so the DP compares machine ints
                vocab = {}
                ai = np.array([vocab.setdefault(t, len(vocab)) for t in a])
                bi = np.array([vocab.setdefault(t, len(vocab)) for t in b])
                prev = np.zeros(len(bi) + 1, dtype=np.int32)
                for x in ai:
                    cur = prev.copy()
                    match = prev[:-1] + (bi == x)
                    for j in range(len(bi)):  # row-local; vectorizable via
                        cur[j + 1] = max(cur[j], prev[j + 1], match[j])  # Hirschberg at scale
                    prev = cur
                lcs = int(prev[-1])
                out.append((int(train_id), int(eval_id), lcs, len(bi)))
            if out:
                import pandas as pd  # noqa: PLC0415

                o = pd.DataFrame(
                    out, columns=["train_id", "eval_id", "lcs_tokens", "eval_tokens"]
                )
                yield o

    scored = with_txt.mapInPandas(
        lcs_batch,
        "train_id long, eval_id long, lcs_tokens long, eval_tokens long",
    )
    recall = F.round(
        F.col("lcs_tokens").cast("double") / F.col("eval_tokens"), 6
    )
    return scored.select(
        "train_id",
        "eval_id",
        "lcs_tokens",
        "eval_tokens",
        recall.alias("rouge_l_recall"),
        (recall >= ROUGE_CONTAM_MIN).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# X128 — reciprocal rank fusion (BM25 x quality-prior hybrid retrieval)
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF smoothing constant (Cormack et al. 2009)
RRF_TOP_K = 5


def _quality_rank_sql() -> str:
    return """
SELECT doc_id,
       row_number() OVER (
         ORDER BY length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  * 1000000 // length(text) DESC, doc_id) AS q_rank
FROM documents
"""


@register(
    "x128_rrf_hybrid_retrieval",
    oracle=lambda o: f"""
WITH bm AS ({o['x89_bm25_topk']}),
quality AS ({_quality_rank_sql()}),
fused AS (
  SELECT bm.query_id, bm.doc_id,
         bm.doc_rank AS bm25_rank, quality.q_rank,
         CAST(CAST(2*{RRF_K} + bm.doc_rank + quality.q_rank AS HUGEINT)
                * 1000000000000
              // (CAST({RRF_K} + bm.doc_rank AS HUGEINT)
                * CAST({RRF_K} + quality.q_rank AS HUGEINT))
              AS BIGINT)
             AS rrf_score_e12
  FROM bm JOIN quality USING (doc_id)
)
SELECT query_id, doc_id, bm25_rank, q_rank, rrf_score_e12,
       CAST(rn AS BIGINT) AS fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score_e12 DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= {RRF_TOP_K}
""",
    doc="X128: RECIPROCAL RANK FUSION — the standard hybrid-retrieval "
    "combiner (Cormack et al. 2009): fuse the x89 BM25 ranking with a "
    "corpus quality-prior ranking (x09's alphabetic-ratio score) via "
    f"RRF(d) = 1/({RRF_K}+r_bm25) + 1/({RRF_K}+r_quality), keeping the "
    f"top {RRF_TOP_K} per query — how production RAG stacks combine "
    "lexical, vector, and prior signals without score calibration "
    "(ranks are comparable when scores are not). Both input ranks are "
    "exact integers (BM25 ranks from x89's DECIMAL-summed scores, "
    "quality ranks tie-broken on doc_id), so the fused score is the "
    "same exact integer rational in both engines. Scale: the fusion "
    "operates on the RETRIEVED lists (queries x k rows), not the "
    "corpus; the quality prior is computed once per corpus via the "
    "count-gated global_rank (_util.py) — above 1M docs the s74 "
    "two-pass numbering assigns the EXACT global rank with no "
    "single-reducer window and no banding error.",
)
def x128_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = x89_bm25_topk(spark, sf_dir).select("query_id", "doc_id", "doc_rank")
    d = load_table(spark, sf_dir, "documents")
    # integer micro-unit quality key (round-7 risk burn-down): the
    # alphabetic ratio orders by (letters * 1e6) DIV chars — exact in
    # both engines, no float division or round in the sort key
    alpha = F.expr(
        "length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000"
        " DIV length(text)"
    )
    # round 8: the corpus-wide quality rank rides the count-gated
    # global_rank — the x106b-style banding the docstring used to promise
    # is superseded by an EXACT distributed numbering (s74 two-pass) once
    # the corpus passes 1M docs; below the gate the plain window wins.
    quality = global_rank(
        d.select("doc_id", alpha.alias("_alpha")),
        [F.col("_alpha").desc(), F.col("doc_id")],
        "q_rank",
    ).select("doc_id", F.col("q_rank").cast("int").alias("q_rank"))
    # 1/(K+a) + 1/(K+b) = (2K+a+b) / ((K+a)(K+b)) — the score ships as the
    # exact truncated pico-unit rational. The numerator is computed in
    # DECIMAL(38,0): q_rank is a GLOBAL row number, so on a multi-million-doc
    # corpus (2K+a+b)*1e12 passes 9.2e18 and a BIGINT numerator would wrap
    # silently under Spark's non-ANSI arithmetic. DuckDB does NOT auto-widen:
    # a BIGINT multiply overflow raises Out of Range, so the oracle casts its
    # numerator to HUGEINT explicitly to stay exact (and scale-symmetric with
    # this kernel) past ~9M docs. The QUOTIENT always fits BIGINT (max score
    # 2/(K+1) => < 4e10 pico-units), so the final cast is safe at any size.
    rrf = F.expr(
        f"CAST((CAST(2*{RRF_K} + doc_rank + q_rank AS DECIMAL(38,0))"
        f" * 1000000000000)"
        f" DIV (CAST({RRF_K} + doc_rank AS DECIMAL(38,0))"
        f" * CAST({RRF_K} + q_rank AS DECIMAL(38,0))) AS BIGINT)"
    )
    fused = bm.join(quality, "doc_id").select(
        "query_id",
        "doc_id",
        F.col("doc_rank").alias("bm25_rank"),
        "q_rank",
        rrf.alias("rrf_score_e12"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score_e12").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= RRF_TOP_K)
    )


# ---------------------------------------------------------------------------
# X131 — readability scoring (Flesch reading ease, vowel-group syllables)
# ---------------------------------------------------------------------------


@register(
    "x131_readability_score",
    oracle=f"""
WITH counts AS (
  SELECT doc_id,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
             AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
           AS flesch_score,
       CASE WHEN CAST(round((206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                       * 1000000) AS BIGINT) >= 60000000
            THEN 'easy' ELSE 'hard' END AS readability_band
FROM counts WHERE n_words > 0
""",
    doc="X131: READABILITY scoring — Flesch reading ease per document "
    "(206.835 − 1.015·words/sentences − 84.6·syllables/words), with "
    "syllables approximated as vowel-group runs ([aeiouy]+, the "
    "standard cheap proxy) and sentences as punctuation runs floored "
    "at 1 — a classic text-quality feature used to stratify training "
    "corpora by difficulty (and a curriculum signal next to x76). All "
    "three counts are exact integers from the same regexp semantics "
    "in both engines; the score is one shared double expression, 6dp, "
    "and the easy/hard band compares the ROUNDED score. Scale: pure "
    "scan-side regexp projection, zero shuffles — the cheapest "
    "feature shape.",
)
def x131_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_words = F.size(tokens()).cast("bigint")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("bigint")
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")),
        6,
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        score.alias("flesch_score"),
        # band threshold in exact micro-units (round-7 risk burn-down)
        F.when(
            F.expr(
                "CAST(round((206.835"
                " - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)"
                " - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))"
                " * 1000000) AS BIGINT)"
            )
            >= 60000000,
            "easy",
        )
        .otherwise("hard")
        .alias("readability_band"),
    )


# ---------------------------------------------------------------------------
# X135 — MATTR lexical diversity (moving-average type-token ratio)
# ---------------------------------------------------------------------------

MATTR_WIN = 25  # moving-window width in tokens


@register(
    "x135_mattr_lexical_diversity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKENS} AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, i, ts[i] AS term,
         CAST((i - 1) // {MATTR_WIN} AS BIGINT) AS win_id
  FROM tok, unnest(generate_series(1, len(ts))) AS u(i)
),
win AS (
  SELECT doc_id, win_id,
         CAST(count(*) AS BIGINT) AS win_tokens,
         CAST(count(DISTINCT term) AS BIGINT) AS win_types
  FROM pos GROUP BY doc_id, win_id
),
full_win AS (SELECT * FROM win WHERE win_tokens = {MATTR_WIN})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       round(CAST(SUM(CAST(round(CAST(win_types AS DOUBLE) / {MATTR_WIN}, 6)
                           AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
           AS mattr,
       round(CAST(MIN(win_types) AS DOUBLE) / {MATTR_WIN}, 6) AS min_window_ttr
FROM full_win
GROUP BY doc_id
""",
    doc="X135: MATTR lexical diversity (Covington & McFall 2010) — the "
    "moving-average type-token ratio: distinct-token share of every "
    f"full {MATTR_WIN}-token window, averaged per document. Raw TTR "
    "collapses with document length (types grow sublinearly — x97's "
    "Heaps law), so cross-length comparisons need the windowed form; "
    "the min-window TTR localizes the most repetitive stretch (the "
    "x111 coordinates idea for diversity). Windows are the x111 "
    "positional convention (integer floor-div on 1-based positions); "
    "partial tail windows are EXCLUDED by an integer count predicate "
    "(their inflated variance is the known MATTR artifact); per-window "
    "TTRs are 6dp-rounded then DECIMAL-averaged so the doc score is "
    "order-exact. Scale: one posexplode scan, one (doc_id, win_id) "
    "distinct-count shuffle, one doc_id aggregate — all on the "
    "token stream's natural keys.",
)
def x135_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    pos = spread(d, "doc_id").select(
        "doc_id", F.posexplode(toks).alias("pos0", "term")
    ).withColumn("win_id", F.floor(F.col("pos0") / MATTR_WIN).cast("bigint"))
    win = pos.groupBy("doc_id", "win_id").agg(
        F.count(F.lit(1)).alias("win_tokens"),
        F.count_distinct("term").alias("win_types"),
    )
    full_win = win.filter(F.col("win_tokens") == MATTR_WIN)
    ttr = F.round(F.col("win_types").cast("double") / MATTR_WIN, 6)
    return full_win.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.round(
            F.sum(ttr.cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mattr"),
        F.round(F.min("win_types").cast("double") / MATTR_WIN, 6).alias(
            "min_window_ttr"
        ),
    )


# ---------------------------------------------------------------------------
# X147 — DSIR importance weights (Xie et al. 2023, public)
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"  # the in-domain slice the weights steer toward


@register(
    "x147_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, t.term
  FROM (SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS term FROM documents) t
  WHERE t.term <> ''
),
tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
vocab AS (
  SELECT term,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(COUNT(*) AS BIGINT) AS cr
  FROM tok GROUP BY term
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
lr AS (
  SELECT term,
         ln((ct + 1.0) * (nr + v) / ((cr + 1.0) * (nt + v))) AS term_lr
  FROM vocab CROSS JOIN tot
)
SELECT tc.doc_id,
       CAST(SUM(tc.c) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(tc.c * lr.term_lr AS DECIMAL(28,18)))
                  AS DOUBLE), 6) AS log_weight,
       CASE WHEN round(CAST(SUM(CAST(tc.c * lr.term_lr AS DECIMAL(28,18)))
                            AS DOUBLE), 6) > 0
            THEN 'select' ELSE 'skip' END AS dsir_gate
FROM tc JOIN lr USING (term)
GROUP BY tc.doc_id
""",
    doc="X147: DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling', public) — the "
    "data-selection workhorse x20's absolute LM score cannot express: "
    "per document, the log importance ratio between a TARGET unigram "
    "distribution (the in-domain slice, here lang='en') and the raw "
    "corpus distribution, log w = sum c_t * ln(p_target(t)/p_raw(t)) "
    "with +1 Laplace smoothing over the shared vocabulary — positive "
    "weight means the doc looks more like the target than the corpus "
    "and survives resampling (the paper hashes n-gram features; the "
    "unigram form is the same algebra and the hashing is a stated "
    "knob). Determinism: counts and totals are exact integers, the "
    "per-term log-ratio is ONE double expression from identical "
    "integers, per-doc sums go through DECIMAL(28,18) (the x44 "
    "idiom), the gate compares the 6dp-ROUNDED weight. Plan: one "
    "tokenize feeds both the (doc, term) counts and the vocab's "
    "conditional target/raw counts (single pass, no second scan); "
    "scalars ride a 3-number closure; the vocab log-ratio table "
    "broadcasts back onto doc-term counts; shuffles are doc- and "
    "vocab-bounded.",
)
def x147_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        spread(d, "doc_id")
        .select("doc_id", "lang", F.explode(raw_tokens()).alias("term"))
        .filter(F.col("term") != "")
    )
    # Round-10 optimization: tokenize ONCE. tc and vocab both consumed the
    # raw token stream, so the scan + explode ran twice; collapsing first
    # to the (doc, lang, term) frequency table (one pass, checkpointed —
    # the x89/x45 idiom) lets both derive from it: tc is a projection and
    # vocab a re-aggregation (sum of per-doc counts = occurrence counts,
    # exactly the integers the per-token pass produced).
    tf3 = tok.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("c"))
    tf3 = materialize(tf3, "reused")
    tc = tf3.select("doc_id", "term", "c")
    vocab = (
        tf3.groupBy("term")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0)
            ).alias("ct"),
            F.sum("c").alias("cr"),
        )
        .transform(materialize, "reused")  # the scalar agg AND the join
    )
    nt, nr, v = vocab.agg(
        F.sum("ct"), F.sum("cr"), F.count(F.lit(1))
    ).first()
    if nt is None:  # empty corpus: no vocabulary, no LM -> empty, typed
        return local_rows(
            spark,
            [], "doc_id bigint, n_tokens bigint, log_weight double, "
            "dsir_gate string"
        )
    lr = vocab.select(
        "term",
        F.log(
            (F.col("ct") + 1.0)
            * float(nr + v)
            / ((F.col("cr") + 1.0) * float(nt + v))
        ).alias("term_lr"),
    )
    dec = "decimal(28,18)"
    weight = F.round(
        F.sum((F.col("c") * F.col("term_lr")).cast(dec)).cast("double"), 6
    )
    return (
        tc.join(F.broadcast(lr), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            weight.alias("log_weight"),
            F.when(weight > 0, "select").otherwise("skip").alias("dsir_gate"),
        )
    )


DSIR_BUCKETS = 8192  # hashed-feature space (the paper's 10k, power-of-2)


@register(
    "x148_dsir_hashed_features",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         {SQL_TOKENS}
           AS t
  FROM documents
),
bi AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
feat AS (
  SELECT b,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct,
         CAST(COUNT(*) AS BIGINT) AS cr
  FROM bi GROUP BY b
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         CAST(SUM(cr) AS BIGINT) AS nr
  FROM feat
),
lr AS (
  SELECT b,
         ln((ct + 1.0) * (nr + {DSIR_BUCKETS})
            / ((cr + 1.0) * (nt + {DSIR_BUCKETS}))) AS f_lr
  FROM feat CROSS JOIN tot
)
SELECT bc.doc_id,
       CAST(SUM(bc.c) AS BIGINT) AS n_features,
       round(CAST(SUM(CAST(bc.c * lr.f_lr AS DECIMAL(28,18)))
                  AS DOUBLE), 6) AS log_weight,
       CASE WHEN round(CAST(SUM(CAST(bc.c * lr.f_lr AS DECIMAL(28,18)))
                            AS DOUBLE), 6) > 0
            THEN 'select' ELSE 'skip' END AS dsir_gate
FROM bc JOIN lr USING (b)
GROUP BY bc.doc_id
""",
    doc="X148: DSIR with HASHED N-GRAM FEATURES — x147's stated scale "
    "knob made executable (the x73b/x106b/x139b pattern): Xie et al. "
    "2023's actual feature space is hashed n-grams into a FIXED bucket "
    "count, which caps the feature table at {8192} rows however large "
    "the web-scale vocabulary grows (raw unigram vocab grows with the "
    "corpus by Heaps' law; the hash space does not). Bigrams hash "
    "through md5 — the one hash both engines define identically (the "
    "x07 idiom: first 8 hex chars as a BIGINT, mod buckets) — so the "
    "bucketed distribution estimate is hash-verified, not rows-only. "
    "Same exact-integer counts, one-double-expression log-ratio, "
    "DECIMAL(28,18) per-doc sums, and 6dp-rounded gate as x147. "
    "Plan: one tokenize, bigram fan-out feeds both the (doc, bucket) "
    "counts and the bucket's conditional counts; the log-ratio table "
    "is buckets-sized and broadcasts; shuffles doc- and "
    "buckets-bounded at any corpus size.",
)
def x148_dsir_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id",
        "lang",
        tokens().alias("t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flat = toks.filter(F.size("t") >= 2).select(
        "doc_id", "lang", F.posexplode("t").alias("pos", "tok")
    )
    nxt = F.lead("tok").over(w)
    bi = (
        flat.select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.col("tok"), nxt)), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % DSIR_BUCKETS
            ).alias("b"),
            nxt.alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .drop("nxt")
    )
    # Round-10 optimization: bc and feat both consumed the raw bigram
    # stream, so tokenize + posexplode + the lead() window ran TWICE; one
    # (doc, lang, bucket) count pass (checkpointed, the x147/x89 idiom)
    # feeds both — bc is a projection, feat the bucket re-aggregation of
    # the same integer counts.
    bc3 = bi.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c"))
    bc3 = materialize(bc3, "reused")
    bc = bc3.select("doc_id", "b", "c")
    feat = (
        bc3.groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0)
            ).alias("ct"),
            F.sum("c").alias("cr"),
        )
        .transform(materialize, "reused")  # the scalar agg AND the join
    )
    nt, nr = feat.agg(F.sum("ct"), F.sum("cr")).first()
    if nt is None:  # empty corpus -> empty hashed-feature scoring, typed
        return local_rows(
            spark,
            [], "doc_id bigint, n_features bigint, log_weight double, "
            "dsir_gate string"
        )
    lr = feat.select(
        "b",
        F.log(
            (F.col("ct") + 1.0)
            * float(nr + DSIR_BUCKETS)
            / ((F.col("cr") + 1.0) * float(nt + DSIR_BUCKETS))
        ).alias("f_lr"),
    )
    dec = "decimal(28,18)"
    weight = F.round(
        F.sum((F.col("c") * F.col("f_lr")).cast(dec)).cast("double"), 6
    )
    return (
        bc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_features"),
            weight.alias("log_weight"),
            F.when(weight > 0, "select").otherwise("skip").alias("dsir_gate"),
        )
    )


# ---------------------------------------------------------------------------
# X149 — score/length confound audit (per-lang Pearson r, DECIMAL-exact)
# ---------------------------------------------------------------------------


@register(
    "x149_score_length_confound",
    oracle=lambda o: f"""
WITH score AS ({o['x20_unigram_logprob']}),
j AS (
  SELECT d.lang, CAST(length(d.text) AS BIGINT) AS x,
         CAST(score.avg_logprob AS DECIMAL(18,6)) AS y
  FROM documents d JOIN score ON d.doc_id = score.doc_id
),
agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,6)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,6)) AS sy,
         CAST(SUM(x * y) AS DECIMAL(38,6)) AS sxy,
         CAST(SUM(x * x) AS DECIMAL(38,6)) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
  FROM j GROUP BY lang
)
SELECT lang, n,
       round(CAST(sx AS DOUBLE) / n, 6) AS mean_len,
       round(CAST(sy AS DOUBLE) / n, 6) AS mean_score,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
            THEN 0.0
            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS pearson_r
FROM agg
""",
    doc="X149: SCORE-LENGTH CONFOUND AUDIT — 'is my quality score just "
    "measuring length?': per language, the Pearson correlation between "
    "document length (chars) and x20's unigram-LM score, plus the "
    "group size and both means. |r| near 1 means thresholding the "
    "score silently becomes a length filter (x114's confound question "
    "for a CONTINUOUS feature). Determinism: x = length is an exact "
    "integer, y = the score is already 6dp-rounded identically in "
    "both engines and enters as DECIMAL(18,6), so x*y, y*y are EXACT "
    "decimal products and all five moment sums are exact DECIMAL "
    "aggregates — r is ONE double expression over identical exact "
    "inputs, 6dp-rounded; the zero-variance degenerate (all-equal x "
    "or y) defines r=0 via an exact-decimal equality, not a float "
    "compare. Oracle composed from x20's registered oracle "
    "(composed in register). Scale: one doc-grain join on doc_id, then a "
    "languages-sized moment aggregate — the audit is one pass.",
)
def x149_score_length_confound(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("x")
    )
    score = x20_unigram_logprob(spark, sf_dir).select(
        "doc_id", F.col("avg_logprob").cast("decimal(18,6)").alias("y")
    )
    j = d.join(score, "doc_id")
    agg = j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,6)").alias("sx"),
        F.sum("y").cast("decimal(38,6)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,6)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,6)").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).alias("syy"),
    )
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "lang",
        "n",
        F.round(F.col("sx").cast("double") / n, 6).alias("mean_len"),
        F.round(F.col("sy").cast("double") / n, 6).alias("mean_score"),
        # degenerate: zero variance on either side -> r defined as 0,
        # decided on the EXACT decimal variance, never a float compare
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(
            F.round(
                cov.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            )
        )
        .alias("pearson_r"),
    )


@register(
    "x150_dsir_hash_fidelity",
    oracle=lambda o: f"""
WITH exact_w AS ({o['x147_dsir_importance']}),
hashed_w AS ({o['x148_dsir_hashed_features']}),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN e.dsir_gate = 'select' AND h.dsir_gate = 'select'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sel_sel,
    CAST(SUM(CASE WHEN e.dsir_gate = 'select' AND h.dsir_gate = 'skip'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sel_skip,
    CAST(SUM(CASE WHEN e.dsir_gate = 'skip' AND h.dsir_gate = 'select'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_skip_sel,
    CAST(SUM(CASE WHEN e.dsir_gate = 'skip' AND h.dsir_gate = 'skip'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_skip_skip
  FROM exact_w e JOIN hashed_w h USING (doc_id)
)
SELECT n_sel_sel, n_sel_skip, n_skip_sel, n_skip_skip,
       CAST((n_sel_sel + n_skip_skip) * 1000000
            // (n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
            AS BIGINT) AS agree_rate_e6,
       CASE WHEN (n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
                 * (n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
                 - ((n_sel_sel + n_sel_skip) * (n_sel_sel + n_skip_sel)
                    + (n_skip_sel + n_skip_skip) * (n_sel_skip + n_skip_skip))
                 = 0
            THEN 1.0
            ELSE round(
              CAST((n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
                   * (n_sel_sel + n_skip_skip)
                   - ((n_sel_sel + n_sel_skip) * (n_sel_sel + n_skip_sel)
                      + (n_skip_sel + n_skip_skip) * (n_sel_skip + n_skip_skip))
                   AS DOUBLE)
              / CAST((n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
                     * (n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip)
                     - ((n_sel_sel + n_sel_skip) * (n_sel_sel + n_skip_sel)
                        + (n_skip_sel + n_skip_skip) * (n_sel_skip + n_skip_skip))
                     AS DOUBLE), 6)
       END AS kappa
FROM conf
""",
    doc="X150: DSIR HASH-FIDELITY AUDIT — how faithful is x148's "
    "fixed-bucket approximation to x147's exact-vocabulary weights? "
    "The 2x2 select/skip confusion between the two gates plus Cohen's "
    "kappa and the scaled-integer agreement rate — the sketch-vs-exact "
    "evaluation every approximation in this engine ships with (x115 "
    "for LSH, x106b for banded buckets, now the DSIR bucket knob). "
    "Low kappa says the bucket count is too small for the vocabulary; "
    "the fix is raising DSIR_BUCKETS, not trusting the sketch. Kappa "
    "is x145's exact-integer algebra (one 6dp division, pe=1 by "
    "integer equality); both gate columns compose textually from the "
    "registered oracles so all three operators stay "
    "in lockstep. Scale: two doc-grain gate tables join on doc_id "
    "into ONE all-to-one aggregate — a single corpus pass.",
)
def x150_dsir_hash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = x147_dsir_importance(spark, sf_dir).select(
        "doc_id", (F.col("dsir_gate") == "select").cast("int").alias("ge")
    )
    hashed = x148_dsir_hashed_features(spark, sf_dir).select(
        "doc_id", (F.col("dsir_gate") == "select").cast("int").alias("gh")
    )
    conf = exact.join(hashed, "doc_id").agg(
        F.sum(((F.col("ge") == 1) & (F.col("gh") == 1)).cast("bigint")).alias(
            "n_sel_sel"
        ),
        F.sum(((F.col("ge") == 1) & (F.col("gh") == 0)).cast("bigint")).alias(
            "n_sel_skip"
        ),
        F.sum(((F.col("ge") == 0) & (F.col("gh") == 1)).cast("bigint")).alias(
            "n_skip_sel"
        ),
        F.sum(((F.col("ge") == 0) & (F.col("gh") == 0)).cast("bigint")).alias(
            "n_skip_skip"
        ),
    )
    a, b = F.col("n_sel_sel"), F.col("n_sel_skip")
    c, dd = F.col("n_skip_sel"), F.col("n_skip_skip")
    n = a + b + c + dd
    pe_num = (a + b) * (a + c) + (c + dd) * (b + dd)
    num = n * (a + dd) - pe_num
    den = n * n - pe_num
    return conf.select(
        "n_sel_sel",
        "n_sel_skip",
        "n_skip_sel",
        "n_skip_skip",
        F.expr(
            "CAST((n_sel_sel + n_skip_skip) * 1000000 DIV "
            "(n_sel_sel + n_sel_skip + n_skip_sel + n_skip_skip) AS BIGINT)"
        ).alias("agree_rate_e6"),
        F.when(den == 0, F.lit(1.0))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("kappa"),
    )


@register(
    "x151_dsir_mixture_shift",
    oracle=lambda o: f"""
WITH w AS ({o['x147_dsir_importance']}),
per_lang AS (
  SELECT d.lang,
         CAST(count(*) AS BIGINT) AS docs_in,
         CAST(SUM(CASE WHEN w.dsir_gate = 'select' THEN 1 ELSE 0 END)
              AS BIGINT) AS docs_selected
  FROM documents d JOIN w ON d.doc_id = w.doc_id
  GROUP BY d.lang
)
SELECT lang, docs_in, docs_selected,
       CAST(docs_selected * 1000000 // docs_in AS BIGINT) AS keep_rate_e6,
       CAST(docs_in * 1000000 // SUM(docs_in) OVER () AS BIGINT)
         AS share_before_e6,
       CASE WHEN SUM(docs_selected) OVER () = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(docs_selected * 1000000 // SUM(docs_selected) OVER ()
                      AS BIGINT) END
         AS share_after_e6,
       CASE WHEN SUM(docs_selected) OVER () = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(docs_selected * 1000000 // SUM(docs_selected) OVER ()
                      AS BIGINT) END
         - CAST(docs_in * 1000000 // SUM(docs_in) OVER () AS BIGINT)
         AS share_delta_e6
FROM per_lang
""",
    doc="X151: DSIR SELECTION MIXTURE SHIFT — x138 asks what DEDUP does "
    "to the language mixture; this asks the same of DSIR SELECTION, "
    "which is deliberately non-uniform (x147 steers toward a target "
    "lang), so the recipe planner must budget on POST-selection mass: "
    "per language, docs in, docs selected, the scaled-integer keep "
    "rate, and the mixture share before vs after selection with its "
    "delta (shares as micro-unit integers via the exact global "
    "counts, never a float quotient). The gate column composes "
    "textually from x147's registered oracle (composed in register). Scale: "
    "x147's doc-grain gate aggregates straight to a languages-sized "
    "table; the global totals ride a window over that tiny table.",
)
def x151_dsir_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    g = x147_dsir_importance(spark, sf_dir).select(
        "doc_id", (F.col("dsir_gate") == "select").cast("int").alias("sel")
    )
    per_lang = (
        d.join(g, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_in"),
            F.sum("sel").cast("bigint").alias("docs_selected"),
        )
    )
    w = Window.partitionBy()
    # integer DIV against windowed totals — a double `/` then cast would
    # truncate a value the float rounding may have already pushed across
    # an integer boundary; DIV is exact like the oracle's //
    with_tot = per_lang.select(
        "lang",
        "docs_in",
        "docs_selected",
        F.sum("docs_in").over(w).alias("tot_in"),
        F.sum("docs_selected").over(w).alias("tot_sel"),
    )
    return with_tot.select(
        "lang",
        "docs_in",
        "docs_selected",
        F.expr("CAST(docs_selected * 1000000 DIV docs_in AS BIGINT)").alias(
            "keep_rate_e6"
        ),
        F.expr("CAST(docs_in * 1000000 DIV tot_in AS BIGINT)").alias(
            "share_before_e6"
        ),
        # tot_sel = 0 (nothing passed the gate, a valid degenerate corpus)
        # must be guarded in BOTH engines: Spark DIV returns NULL but
        # DuckDB's // raises division-by-zero — the x145/x150 kappa
        # convention. Zero selection => zero post-selection share.
        F.expr(
            "CASE WHEN tot_sel = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(docs_selected * 1000000 DIV tot_sel AS BIGINT) END"
        ).alias("share_after_e6"),
        F.expr(
            "CASE WHEN tot_sel = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(docs_selected * 1000000 DIV tot_sel AS BIGINT) END"
            " - CAST(docs_in * 1000000 DIV tot_in AS BIGINT)"
        ).alias("share_delta_e6"),
    )


# ---------------------------------------------------------------------------
# X152 — hashed-NB fidelity audit (x45 vs x45b confusion + kappa)
# ---------------------------------------------------------------------------


@register(
    "x152_nb_hash_fidelity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({SQL_RAW_TOKENS}) AS raw FROM documents
),
te AS (SELECT doc_id, lang, raw AS term FROM tok WHERE raw <> ''),
th AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(raw), 1, 8)) AS BIGINT) % {NBH_BUCKETS}
           AS term
  FROM tok WHERE raw <> ''
),
ce AS (SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS docs_c
       FROM te GROUP BY lang),
de AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM te),
cte AS (SELECT lang AS c, term, COUNT(*) AS c_tc FROM te GROUP BY lang, term),
tote AS (SELECT c, CAST(SUM(c_tc) AS DOUBLE) AS n_c FROM cte GROUP BY c),
ve AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs FROM te),
ge AS (
  SELECT vt.term, cl.c,
         CAST(ln((COALESCE(ct.c_tc, 0) + {NB_ALPHA})
                 / (tote.n_c + {NB_ALPHA} * ve.vs)) AS DECIMAL(28,18)) AS lp
  FROM (SELECT DISTINCT term FROM te) vt
  CROSS JOIN ce cl JOIN tote ON tote.c = cl.c CROSS JOIN ve
  LEFT JOIN cte ct ON ct.term = vt.term AND ct.c = cl.c
),
se AS (SELECT t.doc_id, g.c, SUM(g.lp) AS sum_lp
       FROM te t JOIN ge g ON g.term = t.term GROUP BY t.doc_id, g.c),
sce AS (
  SELECT s.doc_id, s.c,
         s.sum_lp + CAST(ln(cl.docs_c / de.n_docs) AS DECIMAL(28,18)) AS score
  FROM se s JOIN ce cl ON cl.c = s.c CROSS JOIN de
),
pe AS (
  SELECT doc_id, c AS pred_exact_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
  FROM sce
),
ch AS (SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS docs_c
       FROM th GROUP BY lang),
dh AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM th),
cth AS (SELECT lang AS c, term, COUNT(*) AS c_tc FROM th GROUP BY lang, term),
toth AS (SELECT c, CAST(SUM(c_tc) AS DOUBLE) AS n_c FROM cth GROUP BY c),
gh AS (
  SELECT vt.term, cl.c,
         CAST(ln((COALESCE(ct.c_tc, 0) + {NB_ALPHA})
                 / (toth.n_c + {NB_ALPHA} * {NBH_BUCKETS}))
              AS DECIMAL(28,18)) AS lp
  FROM (SELECT DISTINCT term FROM th) vt
  CROSS JOIN ch cl JOIN toth ON toth.c = cl.c
  LEFT JOIN cth ct ON ct.term = vt.term AND ct.c = cl.c
),
sh AS (SELECT t.doc_id, g.c, SUM(g.lp) AS sum_lp
       FROM th t JOIN gh g ON g.term = t.term GROUP BY t.doc_id, g.c),
sch AS (
  SELECT s.doc_id, s.c,
         s.sum_lp + CAST(ln(cl.docs_c / dh.n_docs) AS DECIMAL(28,18)) AS score
  FROM sh s JOIN ch cl ON cl.c = s.c CROSS JOIN dh
),
ph AS (
  SELECT doc_id, c AS pred_hashed_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
  FROM sch
),
j AS (
  SELECT e.doc_id, e.pred_exact_lang, h.pred_hashed_lang
  FROM pe e JOIN ph h USING (doc_id)
  WHERE e.rn = 1 AND h.rn = 1
),
cells AS (
  SELECT pred_exact_lang, pred_hashed_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM j GROUP BY pred_exact_lang, pred_hashed_lang
),
me AS (SELECT pred_exact_lang AS c, CAST(SUM(n_docs) AS BIGINT) AS ne
       FROM cells GROUP BY pred_exact_lang),
mh AS (SELECT pred_hashed_lang AS c, CAST(SUM(n_docs) AS BIGINT) AS nh
       FROM cells GROUP BY pred_hashed_lang),
s2 AS (SELECT CAST(COALESCE(SUM(me.ne * mh.nh), 0) AS BIGINT) AS s2
       FROM me JOIN mh USING (c)),
tots AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pred_exact_lang = pred_hashed_lang
                       THEN n_docs ELSE 0 END) AS BIGINT) AS agree
  FROM cells
)
SELECT c.pred_exact_lang, c.pred_hashed_lang, c.n_docs,
       CAST(t.agree * 1000000 // t.n AS BIGINT) AS agree_rate_e6,
       CASE WHEN t.n * t.n - s2.s2 = 0 THEN 1.0
            ELSE round(CAST(t.agree * t.n - s2.s2 AS DOUBLE)
                       / CAST(t.n * t.n - s2.s2 AS DOUBLE), 6)
       END AS kappa
FROM cells c CROSS JOIN tots t CROSS JOIN s2
""",
    doc="X152: HASHED-NB FIDELITY AUDIT — the x150 move applied to the "
    "x45/x45b pair: what does capping the feature space at {8192} md5 "
    "buckets cost in PREDICTION fidelity? Joins the two models' per-doc "
    "argmaxes (the shared _nb_predictions core guarantees both are "
    "engine-deterministic), emits the full exact-vs-hashed confusion "
    "matrix plus the global agreement rate (scaled-integer micro-units "
    "via integer DIV) and Cohen's kappa over the C x C table (chance "
    "agreement from the marginals; the pe = 1 degenerate — both models "
    "constant — returns kappa 1.0 by an INTEGER-exact guard, the "
    "x145/x150 convention). Every count is integer-exact and the kappa "
    "numerator/denominator are integer-valued before the one final "
    "division, so the audit is hash-verified. Scale: both prediction "
    "pipelines are x45/x45b's (bounded broadcasts); the fidelity "
    "algebra runs on a classes^2-sized table.",
)
def x152_nb_hash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenize ONCE: the hashed frequency table is a pure re-aggregation
    # of the exact one (bucket = md5(term), tf sums are associative), so
    # deriving it from the checkpointed exact table saves the second
    # corpus tokenize+explode that two independent _nb_doc_features
    # calls would pay. (Standalone x45b keeps the direct scan-side
    # bucketing — there the 8192-bounded shuffle without the V-sized
    # intermediate is the better plan; here the exact table exists
    # anyway because the exact model needs it.)
    dt_exact = _nb_doc_features(spark, sf_dir, hashed=False)
    dt_hashed = (
        dt_exact.select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % NBH_BUCKETS
            ).alias("term"),
            "tf",
        )
        .groupBy("doc_id", "lang", "term")
        .agg(F.sum("tf").alias("tf"))
        .transform(materialize, "reused")  # _nb_predictions reads it 5 times
    )
    e = _nb_predictions(dt_exact).select(
        "doc_id", F.col("c").alias("pred_exact_lang")
    )
    h = _nb_predictions(dt_hashed, vocab_size=NBH_BUCKETS).select(
        "doc_id", F.col("c").alias("pred_hashed_lang")
    )
    cells = (
        e.join(h, "doc_id")
        .groupBy("pred_exact_lang", "pred_hashed_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        # four consumers (marginals x2, totals, output) — without this each
        # would re-run BOTH NB pipelines
        .transform(materialize, "reused")
    )
    me = cells.groupBy(F.col("pred_exact_lang").alias("c")).agg(
        F.sum("n_docs").cast("bigint").alias("ne")
    )
    mh = cells.groupBy(F.col("pred_hashed_lang").alias("c")).agg(
        F.sum("n_docs").cast("bigint").alias("nh")
    )
    s2 = me.join(mh, "c").agg(
        F.coalesce(F.sum(F.col("ne") * F.col("nh")), F.lit(0))
        .cast("bigint")
        .alias("s2")
    )
    tots = cells.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("pred_exact_lang") == F.col("pred_hashed_lang"),
                F.col("n_docs"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("agree"),
    )
    scal = tots.crossJoin(s2).select(
        F.expr("CAST(agree * 1000000 DIV n AS BIGINT)").alias("agree_rate_e6"),
        F.when(F.col("n") * F.col("n") - F.col("s2") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                (F.col("agree") * F.col("n") - F.col("s2")).cast("double")
                / (F.col("n") * F.col("n") - F.col("s2")).cast("double"),
                6,
            )
        )
        .alias("kappa"),
    )
    return cells.crossJoin(F.broadcast(scal))
