"""Similarity search over embedding vectors (X3) — brute-force cosine top-k
as the exact baseline, plus an LSH-bucketed approximate variant as the
scale path.

Scale design:
- Brute force is O(queries x corpus): correct, and fine when the query set
  is small (broadcast the queries, stream the corpus — no shuffle of the
  big side). That is exactly how it is built here: the filtered query set
  is broadcast, the corpus scan stays partition-local, and only the
  per-query top-k heap shuffles (windowed row_number on query_id).
- The ANN variants: multi-table cosine LSH (x03b — deterministic seeded
  hyperplanes, candidates union-ed across tables, recall amplified as
  1-(1-p)^L) and centroid-routed IVF with nprobe=3 (x03d). Recall against
  the exact baseline is pinned by tests/test_ann_recall.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.operators import _util
from presto_weather_spark.operators._util import fits_driver, materialize, spread
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table, local_rows, table_stamp

TOP_K = 5
N_QUERIES = 8  # vec_id < 8 are the query vectors in the judged queries


def _dbl(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns — zip_with dot product
    over aggregate norms; pure Catalyst higher-order functions."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


_SQL_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), p -> "
    "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)
_SQL_NORM = (
    "sqrt(list_aggregate(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


# Per-partition kNN candidates, ranked by _nn_ranked.
_NN_SCHEMA = "query_id bigint, neighbor_id bigint, neighbor_label int, cosine_sim double"
# What _nn_ranked returns.
_NN_RANKED_SCHEMA = _NN_SCHEMA + ", nn_rank int"


def _nn_ranked(cands: DataFrame) -> DataFrame:
    """The TOP_K best ``cands`` per query by (cosine_sim DESC, neighbor_id),
    numbered nn_rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "nn_rank")
    )


def _labelled_vectors(emb: DataFrame) -> DataFrame:
    """(neighbor_id, neighbor_label, cv): the corpus side of a kNN scan."""
    return emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("cv"),
    )


@register(
    "x03_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding, label FROM embeddings),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_SQL_DOT.format(a='q.qv', b='c.embedding')} /
         ({_SQL_NORM.format(v='q.qv')} * {_SQL_NORM.format(v='c.embedding')}) AS sim
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label,
         round(sim, 6) AS cosine_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY round(sim, 6) DESC, neighbor_id) AS rn
  FROM sims
)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rn AS nn_rank
FROM ranked WHERE rn <= {TOP_K}
""",
    doc="X3: exact brute-force cosine top-k neighbors for a small query "
    "set. The query matrix ships in the UDF closure (the broadcast "
    "pattern — it is queries x 64 doubles); the corpus scan stays "
    "partition-local and each Arrow batch is scored with ONE BLAS "
    "matmul (batch x 64) @ (64 x queries) instead of interpreted "
    "zip_with/aggregate lambdas (~10x). Each partition emits only its "
    "top-k per query (exact: top-k of a union = top-k of per-partition "
    "top-ks under the same total order), so the final window shuffle "
    "carries partitions x queries x k rows, not corpus x queries.",
)
def x03_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # query set is small by definition; rides the closure
    )
    if not qrows:  # empty corpus/slice: no queries -> empty result, typed
        return local_rows(spark, [], _NN_RANKED_SCHEMA)
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in qrows]
    )
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            sims = (mat @ qmat.T) / (
                np.sqrt((mat * mat).sum(axis=1))[:, None] * qnorm[None, :]
            )
            sims = np.round(sims, 6)
            n = len(pdf)
            cand = pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "neighbor_id": np.repeat(pdf["neighbor_id"].to_numpy(), len(qids)),
                    "neighbor_label": np.repeat(
                        pdf["neighbor_label"].to_numpy(), len(qids)
                    ),
                    "cosine_sim": sims.ravel(),
                }
            )
            cand = cand[cand["query_id"] != cand["neighbor_id"]]
            best = cand if best is None else pd.concat([best, cand])
            best = (
                best.sort_values(
                    ["query_id", "cosine_sim", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(TOP_K)
            )
        if best is not None and len(best):
            yield best

    cands = _labelled_vectors(emb).mapInPandas(
        score,
        _NN_SCHEMA,
    )
    return _nn_ranked(cands)


# In-engine ANN fidelity gate (the x02g pattern, round-9 verdict task #1):
# recall floors that lived only in tests/test_ann_recall.py now raise INSIDE
# the judged keys, so a banding/routing regression reaches the driver as a
# loud failure instead of a silently different rows-only count. Floor 1/4
# mirrors the pytest pin (measured ~0.35-0.45 on these near-orthogonal
# fixtures — the hard case for locality hashing). Enforced only when the
# exact set carries >= MIN_SUPPORT pairs: on degenerate corpora (n <= 2 at
# shard boundaries) a couple of exact pairs make recall a coin flip on
# bucket collision, not a banding-quality signal — the sweep in
# tests/test_empty_corpus.py pins that those sizes still return.
X03_ANN_RECALL_NUM, X03_ANN_RECALL_DEN = 1, 4
X03_ANN_GATE_MIN_SUPPORT = 20


# Session-scoped memo of the exact audit pair set, keyed by the embeddings
# table's path and ``session.table_stamp`` (per-part-file name, size and
# mtime_ns): the three gated ANN keys share one exact-x03 pass per dataset
# version instead of re-scanning the corpus per invocation — exactly what a
# production deploy gate does with its audit artifact. A rewritten table
# (new parts/mtimes) misses the memo and recomputes; an unreadable path
# skips memoization.
_X03_EXACT_MEMO: dict = {}


def _embeddings_fingerprint(sf_dir: str):
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    stamp = table_stamp(p)
    return None if stamp is None else (os.path.abspath(p), stamp)


def _exact_topk_pairs(spark: SparkSession, sf_dir: str) -> set:
    fp = _embeddings_fingerprint(sf_dir)
    if fp is not None and fp in _X03_EXACT_MEMO:
        return _X03_EXACT_MEMO[fp]
    pairs = {
        (r["query_id"], r["neighbor_id"])
        # bounded by construction: N_QUERIES x TOP_K rows
        for r in x03_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .collect()
    }
    if fp is not None:
        _X03_EXACT_MEMO[fp] = pairs
    return pairs


def _ann_recall_gate(
    spark: SparkSession, sf_dir: str, approx: DataFrame, key: str
) -> None:
    """Raise if `approx` catches < NUM/DEN of the exact x03 top-k pairs.

    The exact side is ONE bounded corpus scan per dataset version (x03's
    closure-matmul kernel over the N_QUERIES query vectors), memoized
    across the three gated keys; both pair sets are N_QUERIES x TOP_K
    rows, so recall is a driver-side set intersection — the approx
    collect doubles as the materialization of the key's lazy checkpoint.
    At 100 TB this is the standing audit-sample pattern: exact side
    bounded by the fixed query set, candidate side the production ANN
    plan, the floor a deploy gate.
    """
    exact = _exact_topk_pairs(spark, sf_dir)
    n_exact = len(exact)
    if n_exact < X03_ANN_GATE_MIN_SUPPORT:
        return
    got = {
        (r["query_id"], r["neighbor_id"])
        # bounded by construction: N_QUERIES x TOP_K rows
        for r in approx.select("query_id", "neighbor_id").collect()
    }
    n_hits = len(exact & got)
    if n_hits * X03_ANN_RECALL_DEN < n_exact * X03_ANN_RECALL_NUM:
        raise ValueError(
            f"{key} ann recall gate: caught {n_hits}/{n_exact} exact "
            f"top-{TOP_K} pairs — below the pinned "
            f"{X03_ANN_RECALL_NUM}/{X03_ANN_RECALL_DEN} floor; the "
            f"bucketing/routing has regressed"
        )


def _hyperplanes(n_planes: int, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG — no numpy RNG
    state, reproducible across engines and runs)."""
    planes = []
    state = 42
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append((state / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


N_TABLES = 8  # LSH hash tables (union of candidates across tables)
N_PLANES = 5  # hyperplanes per table -> 32 buckets each


@register(
    "x03b_lsh_ann_topk",
    oracle=None,  # approximate by construction -> rows-only; recall vs the
    # exact x03 result is enforced IN-ENGINE by _ann_recall_gate (raises
    # below the 1/4 floor — driver-visible) and pinned in
    # tests/test_ann_recall.py.
    doc="X3: multi-table LSH approximate top-k — 8 hash tables of 5 seeded "
    "hyperplanes each; a corpus vector is a candidate if it shares a "
    "bucket with the query in ANY table (classic recall amplification: "
    "per-table collision p becomes 1-(1-p)^L). Candidates dedup before "
    "scoring, so each pair is scored once. At 100 TB each table is a "
    "shuffle-partitioning by bucket id; recall/cost tunes via (L, planes) "
    "without changing the plan shape.",
)
def x03b_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    # All 40 hyperplane projections in ONE Arrow-batched matmul per batch:
    # (batch x 64) @ (64 x 40) -> sign bits -> 8 bucket ids. The previous
    # form — 40 nested zip_with/aggregate lambdas — ran interpreted
    # (higher-order functions never enter codegen) and re-walked the array
    # per plane; the vectorized UDF is the sanctioned fast path for dense
    # numeric Python and is O(batch) with BLAS constants.
    planes_t = np.asarray(_hyperplanes(N_TABLES * N_PLANES), dtype=np.float64).T
    pack = 1 << np.arange(N_PLANES, dtype=np.int64)  # bit weights per table

    @F.pandas_udf("array<int>")
    def lsh_buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, 64)
        bits = (mat @ planes_t) > 0  # (n, 40)
        buckets = np.stack(
            [
                bits[:, t * N_PLANES : (t + 1) * N_PLANES] @ pack
                for t in range(N_TABLES)
            ],
            axis=1,
        ).astype(np.int32)
        return pd.Series(list(buckets))

    tagged = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode(lsh_buckets(F.col("embedding"))).alias("table", "bucket"),
    )
    q = tagged.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    c = tagged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        "table",
        "bucket",
    )
    # Candidate pairs = same (table, bucket) in any table, deduped so the
    # expensive cosine runs once per pair.
    cand = (
        F.broadcast(q)
        .join(c, (F.col("qtable") == F.col("table")) & (F.col("qbucket") == F.col("bucket")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "neighbor_label")
        .distinct()
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qv")
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), _dbl("embedding").alias("cv"))
    sims = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    out = (
        sims.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "nn_rank")
        .transform(materialize, "reused")  # the gate consumes it AND it returns
    )
    _ann_recall_gate(spark, sf_dir, out, "x03b")
    return out


@register(
    "x03c_pairwise_label_centroids",
    oracle="""
WITH comps AS (
  SELECT label, unnest(embedding) AS comp,
         generate_subscripts(embedding, 1) AS idx
  FROM embeddings
),
cent AS (
  SELECT label, idx, AVG(CAST(comp AS DOUBLE)) AS c FROM comps GROUP BY label, idx
)
SELECT label,
       CAST(COUNT(*) AS INT) AS dim,
       round(SUM(c * c), 6) AS centroid_sq_norm
FROM cent GROUP BY label
""",
    doc="X3 support: per-label centroid of embeddings (posexplode + "
    "two-level agg) — the building block for IVF-style coarse quantization "
    "at 100 TB (route queries to nearest centroid, search only that cell).",
)
def x03c_pairwise_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode(_dbl("embedding")).alias("pos", "comp")
    ).select("label", (F.col("pos") + 1).alias("idx"), "comp")
    cent = comps.groupBy("label", "idx").agg(F.avg("comp").alias("c"))
    return cent.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("dim"),
        F.round(F.sum(F.col("c") * F.col("c")), 6).alias("centroid_sq_norm"),
    )


# Cosine threshold 0.38 in micro-units (integer compare, no float literal):
# driver embeddings have no true dups (max pair cosine ~0.456 at sf0.01),
# so the threshold sits in the upper tail to exercise the operator with a
# small non-empty result.
NEARDUP_TAU_E6 = 380000
NEARDUP_SUBSET = 300  # bounded probe set keeps the all-pairs oracle cheap


@register(
    "x02d_embedding_cosine_neardup",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {NEARDUP_SUBSET}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_SQL_DOT.format(a='a.embedding', b='b.embedding')} /
             ({_SQL_NORM.format(v='a.embedding')} * {_SQL_NORM.format(v='b.embedding')}),
             6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CAST(round({_SQL_DOT.format(a='a.embedding', b='b.embedding')} /
            ({_SQL_NORM.format(v='a.embedding')} * {_SQL_NORM.format(v='b.embedding')})
            * 1000000) AS BIGINT) >= {NEARDUP_TAU_E6}
""",
    doc="X2/X3: embedding-cosine near-duplicate pairs — all-pairs cosine "
    "over a bounded probe set with threshold tau, survivor = lower vec_id. "
    "The probe set rides the UDF closure (it is bounded by construction — "
    "the broadcast pattern) and each Arrow batch of the same scan is one "
    "BLAS matmul against it; the vec_a < vec_b guard keeps each pair "
    "scored once. The exact small-scale form; at 100 TB the pair space "
    "is first blocked by the x03b LSH buckets (same bucket => candidate) "
    "so only intra-bucket pairs are scored — with the same per-bucket "
    "matmul kernel.",
)
def x02d_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NEARDUP_SUBSET
    )
    probe = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    if not probe:  # empty corpus/slice: no probe set -> empty pairs, typed
        return local_rows(spark, [], "vec_a bigint, vec_b bigint, cosine_sim double")
    pids = np.asarray([r["vec_id"] for r in probe], dtype=np.int64)
    pmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in probe])
    punit = pmat / np.linalg.norm(pmat, axis=1, keepdims=True)

    def pairs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            # micro-unit integers: np.round(x, 6) is round(x*1e6)/1e6,
            # so the e6 grid compares exactly where the double could sit
            # ON the threshold boundary
            sims_e6 = np.round(unit @ punit.T * 1e6)  # (n, probe)
            sims = sims_e6 / 1e6
            ids = pdf["vec_a"].to_numpy().astype(np.int64)
            row, col = np.nonzero(
                (sims_e6 >= NEARDUP_TAU_E6) & (ids[:, None] < pids[None, :])
            )
            if not len(row):
                continue
            yield pd.DataFrame(
                {
                    "vec_a": ids[row],
                    "vec_b": pids[col],
                    "cosine_sim": sims[row, col],
                }
            )

    return emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("cv")
    ).mapInPandas(pairs, "vec_a bigint, vec_b bigint, cosine_sim double")


@register(
    "x03d_ivf_ann_topk",
    oracle=f"""
WITH comps AS (
  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS comp,
         generate_subscripts(embedding, 1) AS idx
  FROM embeddings
),
centvec AS (
  SELECT label, list(c ORDER BY idx) AS cv
  FROM (SELECT label, idx, AVG(comp) AS c FROM comps GROUP BY label, idx)
  GROUP BY label
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
routed AS (
  SELECT query_id, label,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_SQL_DOT.format(a='qv', b='cv')} /
                    ({_SQL_NORM.format(v='qv')} * {_SQL_NORM.format(v='cv')}) DESC,
                    label) AS cell_rank
  FROM q CROSS JOIN centvec
),
cell AS (SELECT query_id, label FROM routed WHERE cell_rank <= 3),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round({_SQL_DOT.format(a='q.qv', b='c.embedding')} /
               ({_SQL_NORM.format(v='q.qv')} * {_SQL_NORM.format(v='c.embedding')}),
               6) AS cosine_sim
  FROM q
  JOIN cell ON q.query_id = cell.query_id
  JOIN embeddings c ON c.label = cell.label AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim,
       rn AS nn_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM sims)
WHERE rn <= {TOP_K}
""",
    doc="X3: IVF-style ANN — coarse quantization by per-label centroids "
    "(the x03c building block), each query routed to its 3 nearest cells "
    "(nprobe=3), exact cosine re-rank only inside those cells. At 100 TB "
    "the corpus is partitioned by cell id, so a query touches "
    "nprobe/n_cells of the data; centroids are a broadcast-size table. "
    "Recall vs the exact x03 top-k is enforced in-engine by "
    "_ann_recall_gate (raises below the 1/4 floor), so a routing "
    "regression is a loud driver failure, not a silent hash change.",
)
def x03d_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode(_dbl("embedding")).alias("pos", "comp")
    ).select("label", "pos", "comp")
    centvec = (
        comps.groupBy("label", "pos")
        .agg(F.avg("comp").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _dbl("embedding").alias("qv")
    )
    w_route = Window.partitionBy("query_id").orderBy(
        cosine(F.col("qv"), F.col("cv")).desc(), F.col("label")
    )
    cell = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centvec))
        .withColumn("cell_rank", F.row_number().over(w_route))
        .filter(F.col("cell_rank") <= 3)
        .select("query_id", "qv", F.col("label").alias("cell_label"))
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _dbl("embedding").alias("cv2"),
    )
    sims = (
        F.broadcast(cell)
        .join(c, (F.col("cell_label") == F.col("neighbor_label")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine(F.col("qv"), F.col("cv2")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    out = (
        sims.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "nn_rank")
        .transform(materialize, "reused")  # the gate consumes it AND it returns
    )
    _ann_recall_gate(spark, sf_dir, out, "x03d")
    return out


KMEANS_K = 8
KMEANS_ITERS = 3


@register(
    "x15_kmeans_embeddings",
    oracle=None,  # iterative algorithm (explicitly non-SQL-expressible);
    # convergence/determinism pytest-covered in tests/test_ann_recall.py
    doc="X15: k-means over the embedding corpus — Lloyd's iterations as "
    "driver-side control flow over distributed jobs, in the classic "
    "MLlib shape: per round, ONE Arrow-batched mapInPandas pass computes "
    "each partition's per-cluster (count, component-sum) partials with "
    "vectorized numpy distance argmin; only k x partitions partial rows "
    "(k x d doubles each) leave the executors, so communication is "
    "independent of corpus size. The driver reduces partials in a fixed "
    "sort order and re-broadcasts k x d centroids; components round to "
    "9 dp per round so re-runs are bit-stable despite float partial-sum "
    "ordering. Init is deterministic (first k vectors by vec_id). The "
    "corpus materializes once (localCheckpoint) and is re-scanned from "
    "block storage each round — at 10^9 vectors the only driver-sized "
    "state is the centroid table.",
)
def x15_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.select("vec_id", _dbl("embedding").alias("v"))
        .transform(spread)
        .transform(materialize, "reused")  # every round re-scans it
    )

    init = (
        emb.filter(F.col("vec_id") < KMEANS_K)
        .select("vec_id", _dbl("embedding").alias("v"))
        .collect()
    )
    if not init:  # empty corpus: no seed centroids -> empty result, typed
        return local_rows(spark, [], "cluster int, n_members bigint, avg_dist double")
    cent = np.asarray(
        [list(r["v"]) for r in sorted(init, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )

    for _ in range(KMEANS_ITERS):
        c_now = cent

        def partials(batches, c_now=c_now):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                d2 = ((m[:, None, :] - c_now[None, :, :]) ** 2).sum(-1)
                a = d2.argmin(1)
                rows = []
                for c in range(len(c_now)):
                    mask = a == c
                    if mask.any():
                        rows.append(
                            {
                                "cluster": c,
                                "n": int(mask.sum()),
                                "s": m[mask].sum(0).tolist(),
                            }
                        )
                yield pd.DataFrame(rows)

        collected = base.mapInPandas(
            partials, "cluster int, n long, s array<double>"
        ).collect()
        # fixed reduction order -> identical float sums across re-runs
        collected.sort(key=lambda r: (r["cluster"], r["n"], tuple(r["s"])))
        sums = np.zeros_like(cent)
        counts = np.zeros(len(cent))
        for r in collected:
            sums[r["cluster"]] += np.asarray(r["s"])
            counts[r["cluster"]] += r["n"]
        keep = counts > 0
        cent = cent.copy()
        cent[keep] = np.round(sums[keep] / counts[keep, None], 9)

    c_fin = cent

    def stats(batches, c_fin=c_fin):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            d2 = ((m[:, None, :] - c_fin[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            d = np.sqrt(d2[np.arange(len(m)), a])
            rows = []
            for c in range(len(c_fin)):
                mask = a == c
                if mask.any():
                    rows.append(
                        {"cluster": c, "n": int(mask.sum()), "sd": float(d[mask].sum())}
                    )
            yield pd.DataFrame(rows)

    return (
        base.mapInPandas(stats, "cluster int, n long, sd double")
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_members"),
            F.round(F.sum("sd") / F.sum("n"), 4).alias("avg_dist"),
        )
    )


# ---------------------------------------------------------------------------
# X3e — int8 scalar quantization (the ANN memory-compression path)
# ---------------------------------------------------------------------------


@register(
    "x03e_scalar_quantization",
    oracle="""
WITH x AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
),
s AS (
  SELECT vec_id, max(abs(v)) AS amax FROM x GROUP BY vec_id
),
q AS (
  SELECT x.vec_id, s.amax, v,
         CAST(trunc(v * 127.0 / nullif(s.amax, 0)
                    + CASE WHEN v >= 0 THEN 0.5 ELSE -0.5 END)
              AS DOUBLE) AS qi
  FROM x JOIN s USING (vec_id)
)
SELECT vec_id,
       round(amax, 6) AS amax,
       round(CAST(SUM(CAST(power(v - qi * amax / 127.0, 2) AS DECIMAL(28,18)))
                  AS DOUBLE), 12) AS sq_err,
       round(sqrt(CAST(SUM(CAST(power(v - qi * amax / 127.0, 2) AS DECIMAL(28,18)))
                       AS DOUBLE) / 64.0), 8) AS rmse
FROM q
GROUP BY vec_id, amax
""",
    doc="X3e: per-vector int8 scalar quantization (symmetric, amax-scaled) "
    "with exact reconstruction error — the memory-compression step a "
    "100 TB ANN index needs (4x smaller vectors, int8 SIMD distance). "
    "Explode + codegen aggregates instead of nested array lambdas (the "
    "interpreted-HOF pitfall); squared-error sums go through DECIMAL so "
    "the result is independent of Spark's partial-aggregation order and "
    "bit-comparable to the sequential DuckDB oracle. Scale: two shuffles "
    "on vec_id (amax, then error agg) over a scan-side explode; at "
    "deployment the quantized vectors write back as array<tinyint>.",
)
def x03e_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    x = e.select("vec_id", F.explode("embedding").alias("vf")).select(
        "vec_id", F.col("vf").cast("double").alias("v")
    )
    s = x.groupBy("vec_id").agg(F.max(F.abs("v")).alias("amax"))
    # half-away-from-zero rounding spelled as EXPLICIT truncation of
    # q +- 0.5 (round-8 round_on_div burn-down): Spark's BIGINT cast and
    # DuckDB's trunc() both truncate toward zero, and q +- 0.5 is the
    # same IEEE double on both sides — the quantizer no longer depends
    # on either engine's round() tie rule at half-integer grid points
    # (v = amax/2 lands EXACTLY on 63.5).
    q = x.join(s, "vec_id").select(
        "vec_id",
        "amax",
        "v",
        F.expr(
            "CAST(CAST(v * 127.0D / nullif(amax, 0.0D)"
            " + IF(v >= 0, 0.5D, -0.5D) AS BIGINT) AS DOUBLE)"
        ).alias("qi"),
    )
    err2 = F.pow(F.col("v") - F.col("qi") * F.col("amax") / 127.0, F.lit(2.0))
    sq_err = F.sum(err2.cast("decimal(28,18)")).cast("double")
    return (
        q.groupBy("vec_id", "amax")
        .agg(
            F.round(sq_err, 12).alias("sq_err"),
            F.round(F.sqrt(sq_err / 64.0), 8).alias("rmse"),
        )
        .select(
            "vec_id", F.round("amax", 6).alias("amax"), "sq_err", "rmse"
        )
    )


# ---------------------------------------------------------------------------
# X22 — distributed Gram matrix (the PCA/whitening building block)
# ---------------------------------------------------------------------------


@register(
    "x22_embedding_gram",
    oracle="""
WITH x AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS INT) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT a.i, b.i AS j, round(SUM(a.v * b.v), 6) AS gram
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
    doc="X22: distributed Gram matrix G = X^T X over the embedding corpus "
    "(upper triangle, 2080 cells) — the one-pass building block for PCA / "
    "whitening / covariance of a 100 TB embedding store. Spark side runs "
    "the textbook two-phase pattern: each partition computes its 64x64 "
    "partial Gram with one BLAS matmul inside Arrow-batched mapInPandas, "
    "then a single 2080-row shuffle sums the partials — communication is "
    "O(partitions x d^2), independent of corpus size. The DuckDB oracle "
    "expands the quadratic per-element join; identical to 6 decimals.",
)
def x22_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    e = spread(e)

    def gram_partials(batches):
        iu = np.triu_indices(64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int32),
                    "j": (iu[1] + 1).astype(np.int32),
                    "partial": g[iu],
                }
            )

    return (
        e.mapInPandas(gram_partials, "i int, j int, partial double")
        .groupBy("i", "j")
        .agg(F.round(F.sum("partial"), 6).alias("gram"))
    )


PQ_M = 8  # subspaces (64-d -> 8 x 8-d subvectors)
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_TRAIN_IDS = 512  # training sample: vectors with vec_id < 512
PQ_ITERS = 5  # Lloyd iterations per subspace codebook
PQ_SHORTLIST = 4 * TOP_K  # ADC shortlist size before exact re-rank


def _pq_codebooks(sample: np.ndarray) -> np.ndarray:
    """Deterministic per-subspace k-means codebooks, (M, K, d/M).

    Init = first K sample subvectors (sample is vec_id-ordered); fixed
    iteration count; empty cells keep their previous codeword — bit-stable
    across runs, no RNG."""
    n, dim = sample.shape
    sub = dim // PQ_M
    # a training set smaller than PQ_K can only support n distinct
    # codewords — cap the codebook instead of broadcasting into garbage
    # (standard PQ practice: k <= n_train)
    n_codes = min(PQ_K, n)
    books = np.empty((PQ_M, n_codes, sub))
    for m in range(PQ_M):
        x = sample[:, m * sub : (m + 1) * sub]
        c = x[:n_codes].copy()
        for _ in range(PQ_ITERS):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(n_codes):
                mask = assign == k
                if mask.any():
                    c[k] = x[mask].mean(axis=0)
        books[m] = c
    return books


@register(
    "x03f_pq_ann_topk",
    oracle=None,  # approximate by construction -> rows-only; recall vs the
    # exact x03 baseline is enforced IN-ENGINE by _ann_recall_gate (raises
    # below the 1/4 floor — driver-visible) and pinned in
    # tests/test_ann_recall.py.
    doc="X3: product-quantization ANN (the IVF-PQ memory shape of "
    "billion-scale ANN systems): unit-normalized vectors are split into "
    "8 subvectors, each coded to one of 16 per-subspace k-means "
    "codewords (4 bits — a 64-d float vector compresses to 8 bytes of "
    "codes). Queries score candidates with asymmetric-distance lookup "
    "tables (one 8x16 dot-product table per query, summed over code "
    "entries — no decode), maintain an ADC shortlist per PARTITION "
    "(batch-boundary invariant: iterative top-k pruning under a total "
    "order is associative), then exact-cosine re-rank only the "
    "shortlist; per-partition top-k keeps the "
    "final shuffle at partitions x queries x k rows. Codebooks train "
    "driver-side on a deterministic vec_id-ordered sample (standard "
    "sample-based PQ training) and ride the UDF closure like a "
    "broadcast. At 100 TB the stored corpus is codes + ids only "
    "(~16 bytes/vector); raw vectors stream past once for the re-rank.",
)
def x03f_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    train = (
        emb.filter(F.col("vec_id") < PQ_TRAIN_IDS)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ) if train else []
    # An empty corpus has no codebook training set, and a non-empty one can
    # still carry no low-id queries: either way the result is empty, typed.
    if not qrows:
        return local_rows(spark, [], _NN_RANKED_SCHEMA)
    sample = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in train])
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_codebooks(sample)

    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    sub = qmat.shape[1] // PQ_M
    # ADC tables: adc[q, m, k] = dot(q_m, codeword_mk)
    adc = np.einsum("qmd,mkd->qmk", qmat.reshape(len(qids), PQ_M, sub), books)

    dim = qmat.shape[1]

    def score(batches):
        # Per-query ADC shortlist maintained ACROSS batches (iterative
        # top-k prune under the (adc desc, neighbor_id) total order is
        # associative), so the result is invariant to Arrow batch
        # boundaries; exact re-rank happens once per partition at the end.
        state = {
            qi: (
                np.empty(0, dtype=np.int64),  # neighbor ids
                np.empty(0, dtype=np.int64),  # labels
                np.empty(0),  # adc scores
                np.empty((0, dim)),  # unit vectors
            )
            for qi in range(len(qids))
        }
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            parts = unit.reshape(len(pdf), PQ_M, sub)
            # encode: nearest codeword per subspace
            codes = np.stack(
                [
                    ((parts[:, m, None, :] - books[m][None, :, :]) ** 2)
                    .sum(axis=2)
                    .argmin(axis=1)
                    for m in range(PQ_M)
                ],
                axis=1,
            )  # (n, M)
            ids = pdf["neighbor_id"].to_numpy().astype(np.int64)
            labels = pdf["neighbor_label"].to_numpy().astype(np.int64)
            for qi in range(len(qids)):
                mask = ids != qids[qi]
                batch_adc = adc[qi, np.arange(PQ_M), codes[mask]].sum(axis=1)
                sid, slab, sadc, svec = state[qi]
                cid = np.concatenate([sid, ids[mask]])
                clab = np.concatenate([slab, labels[mask]])
                cadc = np.concatenate([sadc, batch_adc])
                cvec = np.vstack([svec, unit[mask]])
                order = np.lexsort((cid, -cadc))[:PQ_SHORTLIST]
                state[qi] = (cid[order], clab[order], cadc[order], cvec[order])
        if not seen:
            return
        frames = []
        for qi in range(len(qids)):
            sid, slab, _, svec = state[qi]
            if not len(sid):
                continue
            exact = np.round(svec @ qmat[qi], 6)
            keep = np.lexsort((sid, -exact))[:TOP_K]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qids[qi],
                        "neighbor_id": sid[keep],
                        "neighbor_label": slab[keep],
                        "cosine_sim": exact[keep],
                    }
                )
            )
        if frames:
            yield pd.concat(frames)

    cands = (
        _labelled_vectors(emb)
        .transform(spread, "neighbor_id")
        .mapInPandas(
            score,
            _NN_SCHEMA,
        )
    )
    # the gate consumes it AND it returns
    out = materialize(_nn_ranked(cands), "reused")
    _ann_recall_gate(spark, sf_dir, out, "x03f")
    return out


@register(
    "x31_hard_pair_mining",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (SELECT vec_id, label, embedding FROM embeddings),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         CASE WHEN c.label = q.qlabel THEN 'pos' ELSE 'neg' END AS kind,
         round({_SQL_DOT.format(a='q.qv', b='c.embedding')} /
               ({_SQL_NORM.format(v='q.qv')} * {_SQL_NORM.format(v='c.embedding')}),
               6) AS cosine_sim
  FROM q JOIN c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, kind
                               ORDER BY cosine_sim DESC, neighbor_id) AS rn
  FROM sims
)
SELECT query_id, kind, neighbor_id, neighbor_label, cosine_sim
FROM ranked WHERE rn = 1
""",
    doc="X31: contrastive-pair mining — for each anchor, the hardest "
    "positive (most-similar SAME-label vector) and hardest negative "
    "(most-similar different-label vector), the pair-selection step of "
    "metric-learning / embedding-model training data. Same execution "
    "shape as x03: anchors ride the closure, each Arrow batch is one "
    "BLAS matmul, each partition emits only its best pos/neg per anchor "
    "(exact: argmax distributes over partition union), final window "
    "reduces partitions x anchors x 2 rows.",
)
def x31_hard_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "label", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if not qrows:  # empty corpus/slice: no queries -> empty result, typed
        return local_rows(
            spark,
            [],
            "query_id bigint, kind string, neighbor_id bigint, "
            "neighbor_label int, cosine_sim double",
        )
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    qlabels = np.asarray([r["label"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def mine(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            sims = (mat @ qmat.T) / (
                np.sqrt((mat * mat).sum(axis=1))[:, None] * qnorm[None, :]
            )
            sims = np.round(sims, 6)
            n = len(pdf)
            labels = pdf["neighbor_label"].to_numpy()
            cand = pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "neighbor_id": np.repeat(pdf["neighbor_id"].to_numpy(), len(qids)),
                    "neighbor_label": np.repeat(labels, len(qids)),
                    "kind": np.where(
                        np.repeat(labels, len(qids)) == np.tile(qlabels, n),
                        "pos",
                        "neg",
                    ),
                    "cosine_sim": sims.ravel(),
                }
            )
            cand = cand[cand["query_id"] != cand["neighbor_id"]]
            best = cand if best is None else pd.concat([best, cand])
            best = (
                best.sort_values(
                    ["query_id", "kind", "cosine_sim", "neighbor_id"],
                    ascending=[True, True, False, True],
                )
                .groupby(["query_id", "kind"], sort=False)
                .head(1)
            )
        if best is not None and len(best):
            yield best

    cands = _labelled_vectors(emb).mapInPandas(
        mine,
        "query_id bigint, neighbor_id bigint, neighbor_label int, "
        "kind string, cosine_sim double",
    )
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "kind", "neighbor_id", "neighbor_label", "cosine_sim")
    )


WHITEN_EPS = 1e-9  # eigenvalue floor for the inverse square root


@register(
    "x37_pca_whitening",
    oracle=None,  # eigendecomposition is not SQL-expressible; pinned instead
    # by tests/test_properties.py::test_whitening_mahalanobis_identity
    # (sum of maha_sq over the corpus == dim * (n-1), an exact algebraic
    # identity of the sample covariance).
    doc="X37: ZCA whitening / Mahalanobis outlier score over the embedding "
    "corpus. Pass 1 accumulates per-partition moment partials (count, "
    "component sums, upper-tri raw second moments) via mapInPandas — one "
    "BLAS syrk per Arrow batch, O(partitions * d^2) rows collected, "
    "independent of corpus size (the x22 Gram shape). The driver "
    "assembles the d x d sample covariance, eigendecomposes it (d=64 — "
    "trivial), and broadcasts W = U diag(1/sqrt(l+eps)) U^T with the "
    "mean. Pass 2 scores every vector x with ||W(x-mu)||^2 — the squared "
    "Mahalanobis distance, the standard embedding-space outlier filter "
    "for training-data curation — again one matmul per batch. Two scans, "
    "zero shuffles of vector data.",
)
def x37_pca_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load_table(spark, sf_dir, "embeddings"))
    iu = np.triu_indices(64)

    def moment_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            raw = m.T @ m
            yield pd.DataFrame(
                {
                    # idx -1 carries the row count
                    "idx": np.concatenate([[-1], np.arange(64), 64 + iu[0] * 64 + iu[1]]),
                    "partial": np.concatenate([[len(m)], m.sum(axis=0), raw[iu]]),
                }
            )

    # O(partitions * d^2 / 2) tiny rows; the reduce itself is distributed
    # (groupBy idx) and only the 1 + d*(d+3)/2 aggregated cells are collected.
    moments = {
        r["idx"]: r["s"]
        for r in e.select("embedding")
        .mapInPandas(moment_partials, "idx bigint, partial double")
        .groupBy("idx")
        .agg(F.sum("partial").alias("s"))
        .collect()
    }
    n = moments.pop(-1, 0.0)
    mean = np.zeros(64)
    raw = np.zeros((64, 64))
    for idx, s in moments.items():
        if idx < 64:
            mean[idx] = s / n
        else:
            i, j = divmod(idx - 64, 64)
            raw[i, j] = raw[j, i] = s
    # a one-row corpus has zero spread, not an undefined one: every
    # maha_sq is 0 and the dim * (n - 1) identity still holds
    cov = (raw - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    w = evecs @ np.diag(1.0 / np.sqrt(np.maximum(evals, WHITEN_EPS))) @ evecs.T

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            z = (m - mean) @ w.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "maha_sq": np.round((z * z).sum(axis=1), 3),
                }
            )

    return e.select("vec_id", "label", "embedding").mapInPandas(
        score, "vec_id bigint, label int, maha_sq double"
    )


# ---------------------------------------------------------------------------
# X59 — random-projection dimensionality reduction (Johnson-Lindenstrauss)
# ---------------------------------------------------------------------------

RP_OUT_DIM = 16  # projected dimensionality (64 -> 16)


@register(
    "x59_random_projection",
    oracle=f"""
WITH ev AS (
  SELECT vec_id, CAST(e AS DOUBLE) AS v, gs - 1 AS dim_in
  FROM (
    SELECT vec_id, unnest(embedding) AS e,
           generate_subscripts(embedding, 1) AS gs
    FROM embeddings
  )
),
proj AS (
  SELECT din.d AS dim_in, dout.d AS dim_out,
         CASE WHEN CAST(('0x' || substr(md5('rp:' || CAST(din.d AS VARCHAR)
                          || ':' || CAST(dout.d AS VARCHAR)), 1, 4)) AS INT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(0, 64)) AS d) din
  CROSS JOIN (SELECT unnest(range(0, {RP_OUT_DIM})) AS d) dout
)
SELECT ev.vec_id, proj.dim_out,
       round(CAST(SUM(CAST(ev.v * proj.sign AS DECIMAL(28,12))) AS DOUBLE)
             / sqrt({RP_OUT_DIM}.0), 6) AS component
FROM ev JOIN proj ON ev.dim_in = proj.dim_in
GROUP BY ev.vec_id, proj.dim_out
""",
    doc="X59: RANDOM-PROJECTION dimensionality reduction — the "
    "Johnson-Lindenstrauss / Achlioptas sign-matrix projection "
    "(64 -> 16 dims, entries +/-1 scaled by 1/sqrt(k)): the cheap, "
    "training-free complement to x37's PCA for shrinking embeddings "
    "before ANN or clustering, with distance preservation guaranteed "
    "in expectation rather than learned. The projection matrix is "
    "DERIVED, not stored: entry (i,j)'s sign comes from md5('rp:i:j') "
    "— every executor regenerates it identically, so nothing ships "
    "but the query (the seed IS the model). Plan shape: explode "
    "embeddings to (dim, v), then ONE vec_id aggregate computing all "
    "16 components as conditional +/- DECIMAL sums (the sign matrix "
    "is folded into 16 isin sets driver-side — no join, no 16x row "
    "fan-out), unpivoted to rows with stack(); DECIMAL keeps "
    "components partial-agg-order-exact. JL distance preservation is "
    "pinned in tests/test_properties.py.",
)
def x59_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 64x16 sign matrix is pre-derived driver-side (same md5 recipe as
    # the oracle: sign(i,j) = +1 iff int(md5('rp:i:j')[:4], 16) is even)
    # and embedded as 16 literal 64-element arrays. This replaces the
    # earlier broadcast-join shape (explode -> join 1024-row sign table ->
    # 16x row fan-out -> group by (vec, dim_out)) with ONE aggregate per
    # vec_id computing all 16 components as parallel conditional sums —
    # same exact DECIMAL arithmetic, 16x fewer rows through the pipeline.
    import hashlib

    def _sign(i: int, j: int) -> float:
        h = hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()
        return 1.0 if int(h[:4], 16) % 2 == 0 else -1.0

    plus_sets = [
        [i for i in range(64) if _sign(i, j) > 0] for j in range(RP_OUT_DIM)
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim_in", "e")
    ).select("vec_id", "dim_in", F.col("e").cast("double").alias("v"))
    # sign is +/-1, so v*sign needs no multiply: cast v once to DECIMAL and
    # negate for the minus rows (HALF_UP rounds away from zero, so
    # cast(-v) == -cast(v) — bit-identical to the (v*sign).cast original).
    vdec = F.col("v").cast("decimal(28,12)")
    scale = float(RP_OUT_DIM) ** 0.5
    # The sign matrix is defined on dims 0..63 only; components beyond it
    # must be IGNORED (the join this fold replaced dropped them silently —
    # without this scan-side predicate the otherwise(-vdec) branch would
    # subtract them instead).
    agg = ev.filter(F.col("dim_in") < 64).groupBy("vec_id").agg(
        *[
            F.round(
                F.sum(
                    F.when(F.col("dim_in").isin(plus_sets[j]), vdec).otherwise(-vdec)
                )
                .cast("double")
                / scale,
                6,
            ).alias(f"c{j}")
            for j in range(RP_OUT_DIM)
        ]
    )
    stack_expr = ", ".join(f"{j}, c{j}" for j in range(RP_OUT_DIM))
    return agg.select(
        "vec_id",
        F.expr(
            f"stack({RP_OUT_DIM}, {stack_expr}) AS (dim_out, component)"
        ),
    ).select("vec_id", F.col("dim_out").cast("int").alias("dim_out"), "component")


# ---------------------------------------------------------------------------
# X65 — k-center coreset selection (greedy farthest-point diversity sample)
# ---------------------------------------------------------------------------

KCENTER_K = 8
_KCENTER_SCHEMA = "selection_rank int, vec_id bigint, radius_at_selection double"


@register(
    "x65_kcenter_coreset",
    oracle=None,  # iterative greedy argmax, not SQL-expressible; the
    # 2-approximation's monotone-radius property and exact determinism are
    # pinned in tests/test_properties.py.
    doc="X65: K-CENTER CORESET — greedy farthest-point selection (the "
    "Gonzalez 2-approximation): start from the lowest-id vector, then "
    "k-1 times add the point farthest from the current center set — "
    "the classic DIVERSITY sampling for training data (cover the "
    "embedding space with few exemplars; complements x15's k-means, "
    "which finds dense centers, by finding SPREAD ones; outliers and "
    "rare modes are exactly what it keeps). Each round is one "
    "distributed pass: a vectorized pandas_udf computes every point's "
    "distance to the NEWEST center only, a running min_dist column "
    "keeps the center-set distance incrementally (no k-fold "
    "recompute), and a deterministic (max dist, min vec_id) argmax "
    "picks the next center — k rounds = k scans, communication is one "
    "row per round. Output: each selected center with its selection "
    "rank and the coverage radius when it was picked (non-increasing "
    "— the property test's invariant).",
)
def x65_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if fits_driver(emb):
        # Same greedy on the collected matrix, without per-round job
        # latency; path equivalence pinned in tests/test_properties.py.
        return _kcenter_greedy_local(emb)
    return _kcenter_greedy_distributed(spread(emb, "vec_id"))


def _kcenter_greedy_local(emb: DataFrame) -> DataFrame:
    import numpy as np

    rows_in = emb.orderBy("vec_id").collect()
    if not rows_in:  # empty corpus: no seed point -> empty coreset, typed
        return local_rows(emb.sparkSession, [], _KCENTER_SCHEMA)
    ids = np.asarray([r["vec_id"] for r in rows_in], dtype=np.int64)
    mat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows_in]
    )
    rows = [(1, int(ids[0]), 0.0)]
    min_dist = np.sqrt(((mat - mat[0][None, :]) ** 2).sum(axis=1))
    for rank in range(2, KCENTER_K + 1):
        # deterministic (max dist, min vec_id) argmax
        best = np.lexsort((ids, -min_dist))[0]
        rows.append((rank, int(ids[best]), round(float(min_dist[best]), 6)))
        d_new = np.sqrt(((mat - mat[best][None, :]) ** 2).sum(axis=1))
        min_dist = np.minimum(min_dist, d_new)
    return local_rows(emb.sparkSession, rows, _KCENTER_SCHEMA)


def _kcenter_greedy_distributed(emb: DataFrame) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    first = emb.orderBy("vec_id").first()
    centers = [(int(first["vec_id"]), [float(x) for x in first["embedding"]])]
    rows = [(1, centers[0][0], 0.0)]
    # min_dist starts as distance to the first center, computed in round 1.
    current = emb.withColumn("min_dist", F.lit(float("inf")))
    for rank in range(2, KCENTER_K + 1):
        c_vec = np.asarray(centers[-1][1], dtype=np.float64)

        @F.pandas_udf(T.DoubleType())
        def dist_to_new(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
            return pd.Series(np.sqrt(((mat - c_vec[None, :]) ** 2).sum(axis=1)))

        current = current.withColumn(
            "min_dist",
            F.least(F.col("min_dist"), dist_to_new("embedding")),
        ).transform(materialize, "round")
        far = (
            current.orderBy(F.col("min_dist").desc(), F.col("vec_id"))
            .select("vec_id", "embedding", "min_dist")
            .first()
        )
        centers.append((int(far["vec_id"]), [float(x) for x in far["embedding"]]))
        rows.append((rank, int(far["vec_id"]), round(float(far["min_dist"]), 6)))
    return local_rows(emb.sparkSession, rows, _KCENTER_SCHEMA)


# ---------------------------------------------------------------------------
# X90: prototype-distance pruning (D4-style diversity filter)
# ---------------------------------------------------------------------------

N_PROTO = 8  # deterministic prototypes: the vec_id < 8 embeddings
PROTO_PRUNE_PCT = 25  # drop the closest-to-prototype quarter of each cell


@register(
    "x90_prototype_prune",
    oracle=f"""
WITH protos AS (
  SELECT vec_id AS cluster_id, embedding AS pv FROM embeddings WHERE vec_id < {N_PROTO}
),
dists AS (
  SELECT e.vec_id, p.cluster_id,
         sqrt(list_aggregate(list_transform(list_zip(e.embedding, p.pv),
              q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
                 * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))), 'sum'))
           AS l2
  FROM embeddings e CROSS JOIN protos p
),
assigned AS (
  SELECT vec_id, cluster_id, round(l2, 6) AS l2_dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY round(l2, 6), cluster_id) AS arn
  FROM dists
),
cells AS (SELECT vec_id, cluster_id, l2_dist FROM assigned WHERE arn = 1),
ranked AS (
  SELECT vec_id, cluster_id, l2_dist,
         row_number() OVER (PARTITION BY cluster_id ORDER BY l2_dist, vec_id) AS proto_rank,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
  FROM cells
)
SELECT vec_id, cluster_id, l2_dist, proto_rank, cluster_size,
       CASE WHEN proto_rank * 100 > cluster_size * {PROTO_PRUNE_PCT}
            THEN 1 ELSE 0 END AS keep
FROM ranked
""",
    doc="X90: D4-style prototype pruning — the diversity complement to "
    "SemDeDup (x36): where x36 removes near-identical PAIRS, this drops "
    "the most PROTOTYPICAL quarter of each cell (the points closest to "
    "their prototype carry the least marginal information; Abbas et al. "
    "2023, public). Prototypes are the deterministic vec_id<8 vectors "
    "(at deployment: k-means centroids from x15); they ride the UDF "
    "closure as an 8x64 matrix and assignment+distance is ONE BLAS "
    "matmul per Arrow batch — partition-local, no shuffle, no "
    "interpreted HOF lambdas. The only shuffle is the per-cell rank "
    "window. With k=8 cells a corpus-scale rank window would put "
    "billions of rows in 8 partitions — the documented scale path swaps "
    "the exact rank for a per-cell approx-quantile distance threshold "
    "(8-row broadcast, same keep decision to quantile error); the exact "
    "rank is kept here because it is the oracle-checkable form. "
    "Distances are rounded to 6dp BEFORE the argmin tie-break so both "
    "engines resolve boundary ties identically.",
)
def x90_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    prows = (
        emb.filter(F.col("vec_id") < N_PROTO)
        .select("vec_id", "embedding")
        .collect()  # 8 x 64 doubles — rides the closure
    )
    if not prows:  # empty corpus: no prototypes -> empty result, typed
        return local_rows(
            spark,
            [],
            "vec_id bigint, cluster_id bigint, l2_dist double, "
            "proto_rank int, cluster_size bigint, keep int",
        )
    pids = np.asarray([r["vec_id"] for r in prows], dtype=np.int64)
    pmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in prows])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # ||x - p||^2 = ||x||^2 - 2 x.p + ||p||^2, one matmul per batch
            d2 = (
                (mat * mat).sum(axis=1)[:, None]
                - 2.0 * (mat @ pmat.T)
                + (pmat * pmat).sum(axis=1)[None, :]
            )
            l2 = np.round(np.sqrt(np.maximum(d2, 0.0)), 6)
            # argmin with lowest-cluster-id tie-break on the ROUNDED value:
            # np.argmin returns the first minimum and pids is ascending.
            best = np.argmin(l2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": pids[best],
                    "l2_dist": l2[np.arange(len(pdf)), best],
                }
            )

    cells = emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id bigint, cluster_id bigint, l2_dist double"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("l2_dist"), F.col("vec_id"))
    cnt = Window.partitionBy("cluster_id")
    return (
        cells.withColumn("proto_rank", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(cnt).cast("bigint"))
        .select(
            "vec_id",
            "cluster_id",
            "l2_dist",
            "proto_rank",
            "cluster_size",
            (
                F.col("proto_rank") * 100 > F.col("cluster_size") * PROTO_PRUNE_PCT
            )
            .cast("int")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# X94: TwoNN intrinsic-dimension estimate — exact 2-NN + MLE over ratios
# ---------------------------------------------------------------------------

def _twonn_sample(emb: DataFrame, n: int) -> DataFrame:
    """Deterministic md5-rank sample of n vectors (the x12 primitive).

    orderBy(md5 key).limit(n) compiles to TakeOrderedAndProject —
    per-partition top-n then a single merge of n-row heaps, never a
    global sort — so the sample is cheap at any corpus size and its
    MEMBERSHIP is a pure function of vec_id: stable under
    re-partitioning, re-runs, and corpus growth only ever evicts the
    highest-keyed members.
    """
    key = F.md5(F.concat_ws(":", F.lit("twonn"), F.col("vec_id")))
    return emb.orderBy(key.asc(), F.col("vec_id").asc()).limit(n)


@register(
    "x94_twonn_intrinsic_dim",
    oracle="""
WITH dists AS (
  SELECT a.vec_id, b.vec_id AS other_id,
         round(sqrt(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
               q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
                  * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))), 'sum')), 6)
           AS l2
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, other_id, l2,
         row_number() OVER (PARTITION BY vec_id ORDER BY l2, other_id) AS rn
  FROM dists
),
nn AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN other_id END) AS nn1_id,
         MAX(CASE WHEN rn = 2 THEN other_id END) AS nn2_id,
         MAX(CASE WHEN rn = 1 THEN l2 END) AS d1,
         MAX(CASE WHEN rn = 2 THEN l2 END) AS d2
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
),
mus AS (
  -- mu = d2/d1 at 6dp via the EXACT integer rational (round-8
  -- round_on_div burn-down): d1/d2 are 6dp-rounded, so their micro-unit
  -- integers are exact, and (2a*1e6 + b) // (2b) is half-away rounding
  -- of the true rational a/b with no float quotient anywhere.
  SELECT vec_id, nn1_id, nn2_id, d1, d2,
         CASE WHEN d1 > 0 THEN
           CAST((2 * CAST(round(d2 * 1000000) AS BIGINT) * 1000000
                   + CAST(round(d1 * 1000000) AS BIGINT))
                // (2 * CAST(round(d1 * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000
         END AS mu
  FROM nn
),
est AS (
  SELECT round((COUNT(mu) - 1)
               / CAST(SUM(CAST(ln(mu) AS DECIMAL(28,18))) AS DOUBLE), 6)
           AS d_hat
  FROM mus WHERE mu IS NOT NULL
)
SELECT vec_id, nn1_id, nn2_id, d1, d2, mu, est.d_hat
FROM mus CROSS JOIN est
""",
    doc="X94: TwoNN intrinsic-dimension estimate (Facco et al. 2017, "
    "public) — the embedding-space diagnostic a curation pipeline runs "
    "before trusting clustering/ANN structure: for every vector, the "
    "exact 1st and 2nd nearest neighbors by L2, the ratio mu = d2/d1, "
    "and the corpus-level MLE d_hat = (n-1) / sum(ln mu). Per-point "
    "output keeps the neighbor ids and distances so the estimate is "
    "auditable. The candidate matrix rides the UDF closure and each "
    "Arrow batch resolves its 2-NN with one BLAS distance matmul — no "
    "join, no shuffle on the corpus side; the only exchange is the "
    "1-row estimator aggregate broadcast back onto the rows. TwoNN is a "
    "statistical estimator by construction, so the closure matrix IS "
    "the scale knob — and the bound is ENFORCED IN CODE: when the "
    "table does not fit the driver (fits_driver) the key switches to "
    "a deterministic md5-rank sample (_twonn_sample, the x12 "
    "primitive; TakeOrderedAndProject, no global sort) whose "
    "membership is repartition- and growth-stable, and the estimator's "
    "variance shrinks as 1/sqrt(sample). At fixture scale the gate "
    "stays open (whole table, exact, oracle-checkable). Sample-path "
    "determinism is pinned in tests/test_properties.py. Distances "
    "round to 6dp before the (l2, vec_id) "
    "tie-break so both engines pick identical neighbors; ln goes "
    "through DECIMAL(28,18) before the sum (the x20 convention) so the "
    "estimator is aggregation-order-exact. Zero-distance duplicates "
    "(d1 = 0) are excluded from the MLE, per the estimator's "
    "definition.",
)
def x94_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # A table too big for the driver is cut to a deterministic md5-rank
    # sample of DRIVER_ROWS rows (TwoNN's variance shrinks as
    # 1/sqrt(sample)), so neither the driver collect nor the per-task
    # closure matrix exceeds it. At fixture scale the whole table flows
    # through and the oracle stays hash-exact.
    if not fits_driver(emb):
        emb = _twonn_sample(emb, _util.DRIVER_ROWS)
    rows = emb.collect()  # bounded by construction (gate above)
    if not rows:  # empty corpus: no neighbors, no estimator -> empty, typed
        return local_rows(
            spark,
            [],
            "vec_id bigint, nn1_id bigint, nn2_id bigint, d1 double, "
            "d2 double, mu double, d_hat double",
        )
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    sq = (mat * mat).sum(axis=1)

    K_EXACT = 16  # nearest candidates re-resolved with the exact form

    def twonn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # Fast pass: the ||a||^2 - 2ab + ||b||^2 expansion (one BLAS
            # matmul) RANKS candidates; it suffers catastrophic
            # cancellation for near-duplicate vectors (abs error ~1e-13
            # in d^2 -> up to ~1e-6 in sqrt near zero, the same order as
            # the 6dp parity rounding), so the K_EXACT nearest by the
            # fast estimate are re-resolved with the direct
            # sum-of-squared-differences the oracle computes — the
            # expansion's error (<< any inter-candidate gap beyond the
            # near-dup regime) cannot eject a true top-2 from the top-16.
            d2m = (
                (bm * bm).sum(axis=1)[:, None] - 2.0 * (bm @ mat.T) + sq[None, :]
            )
            out = {"vec_id": [], "nn1_id": [], "nn2_id": [], "d1": [], "d2": []}
            batch_ids = pdf["vec_id"].to_numpy()
            for i in range(len(pdf)):
                mask = ids != batch_ids[i]
                cand_d2 = d2m[i][mask]
                cand_id = ids[mask]
                k = min(K_EXACT, len(cand_id))
                if k == 0:
                    # Singleton corpus: a point with no neighbors yields NO
                    # row — the oracle's self-join (a.vec_id <> b.vec_id)
                    # produces zero rows for n = 1, so emitting a NULL row
                    # here would hash-diverge. Crash-survival is preserved:
                    # the frame is simply empty (n=1 parity pinned in
                    # tests/test_empty_corpus.py).
                    continue
                near = np.argpartition(cand_d2, k - 1)[:k]
                diff = mat[mask][near] - bm[i][None, :]
                exact = np.round(np.sqrt((diff * diff).sum(axis=1)), 6)
                # order by (rounded exact distance, vec_id): lexsort is
                # stable, ties resolve to the lowest id — both engines agree
                order = np.lexsort((cand_id[near], exact))
                out["vec_id"].append(batch_ids[i])
                out["nn1_id"].append(cand_id[near][order[0]])
                # a 2-point corpus has no 2nd neighbor: nn2/d2 are NULL,
                # mu stays NULL, and the point drops from the MLE — the
                # same rows the oracle's MAX(CASE WHEN rn = 2 ...) yields
                has2 = len(order) > 1
                out["nn2_id"].append(cand_id[near][order[1]] if has2 else None)
                out["d1"].append(exact[order[0]])
                out["d2"].append(exact[order[1]] if has2 else None)
            yield pd.DataFrame(out)

    nn = emb.select("vec_id", "embedding").mapInPandas(
        twonn, "vec_id bigint, nn1_id bigint, nn2_id bigint, d1 double, d2 double"
    )
    # mu via the exact integer rational of the 6dp micro-unit distances
    # (see the oracle CTE comment) — no float quotient under rounding.
    mus = nn.select(
        "vec_id",
        "nn1_id",
        "nn2_id",
        "d1",
        "d2",
        F.when(
            F.col("d1") > 0,
            F.expr(
                "CAST((2 * CAST(round(d2 * 1000000) AS BIGINT) * 1000000"
                "        + CAST(round(d1 * 1000000) AS BIGINT))"
                "      DIV (2 * CAST(round(d1 * 1000000) AS BIGINT))"
                "      AS DOUBLE) / 1000000"
            ),
        ).alias("mu"),
    ).transform(materialize, "reused")  # the estimator AND the final join
    est = mus.filter(F.col("mu").isNotNull()).agg(
        F.round(
            (F.count("mu") - F.lit(1)).cast("double")
            / F.sum(F.log("mu").cast("decimal(28,18)")).cast("double"),
            6,
        ).alias("d_hat")
    )
    return mus.crossJoin(F.broadcast(est))


# ---------------------------------------------------------------------------
# X98: MMR diverse top-k selection — greedy maximal marginal relevance
# ---------------------------------------------------------------------------

MMR_K = 12  # rounds of greedy selection
MMR_LAMBDA = 0.7  # relevance-vs-diversity trade-off
_MMR_SCHEMA = (
    "rank int, vec_id bigint, relevance double, redundancy double, mmr_score double"
)


@register(
    "x98_mmr_diverse_topk",
    # Greedy argmax whose objective depends on every previously selected
    # vector -> genuinely iterative, not SQL-expressible per the Section 2.3
    # contract; pinned instead by tests/test_properties.py::
    # test_mmr_matches_local_greedy (exact numpy greedy replay) and the
    # first-pick/diversity properties in the same module.
    oracle=None,
    doc="X98: maximal-marginal-relevance diverse top-k (Carbonell & "
    "Goldstein 1998, public) — the dedup-aware selection rule curation "
    "uses to pick a small REPRESENTATIVE subset: greedily take the "
    "vector maximizing lambda*rel(v) - (1-lambda)*max_cos(v, selected), "
    "where rel is cosine to the corpus mean direction. Returns one row "
    "per selection round with the winning vec_id, its relevance, the "
    "redundancy penalty at pick time, and the MMR score. Execution is "
    "the x15 fixpoint idiom: the normalized feature table is "
    "checkpointed ONCE; each of the K rounds broadcasts the selected "
    "matrix in the kernel closure, scores the corpus partition-locally "
    "with one BLAS matmul per Arrow batch, pre-reduces to the LOCAL "
    "argmax per batch (so only n_partitions rows — each carrying its "
    "unit vector, sparing a second fetch action — reach the final 1-row "
    "TakeOrdered; tie-break score desc, vec_id asc on 6dp-rounded "
    "scores) — K tiny driver actions, no shuffle of the corpus, no "
    "growing lineage. At 100 TB each round is one scan of the cached "
    "normalized table; K bounds total work at K scans. When the table "
    "fits the driver (fits_driver) the same greedy runs driver-local "
    "on the collected matrix (K tiny-data rounds otherwise pay K job "
    "launches; 6.6 s -> ~1 s at sf0.1), "
    "path equivalence pinned in tests/test_properties.py; the local "
    "anchor is math.fsum over the 12dp-rounded components — the "
    "exactly-rounded sum, equal to the distributed DECIMAL-exact sum "
    "bit for bit.",
)
def x98_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    if fits_driver(emb):
        return _mmr_local(emb)
    return _mmr_distributed(spread(emb, "vec_id"))


def _mmr_anchor_from_units(mat) -> "np.ndarray":
    """The relevance anchor: normalized exact sum of 12dp-rounded unit
    components — Fraction arithmetic reproduces the distributed
    DECIMAL(28,18) sum exactly (both are exact sums of the same rounded
    doubles, rounded once to the nearest double at the end)."""
    import math

    import numpy as np

    r = np.round(mat, 12)
    # math.fsum is the exactly-rounded sum of doubles — identical to the
    # Fraction/DECIMAL exact sum cast once to double, at C speed.
    anchor = np.asarray(
        [math.fsum(r[:, j]) for j in range(r.shape[1])], dtype=np.float64
    )
    anchor /= max(np.linalg.norm(anchor), 1e-12)
    return anchor


def _mmr_local(emb: DataFrame) -> DataFrame:
    import numpy as np

    rows_in = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    if not rows_in:  # empty corpus: nothing to select -> empty, typed
        return local_rows(emb.sparkSession, [], _MMR_SCHEMA)
    ids = np.asarray([r["vec_id"] for r in rows_in], dtype=np.int64)
    m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows_in])
    nrm = np.linalg.norm(m, axis=1)
    nrm[nrm == 0.0] = 1.0
    m = m / nrm[:, None]
    anchor = _mmr_anchor_from_units(m)

    rel_all = m @ anchor
    selected: list[int] = []
    sel_mat = np.zeros((0, m.shape[1]), dtype=np.float64)
    out_rows = []
    # a sub-K corpus yields one row per AVAILABLE vector (both paths cap
    # identically, so the equivalence pin holds on degenerate slices too)
    for rank in range(1, min(MMR_K, len(ids)) + 1):
        red = (m @ sel_mat.T).max(axis=1) if len(sel_mat) else np.zeros(len(m))
        mmr = np.round(MMR_LAMBDA * rel_all - (1.0 - MMR_LAMBDA) * red, 6)
        keep = ~np.isin(ids, selected)
        order = np.lexsort((ids[keep], -mmr[keep]))
        i = int(np.flatnonzero(keep)[order[0]])
        selected.append(int(ids[i]))
        sel_mat = np.vstack([sel_mat, m[i][None, :]])
        out_rows.append(
            (
                rank,
                int(ids[i]),
                round(float(rel_all[i]), 6),
                round(float(red[i]), 6),
                float(mmr[i]),
            )
        )
    return local_rows(emb.sparkSession, out_rows, _MMR_SCHEMA)


def _mmr_distributed(emb: DataFrame) -> DataFrame:
    # Normalize once (unit vectors make cosine a dot product).
    def normalize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0.0] = 1.0
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "unit": list(m / nrm[:, None])}
            )

    unit = emb.select("vec_id", "embedding").mapInPandas(
        normalize, "vec_id bigint, unit array<double>"
    ).transform(materialize, "reused")  # K+1 greedy rounds read it
    first_unit = unit.select("unit").first()

    # Corpus mean direction = the relevance anchor (1-row aggregate).
    # Components go through 12dp rounding + DECIMAL(28,18) (the x20
    # convention) so the anchor is aggregation-order-exact — a plain
    # double SUM varies with partial-merge order by ~1 ulp, enough to
    # flip a 6dp-rounded score sitting on a rounding boundary and make
    # the greedy picks run-dependent.
    dim = len(first_unit["unit"])
    mean_row = unit.select(
        *[
            F.sum(F.round(F.col("unit")[i], 12).cast("decimal(28,18)"))
            .cast("double")
            .alias(f"s{i}")
            for i in range(dim)
        ],
    ).first()
    anchor = np.asarray([mean_row[f"s{i}"] for i in range(dim)], dtype=np.float64)
    anchor /= max(np.linalg.norm(anchor), 1e-12)

    selected_ids: list[int] = []
    selected_mat = np.zeros((0, dim), dtype=np.float64)
    out_rows = []
    for rank in range(1, MMR_K + 1):
        sel = selected_mat  # ride the closure (bounded: K x dim)
        sel_ids = tuple(selected_ids)

        def score(batches, _sel=sel, _ids=sel_ids):
            # Emit only the local argmax per Arrow batch (with its unit
            # vector): the driver-side reduce sees n_partitions rows, not
            # the corpus, and the winner's vector needs no second action.
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf["unit"].to_numpy())
                rel = m @ anchor
                red = (
                    (m @ _sel.T).max(axis=1)
                    if len(_sel)
                    else np.zeros(len(m))
                )
                mmr = np.round(
                    MMR_LAMBDA * rel - (1.0 - MMR_LAMBDA) * red, 6
                )
                vec_ids = pdf["vec_id"].to_numpy()
                keep = ~np.isin(vec_ids, _ids)
                if not keep.any():
                    continue
                order = np.lexsort((vec_ids[keep], -mmr[keep]))
                i = int(np.flatnonzero(keep)[order[0]])
                yield pd.DataFrame(
                    {
                        "vec_id": [vec_ids[i]],
                        "relevance": [round(float(rel[i]), 6)],
                        "redundancy": [round(float(red[i]), 6)],
                        "mmr_score": [float(mmr[i])],
                        "unit": [m[i]],
                    }
                )

        win = (
            unit.mapInPandas(
                score,
                "vec_id bigint, relevance double, redundancy double,"
                " mmr_score double, unit array<double>",
            )
            .orderBy(F.desc("mmr_score"), F.asc("vec_id"))
            .limit(1)
            .first()
        )
        if win is None:  # sub-K corpus: every vector already selected —
            break  # the local path's min(K, n) cap, expressed as exhaustion
        selected_ids.append(win["vec_id"])
        picked_unit = np.asarray(win["unit"], dtype=np.float64)
        selected_mat = np.vstack([selected_mat, picked_unit[None, :]])
        out_rows.append(
            (
                rank,
                int(win["vec_id"]),
                float(win["relevance"]),
                float(win["redundancy"]),
                float(win["mmr_score"]),
            )
        )
    return local_rows(emb.sparkSession, out_rows, _MMR_SCHEMA)


# ---------------------------------------------------------------------------
# X99: matryoshka truncation retrieval eval — top-k overlap at reduced dims
# ---------------------------------------------------------------------------

MRL_FULL_DIM = 64  # the fixture embedding width (full-fidelity baseline)
MRL_DIMS = (32, 16)  # truncated prefix lengths evaluated against the full dim
_MRL_VALUES = ", ".join(f"({d})" for d in (MRL_FULL_DIM,) + MRL_DIMS)


@register(
    "x99_matryoshka_overlap",
    oracle=f"""
WITH dims(trunc_dim) AS (VALUES {_MRL_VALUES}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, embedding FROM embeddings),
sims AS (
  SELECT q.query_id, d.trunc_dim, c.vec_id AS neighbor_id,
         {_SQL_DOT.format(a='list_slice(q.qv, 1, d.trunc_dim)', b='list_slice(c.embedding, 1, d.trunc_dim)')} /
         ({_SQL_NORM.format(v='list_slice(q.qv, 1, d.trunc_dim)')} *
          {_SQL_NORM.format(v='list_slice(c.embedding, 1, d.trunc_dim)')}) AS sim
  FROM q CROSS JOIN dims d CROSS JOIN c
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, trunc_dim, neighbor_id,
         row_number() OVER (PARTITION BY query_id, trunc_dim
                            ORDER BY round(sim, 6) DESC, neighbor_id) AS rn
  FROM sims
),
topk AS (SELECT * FROM ranked WHERE rn <= {TOP_K}),
full_set AS (SELECT query_id, neighbor_id FROM topk WHERE trunc_dim = {MRL_FULL_DIM})
SELECT t.query_id, t.trunc_dim,
       CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS overlap_at_k,
       round(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / {TOP_K}, 6) AS recall_at_k
FROM topk t
LEFT JOIN full_set f
  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
WHERE t.trunc_dim <> {MRL_FULL_DIM}
GROUP BY t.query_id, t.trunc_dim
""",
    doc="X99: matryoshka-truncation retrieval eval (Kusupati et al. 2022, "
    "public) — the embedding-pipeline question 'how much cheaper can "
    "retrieval get': for each query, exact top-k under the FULL 64-dim "
    "cosine vs top-k under the 32- and 16-dim PREFIX cosine, reporting "
    "per-(query, dim) overlap@k / recall@k. High recall at 16 dims "
    "licenses a 4x cheaper ANN index. One mapInPandas pass scores ALL "
    "dims at once (three BLAS matmuls per Arrow batch against prefix "
    "slices of the closure-borne query matrix) and pre-reduces to "
    "per-partition top-k per (query, dim) — the final window shuffle "
    "carries partitions x queries x dims x k rows, never the corpus "
    "(x03's exact-top-k-of-local-top-ks argument, per dim). The "
    "overlap join runs on queries x dims x k rows: driver-scale. Ranks "
    "tie-break on (6dp-rounded sim desc, neighbor_id) in both engines.",
)
def x99_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # bounded query set rides the closure (x03 convention)
    )
    if not qrows:  # empty corpus/slice: no queries -> empty eval, typed
        return local_rows(
            spark,
            [],
            "query_id bigint, trunc_dim int, overlap_at_k bigint, "
            "recall_at_k double",
        )
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    full_dim = qmat.shape[1]
    # the oracle interpolates MRL_FULL_DIM — a width drift would silently
    # change the contract, so fail loudly instead
    assert full_dim == MRL_FULL_DIM, (full_dim, MRL_FULL_DIM)
    all_dims = (full_dim,) + MRL_DIMS

    def score(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            frames = []
            for L in all_dims:
                qm, cm = qmat[:, :L], mat[:, :L]
                sims = np.round(
                    (cm @ qm.T)
                    / (
                        np.sqrt((cm * cm).sum(axis=1))[:, None]
                        * np.sqrt((qm * qm).sum(axis=1))[None, :]
                    ),
                    6,
                )
                n = len(pdf)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.tile(qids, n),
                            "trunc_dim": L,
                            "neighbor_id": np.repeat(
                                pdf["neighbor_id"].to_numpy(), len(qids)
                            ),
                            "sim": sims.ravel(),
                        }
                    )
                )
            cand = pd.concat(frames)
            cand = cand[cand["query_id"] != cand["neighbor_id"]]
            best = cand if best is None else pd.concat([best, cand])
            best = (
                best.sort_values(
                    ["query_id", "trunc_dim", "sim", "neighbor_id"],
                    ascending=[True, True, False, True],
                )
                .groupby(["query_id", "trunc_dim"], sort=False)
                .head(TOP_K)
            )
        if best is not None and len(best):
            yield best

    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    ).mapInPandas(
        score, "query_id bigint, trunc_dim int, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("query_id", "trunc_dim").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    topk = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "trunc_dim", "neighbor_id")
        .transform(materialize, "reused")  # full set + truncated sets
    )
    full_set = topk.filter(F.col("trunc_dim") == full_dim).select(
        F.col("query_id").alias("f_query_id"),
        F.col("neighbor_id").alias("full_neighbor"),
    )
    hit = F.when(F.col("full_neighbor").isNotNull(), 1).otherwise(0)
    return (
        topk.filter(F.col("trunc_dim") != full_dim)
        .join(
            F.broadcast(full_set),
            (F.col("query_id") == F.col("f_query_id"))
            & (F.col("neighbor_id") == F.col("full_neighbor")),
            "left",
        )
        .groupBy("query_id", "trunc_dim")
        .agg(
            F.sum(hit).cast("bigint").alias("overlap_at_k"),
            F.round(F.sum(hit) / F.lit(TOP_K), 6).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# X117 — embedding norm screen (degenerate-vector audit)
# ---------------------------------------------------------------------------


@register(
    "x117_embedding_norm_screen",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, label,
         round({_SQL_NORM.format(v='embedding')}, 6) AS l2_norm
  FROM embeddings
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         round(CAST(SUM(CAST(l2_norm AS DECIMAL(28,6))) AS DOUBLE)
               / count(*), 6) AS mean_norm
  FROM norms
),
s AS (
  SELECT round(sqrt(CAST(SUM(CAST((l2_norm - m.mean_norm) * (l2_norm - m.mean_norm)
                                  AS DECIMAL(28,18))) AS DOUBLE) / m.n), 6) AS std_norm
  FROM norms CROSS JOIN m GROUP BY m.n
)
SELECT norms.vec_id, norms.label, norms.l2_norm,
       CASE WHEN s.std_norm = 0 THEN 0.0
            ELSE round((norms.l2_norm - m.mean_norm) / s.std_norm, 6)
       END AS z_score,
       CASE WHEN s.std_norm = 0 THEN 'ok'
            WHEN abs(CAST(round((norms.l2_norm - m.mean_norm)
                                / s.std_norm * 1000000) AS BIGINT)) > 3000000
            THEN 'outlier' ELSE 'ok' END AS norm_flag
FROM norms CROSS JOIN m CROSS JOIN s
""",
    doc="X117: embedding NORM screen — the degenerate-vector audit run "
    "before any embedding-based dedup/ANN/clustering: per-vector L2 "
    "norm, its z-score against the corpus distribution, and an "
    "|z| > 3 outlier flag. Near-zero norms are encoder failures that "
    "make cosine meaningless; extreme norms dominate un-normalized "
    "dot products — both silently poison x03/x36-style pipelines. "
    "Determinism: the norm is a fixed-order fold over the array "
    "(identical in both engines, the x03 convention) rounded to 6dp; "
    "mean and variance go through DECIMAL two-pass (never a one-pass "
    "E[x^2]-E[x]^2, which cancels catastrophically), z is 6dp and the "
    "flag compares the ROUNDED z; a constant-norm corpus (std 0 — "
    "unit-normalized embeddings, the fixture case) defines z = 0 with "
    "nothing flagged, decided by an exact compare on the rounded std. "
    "Scale: one scan computes norms "
    "(embeddings never shuffle), two scalar aggregates broadcast back "
    "— the audit costs two reductions however many vectors.",
)
def x117_embedding_norm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        ),
        6,
    )
    # mean, std, and the final projection all read it
    norms = materialize(e.select("vec_id", "label", norm.alias("l2_norm")), "reused")
    m = norms.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(
            F.sum(F.col("l2_norm").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_norm"),
    )
    dev = (F.col("l2_norm") - F.col("mean_norm")) * (
        F.col("l2_norm") - F.col("mean_norm")
    )
    s = (
        norms.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(dev.cast("decimal(28,18)")).cast("double") / F.col("n")
                ),
                6,
            ).alias("std_norm")
        )
        .select("std_norm")
    )
    # a constant-norm corpus (e.g. unit-normalized embeddings, the fixture
    # case) has std 0: z is defined as 0 and nothing flags — the guard is an
    # exact compare on the ROUNDED std in both engines (no ANSI div-by-zero)
    zero = F.col("std_norm") == 0.0
    z = F.when(zero, F.lit(0.0)).otherwise(
        F.round((F.col("l2_norm") - F.col("mean_norm")) / F.col("std_norm"), 6)
    )
    return (
        norms.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            "label",
            "l2_norm",
            z.alias("z_score"),
            # |z| in exact micro-units vs the integer 3e6 threshold —
            # no float-literal compare (round-7 risk burn-down)
            F.when(zero, "ok")
            .when(
                F.abs(
                    F.expr(
                        "CAST(round((l2_norm - mean_norm) / std_norm"
                        " * 1000000) AS BIGINT)"
                    )
                )
                > 3000000,
                "outlier",
            )
            .otherwise("ok")
            .alias("norm_flag"),
        )
    )


# ---------------------------------------------------------------------------
# X144 — margin-based bitext mining (Artetxe & Schwenk 2019, public)
# ---------------------------------------------------------------------------

BITEXT_SRC_LANG = "en"
BITEXT_TGT_LANG = "fr"
BITEXT_K = 4  # neighborhood size for the margin denominator
BITEXT_MARGIN = 1  # keep mutual-best pairs whose ratio margin exceeds this


@register(
    "x144_margin_bitext_mining",
    oracle=f"""
WITH src AS (
  SELECT e.vec_id AS src_id, e.embedding AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.lang = '{BITEXT_SRC_LANG}'
),
tgt AS (
  SELECT e.vec_id AS tgt_id, e.embedding AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.lang = '{BITEXT_TGT_LANG}'
),
pairs AS (
  SELECT s.src_id, t.tgt_id,
         round({_SQL_DOT.format(a='s.v', b='t.v')} /
               ({_SQL_NORM.format(v='s.v')} * {_SQL_NORM.format(v='t.v')}),
               6) AS cos6
  FROM src s CROSS JOIN tgt t
),
nn_src AS (
  SELECT src_id,
         CAST(SUM(CAST(cos6 AS DECIMAL(18,6))) AS DOUBLE) AS s_sum
  FROM (
    SELECT src_id, cos6,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos6 DESC, tgt_id) AS rn
    FROM pairs
  ) WHERE rn <= {BITEXT_K} GROUP BY src_id
),
nn_tgt AS (
  SELECT tgt_id,
         CAST(SUM(CAST(cos6 AS DECIMAL(18,6))) AS DOUBLE) AS t_sum
  FROM (
    SELECT tgt_id, cos6,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos6 DESC, src_id) AS rn
    FROM pairs
  ) WHERE rn <= {BITEXT_K} GROUP BY tgt_id
),
scored AS (
  SELECT p.src_id, p.tgt_id, p.cos6,
         CAST(CAST(round(p.cos6 * 1000000) AS BIGINT) * {2 * BITEXT_K}
                   * 1000000
              // (CAST(round(n1.s_sum * 1000000) AS BIGINT)
                  + CAST(round(n2.t_sum * 1000000) AS BIGINT))
              AS DOUBLE) / 1000000 AS margin
  FROM pairs p
  JOIN nn_src n1 USING (src_id)
  JOIN nn_tgt n2 USING (tgt_id)
),
best AS (
  SELECT *,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY margin DESC, tgt_id) AS r_src,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY margin DESC, src_id) AS r_tgt
  FROM scored
)
SELECT src_id, tgt_id, cos6 AS cosine_sim, margin
FROM best
WHERE r_src = 1 AND r_tgt = 1 AND margin > {BITEXT_MARGIN}
""",
    doc="X144: MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019; the "
    "LASER/CCMatrix parallel-corpus recipe, public) — mine translation "
    "pairs between the en and fr slices of the corpus: the ratio margin "
    "cos(x,y) / mean(k-NN cosines of both sides) demotes hub vectors "
    "that raw cosine over-selects, and only MUTUAL best-margin pairs "
    "above the threshold survive. Determinism: cosines 6dp-rounded at "
    "the kernel (the x02d parity precedent), k-NN denominators are "
    "DECIMAL sums of rounded values under (cos desc, id) tie-break, "
    "margins re-rounded before the mutual argmax. Plan: the tgt slice "
    "rides the kernel closure (minority-language side, bounded — the "
    "x02d broadcast pattern) and each src Arrow batch is ONE BLAS "
    "matmul; everything after the kernel is relational (two top-k "
    "windows, two joins, mutual filter). At 100 TB both sides are "
    "first blocked by x03b's LSH buckets so only intra-bucket pairs "
    "are scored — the same margin algebra per bucket.",
)
def x144_margin_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sides = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    tgt = (
        sides.filter(F.col("lang") == BITEXT_TGT_LANG)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if not tgt:
        # empty target-language slice is valid input (the oracle's CROSS
        # JOIN just yields zero pairs); np.stack on [] would raise instead
        return local_rows(
            spark,
            [],
            "src_id bigint, tgt_id bigint, cosine_sim double, margin double",
        )
    tids = np.asarray([r["vec_id"] for r in tgt], dtype=np.int64)
    tmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in tgt])
    tunit = tmat / np.linalg.norm(tmat, axis=1, keepdims=True)

    def pairs_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(unit @ tunit.T, 6)  # (n_src_batch, n_tgt)
            ids = pdf["src_id"].to_numpy().astype(np.int64)
            n, m = sims.shape
            yield pd.DataFrame(
                {
                    "src_id": np.repeat(ids, m),
                    "tgt_id": np.tile(tids, n),
                    "cos6": sims.ravel(),
                }
            )

    pairs = (
        sides.filter(F.col("lang") == BITEXT_SRC_LANG)
        .select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("v"))
        .mapInPandas(pairs_kernel, "src_id bigint, tgt_id bigint, cos6 double")
        .transform(materialize, "reused")  # three downstream readers
    )
    w_s = Window.partitionBy("src_id").orderBy(F.col("cos6").desc(), "tgt_id")
    nn_src = (
        pairs.withColumn("rn", F.row_number().over(w_s))
        .filter(F.col("rn") <= BITEXT_K)
        .groupBy("src_id")
        .agg(F.sum(F.col("cos6").cast("decimal(18,6)")).cast("double").alias("s_sum"))
    )
    w_t = Window.partitionBy("tgt_id").orderBy(F.col("cos6").desc(), "src_id")
    nn_tgt = (
        pairs.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= BITEXT_K)
        .groupBy("tgt_id")
        .agg(F.sum(F.col("cos6").cast("decimal(18,6)")).cast("double").alias("t_sum"))
    )
    scored = (
        pairs.join(F.broadcast(nn_src), "src_id")
        .join(F.broadcast(nn_tgt), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos6",
            # integer-space margin (risk burn-down): cos6 and both k-NN
            # denominators are exact e6 multiples, so the ratio margin is
            # a pure integer rational — micro-unit DIV, then one IEEE
            # division by 1e6 on identical integers in both engines; no
            # float division at the ranking/threshold boundary
            (
                F.expr(
                    f"CAST(round(cos6 * 1000000) AS BIGINT) * {2 * BITEXT_K}"
                    f" * 1000000"
                    f" DIV (CAST(round(s_sum * 1000000) AS BIGINT)"
                    f" + CAST(round(t_sum * 1000000) AS BIGINT))"
                ).cast("double")
                / 1000000
            ).alias("margin"),
        )
    )
    # Round-10 optimization: the mutual-best filter ran as TWO row_number
    # windows over the full src x tgt pair table (each an exchange + sort
    # of every scored pair). rank==1 is an argmax: min(struct(-margin,
    # tie_id, ...)) per side is the identical selection (margin DESC, then
    # id ASC — struct ordering; the (-margin, id) prefix is unique per
    # group, so the carried cos6/margin fields never tip a comparison and
    # -margin negates a double exactly). Two map-side-combinable hash
    # aggregates + one keys-only join replace the two full-table sorts.
    # NULL margins (a zero k-NN denominator) map to +inf so they sort
    # LAST exactly like the window's DESC NULLS LAST — they must not
    # steal the argmax from a real row (they could not survive the
    # margin > threshold filter, but the row they displaced could have).
    # Both argmax passes recompute `scored` from the checkpointed pair
    # table — the margin projection + two broadcast joins are cheap
    # codegen, and NOT materializing the src x tgt scored table (a lazy
    # checkpoint here measured slower: 9M-row block-manager writes for a
    # projection that costs less to redo).
    neg_or_inf = lambda c: F.coalesce(-c, F.lit(float("inf")))  # noqa: E731
    best_src = (
        scored.groupBy("src_id")
        .agg(
            F.min(
                F.struct(
                    neg_or_inf(F.col("margin")).alias("nm"),
                    F.col("tgt_id").alias("tgt_id"),
                    F.col("cos6").alias("cos6"),
                    F.col("margin").alias("margin"),
                )
            ).alias("m")
        )
        .select(
            "src_id", F.col("m.tgt_id").alias("tgt_id"),
            F.col("m.cos6").alias("cos6"), F.col("m.margin").alias("margin"),
        )
    )
    best_tgt = (
        scored.groupBy("tgt_id")
        .agg(
            F.min(
                F.struct(
                    neg_or_inf(F.col("margin")).alias("nm"),
                    F.col("src_id").alias("src_id"),
                )
            ).alias("m")
        )
        .select(F.col("m.src_id").alias("src_id"), "tgt_id")
    )
    return (
        best_src.join(best_tgt, ["src_id", "tgt_id"])  # mutual best only
        .filter(F.col("margin") > BITEXT_MARGIN)
        .select("src_id", "tgt_id", F.col("cos6").alias("cosine_sim"), "margin")
    )


# ---------------------------------------------------------------------------
# X153 / X155 — kNN-distance outlier screen and kNN label-consistency screen
# over a bounded probe sample (the audit-sample pattern: x02g/x03 shape)
# ---------------------------------------------------------------------------

X15X_N_PROBES = 32  # probe sample: vec_id < 32 (bounded by construction)
X15X_K = 10  # neighbors per probe
X15X_MARGIN_E6 = 30000  # outlier if mean kNN dist exceeds probe mean by 0.03

_X15X_KNN_SQL = f"""
q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qv
      FROM embeddings WHERE vec_id < {X15X_N_PROBES}),
c AS (SELECT vec_id, embedding, label FROM embeddings),
sims AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         CAST(round({_SQL_DOT.format(a='q.qv', b='c.embedding')} /
              ({_SQL_NORM.format(v='q.qv')} *
               {_SQL_NORM.format(v='c.embedding')}) * 1000000) AS BIGINT)
           AS sim_e6
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim_e6 DESC, neighbor_id) AS rn
  FROM sims
),
knn AS (SELECT * FROM ranked WHERE rn <= {X15X_K})
"""


def _probe_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN of the bounded probe sample against the full corpus.

    The x03 kernel, re-parameterized for audit screens: the probe matrix
    (X15X_N_PROBES x 64 doubles) rides the UDF closure, the corpus scan
    stays partition-local with ONE BLAS matmul per Arrow batch, each
    partition emits only its top-k per probe, and the final window
    shuffle carries partitions x probes x k rows — never corpus x probes.
    Similarities leave the kernel as e6 micro-unit INTEGERS (np.rint of
    sim*1e6, matching the oracle's round(sim*1e6)), so every downstream
    mean/threshold is exact integer arithmetic in both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    prows = (
        emb.filter(F.col("vec_id") < X15X_N_PROBES)
        .select("vec_id", "label", "embedding")
        .collect()  # bounded by construction: X15X_N_PROBES rows
    )
    schema = (
        "query_id bigint, q_label int, neighbor_id bigint, "
        "neighbor_label int, sim_e6 bigint"
    )
    if not prows:
        return local_rows(spark, [], schema)
    qids = np.asarray([r["vec_id"] for r in prows], dtype=np.int64)
    qlabels = np.asarray([r["label"] for r in prows], dtype=np.int32)
    qmat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in prows])
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            sims = (mat @ qmat.T) / (
                np.sqrt((mat * mat).sum(axis=1))[:, None] * qnorm[None, :]
            )
            sim_e6 = np.rint(sims * 1e6).astype(np.int64)
            n = len(pdf)
            cand = pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "q_label": np.tile(qlabels, n),
                    "neighbor_id": np.repeat(pdf["neighbor_id"].to_numpy(), len(qids)),
                    "neighbor_label": np.repeat(
                        pdf["neighbor_label"].to_numpy(), len(qids)
                    ),
                    "sim_e6": sim_e6.ravel(),
                }
            )
            cand = cand[cand["query_id"] != cand["neighbor_id"]]
            best = cand if best is None else pd.concat([best, cand])
            best = (
                best.sort_values(
                    ["query_id", "sim_e6", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(X15X_K)
            )
        if best is not None and len(best):
            yield best

    cands = _labelled_vectors(emb).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_e6").desc(), F.col("neighbor_id")
    )
    return cands.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= X15X_K
    )


@register(
    "x153_knn_distance_outliers",
    oracle=f"""
WITH {_X15X_KNN_SQL},
per AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_neighbors,
         CAST((count(*) * 1000000 - SUM(sim_e6)) // count(*) AS BIGINT)
           AS mean_knn_dist_e6
  FROM knn GROUP BY query_id
),
m AS (SELECT CAST(SUM(mean_knn_dist_e6) // count(*) AS BIGINT)
        AS probe_mean_e6 FROM per)
SELECT per.query_id, per.n_neighbors, per.mean_knn_dist_e6, m.probe_mean_e6,
       CASE WHEN per.mean_knn_dist_e6 > m.probe_mean_e6 + {X15X_MARGIN_E6}
            THEN 'outlier' ELSE 'ok' END AS dist_flag
FROM per CROSS JOIN m
""",
    doc="X153: kNN-DISTANCE outlier screen — the embedding-space quality "
    "filter x117 (norms) cannot express: a vector far from even its "
    f"nearest {X15X_K} neighbors is an encoder failure or out-of-"
    "distribution junk that SemDeDup-style clustering (x36) silently "
    "absorbs. Run over a bounded probe sample (vec_id < "
    f"{X15X_N_PROBES}) against the FULL corpus — the x02g audit-sample "
    "pattern, constant cost at any corpus size: the probe matrix rides "
    "the closure, the corpus is streamed once partition-local (one "
    "BLAS matmul per Arrow batch), and per-partition top-k pruning "
    "means the shuffle carries partitions x probes x k rows. Mean kNN "
    "cosine DISTANCE per probe in e6 micro-units (exact integer DIV), "
    "flagged against the probe-set mean + margin — all arithmetic "
    "integer-exact in both engines after the single e6 rounding at "
    "the kernel boundary (the x03 convention).",
)
def x153_knn_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = _probe_knn(spark, sf_dir)
    per = (
        knn.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum("sim_e6").cast("bigint").alias("sum_sim_e6"),
        )
        .select(
            "query_id",
            "n_neighbors",
            F.expr(
                "CAST((n_neighbors * 1000000 - sum_sim_e6) DIV n_neighbors"
                " AS BIGINT)"
            ).alias("mean_knn_dist_e6"),
        )
    )
    m = per.agg(
        F.expr("CAST(SUM(mean_knn_dist_e6) DIV count(*) AS BIGINT)").alias(
            "probe_mean_e6"
        )
    )
    return per.crossJoin(F.broadcast(m)).select(
        "query_id",
        "n_neighbors",
        "mean_knn_dist_e6",
        "probe_mean_e6",
        F.when(
            F.col("mean_knn_dist_e6")
            > F.col("probe_mean_e6") + F.lit(X15X_MARGIN_E6),
            F.lit("outlier"),
        )
        .otherwise(F.lit("ok"))
        .alias("dist_flag"),
    )


@register(
    "x155_knn_label_consistency",
    oracle=f"""
WITH {_X15X_KNN_SQL},
per AS (
  SELECT query_id, any_value(q_label) AS label,
         CAST(count(*) AS BIGINT) AS n_neighbors,
         CAST(SUM(CASE WHEN neighbor_label = q_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM knn GROUP BY query_id
)
SELECT query_id, label, n_neighbors, n_agree,
       CAST(n_agree * 1000000 // n_neighbors AS BIGINT) AS consistency_e6,
       CASE WHEN 3 * n_agree < n_neighbors THEN 'suspect' ELSE 'ok' END
         AS label_flag
FROM per
""",
    doc="X155: kNN LABEL-CONSISTENCY screen — confident-learning-lite "
    "label-noise detection over the embeddings table's label column: a "
    f"point whose {X15X_K} nearest neighbors mostly carry a DIFFERENT "
    "label is a likely annotation error (or a class-boundary hard "
    "example — either way the row a curation pass reviews before "
    "training a classifier like x91 on it). Shares x153's bounded-"
    "probe exact-kNN kernel (same closure matmul, same partition-local "
    "top-k pruning, same e6 integer boundary), so the screen costs one "
    "corpus scan regardless of corpus size; agreement and the "
    "suspect flag (agreement < 1/3) are pure integer arithmetic.",
)
def x155_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = _probe_knn(spark, sf_dir)
    per = knn.groupBy("query_id").agg(
        F.any_value("q_label").alias("label"),
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.sum(
            F.when(F.col("neighbor_label") == F.col("q_label"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_agree"),
    )
    return per.select(
        "query_id",
        "label",
        "n_neighbors",
        "n_agree",
        F.expr("CAST(n_agree * 1000000 DIV n_neighbors AS BIGINT)").alias(
            "consistency_e6"
        ),
        F.when(F.col("n_agree") * 3 < F.col("n_neighbors"), F.lit("suspect"))
        .otherwise(F.lit("ok"))
        .alias("label_flag"),
    )
