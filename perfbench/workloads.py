"""Workload definitions for the benchmark.

Each workload names the registry keys it calls and how one client calls
them. The seed passed to ``run.py`` fixes only the order of the calls;
the program sees nothing but ``Query.fn(spark, sf_dir)`` plus an action.

A key's layer is its ``Query.fn.__module__`` without the package prefix, so
a key added to a list below is attributed to its module with no other edit.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    """One client runs whole passes over the keys in seeded order.
    ``loop="board"``: a pass is one refresh of the board; every result is
    collected, always over the same tables. ``loop="batch"``: each key goes
    to the noop sink, and each pass reads a fresh copy of the tables under
    a new path."""

    name: str
    loop: str
    keys: tuple[str, ...]
    # board_poll draws r14 three times in every round of seven requests.
    weights: tuple[int, ...] | None = None
    why: str = ""

    def slots(self) -> list[str]:
        """The keys of one pass (one board refresh), repeated by weight."""
        weights = self.weights or (1,) * len(self.keys)
        return [k for k, n in zip(self.keys, weights) for _ in range(n)]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="board_poll",
            loop="board",
            keys=(
                "r14_conditions_board",
                "r01_open_meteo_geocode",
                "r02_open_meteo_forecast",
                "r07_code_to_text_dim_join",
                "x139_haversine_nearest_station",
            ),
            weights=(3, 1, 1, 1, 1),
            why=(
                "The reference's own job: many users poll a small board over "
                "unchanged input, so per-request fixed costs dominate "
                "(driver planning, job scheduling, the Python DataSource)."
            ),
        ),
        Workload(
            name="batch_mix",
            loop="batch",
            keys=(
                "s04_star_join_revenue",
                "s61_q2_min_cost_supplier",
                "s14e_stateful_running_totals",
                "s02_parquet_sink_roundtrip",
                "x21_corpus_pipeline",
                "x36_semantic_dedup",
                "x03_cosine_topk",
                "x04b_tfidf_top_terms",
                "x143_gopher_dup_ngrams",
            ),
            why=(
                "Batch passes that reach every layer board_poll bypasses: "
                "shuffle joins and TPC-H queries, a stateful stream and a "
                "parquet sink (writes beside reads), and the LLM-data path "
                "of Arrow and Python UDFs, array shuffles and eager driver "
                "work."
            ),
        ),
    )
}

# Every module layer a workload key can land in, plus the two layers that
# are not query modules: ``session`` (start-up and table loads) and
# ``spark`` (the engine below the package).
LAYERS = (
    "flagship",
    "functions.weather",
    "sources.open_meteo",
    "operators.relational",
    "operators.tpch_extra",
    "operators.parity_extras",
    "operators.scalar_functions",
    "operators.dedup",
    "operators.similarity",
    "operators.text_analysis",
    "operators.corpus_stats",
    "operators.corpus_pipeline",
    "streaming.pipeline",
)

PACKAGE = "presto_weather_spark"


def layer_of(fn) -> str:
    """The layer a query function belongs to: its module, package stripped."""
    return fn.__module__.removeprefix(PACKAGE + ".")
