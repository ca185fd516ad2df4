"""The benchmark's workloads: which registry queries and streaming twins a
pass runs, which generated tables they read, and at what scale.

A pass runs every batch query to completion through the ``noop`` sink,
then drains every streaming twin to termination. The two workloads split
the engine's layers so a change shows on the workload it should move:

- ``warehouse_events`` is scan- and planning-bound: many ``load_table``
  calls, 5-7-table joins, short scans and broadcast joins over the star
  schema, then the tumbling-window operator runs twice, as a batch query
  and as a streaming twin, so a gain for one use that costs the other
  shows. The streaming twin is the only micro-batch work.
- ``documents`` is shuffle- and memo-bound: near-dup self-joins, memos
  shared between queries (the Jaccard pairs feed connected components),
  persisted indexes and Arrow Python workers; ``load_table`` costs little.

Each run starts a fresh JVM, whose cold check pass dominates a run's
wall time, so the star schema and the events share one workload rather
than paying that start-up twice, and the query lists are cut to what a
run can afford.
"""

from __future__ import annotations

from dataclasses import dataclass

STAR = ("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem")
#: generated rows relative to the reference sf0.1 fixture, sized so that a
#: run of either workload takes about a minute
SCALE = 0.1


@dataclass(frozen=True)
class Twin:
    """A streaming twin: the ``streaming.ops`` function applied to the
    events file stream, and the batch query whose finalized windows it
    must reproduce."""
    name: str
    batch: str


@dataclass(frozen=True)
class Workload:
    batch: tuple[str, ...]
    twins: tuple[Twin, ...]
    tables: tuple[str, ...]
    #: fewest timed passes a run makes, however long they take
    min_passes: int = 1


WORKLOADS: dict[str, Workload] = {
    "warehouse_events": Workload(
        batch=(
            "q1_pricing_summary", "q3_shipping_priority",
            "q5_local_supplier_volume", "q6_forecast_revenue",
            "q8_market_share", "q13_order_count_histogram",
            "q21_waiting_suppliers", "join_left_order_counts",
            "window_topk_orders_per_customer", "sort_customers_multi",
            # events_sessionize stays out while its whole-second gap test
            # disagrees with the oracle's fractional one (a 1800.069 s gap
            # splits a session only in DuckDB; CHANGES.md has a reproducer)
            "events_tumbling_hourly", "events_user_features",
        ),
        twins=(Twin("stream_tumbling_counts", "events_tumbling_hourly"),),
        tables=STAR + ("events",),
        # many short jobs: the noisiest per pass, so two passes a run
        min_passes=2,
    ),
    "documents": Workload(
        batch=(
            "wordcount_documents", "dedup_exact_documents",
            "dedup_ngram_jaccard", "dedup_minhash_lsh", "simhash_dedup",
            "dedup_connected_components", "text_char_trigram_profile",
            "tfidf_top_terms", "winnowing_fingerprints",
            "langid_confusion_matrix", "knn_bruteforce_cosine",
            "pandas_udf_norms", "multimodal_decode_stub",
        ),
        twins=(),
        tables=("documents", "embeddings"),
    ),
}
