"""Workload definitions: which registry queries one pass runs.

Why each workload exists is written in BENCHMARK.json and README.md. A
layer is the module that defines a query (``QUERIES[name].fn``), named
without the package prefix, so ``functions.dedup`` is
``parallel_mapreduce_spark/functions/dedup.py``.
"""

from __future__ import annotations

PACKAGE = "parallel_mapreduce_spark."

# Row counts of the generated tables. Documents, embeddings and events
# have the test fixtures' sf0.1 shape: at sf0.01 the dedup self-join's
# share of a pass falls from 35% to 26% and the stateful stream's from 31%
# to 23%. The TPC-H tables keep their sf0.01 shape, at which the TPC-H
# layers keep their share (README.md, "Scale").
SCALE = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# Each workload keeps the cheapest representative query of each of its
# layers: a run pays ~21 s of fixed set-up and teardown, and the whole
# suite of runs has a fixed time budget (README.md, "Sizing").
WORKLOADS: dict[str, tuple[str, ...]] = {
    # The batch layers: the paper's word count through the RDD veneer and
    # as a DataFrame, the dedup self-join, a corpus pipeline, bulk cosine
    # top-k, codegen'd TPC-H work, an as-of join and an ORC round-trip.
    # No streaming query.
    "batch_etl": (
        "mr_wordcount",
        "wordcount",
        "neardup_jaccard_pairs",
        "pipeline_training_mix",
        "cosine_topk",
        "q3_top_revenue",
        "q13_order_count_distribution",
        "asof_purchase_attribution",
        "orc_roundtrip_lineitem_stats",
    ),
    # The streaming layers, each draining the events table through
    # micro-batches: event-time windows, per-user state and a
    # stream-stream join. Streaming kNN serving is left out (README.md,
    # "Sizing").
    "event_streams": (
        "stream_events_hourly",
        "stream_user_totals",
        "stream_click_attribution",
    ),
}

# The modules defining the queries above; each gets the per-layer fields.
QUERY_LAYERS = (
    "mr",
    "functions.text",
    "functions.dedup",
    "functions.pipeline",
    "functions.similarity",
    "operators.relational",
    "operators.tpch_gaps",
    "operators.timeseries",
    "sources.roundtrip",
    "streaming.events_stream",
    "streaming.joins_stream",
    "streaming.stateful",
)
