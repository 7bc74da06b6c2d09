"""Benchmark workloads: which registered queries run, and in what order.

Each workload is a fixed list of oracle-registered queries from
``apache_flink_spark.queries.QUERIES``. The seed only permutes the order of
the queries inside each pass; the inputs (the fixture tables under
``perfbench/data``) are the same for every seed.

Two workloads, because every run pays a fresh JVM, a warm pass and an
oracle check, and the benchmark's time budget fits no more. Between them
they cover every layer the per-layer trace reports:

- ``batch``: two Catalyst-native TPC-H/TPC-DS shapes (planning, a nine-way
  join, semi/anti joins, shuffle) and two batch MATCH_RECOGNIZE queries on
  the ``applyInPandas`` kernel (Python workers): one with own-row DEFINEs
  only and one with a cross-variable ``LAST`` bind. Nothing streams.
- ``stream``: the streaming NFA matcher (``streaming/match_stream.py``) and
  the session-window operator (``streaming/stateful.py``), both on
  ``applyInPandasWithState``: Python workers inside micro-batch triggers,
  state-store commits, results flushed when the watermark advances. The
  matcher drains into a memory table; the session operator drains through
  the parquet changelog upsert log and its compaction. The two queries cost
  about the same, so the pooled percentiles fall inside one mode.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, list[str]] = {
    "batch": [
        "q21_sole_blame_supplier",
        "ds_q72_inventory_promo_nine_join",
        "mr_quantifier_plus",
        "mr_cross_define_last",
    ],
    "stream": [
        "mr_stream_prev_nav",
        "stream_session_agg",
    ],
}


def pass_orders(workload: str, seed: int):
    """Yield one seeded permutation of the workload's queries per pass."""
    rng = random.Random(f"{workload}:{seed}")
    queries = list(WORKLOADS[workload])
    while True:
        rng.shuffle(queries)
        yield list(queries)
