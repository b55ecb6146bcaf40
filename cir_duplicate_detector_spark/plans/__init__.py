"""Query registry exposed through ``__spark_entry__``.

``ALL_QUERIES``: name -> (spark_callable(spark, sf_dir) -> DataFrame,
duckdb_oracle_sql | None), in registration order.
"""

from __future__ import annotations

from .core_queries import CORE_QUERIES
from .extension_queries import EXTENSION_QUERIES

ALL_QUERIES: dict[str, tuple] = {**CORE_QUERIES, **EXTENSION_QUERIES}

# Guard: each streaming / round-trip query must answer the SAME
# question as its batch twin — they share one oracle string by
# construction, and an edit that decouples them should fail loudly
# here, not silently weaken the streaming check. A pair naming an
# unregistered query fails too, so deleting a query cannot leave a
# stale pair that checks nothing.
for _batch, _streaming in [
    ("bloom_dedup", "bloom_dedup_streaming"),
    ("dedup_lsh_screen", "dedup_lsh_screen_streaming"),
    ("corpus_upsert", "corpus_upsert_streaming"),
    # index round-trip is identity: the persisted-and-reread index
    # must answer the same question as the in-session one.
    ("dedup_lsh_screen", "lsh_index_roundtrip"),
    ("bloom_dedup", "bloom_index_roundtrip"),
    # merged index shards == the one-shot index (distinct-of-union):
    ("dedup_lsh_screen", "lsh_index_merge"),
    ("sentence_screen", "sentence_screen_streaming"),
    ("dup_labels_upsert", "dup_labels_upsert_streaming"),
    ("dup_labels_upsert", "dup_labels_roundtrip"),
]:
    assert _batch in ALL_QUERIES and _streaming in ALL_QUERIES, (
        f"twin pair ({_batch}, {_streaming}) names an unregistered query"
    )
    assert ALL_QUERIES[_batch][1] == ALL_QUERIES[_streaming][1], (
        f"{_streaming} oracle diverged from {_batch}; batch and "
        "streaming twins must share one oracle string"
    )
