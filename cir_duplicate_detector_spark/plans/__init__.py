"""Query registry exposed through ``__spark_entry__``.

``ALL_QUERIES``: name -> (spark_callable(spark, sf_dir) -> DataFrame,
duckdb_oracle_sql | None), in registration order.
"""

from __future__ import annotations

from .core_queries import CORE_QUERIES
from .extension_queries import EXTENSION_QUERIES

ALL_QUERIES: dict[str, tuple] = {**CORE_QUERIES, **EXTENSION_QUERIES}
