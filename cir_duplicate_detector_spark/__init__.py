"""cir_duplicate_detector_spark — PySpark-native duplicate-detection engine.

A from-scratch Spark implementation of the query semantics of
Centre-for-Information-Resilience/cir-duplicate-detector (reference at
``cir_duplicate_detector/__init__.py:11-118``): annotate every entry of a
table with (a) other entries whose normalized URL is identical and
(b) other entries whose 256-bit PDQ perceptual hash is within a Hamming
similarity threshold — plus the large-scale training-data-pipeline
extensions (text dedup, text analysis, PDQ hashing of image pixels) the
reference does not have. The extension modules live under
``cir_duplicate_detector_spark.operators`` and are imported on demand;
importing the package loads only the detector.

Each detector call is one lazy SQL statement (``operators/statement.py``);
the only eager steps are the optional input validation (`validate=True`),
mirroring the reference's eager ValueError behavior, and the documented
auto-tuning scans. The validation action runs on its own thread while the
statement builds; the call returns only once it has finished.
"""

from __future__ import annotations

import warnings

from pyspark import InheritableThread
from pyspark.sql import DataFrame

from .functions.hashes import (
    calculate_absolute_threshold,
    chunks_hamming,
    hamming_distance,
    hex_to_binary,
    hex_to_bits,
    hex_to_chunks,
)
from .cache import materialize, release_cached
from .compat import PDQHashTree, run_in_parallel
from .functions.url import extract_base_url, normalize_url
from .operators.pdq import (
    add_pdq_duplicates,
    drop_literal_series_duplicates,
    find_pdq_hash_duplicates,
    get_pdq_fuzzy_duplicates,
    resolve_plan,
)
from .operators.probes import Probe
from .operators.statement import Statement
from .operators.url_dedup import add_url_groups, find_url_duplicates

__version__ = "0.1.0"

__all__ = [
    # reference API surface (SURVEY §2.6)
    "detect_duplicates",
    "find_url_duplicates",
    "find_pdq_hash_duplicates",
    "get_pdq_fuzzy_duplicates",
    "normalize_url",
    "extract_base_url",
    "hamming_distance",
    "hex_to_binary",
    "hex_to_chunks",
    "hex_to_bits",
    "chunks_hamming",
    "calculate_absolute_threshold",
    "drop_literal_series_duplicates",
    # reference execution-harness shims (raise with guidance)
    "PDQHashTree",
    "run_in_parallel",
    # lifetime control + crawl helpers
    "materialize",
    "release_cached",
]


def detect_duplicates(
    df: DataFrame,
    indexes_to_check: list[str] | DataFrame | None = None,
    pqd_hash_similarity_threshold: float = 0.8,
    pdq_duplicate_detection_method: str = "naive",
    validate: bool = True,
    max_hex_len: int | None = 64,
) -> DataFrame:
    """Composite duplicate annotation (reference ``__init__.py:11-118``).

    ``df`` must carry a unique ``index`` string column plus at least one
    of ``url`` / ``pdq_hash``. Returns only rows having at least one
    duplicate; output columns are ``index`` plus whichever of
    ``url_duplicates`` / ``pdq_hash_duplicates`` / ``pdq_hash_similarities``
    the available inputs produce. Parameter names (including the
    reference's ``pqd_`` misspelling) and defaults (t=0.8, "naive")
    replicate the reference API (SURVEY §2.6).

    ``validate=True`` runs one eager guard action (a fused index-uniqueness
    and emptiness aggregate) with the reference's ValueError/warning.
    The action runs concurrently with the statement build, and the call
    waits for it; its ValueError wins over any error of the build (an
    invalid threshold, say). Pass ``False`` to keep the plan fully lazy
    on very large inputs.

    ``indexes_to_check`` may be a list (one bound array parameter — the
    reference shape, for small probe sets) or a DataFrame (a broadcast
    semi-join — for probe sets that are query outputs; see
    :mod:`operators.probes`).

    ``max_hex_len`` defaults to ``64`` (standard 256-bit PDQ hashes) so
    no hash-length detection scan runs; longer hashes raise at row time
    under the default — pass their length, or ``None`` to auto-detect
    (see :func:`operators.pdq.find_pdq_hash_duplicates`).

    The url and pdq layers compose into ONE SQL statement: the two
    results meet in a full outer join on ``index`` (both emit at most
    one row per index under the uniqueness the guard enforces), and a
    DataFrame probe set is evaluated once for both layers.
    """
    cols = df.columns
    has_url = "url" in cols
    has_pdq = "pdq_hash" in cols
    if not has_url and not has_pdq:
        raise ValueError(
            "dataframe needs a `url` and/or `pdq_hash` column to detect duplicates"
        )
    if "index" not in cols:
        raise ValueError("dataframe needs an `index` column (unique entry id)")

    guard = _Guard(df) if validate else None
    try:
        probe = Probe(indexes_to_check)
        stmt = probe.statement(df)
        if has_url:
            add_url_groups(stmt, probe)
        if has_pdq:
            plan = resolve_plan(
                df,
                probe,
                pqd_hash_similarity_threshold,
                pdq_duplicate_detection_method,
                max_hex_len,
                "detect_duplicates",
            )
            add_pdq_duplicates(stmt, probe, plan)
        if has_url and has_pdq:
            return stmt.run(
                "SELECT coalesce(u.index, p.index) AS index, u.url_duplicates,"
                " p.pdq_hash_duplicates, p.pdq_hash_similarities"
                " FROM url_result u FULL OUTER JOIN pdq_result p"
                " ON u.index = p.index"
            )
        if has_url:
            return stmt.run("SELECT index, url_duplicates FROM url_result")
        return stmt.run("SELECT * FROM pdq_result")
    finally:
        # A guard error raised here replaces any error of the build.
        if guard is not None:
            guard.check()


# The fused guard, one action: the largest row count under one index
# (uniqueness; NULL counts as one key, like a groupBy), or no row at all
# for an empty input. ORDER BY ... LIMIT 1 takes the top row of each
# aggregated partition and merges them on the driver, so the action
# runs two jobs (the aggregation's map stage and the result stage).
# `_Guard` runs them while the caller builds the statement.
_GUARD = "SELECT count(1) AS c FROM {work} GROUP BY index ORDER BY c DESC LIMIT 1"


class _Guard:
    """The :data:`_GUARD` action over ``df``, started on its own thread
    so that its two jobs run while the caller builds the statement.

    An ``InheritableThread`` carries the caller's Spark local
    properties (job group, description, scheduler pool) to the guard's
    jobs; a plain thread would submit them outside the caller's group.
    """

    def __init__(self, df: DataFrame):
        self._top: list | None = None
        self._error: Exception | None = None
        self._thread = InheritableThread(target=self._run, args=(df,), daemon=True)
        self._thread.start()

    def _run(self, df: DataFrame) -> None:
        try:
            self._top = Statement(views={"work": df}).run(_GUARD).head(1)
        except Exception as e:  # re-raised on the caller's thread
            self._error = e

    def check(self) -> None:
        """Wait for the action, then raise or warn as the reference
        does."""
        self._thread.join()
        if self._error is not None:
            raise self._error
        if self._top and self._top[0]["c"] > 1:
            raise ValueError("`index` values must be unique")
        if not self._top:
            warnings.warn("input dataframe is empty; returning empty result")
