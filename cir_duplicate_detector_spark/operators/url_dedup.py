"""URL exact-duplicate grouping (reference ``cir_duplicate_detector/url.py``).

Semantics (``url.py:32-116``): normalize each url, group rows whose
normalized url is identical, and annotate every member of a >1-sized
group with the other members' indexes. With a probe set
(``indexes_to_check``) only groups containing at least one probed index
survive — but ALL members of a surviving group are emitted
(bidirectional, ``url.py:87-109``).

Spark shape: one statement, one shuffle. ``collect_list(index) OVER
(PARTITION BY base_url)`` computes group membership without a
groupBy+join back (the reference does groupby→apply→merge, three
passes). With a probe set the same window also takes
``bool_or(probed)``, so whole groups that touch a probed index survive
without a second pass over the probed urls. Result arrays are
``array_sort``-canonical (the reference's list order is an iteration
artifact — SURVEY §7.4.4).

How the plan is built: :func:`add_url_groups` returns the layer as CTE
text (see ``operators/statement.py``); :func:`find_url_duplicates` runs
it alone and ``detect_duplicates`` composes it with the PDQ layer.
Shuffles: the window's hash partitioning on ``base_url``; a DataFrame
probe set adds a broadcast of its ids; ``max_group_size`` adds
the count pre-pass's aggregation.

Scale notes (100 TB): the window shuffle partitions by ``base_url``; a
pathological URL shared by millions of rows would make a hot partition,
but the *output semantics* require the full member list per row, so that
cost is inherent. AQE skew-join handling does not apply to windows; the
opt-in ``max_group_size`` bound drops known mega-groups (they are rarely
meaningful duplicates — a link shortener, a platform root URL) with a
cheap map-side-combined count pre-pass before the window ever
materializes a member array, mirroring ``dedup.df_capped``'s rationale.
Default ``None`` keeps exact reference semantics.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

from ..functions.url import normalize_url_spark_sql
from .probes import Probe
from .statement import Statement


def add_url_groups(
    stmt: Statement, probe: Probe, max_group_size: int | None = None
) -> None:
    """Add the URL layer to ``stmt``: CTEs over ``{work}`` ending in
    ``url_result (index, url_duplicates)``. ``stmt`` must come from
    ``probe.statement``."""
    stmt.ctes.append(
        "url_base AS (SELECT index, "
        + normalize_url_spark_sql("url")
        + " AS base_url FROM {work} WHERE url IS NOT NULL)"
    )
    rows = "url_base"
    if max_group_size is not None:
        if max_group_size < 1:
            raise ValueError(
                f"max_group_size must be >= 1, got {max_group_size}"
            )
        logger.info(
            "find_url_duplicates: dropping url groups larger than %d rows",
            max_group_size,
        )
        # Count pre-pass is map-side combined (tiny: one row per
        # distinct base_url); the anti-join side holds only the
        # over-bound keys, which Catalyst broadcasts when small.
        stmt.args["max_group"] = max_group_size
        stmt.ctes.append(
            "url_capped AS (SELECT b.* FROM url_base b LEFT ANTI JOIN"
            " (SELECT base_url FROM url_base GROUP BY base_url"
            " HAVING count(1) > :max_group) hot ON b.base_url = hot.base_url)"
        )
        rows = "url_capped"
    if probe.active:
        # Keep whole groups that touch the probe set (bidirectional).
        window = (
            "collect_list(index) OVER w AS members,"
            " bool_or(probed) OVER w AS touched"
            f" FROM ({probe.flag(rows)})"
        )
        keep = "size(members) > 1 AND touched"
    else:
        window = f"collect_list(index) OVER w AS members FROM {rows}"
        keep = "size(members) > 1"
    stmt.ctes.append(
        f"url_groups AS (SELECT index, {window}"
        " WINDOW w AS (PARTITION BY base_url))"
    )
    stmt.ctes.append(
        "url_result AS (SELECT index, url_duplicates FROM"
        " (SELECT index, array_sort(array_remove(members, index))"
        f" AS url_duplicates FROM url_groups WHERE {keep})"
        " WHERE size(url_duplicates) > 0)"
    )


def find_url_duplicates(
    df: DataFrame,
    indexes_to_check: list[str] | DataFrame | None = None,
    max_group_size: int | None = None,
) -> DataFrame:
    """Return ``(index, url_duplicates)`` for rows with >=1 url duplicate.

    ``df`` must have columns ``index`` (unique string) and ``url``
    (nullable string). Null urls are dropped (reference ``url.py:70-74``).

    ``max_group_size``: opt-in skew guard — normalized-url groups with
    more rows than this are dropped entirely (logged at plan build)
    before the member-list window runs, so one viral URL cannot emit a
    million-element array per member row. ``None`` (default) = exact
    reference semantics, every group annotated.

    ``indexes_to_check``: a list binds as one array parameter (reference
    shape, right for small interactive probe sets); a DataFrame joins as
    a broadcast semi-join (right for probe sets that are themselves
    query outputs; see ``operators/probes.py``). Requires unique ``index``
    values: the standalone function removes ALL occurrences of a row's
    own index from its group (``array_remove``); ``detect_duplicates``
    enforces uniqueness when ``validate=True``.
    """
    if "url" not in df.columns or "index" not in df.columns:
        raise ValueError("find_url_duplicates requires `index` and `url` columns")
    probe = Probe(indexes_to_check)
    # Reference stats logging (`url.py:118-126`) — plan-time facts only;
    # execution timing/row counts live in the Spark UI.
    logger.info("find_url_duplicates: probed=%s", probe.active)

    stmt = probe.statement(df)
    add_url_groups(stmt, probe, max_group_size)
    return stmt.run("SELECT index, url_duplicates FROM url_result")
