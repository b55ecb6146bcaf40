"""Probe-set normalization: ``indexes_to_check`` as list OR DataFrame.

The reference API takes a Python list (``url.py:42``, ``pdq_hash.py:99``)
and both operators here accept that unchanged — a small list binds as
one array parameter, which is the cheapest shape for the reference's
interactive probe sizes. At cluster scale a probe set can itself be the
output of a query (millions of ids); a driver-side list then bloats the
plan and serializes through the driver. For that case both operators
also accept a DataFrame, which joins as a broadcast semi-join. The
broadcast does gather the ids on the driver, once per call, but inside
the statement's own jobs: they never reach the plan or the SQL text.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from .statement import Statement


class Probe:
    """``indexes_to_check`` as one SQL statement sees it.

    * ``None``: no restriction.
    * A list: bound as the ``:probes`` array parameter. An empty list
      warns like the reference, and the statement returns no rows.
    * A DataFrame: bound as the ``{probe}`` view behind one ``probe_ids``
      CTE of its non-null ids as strings, duplicates kept (a semi-join
      and an ``EXISTS`` ignore them, so no DISTINCT shuffle runs). Every
      layer of the statement reads that CTE through the same broadcast;
      Spark plans it once and reuses it (``ReusedExchange``), so the
      probe frame is evaluated once per call.
    """

    def __init__(self, indexes_to_check: list[str] | DataFrame | None):
        self.frame: DataFrame | None = None
        self.ids: list[str] | None = None
        if isinstance(indexes_to_check, DataFrame):
            self.frame = _id_frame(indexes_to_check)
        elif indexes_to_check is not None:
            self.ids = [str(i) for i in indexes_to_check]
            if not self.ids:
                warnings.warn("indexes_to_check is empty; returning empty result")

    @property
    def active(self) -> bool:
        return self.frame is not None or self.ids is not None

    def statement(self, df: DataFrame) -> Statement:
        """A statement over ``df`` (the ``{work}`` view) with this probe
        set bound."""
        stmt = Statement(views={"work": df})
        if self.frame is not None:
            stmt.views["probe"] = self.frame
            stmt.ctes.append(
                "probe_ids AS (SELECT CAST(index AS STRING) AS index"
                " FROM {probe} WHERE index IS NOT NULL)"
            )
        elif self.ids is not None:
            stmt.args["probes"] = self.ids
        return stmt

    def restrict(self, rows: str) -> str:
        """SELECT text: the rows of relation ``rows`` whose ``index`` is
        probed (a probe set must be given)."""
        if self.frame is not None:
            return (
                f"SELECT /*+ BROADCAST(pi) */ r.* FROM {rows} r"
                " LEFT SEMI JOIN probe_ids pi ON r.index = pi.index"
            )
        return f"SELECT * FROM {rows} WHERE array_contains(:probes, index)"

    def flag(self, rows: str) -> str:
        """SELECT text: every row of relation ``rows`` plus a boolean
        ``probed`` (a probe set must be given)."""
        if self.frame is not None:
            return (
                "SELECT r.*, EXISTS (SELECT /*+ BROADCAST(pi) */ 1"
                " FROM probe_ids pi WHERE pi.index = r.index) AS probed"
                f" FROM {rows} r"
            )
        return f"SELECT *, array_contains(:probes, index) AS probed FROM {rows}"


def _id_frame(probe: DataFrame) -> DataFrame:
    """A probe DataFrame with its ids in an ``index`` column.

    Accepts a frame with an ``index`` column, or any single-column frame
    (the column is taken as the probe ids).
    """
    if "index" in probe.columns:
        return probe
    if len(probe.columns) == 1:
        return probe.toDF("index")
    raise ValueError(
        "probe DataFrame must have an `index` column or exactly one "
        f"column; got {probe.columns}"
    )
