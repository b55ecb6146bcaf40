"""One SQL statement per public call of the duplicate detector.

Each layer (``url_dedup``, ``pdq``, and their composition in
``detect_duplicates``) adds CTE text to a :class:`Statement`, and the
call runs it as one ``spark.sql``. Input DataFrames bind as views: the
text names them ``{work}`` / ``{probe}``, and PySpark registers
uuid-named temp views for them and drops them once the statement is
analyzed. User values bind as ``:name`` parameters through ``args=``.
Nothing a caller passes is spliced into the SQL text. Because the text
goes through ``str.format``, a literal brace in it must be doubled.

Building a call this way costs a few dozen py4j round trips; the
DataFrame API spent thousands on the same plan, most of them per
``Column`` call.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Statement:
    """CTEs, parameters and bound views of one ``spark.sql`` call."""

    views: dict[str, DataFrame]
    ctes: list[str] = field(default_factory=list)
    args: dict[str, object] = field(default_factory=dict)

    @property
    def spark(self) -> SparkSession:
        return next(iter(self.views.values())).sparkSession

    def run(self, select: str) -> DataFrame:
        text = select
        if self.ctes:
            text = "WITH " + ",\n".join(self.ctes) + "\n" + select
        return self.spark.sql(text, args=self.args, **self.views)
