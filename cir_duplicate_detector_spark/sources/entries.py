"""Deterministic `entries` table derived from driver testdata `documents`.

The reference engine's input is a single ``entries(index, url, pdq_hash)``
table (FIXTURES.md §1). The driver testdata has no such table, so we
derive one — deterministically, from ``documents.doc_id`` alone — with the
same SQL in Spark and in the DuckDB oracle, planting the structures the
reference's fixtures exercise (FIXTURES.md §2):

* URL groups: ``doc_id % 167`` picks a shared path; scheme
  (``''``/``https://``/``http://``), case, and a per-doc fragment vary so
  normalization is what makes the group collapse.
* PDQ near-collisions at known Hamming distances. Base hash is
  ``md5(i) || md5(i||'x')`` (64 hex = 256 bits, effectively random ⇒
  unrelated pairs sit near distance ~128, far above any threshold). A
  planted doc copies an earlier doc's base hash with its first hex digit
  XOR'd by 0x7 (3 bits) or 0xF (4 bits) — realized portably as a
  ``translate`` over the 16 hex digits:

  - ``i % 53 == 1``  → flip3(base(i-1))  → distance 3  (sim 1-3/256)
  - ``i % 101 == 2`` → flip4(base(i-2))  → distance 4  (sim 1-4/256)
  - ``i % 31 == 4``  → base(i-4)         → distance 0  (sim 1.0)

* NULL payloads (``%29``), multi-hash rows (``%7==3`` adds a second,
  unrelated hash), so explode/dedup/null-drop paths all execute.

Both dialects live here side by side so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# translate() tables: XOR each hex digit by 0x7 / 0xF.
_HEX = "0123456789abcdef"
_XOR7 = "76543210fedcba98"
_XORF = "fedcba9876543210"


def _base_hash_sql(i: str) -> str:
    return f"md5(cast({i} as string)) || md5(cast({i} as string) || 'x')"


def entries_sql(dialect: str) -> str:
    """CTE body producing entries(index, url, pdq_hash) from the
    `documents` view (the generator depends on ``doc_id`` alone).

    ``dialect`` is 'spark' or 'duckdb'; the only differences are list
    syntax (array() vs []) — everything else is shared ANSI SQL.
    """
    if dialect == "spark":
        arr1 = "array(h)"
        arr2 = "array(h, md5(cast(i as string) || 'm') || md5(cast(i as string) || 'n'))"
    elif dialect == "duckdb":
        arr1 = "[h]"
        arr2 = "[h, md5(cast(i as string) || 'm') || md5(cast(i as string) || 'n')]"
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    return f"""
    SELECT
      'UW' || lpad(cast(i as string), 8, '0') AS index,
      CASE WHEN i % 29 = 7 THEN NULL
           ELSE (CASE i % 3 WHEN 0 THEN '' WHEN 1 THEN 'https://' ELSE 'http://' END)
                || (CASE WHEN i % 5 = 0
                         THEN upper('example.com/doc/' || cast(i % 167 as string))
                         ELSE 'example.com/doc/' || cast(i % 167 as string) END)
                || (CASE WHEN i % 2 = 1 THEN '#s' || cast(i as string) ELSE '' END)
      END AS url,
      CASE WHEN i % 29 = 11 THEN NULL
           WHEN i % 7 = 3 THEN {arr2}
           ELSE {arr1}
      END AS pdq_hash
    FROM (
      SELECT i,
        CASE WHEN i % 53 = 1 AND i >= 1 THEN
               translate(substr({_base_hash_sql('i - 1')}, 1, 1), '{_HEX}', '{_XOR7}')
               || substr({_base_hash_sql('i - 1')}, 2)
             WHEN i % 101 = 2 AND i >= 2 THEN
               translate(substr({_base_hash_sql('i - 2')}, 1, 1), '{_HEX}', '{_XORF}')
               || substr({_base_hash_sql('i - 2')}, 2)
             WHEN i % 31 = 4 AND i >= 4 THEN {_base_hash_sql('i - 4')}
             ELSE {_base_hash_sql('i')}
        END AS h
      FROM (SELECT doc_id AS i FROM documents)
    )
    """


def derive_entries(documents: DataFrame) -> DataFrame:
    """Spark-side derivation — same SQL text as the oracle's CTE.

    The scan is widened to the cluster's parallelism first: everything
    downstream (hash synthesis, explode, hex decode) is CPU-dense, and a
    small single-file parquet input would otherwise pin it to one or two
    scan partitions. On real many-file inputs the repartition collapses
    into the natural file-split width at trivial cost (the projected
    columns are slim).
    """
    spark = documents.sparkSession
    width = spark.sparkContext.defaultParallelism
    documents.createOrReplaceTempView("documents")
    return spark.sql(entries_sql("spark")).repartition(width)
