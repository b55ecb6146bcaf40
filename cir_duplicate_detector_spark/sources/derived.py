"""Derived corpora over `documents`: the near-duplicate corpus (both
dialects) and the planted-PII corpus.

The driver testdata has no duplicate texts (verified), so dedup
operators are exercised against a deterministically derived corpus:

* originals                        (doc_id)
* near-dup mutants: last 3 words dropped, for doc_id % 5 == 0
  (doc_id + 1_000_000) — word-3-gram Jaccard ≈ (s-3)/(s+... ) >> 0.5
* exact copies: unchanged text, for doc_id % 11 == 0
  (doc_id + 2_000_000)

Spark and DuckDB expressions are kept side by side; list_slice /
slice and regexp splits behave identically on this corpus (verified:
no double/leading/trailing whitespace in the testdata texts).

The testdata carries no PII either, so `PII_CORPUS_SQL` appends
deterministic e-mail, phone and IP spans for the redaction rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def near_dup_corpus_sql(dialect: str) -> str:
    if dialect == "spark":
        words = "split(text, '\\\\s+')"
        mut = f"array_join(slice({words}, 1, greatest(size({words}) - 3, 1)), ' ')"
    elif dialect == "duckdb":
        words = "regexp_split_to_array(text, '\\s+')"
        mut = f"array_to_string(list_slice({words}, 1, greatest(len({words}) - 3, 1)), ' ')"
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, {mut} AS text
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text AS text
    FROM documents WHERE doc_id % 11 = 0
    """


def derive_near_dup_corpus(documents: DataFrame) -> DataFrame:
    # Widen the scan before the CPU-dense shingle/hash pipelines that
    # consume this corpus: a tiny single-file parquet input otherwise
    # pins them to one scan partition (see sources.entries).
    spark = documents.sparkSession
    width = spark.sparkContext.defaultParallelism
    documents.createOrReplaceTempView("documents")
    return spark.sql(near_dup_corpus_sql("spark")).repartition(width)


# Deterministic planted PII over `documents` (the synthetic texts carry
# none). Single dialect-neutral SQL: `||`, CASE, CAST(AS STRING) and
# `%` behave identically in Spark SQL and DuckDB.
PII_CORPUS_SQL = """
SELECT doc_id, lang,
  text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS STRING) || '@example.com now'
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS STRING) || ' today'
          ELSE '' END
  || CASE WHEN doc_id % 17 = 0
          THEN ' host 10.0.' || CAST(doc_id % 256 AS STRING)
               || '.' || CAST(doc_id * 7 % 256 AS STRING) || ' up'
          ELSE '' END
  AS text
FROM documents
"""


def derive_pii_corpus(documents: DataFrame) -> DataFrame:
    spark = documents.sparkSession
    documents.createOrReplaceTempView("documents")
    return spark.sql(PII_CORPUS_SQL)
