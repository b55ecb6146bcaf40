"""Derived near-duplicate corpus over `documents` (both dialects).

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


# Existing/incoming split for the Bloom membership screen (batch AND
# streaming twins — one definition so they cannot drift): div 2000000
# flips the parity of the EXACT-COPY band (+2000000, doc_id % 11 == 0
# originals) so copies land opposite their original; a plain doc_id % 2
# split keeps every exact-dup group on one side and the screen's
# ground-truth column is vacuously false.
BLOOM_SPLIT_SPARK = "(doc_id div 2000000 + doc_id) % 2"
BLOOM_SPLIT_DUCK = "(doc_id // 2000000 + doc_id) % 2"


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


SENT_CHUNK_TOKENS = 12  # tokens per synthesized sentence


def derive_sentenced_corpus(docs: DataFrame) -> DataFrame:
    """Rewrite each document as PUNCTUATED text — a '.'-terminated
    sentence every :data:`SENT_CHUNK_TOKENS` tokens — because the
    synthetic testdata carries no sentence terminators at all (measured:
    0 of 500 sf0.01 docs contain '.'), which would make every document
    one giant "sentence" and the sentence-granularity operators
    vacuously exact-dedup. Same fixture stance as `_pdq_media` framing
    docs as images: derive the structure the operator family needs,
    deterministically, on BOTH engines. Pure per-row projection
    (tokenize → fixed-size slices → rejoin), zero shuffles; truncation
    mutants of a document share its leading sentences by construction,
    so cross-document sentence recurrence is real, not planted."""
    from pyspark.sql import functions as F

    from ..functions.text import tokens

    ws = tokens("text")
    n = F.size(ws)
    k = SENT_CHUNK_TOKENS
    chunks = F.transform(
        F.sequence(F.lit(1), F.floor((n + k - 1) / k).cast("int")),
        lambda i: F.concat(
            F.array_join(F.slice(ws, (i - 1) * k + 1, k), " "), F.lit(".")
        ),
    )
    return docs.withColumn(
        "text", F.when(n > 0, F.array_join(chunks, " ")).otherwise(F.lit(""))
    )


def sentenced_sql(words_expr: str) -> str:
    """DuckDB twin of :func:`derive_sentenced_corpus`'s text rewrite,
    as an expression over ``words_expr`` (the tokenized text)."""
    k = SENT_CHUNK_TOKENS
    return (
        f"CASE WHEN len({words_expr}) = 0 THEN '' ELSE "
        f"array_to_string(list_transform("
        f"range(1, (len({words_expr}) + {k - 1}) // {k} + 1), "
        f"i -> array_to_string(list_slice({words_expr}, (i - 1) * {k} + 1,"
        f" (i - 1) * {k} + {k}), ' ') || '.'), ' ') END"
    )
