"""Text-analysis extension queries: quality scoring,
language id, token counts, fingerprints, PII redaction,
sampling, packing, mixtures, shard assignment, dataset
split.

Split out of the monolithic ``extension_queries.py`` (round-10
modularity; VERDICT r9 item 6) with NO behavior change: same
callables, same oracle strings, same registry names.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from ..functions.text import hash60_sql
from ..operators import dedup, textops
from ..sources.derived import PII_CORPUS_SQL, derive_pii_corpus
from ..sources.tables import load_table

from .ext_common import (
    _DUCK_CC_CTES,
    _DUCK_QUALITY_EXPR,
    _DUCK_SHINGLES,
    _DUCK_SHINGLES8,
    _DUCK_WORDS,
    _ND,
    _STOP_EN,
    _docs_nd,
)


def q_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking over raw documents — the
    pre-training tokenize/chunk scan (`textops.chunk_documents`).
    Zero-shuffle per-row work; output carries chunk digests."""
    return textops.chunk_documents(load_table(spark, sf_dir, "documents"))


def _sql_doc_chunks() -> str:
    c, s = textops.CHUNK_TOKENS, textops.CHUNK_STEP
    return f"""
WITH w AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
),
st AS (
  SELECT doc_id, ws,
         unnest(range(1, greatest(len(ws), 1) + 1, {s})) AS chunk_start
  FROM w
)
SELECT doc_id,
       ((chunk_start - 1) // {s})::BIGINT AS chunk_id,
       chunk_start::BIGINT AS chunk_start,
       len(list_slice(ws, chunk_start, chunk_start + {c} - 1))::BIGINT
         AS n_chunk_tokens,
       md5(array_to_string(
         list_slice(ws, chunk_start, chunk_start + {c} - 1), ' '))
         AS chunk_hash
FROM st
"""


def q_text_quality(spark, sf_dir):
    return textops.text_quality(load_table(spark, sf_dir, "documents"))


SQL_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len({_DUCK_WORDS})::BIGINT AS n_words,
         len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS punct,
         len(regexp_extract_all(text, '{_STOP_EN}'))::BIGINT AS stop
  FROM documents
)
SELECT doc_id, n_chars, n_words,
       (n_chars - (n_words - 1)) / n_words AS avg_word_len,
       punct / n_chars AS punct_ratio,
       stop / n_words AS stopword_ratio,
       0.4 * least(stop / n_words * 4, 1.0)
       + 0.3 * least(cast(n_words as double) / 100.0, 1.0)
       + 0.3 * (1.0 - least(punct / n_chars * 10, 1.0)) AS quality_score
FROM t
"""


def q_token_count(spark, sf_dir):
    return textops.token_counts(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len({_DUCK_WORDS})::BIGINT AS n_tokens_ws,
       len(regexp_extract_all(text, '{textops.BPE_PATTERN}'))::BIGINT AS n_tokens_bpe
FROM documents
"""


def q_lang_id(spark, sf_dir):
    return textops.lang_id(load_table(spark, sf_dir, "documents"))


def _sql_lang_id() -> str:
    scores = {
        lang: f"len(regexp_extract_all(lower(text), '{textops.lang_pattern(ws)}'))::BIGINT"
        for lang, ws in textops.LANG_LEXICONS
    }
    score_cols = ",\n       ".join(
        f"{expr} AS score_{lang}" for lang, expr in scores.items()
    )
    langs = [lang for lang, _ in textops.LANG_LEXICONS]
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    cascade = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
WITH s AS (
  SELECT doc_id, {score_cols}
  FROM documents
)
SELECT doc_id, {", ".join(f"score_{l}" for l in langs)}, {cascade} AS lang_pred
FROM s
"""


SQL_LANG_ID = _sql_lang_id()


def q_doc_fingerprint(spark, sf_dir):
    # Widen the single-file scan: the per-row shingle/md5 work is CPU-
    # dense and would otherwise run at the scan's file-split width.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return textops.doc_fingerprint(docs)


SQL_DOC_FINGERPRINT = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN length(text) < 8 THEN [text]
           ELSE [substr(text, i, 8) for i in range(1, length(text) - 6)] END
    ) AS sh FROM documents
  )
),
h AS (SELECT doc_id, {hash60_sql('sh')} AS h FROM sh)
SELECT doc_id, fp_rank, h AS fp_hash FROM (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY h)::BIGINT AS fp_rank
  FROM h
) WHERE fp_rank <= 4
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub over the planted-PII corpus (the raw synthetic texts
    carry none): per-doc entity counts + the fully redacted text."""
    return textops.pii_redact(
        derive_pii_corpus(load_table(spark, sf_dir, "documents"))
    )


def _sql_pii_redact() -> str:
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}s"
        for name, pat, _ in textops.PII_PATTERNS
    )
    red = "text"
    for _, pat, token in textops.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
WITH pii AS ({PII_CORPUS_SQL})
SELECT doc_id,
       {counts},
       {red} AS redacted
FROM pii
"""


def q_ngram_topk(spark, sf_dir):
    """Most frequent word bigrams per language — corpus statistics for
    boilerplate discovery."""
    return textops.ngram_topk(load_table(spark, sf_dir, "documents"), n=2, k=5)


SQL_NGRAM_TOPK = f"""
WITH g AS (
  SELECT lang, unnest(
    CASE WHEN len({_DUCK_WORDS}) < 2 THEN [text]
         ELSE [array_to_string(list_slice({_DUCK_WORDS}, i, i + 1), ' ')
               for i in range(1, len({_DUCK_WORDS}))] END
  ) AS gram FROM documents
),
c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY lang, gram)
SELECT lang, gram, cnt, rank FROM (
  SELECT lang, gram, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram)::BIGINT
           AS rank
  FROM c
) WHERE rank <= 5
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling (en 1/2, others 1/4) by a
    seeded content hash — reproducible across engines, unlike RNG-
    based df.sample."""
    return textops.stratified_sample(load_table(spark, sf_dir, "documents"))


_SAMPLE_HASH = hash60_sql("CAST(doc_id AS STRING)", "'sample'")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CASE WHEN lang = 'en' THEN {_SAMPLE_HASH} % 2 = 0
           ELSE {_SAMPLE_HASH} % 4 = 0 END
"""


CURATE_MIN_QUALITY = 0.5


def q_curate_corpus(spark, sf_dir):
    return textops.curate_corpus(
        _docs_nd(spark, sf_dir), min_quality=CURATE_MIN_QUALITY, language="en"
    )


def _sql_curate_corpus() -> str:
    langs = [lang for lang, _ in textops.LANG_LEXICONS]
    scores = {
        lang: f"len(regexp_extract_all(lower(text), '{textops.lang_pattern(ws)}'))::BIGINT"
        for lang, ws in textops.LANG_LEXICONS
    }
    best = "greatest(" + ", ".join(scores[l] for l in langs) + ")"
    cascade = (
        "CASE WHEN " + best + " = 0 THEN 'und' "
        + " ".join(f"WHEN {scores[l]} = {best} THEN '{l}'" for l in langs)
        + " END"
    )
    return f"""
WITH docs_nd AS ({_ND}),
t AS (
  SELECT doc_id,
         len({_DUCK_WORDS})::BIGINT AS n_tokens,
         {_DUCK_QUALITY_EXPR} AS quality_score,
         {cascade} AS lang_pred,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM docs_nd
)
SELECT doc_id, n_tokens, quality_score
FROM t
WHERE doc_id = canonical_id AND lang_pred = 'en'
  AND quality_score >= {CURATE_MIN_QUALITY}
"""


def q_token_budget_sample(spark, sf_dir):
    return textops.token_budget_sample(load_table(spark, sf_dir, "documents"))


def _sql_quality_scored() -> str:
    """Shared CTE body: (lang, doc_id, n_tokens, quality_score) with
    the exact `textops.quality_score_expr` arithmetic (integer counts
    divided as exact ints, same fold order)."""
    return f"""
  SELECT lang, doc_id,
         len({_DUCK_WORDS})::BIGINT AS n_tokens,
         {_DUCK_QUALITY_EXPR} AS quality_score
  FROM documents
"""


def _sql_token_budget_sample() -> str:
    return f"""
WITH scored AS ({_sql_quality_scored()}),
c AS (
  SELECT lang, doc_id, n_tokens, quality_score,
         sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY quality_score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )::BIGINT AS cum_tokens
  FROM scored
)
SELECT lang, doc_id, n_tokens, cum_tokens, quality_score
FROM c WHERE cum_tokens - n_tokens < {textops.TOKEN_BUDGET}
"""


def q_quality_band(spark, sf_dir):
    return textops.quality_band_filter(load_table(spark, sf_dir, "documents"))


def _sql_quality_band() -> str:
    return f"""
WITH scored AS ({_sql_quality_scored()})
SELECT lang, doc_id, quality_score, pr FROM (
  SELECT lang, doc_id, quality_score,
         percent_rank() OVER (
           PARTITION BY lang ORDER BY quality_score ASC, doc_id
         ) AS pr
  FROM scored
) WHERE pr >= 0.1 AND pr <= 0.9
"""


def q_doc_repetition(spark, sf_dir):
    return textops.doc_repetition(load_table(spark, sf_dir, "documents"))


SQL_DOC_REPETITION = f"""
WITH g AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS grams FROM documents
)
SELECT doc_id,
       len(grams)::BIGINT AS n_grams,
       len(list_distinct(grams))::BIGINT AS n_distinct_grams,
       (len(grams)::BIGINT - len(list_distinct(grams))::BIGINT)
         / len(grams)::BIGINT AS rep_ratio
FROM g
"""


def q_pack_sequences(spark, sf_dir):
    return textops.pack_sequences(load_table(spark, sf_dir, "documents"))


def _sql_pack_sequences() -> str:
    return f"""
WITH sized AS (
  SELECT lang, doc_id, len({_DUCK_WORDS})::BIGINT AS n_tokens
  FROM documents
),
packed AS (
  SELECT lang, doc_id, n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )::BIGINT - n_tokens) // {textops.SEQ_LEN} AS pack_id
  FROM sized
)
SELECT lang, pack_id, count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens, min(doc_id) AS first_doc
FROM packed GROUP BY lang, pack_id
"""


PIPELINE_MIN_QUALITY = 0.4


def q_curation_pipeline(spark, sf_dir):
    """The END-TO-END pre-training curation pipeline as ONE lazy DAG,
    composed from the engine's stages — proof the operators compose the
    way a user would chain them:

      raw documents
        → `dedup.canonicalize_exact`        (exact-dup collapse first —
                                             the measured-17x ordering)
        → quality floor (`quality_score_expr >= 0.4`)
        → held-out eval split excluded (doc_id % 10 == 7) and
          `textops.decontaminate`-flagged train docs dropped
        → `textops.pack_sequences`          (training-sequence manifest)

    Output: the final per-pack manifest. Catalyst fuses the scan-side
    stages (canonicalize window + quality + splits ride one scan); the
    decon gram join and the pack window are the only data-sized
    shuffles.
    """
    from ..operators.dedup import canonicalize_exact

    docs = load_table(spark, sf_dir, "documents")
    canon = canonicalize_exact(docs)
    train = canon.where(
        (F.expr("doc_id % 10") != 7)
        & (textops.quality_score_expr() >= PIPELINE_MIN_QUALITY)
    )
    eval_docs = docs.where(F.expr("doc_id % 10") == 7)
    contaminated = textops.decontaminate(train, eval_docs).select("doc_id")
    clean = train.join(contaminated, "doc_id", "anti")
    return textops.pack_sequences(clean)


def _sql_curation_pipeline() -> str:
    n, seq = textops.DECON_NGRAM, textops.SEQ_LEN
    grams8 = _DUCK_SHINGLES8
    return f"""
WITH canon AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
    FROM documents
  ) WHERE doc_id = canonical
),
train AS (
  SELECT doc_id, lang, text FROM canon
  WHERE doc_id % 10 <> 7 AND ({_DUCK_QUALITY_EXPR}) >= {PIPELINE_MIN_QUALITY}
),
evg AS (
  SELECT DISTINCT doc_id AS eval_id, {hash60_sql('sh')} AS g FROM (
    SELECT doc_id, unnest({grams8}) AS sh
    FROM documents WHERE doc_id % 10 = 7
  )
),
hot AS (SELECT g FROM evg GROUP BY g HAVING count(*) > {dedup.DEFAULT_MAX_DF}),
evc AS (SELECT * FROM evg WHERE g NOT IN (SELECT g FROM hot)),
trg AS (
  SELECT DISTINCT doc_id, {hash60_sql('sh')} AS g FROM (
    SELECT doc_id, unnest({grams8}) AS sh FROM train
  )
),
contaminated AS (
  SELECT DISTINCT t.doc_id FROM trg t JOIN evc e ON t.g = e.g
),
clean AS (
  SELECT * FROM train
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sized AS (
  SELECT lang, doc_id, len({_DUCK_WORDS})::BIGINT AS n_tokens FROM clean
),
packed AS (
  SELECT lang, doc_id, n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )::BIGINT - n_tokens) // {seq} AS pack_id
  FROM sized
)
SELECT lang, pack_id, count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens, min(doc_id) AS first_doc
FROM packed GROUP BY lang, pack_id
"""


def q_bigram_novelty(spark, sf_dir):
    return textops.bigram_novelty(load_table(spark, sf_dir, "documents"))


# word_shingles(n=2) twin: len(W)-1 two-word grams, whole text when <2
_DUCK_BIGRAMS = f"""
CASE WHEN len({_DUCK_WORDS}) < 2 THEN [text]
     ELSE [array_to_string(list_slice({_DUCK_WORDS}, i, i + 1), ' ')
           for i in range(1, len({_DUCK_WORDS}))] END
"""


SQL_BIGRAM_NOVELTY = f"""
WITH grams AS (
  SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS gram FROM documents
),
freq AS (SELECT gram, count(*)::BIGINT AS freq FROM grams GROUP BY gram)
SELECT g.doc_id AS doc_id,
       count(*)::BIGINT AS n_grams,
       sum(f.freq)::BIGINT / count(*)::BIGINT AS avg_gram_freq,
       sum(CASE WHEN f.freq = 1 THEN 1 ELSE 0 END)::BIGINT
         / count(*)::BIGINT AS rare_ratio
FROM grams g JOIN freq f USING (gram)
GROUP BY g.doc_id
"""


def q_domain_mixture(spark, sf_dir):
    return textops.domain_mixture(load_table(spark, sf_dir, "documents"))


SQL_DOMAIN_MIXTURE = f"""
WITH s AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len({_DUCK_WORDS}))::BIGINT AS total_tokens,
         round(sqrt(count(*)) * 1000000)::BIGINT AS w_num
  FROM documents GROUP BY source
),
d AS (SELECT sum(w_num)::BIGINT AS denom FROM s)
SELECT source, n_docs, total_tokens,
       w_num / denom AS weight,
       floor(100000 * w_num / denom)::BIGINT AS expected_docs
FROM s, d
"""


def q_shard_assign(spark, sf_dir):
    return textops.assign_shards(load_table(spark, sf_dir, "documents"))


def _sql_shard_assign() -> str:
    h = hash60_sql("doc_id::VARCHAR", "'shard'")
    return f"""
WITH h AS (SELECT doc_id, {h} AS h FROM documents)
SELECT doc_id, (h % 20)::INT AS shard,
       row_number() OVER (PARTITION BY h % 20 ORDER BY h, doc_id)::BIGINT AS pos
FROM h
"""


def q_dataset_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the split unit is the
    near-duplicate CLUSTER, not the document. Splitting documents
    independently leaks near-copies of training docs into eval (the
    standard contamination failure); hashing the cluster label instead
    sends every member of a duplicate family to the same side.

    Pipeline: MinHash+LSH pairs → connected components (both the
    already-audited machinery) → singletons fall back to their own
    doc_id as group → deterministic 60-bit seeded hash of the group id
    buckets 90/5/5. Everything after the components is map-side (one
    left join on doc_id + a hash expression) — the split adds no new
    shuffle beyond the cluster closure, and the assignment is stable
    across runs, engines, and partitionings (unlike randomSplit).
    """
    from ..functions.text import hash60
    from .ext_dedup import _shared_dup_labels

    docs = _docs_nd(spark, sf_dir)
    cc = _shared_dup_labels(spark, sf_dir)
    members = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("gid")
    )
    joined = docs.select("doc_id").join(members, "doc_id", "left")
    gid = F.coalesce(F.col("gid"), F.col("doc_id"))
    bucket = F.pmod(hash60(gid.cast("string"), seed="split"), F.lit(100))
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return joined.select(
        "doc_id",
        gid.alias("group_id"),
        bucket.cast("int").alias("bucket"),
        split.alias("split"),
    )


def _sql_dataset_split() -> str:
    h = hash60_sql("group_id::VARCHAR", "'split'")
    return f"""
WITH RECURSIVE {_DUCK_CC_CTES},
g AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_id
  FROM docs_nd d LEFT JOIN cc ON cc.doc_id = d.doc_id
),
b AS (
  SELECT doc_id, group_id, ({h} % 100)::INT AS bucket FROM g
)
SELECT doc_id, group_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_tfidf_topterms(spark, sf_dir):
    return textops.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


SQL_TFIDF_TOPTERMS = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rnk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
                    tf.term
         )::BIGINT AS rnk
  FROM tf, dfreq, n WHERE tf.term = dfreq.term
) WHERE rnk <= 3
"""


def q_corpus_drift(spark, sf_dir):
    """Token-distribution drift between the doc_id-parity cohorts —
    integer-exact cross-product divergence, top-20 tokens."""
    return textops.corpus_drift(load_table(spark, sf_dir, "documents"))


SQL_CORPUS_DRIFT = f"""
WITH toks AS (
  SELECT doc_id % 2 = 0 AS in_a,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
counts AS (
  SELECT term,
         sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
         sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)::BIGINT AS cnt_b
  FROM toks GROUP BY term
),
tot AS (SELECT sum(cnt_a)::BIGINT AS na, sum(cnt_b)::BIGINT AS nb FROM counts),
scored AS (
  SELECT term, cnt_a, cnt_b,
         abs(cnt_a * nb - cnt_b * na)::BIGINT AS score
  FROM counts, tot
)
SELECT term, cnt_a, cnt_b, score,
       row_number() OVER (ORDER BY score DESC, term)::BIGINT AS rank
FROM scored ORDER BY score DESC, term LIMIT 20
"""


TEXT_QUERIES: dict[str, tuple] = {
    "doc_chunks": (q_doc_chunks, _sql_doc_chunks()),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "corpus_curation": (q_curate_corpus, _sql_curate_corpus()),
    "pii_redact": (q_pii_redact, _sql_pii_redact()),
    "ngram_topk": (q_ngram_topk, SQL_NGRAM_TOPK),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "doc_repetition": (q_doc_repetition, SQL_DOC_REPETITION),
    "pack_sequences": (q_pack_sequences, _sql_pack_sequences()),
    "token_budget_sample": (q_token_budget_sample, _sql_token_budget_sample()),
    "quality_band": (q_quality_band, _sql_quality_band()),
    "curation_pipeline": (q_curation_pipeline, _sql_curation_pipeline()),
    "bigram_novelty": (q_bigram_novelty, SQL_BIGRAM_NOVELTY),
    "domain_mixture": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    "shard_assign": (q_shard_assign, _sql_shard_assign()),
    "tfidf_topterms": (q_tfidf_topterms, SQL_TFIDF_TOPTERMS),
    "dataset_split": (q_dataset_split, _sql_dataset_split()),
    "corpus_drift": (q_corpus_drift, SQL_CORPUS_DRIFT),
}
