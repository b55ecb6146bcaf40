"""Training-data pipeline extension queries:
decontamination (exact/fuzzy + report), boilerplate
removal/screen, DSIR weighting, BM25 search/route/index.

Split out of the monolithic ``extension_queries.py`` (round-10
modularity; VERDICT r9 item 6) with NO behavior change: same
callables, same oracle strings, same registry names.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from ..functions.text import hash60_sql
from ..operators import dedup, textops
from ..sources.derived import BLOOM_SPLIT_DUCK, BLOOM_SPLIT_SPARK
from ..sources.tables import load_table

from .ext_common import (
    _BAND_SELECTS,
    _DUCK_SHINGLES8,
    _DUCK_SHINGLE_SET,
    _DUCK_WORDS,
    _LANES,
    _ND,
    _docs_nd,
)


# Train/eval split over docs_nd for the decontamination screen. The rule
# mixes the derived-id band (div 1000000 ∈ {0,1,2}) into the digit so
# exact copies and near-dup mutants land on the OPPOSITE side of their
# original (a plain doc_id % 10 split strands every planted duplicate
# group on one side and the screen is vacuously empty): originals ending
# in 7, mutants of originals ending in 0, copies of originals ending in
# 3 go to eval — their counterparts stay in train.
_DECON_SPLIT = "(doc_id // 1000000 * 7 + doc_id) % 10"


_DECON_SPLIT_SPARK = "(doc_id div 1000000 * 7 + doc_id) % 10"


def q_decontaminate(spark, sf_dir):
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_DECON_SPLIT_SPARK)
    return textops.decontaminate(
        docs.where(split != 7), docs.where(split == 7)
    )


SQL_DECONTAMINATE = f"""
WITH docs_nd AS ({_ND}),
trg AS (
  SELECT DISTINCT doc_id, {hash60_sql('sh')} AS g FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES8}) AS sh
    FROM docs_nd WHERE {_DECON_SPLIT} <> 7
  )
),
evg AS (
  SELECT DISTINCT doc_id AS eval_id, {hash60_sql('sh')} AS g FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES8}) AS sh
    FROM docs_nd WHERE {_DECON_SPLIT} = 7
  )
),
hot AS (SELECT g FROM evg GROUP BY g HAVING count(*) > {dedup.DEFAULT_MAX_DF}),
evc AS (SELECT * FROM evg WHERE g NOT IN (SELECT g FROM hot))
SELECT t.doc_id,
       count(DISTINCT t.g) AS n_shared_grams,
       count(DISTINCT e.eval_id) AS n_eval_docs
FROM trg t JOIN evc e ON t.g = e.g
GROUP BY t.doc_id
"""


def q_boilerplate_removal(spark, sf_dir):
    """Cross-document boilerplate REMOVAL over the planted near-dup
    corpus (`textops.boilerplate_removal`, CCNet-style): 16-token
    non-overlapping spans whose exact content recurs in >= 2 distinct
    documents are dropped and each document is rebuilt from its
    surviving spans — exact copies and truncation mutants lose their
    shared spans, organic documents pass through whole. The output is
    the CLEANED corpus (doc_id, n_tokens, n_kept_tokens, clean_text),
    every input document present."""
    return textops.boilerplate_removal(_docs_nd(spark, sf_dir), min_docs=2)


def _sql_boilerplate_removal() -> str:
    w = textops.BOILER_TOKENS
    return f"""
WITH docs_nd AS ({_ND}),
wd AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM docs_nd),
st AS (
  SELECT doc_id, ws,
         unnest(range(1, greatest(len(ws), 1) + 1, {w})) AS start
  FROM wd
),
sp AS (
  SELECT doc_id, ((start - 1) // {w})::BIGINT AS win_id,
         array_to_string(list_slice(ws, start, start + {w} - 1), ' ')
           AS wtext,
         len(list_slice(ws, start, start + {w} - 1))::BIGINT AS wtok
  FROM st
),
common AS (
  SELECT md5(wtext) AS whash FROM sp
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM sp WHERE md5(wtext) NOT IN (SELECT whash FROM common)),
rb AS (
  SELECT doc_id, sum(wtok)::BIGINT AS n_kept_tokens,
         string_agg(wtext, ' ' ORDER BY win_id) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT wd.doc_id, len(wd.ws)::BIGINT AS n_tokens,
       coalesce(rb.n_kept_tokens, 0)::BIGINT AS n_kept_tokens,
       coalesce(rb.clean_text, '') AS clean_text
FROM wd LEFT JOIN rb USING (doc_id)
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights over raw documents
    (`textops.dsir_weights`): hashed-unigram likelihood ratios score
    every document against the English slice as the TARGET corpus —
    the tilt-a-crawl-toward-a-domain selection step. Ratio form (one
    exact-integer-product division per bucket, sorted-fold sum), not
    log form — `ln` is not bit-reproducible across engines (same
    stance as tfidf's linear idf)."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.dsir_weights(docs, F.col("lang") == "en")


def _sql_dsir_weights() -> str:
    b = textops.DSIR_BUCKETS
    h = hash60_sql("t", "'dsir'")
    lw = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    return f"""
WITH tk AS (
  SELECT doc_id, it, {h} % {b} AS bucket
  FROM (
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS it,
           unnest({lw}) AS t
    FROM documents
  )
),
dc AS (
  SELECT doc_id, bucket, max(it) AS it, count(*)::BIGINT AS c
  FROM tk GROUP BY 1, 2
),
raw AS (SELECT bucket, sum(c)::BIGINT AS rc FROM dc GROUP BY 1),
tgt AS (SELECT bucket, sum(c)::BIGINT AS tc FROM dc WHERE it = 1 GROUP BY 1),
tot AS (
  SELECT sum(c)::BIGINT AS r_total,
         sum(CASE WHEN it = 1 THEN c ELSE 0 END)::BIGINT AS t_total
  FROM dc
),
ratios AS (
  SELECT raw.bucket,
         ((coalesce(tgt.tc, 0) + 1) * (tot.r_total + {b}))::DOUBLE
           / ((raw.rc + 1) * (tot.t_total + {b}))::DOUBLE AS r
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
),
sc AS (
  SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_tokens,
         list_sum(list(dc.c::DOUBLE * ratios.r ORDER BY dc.bucket))
           AS dsir_weight
  FROM dc JOIN ratios USING (bucket) GROUP BY 1
)
SELECT d.doc_id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(sc.dsir_weight, 0.0) AS dsir_weight
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def q_bm25_search(spark, sf_dir):
    """Keyword retrieval (`textops.bm25_search`): the fixed 4-query
    term panel against the documents corpus, BM25-shaped scoring with
    the RATIONAL idf ``(N - df + 0.5)/(df + 0.5)`` (the log dropped
    for cross-engine bit-reproducibility — the tfidf linear-idf
    stance), per-query top-10 by (score desc, doc_id): terms in,
    ranked documents out."""
    panel = spark.createDataFrame(
        textops.BM25_PANEL, "query_id bigint, term string"
    )
    return textops.bm25_search(load_table(spark, sf_dir, "documents"), panel)


def _sql_bm25_search() -> str:
    k1 = textops.BM25_K1
    vals = ", ".join(f"({q}, '{t}')" for q, t in textops.BM25_PANEL)
    # Float literals forced to DOUBLE: DuckDB parses bare decimals as
    # DECIMAL, and exact-decimal arithmetic before the cast rounds
    # differently than double-from-the-start (tf * 2.2 diverges at
    # tf=3). repr() round-trips the exact doubles Spark uses.
    idf = "(((stats.n_docs - dfr.df) + 0.5::DOUBLE) / (dfr.df + 0.5::DOUBLE))"
    tfnorm = (
        f"((tf.tf * {k1 + 1.0!r}::DOUBLE) / (tf.tf + ({k1!r}::DOUBLE"
        f" * ({1.0 - textops.BM25_B!r}::DOUBLE + (({textops.BM25_B!r}::DOUBLE"
        " * dl.dl) / (stats.total_tokens / stats.n_docs))))))"
    )
    return f"""
WITH panel(query_id, term) AS (VALUES {vals}),
tk AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tk GROUP BY 1),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk
  WHERE term IN (SELECT term FROM panel) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id, tf.term, {idf} * {tfnorm} AS s
  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
agg AS (
  SELECT panel.query_id, sc.doc_id, count(*)::BIGINT AS n_terms_hit,
         list_sum(list(sc.s ORDER BY sc.term)) AS score
  FROM panel JOIN sc USING (term) GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, n_terms_hit, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id
  )::BIGINT AS rank FROM agg
) WHERE rank <= {textops.BM25_TOPK}
"""


# The fuzzy screen's verdict pairs and the scrub's token accounting,
# each consumed by diagnostics that previously re-ran the full screen
# their own registered row already times end-to-end (round 14, guide
# §1.2): the builders CALL the
# registered query functions, so an edit to either screen still
# propagates to every consumer by construction, and the persisted
# columns are exact integers (bigint id pairs / token counts) that
# round-trip parquet bit-exactly — results identical to the inline
# form. `decontaminate_fuzzy` / `decontaminate_scrub` themselves stay
# fully on their own clocks; memoization is per Spark application, so
# every bench invocation recomputes from the parquet inputs.
_FUZZY_SCREEN_SHARED: dict[tuple, object] = {}
_DECON_SCRUB_SHARED: dict[tuple, object] = {}


def _shared_fuzzy_screen(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        q_decontaminate_fuzzy(spark, sf_dir).select("a", "b").write.parquet(
            f"{d}/pairs.parquet"
        )
        return spark.read.parquet(f"{d}/pairs.parquet")

    return shared_artifact(
        _FUZZY_SCREEN_SHARED, spark, sf_dir, "fuzzy_screen_", build
    )


def _shared_decon_scrub(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        q_decontaminate_scrub(spark, sf_dir).select(
            "doc_id", "n_tokens", "n_kept_tokens"
        ).write.parquet(f"{d}/scrub.parquet")
        return spark.read.parquet(f"{d}/scrub.parquet")

    return shared_artifact(
        _DECON_SCRUB_SHARED, spark, sf_dir, "decon_scrub_", build
    )


def q_bm25_route(spark, sf_dir):
    """BM25 percolation, batch form (`textops.bm25_route`): the fixed
    term panel STANDS as queries and documents arrive — the crawl-side
    topic-tagging direction of `bm25_search`. Corpus statistics come
    from the indexed half (doc_id % 2 == 0, `textops.bm25_index_
    stats`); the incoming half scores against them with per-term tf
    from a stateless array-filter projection and ONE per-(doc, query)
    fold — the single-aggregation shape the streaming twin runs
    unchanged."""
    panel = spark.createDataFrame(
        textops.BM25_PANEL, "query_id bigint, term string"
    )
    docs = load_table(spark, sf_dir, "documents")
    stats, df_rel = textops.bm25_index_stats(
        docs.where("doc_id % 2 = 0"), panel
    )
    return textops.bm25_route(
        docs.where("doc_id % 2 = 1"), panel, stats, df_rel
    )


def q_bm25_route_streaming(spark, sf_dir):
    """`streaming.windows.streaming_bm25_route`: the identical
    expressions with the incoming half arriving on a file stream —
    stateless tf projection, broadcast static panel/stats, one
    complete-mode aggregation."""
    from ..streaming.windows import streaming_bm25_route

    return streaming_bm25_route(spark, sf_dir)


def _sql_bm25_route() -> str:
    k1, b = textops.BM25_K1, textops.BM25_B
    vals = ", ".join(f"({q}, '{t}')" for q, t in textops.BM25_PANEL)
    idf = "(((n_docs - df) + 0.5::DOUBLE) / (df + 0.5::DOUBLE))"
    tfnorm = (
        f"((tf * {k1 + 1.0!r}::DOUBLE) / (tf + ({k1!r}::DOUBLE"
        f" * ({1.0 - b!r}::DOUBLE + (({b!r}::DOUBLE"
        " * dl) / (total_tokens / n_docs))))))"
    )
    return f"""
WITH panel(query_id, term) AS (VALUES {vals}),
itk AS (
  SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
  WHERE doc_id % 2 = 0
),
dli AS (SELECT doc_id, count(*)::BIGINT AS dl FROM itk GROUP BY 1),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens
  FROM dli
),
dfr AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM itk
  WHERE term IN (SELECT term FROM panel) GROUP BY 1
),
inc AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents WHERE doc_id % 2 = 1
),
pt AS (
  SELECT inc.doc_id, p.query_id, p.term,
         coalesce(dfr.df, 0)::BIGINT AS df,
         stats.n_docs, stats.total_tokens,
         len(list_filter(inc.ws, t -> t = p.term))::BIGINT AS tf,
         len(inc.ws)::BIGINT AS dl
  FROM inc CROSS JOIN panel p
  LEFT JOIN dfr ON dfr.term = p.term CROSS JOIN stats
),
sc AS (
  SELECT doc_id, query_id, term, {idf} * {tfnorm} AS s
  FROM pt WHERE tf > 0
)
SELECT doc_id, query_id, count(*)::BIGINT AS n_terms_hit,
       list_sum(list(s ORDER BY term)) AS score
FROM sc GROUP BY 1, 2
"""


def q_bm25_index_roundtrip(spark, sf_dir):
    """The BM25 background statistics AS A PERSISTED INDEX: the scalar
    frame (N, Σdl) and the per-term document frequencies write to
    parquet and the incoming half routes purely from the re-read
    relations — the percolation service's restart path, completing the
    persisted-index rule (`lsh_index_roundtrip`)
    for the retrieval family. Output identical to `bm25_route`
    (round-trip identity) — one oracle string by the registry guard."""
    from ..cache import tracked_mkdtemp

    panel = spark.createDataFrame(
        textops.BM25_PANEL, "query_id bigint, term string"
    )
    docs = load_table(spark, sf_dir, "documents")
    stats, df_rel = textops.bm25_index_stats(
        docs.where("doc_id % 2 = 0"), panel
    )
    d = tracked_mkdtemp("bm25_index_")
    stats.write.mode("overwrite").parquet(f"{d}/stats")
    df_rel.write.mode("overwrite").parquet(f"{d}/df")
    return textops.bm25_route(
        docs.where("doc_id % 2 = 1"),
        panel,
        spark.read.parquet(f"{d}/stats"),
        spark.read.parquet(f"{d}/df"),
    )


# Eval slice for the fuzzy decontamination screen (on the nd corpus,
# so near-dup pairs straddle the split): doc_id % 13 == 7.
_FUZZY_EVAL_MOD, _FUZZY_EVAL_REM = 13, 7


def q_decontaminate_scrub(spark, sf_dir):
    """SURGICAL decontamination (`textops.decontaminate_scrub`): train
    documents REBUILT with their eval-contaminated spans removed — the
    fix, where the three decontamination screens only detect. Train
    spans are the boilerplate family's non-overlapping 16-token
    windows; the eval side indexes OVERLAPPING spans so any alignment
    matches. Same nd corpus and % 13 == 7 eval split as
    `decontaminate_fuzzy`, so the planted exact copies and truncation
    mutants straddling the split ARE the contamination scrubbed."""
    docs = _docs_nd(spark, sf_dir)
    pred = F.col("doc_id") % _FUZZY_EVAL_MOD == _FUZZY_EVAL_REM
    return textops.decontaminate_scrub(docs.where(~pred), docs.where(pred))


def q_decontaminate_fuzzy_canonical(spark, sf_dir):
    """`dedup.cross_corpus_near_duplicates_canonical`: the fuzzy screen
    behind an exact-dedup pre-pass — one representative per distinct
    train text runs the banded screen + exact verify, verdicts
    propagate back through the md5 digest join. Output identical to
    `decontaminate_fuzzy` (same text, same shingles, same jaccard) —
    one oracle string by the registry identity guard. The pipeline-
    ordering lever for the duplicate-heavy corpora decontamination
    meets first: the raw screen's verify prices candidate PAIRS, which
    grow superlinearly with duplication (18.1 s at the 10x replica);
    the pre-pass collapses duplicate families before pairs form."""
    docs = _docs_nd(spark, sf_dir)
    pred = F.col("doc_id") % _FUZZY_EVAL_MOD == _FUZZY_EVAL_REM
    return dedup.cross_corpus_near_duplicates_canonical(
        docs.where(~pred), docs.where(pred), threshold=0.5
    )


def q_decontaminate_scrub_streaming(spark, sf_dir):
    """`streaming.windows.streaming_decontaminate_scrub`: scrub at
    INGEST — the identical single-aggregation expressions with the
    train side arriving on a file stream; the eval span index is
    static, contamination flags ride a stream-static digest join into
    the one per-doc rebuild aggregation."""
    from ..streaming.windows import streaming_decontaminate_scrub

    return streaming_decontaminate_scrub(spark, sf_dir)


def _sql_decontaminate_scrub() -> str:
    w = textops.BOILER_TOKENS
    ev = f"doc_id % {_FUZZY_EVAL_MOD} = {_FUZZY_EVAL_REM}"
    return f"""
WITH docs_nd AS ({_ND}),
wd AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM docs_nd),
evsp AS (
  SELECT DISTINCT md5(array_to_string(
           list_slice(ws, start, start + {w} - 1), ' ')) AS whash
  FROM (
    -- token-less eval docs contribute nothing (textops.eval_span_index)
    SELECT ws,
           unnest(range(1, greatest(len(ws) - {w} + 1, 1) + 1)) AS start
    FROM wd WHERE {ev} AND len(ws) > 0
  )
),
st AS (
  SELECT doc_id, ws,
         unnest(range(1, greatest(len(ws), 1) + 1, {w})) AS start
  FROM wd WHERE NOT ({ev})
),
sp AS (
  SELECT doc_id, ((start - 1) // {w})::BIGINT AS win_id,
         array_to_string(list_slice(ws, start, start + {w} - 1), ' ')
           AS wtext,
         len(list_slice(ws, start, start + {w} - 1))::BIGINT AS wtok
  FROM st
),
kept AS (SELECT * FROM sp WHERE md5(wtext) NOT IN (SELECT whash FROM evsp)),
rb AS (
  SELECT doc_id, sum(wtok)::BIGINT AS n_kept_tokens,
         string_agg(wtext, ' ' ORDER BY win_id) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT wd.doc_id, len(wd.ws)::BIGINT AS n_tokens,
       coalesce(rb.n_kept_tokens, 0)::BIGINT AS n_kept_tokens,
       coalesce(rb.clean_text, '') AS clean_text
FROM wd LEFT JOIN rb USING (doc_id)
WHERE NOT ({ev})
"""


def q_decontaminate_fuzzy(spark, sf_dir):
    """FUZZY decontamination (`dedup.cross_corpus_near_duplicates`):
    training documents near-duplicating an eval document at 3-gram
    Jaccard >= 0.5 via the cross-corpus MinHash band join — catches the
    paraphrased/truncated contamination `decontaminate`'s exact-8-gram
    screen misses (the nd corpus's truncation mutants ARE that case).
    Split: doc_id % 13 == 7 is the eval side."""
    docs = _docs_nd(spark, sf_dir)
    pred = F.col("doc_id") % _FUZZY_EVAL_MOD == _FUZZY_EVAL_REM
    return dedup.cross_corpus_near_duplicates(
        docs.where(~pred), docs.where(pred), threshold=0.5
    )


SQL_DECONTAMINATE_FUZZY = f"""
WITH {_DUCK_SHINGLE_SET},
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
bt AS (
  SELECT doc_id AS a, band_id, band_key FROM bands
  WHERE doc_id % {_FUZZY_EVAL_MOD} <> {_FUZZY_EVAL_REM}
),
be AS (
  SELECT doc_id AS b, band_id, band_key FROM bands
  WHERE doc_id % {_FUZZY_EVAL_MOD} = {_FUZZY_EVAL_REM}
),
cand AS (SELECT DISTINCT a, b FROM bt JOIN be USING (band_id, band_key)),
inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
)
SELECT i2.a, i2.b, i2.i / (sa.n + sb.n - i2.i) AS jaccard
FROM inter i2
JOIN sizes sa ON sa.doc_id = i2.a
JOIN sizes sb ON sb.doc_id = i2.b
WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
"""


def q_boilerplate_screen(spark, sf_dir):
    """Boilerplate SCREEN for continuous ingest
    (`textops.boilerplate_screen`): the existing split's span-digest
    index (span DF >= 2 WITHIN the indexed split,
    `textops.boilerplate_index`) probes incoming documents' spans
    through one equi-join + one aggregation — the decide-before-you-pay
    counts an ingest pipeline thresholds on, and the exact plan the
    streaming twin runs."""
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(BLOOM_SPLIT_SPARK)
    idx = textops.boilerplate_index(docs.where(split == 0), min_docs=2)
    return textops.boilerplate_screen(docs.where(split == 1), idx)


def q_boilerplate_screen_streaming(spark, sf_dir):
    """`streaming.windows.streaming_boilerplate_screen`: the identical
    span screen with the incoming split arriving on a file stream —
    stateless span explode, stream-static index join, one aggregation.
    Shares the batch oracle by the registry twin guard."""
    from ..streaming.windows import streaming_boilerplate_screen

    return streaming_boilerplate_screen(spark, sf_dir)


def _sql_boilerplate_screen() -> str:
    w = textops.BOILER_TOKENS
    spans = f"""
  SELECT doc_id,
         md5(array_to_string(list_slice(ws, start, start + {w} - 1), ' '))
           AS whash,
         len(list_slice(ws, start, start + {w} - 1))::BIGINT AS wtok
  FROM (
    SELECT doc_id, ws,
           unnest(range(1, greatest(len(ws), 1) + 1, {w})) AS start
    FROM wsrc
  )"""
    return f"""
WITH docs_nd AS ({_ND}),
wsrc AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM docs_nd
),
isp AS ({spans.replace("FROM wsrc", f"FROM wsrc WHERE {BLOOM_SPLIT_DUCK} = 0")}),
idx AS (
  -- zero-token spans excluded from the index (textops.boilerplate_index)
  SELECT whash FROM isp WHERE wtok > 0
  GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
),
osp AS ({spans.replace("FROM wsrc", f"FROM wsrc WHERE {BLOOM_SPLIT_DUCK} = 1")})
SELECT osp.doc_id,
       count(*)::BIGINT AS n_spans,
       sum(CASE WHEN idx.whash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_boiler_spans,
       sum(osp.wtok)::BIGINT AS n_tokens,
       sum(CASE WHEN idx.whash IS NOT NULL THEN osp.wtok ELSE 0 END)::BIGINT
         AS n_boiler_tokens
FROM osp LEFT JOIN idx USING (whash)
GROUP BY osp.doc_id
"""


def q_dsir_score(spark, sf_dir):
    """Ingest-time DSIR scoring (`textops.dsir_score`): the
    likelihood-ratio table learns ONCE from the indexed half of the raw
    corpus (target = the English slice), incoming documents resolve
    per-token ratios through a broadcast join and fold in one
    position-ordered aggregation — the single-aggregation shape the
    streaming twin requires."""
    docs = load_table(spark, sf_dir, "documents")
    ratios, default = textops.dsir_bucket_ratios(
        docs.where("doc_id % 2 = 0"), F.col("lang") == "en"
    )
    return textops.dsir_score(docs.where("doc_id % 2 = 1"), ratios, default)


def q_dsir_score_streaming(spark, sf_dir):
    """`streaming.windows.streaming_dsir_score`: identical scoring with
    the incoming half on a file stream — static broadcast ratio table,
    stateless token explode, one aggregation. Shares the batch oracle
    by the registry twin guard."""
    from ..streaming.windows import streaming_dsir_score

    return streaming_dsir_score(spark, sf_dir)


def _sql_dsir_score() -> str:
    b = textops.DSIR_BUCKETS
    h = hash60_sql("t", "'dsir'")
    lw = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
    return f"""
WITH itk AS (
  SELECT it, {h} % {b} AS bucket
  FROM (
    SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS it,
           unnest({lw}) AS t
    FROM documents WHERE doc_id % 2 = 0
  )
),
bc AS (
  SELECT bucket, count(*)::BIGINT AS rc,
         sum(it)::BIGINT AS tc
  FROM itk GROUP BY 1
),
tot AS (SELECT sum(rc)::BIGINT AS r_total, sum(tc)::BIGINT AS t_total FROM bc),
ratios AS (
  SELECT bc.bucket,
         ((bc.tc + 1) * (tot.r_total + {b}))::DOUBLE
           / ((bc.rc + 1) * (tot.t_total + {b}))::DOUBLE AS r
  FROM bc CROSS JOIN tot
),
dflt AS (
  SELECT (r_total + {b})::DOUBLE / (t_total + {b})::DOUBLE AS r_default
  FROM tot
),
otk AS (
  SELECT doc_id, pos, {hash60_sql("lw[pos]", "'dsir'")} % {b} AS bucket
  FROM (
    SELECT doc_id, lw, unnest(range(1, len(lw) + 1)) AS pos
    FROM (
      SELECT doc_id, {lw} AS lw FROM documents WHERE doc_id % 2 = 1
    )
  )
)
SELECT otk.doc_id, count(*)::BIGINT AS n_tokens,
       list_sum(list(coalesce(ratios.r, dflt.r_default) ORDER BY otk.pos))
         AS dsir_score
FROM otk LEFT JOIN ratios USING (bucket) CROSS JOIN dflt
GROUP BY otk.doc_id
"""


def q_fuzzy_decon_recall(spark, sf_dir):
    """Recall of the `decontaminate_fuzzy` banded screen vs EXACT
    cross-corpus Jaccard truth — the self-measuring diagnostic every
    approximate index in this repo ships (`minhash_recall`
    pattern): truth = exact 3-gram
    Jaccard >= 0.5 pairs via the shingle inverted-index join (pairs
    sharing zero shingles have J = 0 and exit naturally) over train ×
    a FIXED 32-doc eval panel (smallest seeded-hash eval doc_ids,
    round 9: truth over the FULL eval side grew with |eval|, measured 3.2× at
    the 10× replica; the panel bounds the exact side to a constant
    number of probe documents at any corpus size). The found side is
    the SHIPPED full screen, restricted to the panel after the fact,
    so the diagnostic measures exactly the production operator — and
    it serves from the screen row's pair-shared parquet
    (`_shared_fuzzy_screen` — round 14, guide §1.2: the screen stack
    is timed end-to-end by the registered `decontaminate_fuzzy` row
    itself; re-running it here measured pure duplication, and the
    builder calls the registered function so the by-construction
    coupling holds). One row per panel doc with >= 1 true
    contaminating pair: (b, n_true, n_found, recall)."""
    from ..functions.text import hash60

    docs = _docs_nd(spark, sf_dir)
    pred = F.col("doc_id") % _FUZZY_EVAL_MOD == _FUZZY_EVAL_REM
    train, ev = docs.where(~pred), docs.where(pred)
    panel = (
        ev.select(
            "doc_id",
            hash60(F.col("doc_id").cast("string"), seed="fdr").alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(32)
        .select("doc_id")
    )
    ht = dedup.hashed_shingle_arrays(train)
    # Truth's eval side restricted BELOW the shingle explode: only the
    # 32 panel documents pay the exact inverted-index join.
    he = dedup.hashed_shingle_arrays(ev.join(F.broadcast(panel), "doc_id"))
    st = ht.select(F.col("doc_id").alias("a"), F.explode("hs").alias("sh"))
    se = he.select(F.col("doc_id").alias("b"), F.explode("hs").alias("sh"))
    sa = ht.select(F.col("doc_id").alias("a"), F.size("hs").alias("na"))
    sb = he.select(F.col("doc_id").alias("b"), F.size("hs").alias("nb"))
    inter = st.join(se, "sh").groupBy("a", "b").agg(F.count("*").alias("i"))
    truth = (
        inter.join(sa, "a")
        .join(sb, "b")
        .where(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")) >= 0.5
        )
        .select("a", "b")
    )
    found = (
        _shared_fuzzy_screen(spark, sf_dir)
        .join(F.broadcast(panel.withColumnRenamed("doc_id", "b")), "b", "semi")
        .select("a", "b", F.lit(1).alias("hit"))
    )
    return (
        truth.join(found, ["a", "b"], "left")
        .groupBy("b")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "b",
            "n_true",
            "n_found",
            (F.col("n_found") / F.col("n_true")).alias("recall"),
        )
    )


SQL_FUZZY_DECON_RECALL = f"""
WITH {_DUCK_SHINGLE_SET},
panel AS (
  SELECT doc_id FROM docs_nd
  WHERE doc_id % {_FUZZY_EVAL_MOD} = {_FUZZY_EVAL_REM}
  ORDER BY {hash60_sql("doc_id::VARCHAR", "'fdr'")}, doc_id LIMIT 32
),
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
bt AS (
  SELECT doc_id AS a, band_id, band_key FROM bands
  WHERE doc_id % {_FUZZY_EVAL_MOD} <> {_FUZZY_EVAL_REM}
),
be AS (
  SELECT doc_id AS b, band_id, band_key FROM bands
  WHERE doc_id % {_FUZZY_EVAL_MOD} = {_FUZZY_EVAL_REM}
),
cand AS (SELECT DISTINCT a, b FROM bt JOIN be USING (band_id, band_key)),
finter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
found AS (
  SELECT i2.a, i2.b
  FROM finter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
tinter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM shh x
  JOIN shh y ON y.sh_hash = x.sh_hash
  WHERE x.doc_id % {_FUZZY_EVAL_MOD} <> {_FUZZY_EVAL_REM}
    AND y.doc_id IN (SELECT doc_id FROM panel)
  GROUP BY 1, 2
),
truth AS (
  SELECT t.a, t.b
  FROM tinter t
  JOIN sizes sa ON sa.doc_id = t.a
  JOIN sizes sb ON sb.doc_id = t.b
  WHERE t.i / (sa.n + sb.n - t.i) >= 0.5
)
SELECT truth.b, count(*)::BIGINT AS n_true,
       sum(CASE WHEN found.a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_found,
       sum(CASE WHEN found.a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         / count(*) AS recall
FROM truth
LEFT JOIN found ON found.a = truth.a AND found.b = truth.b
GROUP BY truth.b
"""


def q_decontamination_report(spark, sf_dir):
    """The decontamination MATRIX as one per-train-doc report — the
    artifact a curation pipeline actually consumes before shipping a
    corpus: for every train document, the exact-8-gram screen's shared
    gram count (`textops.decontaminate`), the fuzzy MinHash screen's
    verdict (`dedup.cross_corpus_near_duplicates`), and the span
    scrub's token accounting (`textops.decontaminate_scrub`), all on
    the SAME eval split (doc_id % 13 == 7). Three screens, one left
    join each onto the scrub's every-doc spine — composition of
    registered operators, no new machinery. The fuzzy verdicts and the
    scrub spine serve from the pair-shared parquet of their OWN
    registered rows (`_shared_fuzzy_screen` / `_shared_decon_scrub` —
    round 14, guide §1.2: both stacks are already timed end-to-end by
    `decontaminate_fuzzy` / `decontaminate_scrub`; re-running them
    here measured pure duplication, and the builders call the
    registered functions so the coupling holds by construction). The
    exact 8-gram screen stays inline — its %13 split differs from the
    registered `decontaminate` row's split, so no registered row times
    this exact stack."""
    docs = _docs_nd(spark, sf_dir)
    pred = F.col("doc_id") % _FUZZY_EVAL_MOD == _FUZZY_EVAL_REM
    train, ev = docs.where(~pred), docs.where(pred)
    ex = textops.decontaminate(train, ev).select(
        "doc_id", "n_shared_grams"
    )
    fz = (
        _shared_fuzzy_screen(spark, sf_dir)
        .select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("fz", F.lit(True))
    )
    sc = _shared_decon_scrub(spark, sf_dir)
    return (
        sc.join(ex, "doc_id", "left")
        .join(fz, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_kept_tokens",
            F.coalesce(F.col("n_shared_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_grams"),
            F.coalesce(F.col("fz"), F.lit(False)).alias("fuzzy_hit"),
        )
    )


def _sql_decontamination_report() -> str:
    from ..operators import textops as _t

    w = _t.BOILER_TOKENS
    ev = f"doc_id % {_FUZZY_EVAL_MOD} = {_FUZZY_EVAL_REM}"
    return f"""
WITH {_DUCK_SHINGLE_SET},
-- exact 8-gram screen (SQL_DECONTAMINATE shape on the fuzzy split)
trg AS (
  SELECT DISTINCT doc_id, {hash60_sql('sh8')} AS g FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES8}) AS sh8
    FROM docs_nd WHERE NOT ({ev})
  )
),
evg AS (
  SELECT DISTINCT doc_id AS eval_id, {hash60_sql('sh8')} AS g FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES8}) AS sh8
    FROM docs_nd WHERE {ev}
  )
),
hot AS (SELECT g FROM evg GROUP BY g HAVING count(*) > {dedup.DEFAULT_MAX_DF}),
evc AS (SELECT * FROM evg WHERE g NOT IN (SELECT g FROM hot)),
ex AS (
  SELECT t.doc_id, count(DISTINCT t.g)::BIGINT AS n_shared_grams
  FROM trg t JOIN evc e ON t.g = e.g GROUP BY t.doc_id
),
-- fuzzy MinHash screen (SQL_DECONTAMINATE_FUZZY shape)
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
bt AS (
  SELECT doc_id AS a, band_id, band_key FROM bands WHERE NOT ({ev})
),
be AS (
  SELECT doc_id AS b, band_id, band_key FROM bands WHERE {ev}
),
cand AS (SELECT DISTINCT a, b FROM bt JOIN be USING (band_id, band_key)),
finter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
fz AS (
  SELECT DISTINCT i2.a AS doc_id
  FROM finter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
-- span scrub (the every-train-doc spine; _sql_decontaminate_scrub shape)
wd AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM docs_nd),
evsp AS (
  SELECT DISTINCT md5(array_to_string(
           list_slice(ws, start, start + {w} - 1), ' ')) AS whash
  FROM (
    SELECT ws,
           unnest(range(1, greatest(len(ws) - {w} + 1, 1) + 1)) AS start
    FROM wd WHERE {ev} AND len(ws) > 0
  )
),
st AS (
  SELECT doc_id, ws,
         unnest(range(1, greatest(len(ws), 1) + 1, {w})) AS start
  FROM wd WHERE NOT ({ev})
),
sp2 AS (
  SELECT doc_id,
         array_to_string(list_slice(ws, start, start + {w} - 1), ' ')
           AS wtext,
         len(list_slice(ws, start, start + {w} - 1))::BIGINT AS wtok
  FROM st
),
kept AS (SELECT * FROM sp2 WHERE md5(wtext) NOT IN (SELECT whash FROM evsp)),
rb AS (
  SELECT doc_id, sum(wtok)::BIGINT AS n_kept_tokens FROM kept GROUP BY doc_id
)
SELECT wd.doc_id, len(wd.ws)::BIGINT AS n_tokens,
       coalesce(rb.n_kept_tokens, 0)::BIGINT AS n_kept_tokens,
       coalesce(ex.n_shared_grams, 0)::BIGINT AS n_shared_grams,
       (fz.doc_id IS NOT NULL) AS fuzzy_hit
FROM wd
LEFT JOIN rb USING (doc_id)
LEFT JOIN ex USING (doc_id)
LEFT JOIN fz USING (doc_id)
WHERE NOT ({ev})
"""


PIPELINE_QUERIES: dict[str, tuple] = {
    "decontamination_report": (
        q_decontamination_report,
        _sql_decontamination_report(),
    ),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "decontaminate_fuzzy": (q_decontaminate_fuzzy, SQL_DECONTAMINATE_FUZZY),
    "decontaminate_fuzzy_canonical": (
        q_decontaminate_fuzzy_canonical,
        SQL_DECONTAMINATE_FUZZY,
    ),
    "fuzzy_decon_recall": (q_fuzzy_decon_recall, SQL_FUZZY_DECON_RECALL),
    "boilerplate_removal": (
        q_boilerplate_removal,
        _sql_boilerplate_removal(),
    ),
    "boilerplate_screen": (q_boilerplate_screen, _sql_boilerplate_screen()),
    "boilerplate_screen_streaming": (
        q_boilerplate_screen_streaming,
        _sql_boilerplate_screen(),
    ),
    "dsir_weights": (q_dsir_weights, _sql_dsir_weights()),
    "dsir_score": (q_dsir_score, _sql_dsir_score()),
    "dsir_score_streaming": (q_dsir_score_streaming, _sql_dsir_score()),
    "bm25_search": (q_bm25_search, _sql_bm25_search()),
    "bm25_route": (q_bm25_route, _sql_bm25_route()),
    "bm25_route_streaming": (q_bm25_route_streaming, _sql_bm25_route()),
    "bm25_index_roundtrip": (q_bm25_index_roundtrip, _sql_bm25_route()),
    "decontaminate_scrub": (
        q_decontaminate_scrub,
        _sql_decontaminate_scrub(),
    ),
    "decontaminate_scrub_streaming": (
        q_decontaminate_scrub_streaming,
        _sql_decontaminate_scrub(),
    ),
}
