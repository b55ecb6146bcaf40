"""Shared helpers for the extension-query family modules:
derived-corpus handles, DuckDB expression twins (words,
shingles, quality bands), and the minhash SQL chains
used by more than one family.

Split out of the monolithic ``extension_queries.py`` (round-10
modularity; VERDICT r9 item 6) with NO behavior change: same
callables, same oracle strings, same registry names.
"""

from __future__ import annotations

from ..functions.text import hash60_sql
from ..operators import dedup, textops
from ..sources.derived import derive_near_dup_corpus, near_dup_corpus_sql
from ..sources.tables import load_table


_ND = near_dup_corpus_sql("duckdb")


_DUCK_WORDS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


# word-3-gram shingles (functions.text.word_shingles twin)
_DUCK_SHINGLES = f"""
CASE WHEN len({_DUCK_WORDS}) < 3 THEN [text]
     ELSE [array_to_string(list_slice({_DUCK_WORDS}, i, i + 2), ' ')
           for i in range(1, len({_DUCK_WORDS}) - 1)] END
"""


def _docs_nd(spark, sf_dir):
    return derive_near_dup_corpus(load_table(spark, sf_dir, "documents"))


_DUCK_SHINGLE_SET = f"""
docs_nd AS ({_ND}),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM docs_nd
  )
),
shh AS (SELECT doc_id, {hash60_sql('sh')} AS sh_hash FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id)
"""


def _lane_sql(j: int) -> str:
    a, b = dedup._lane_params(j)
    p = dedup.MINHASH_P
    return f"({a} * (sh_hash % {p}) + {b}) % {p}"


_LANES = ",\n    ".join(
    f"min({_lane_sql(j)}) AS m{j}" for j in range(dedup.MINHASH_K)
)


_BAND_ROWS = dedup.MINHASH_K // dedup.LSH_BANDS


_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"""SELECT doc_id, {b} AS band_id, md5({" || ',' || ".join(
        f"cast(m{b * _BAND_ROWS + r} as string)" for r in range(_BAND_ROWS)
    )}) AS band_key FROM sigs"""
    for b in range(dedup.LSH_BANDS)
)


# Shared oracle CTE chain: MinHash LSH pairs -> recursive-CTE connected
# components. Used by dup_clusters and cluster_representatives.
_DUCK_CC_CTES = f"""{_DUCK_SHINGLE_SET},
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r USING (band_id, band_key)
  WHERE l.doc_id < r.doc_id
),
inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
mh_pairs AS (
  SELECT i2.a, i2.b
  FROM inter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
dedges AS (
  SELECT a, b FROM mh_pairs UNION ALL SELECT b AS a, a AS b FROM mh_pairs
),
walk(node, label) AS (
  SELECT a, a FROM dedges
  UNION
  SELECT e.b, w.label FROM walk w JOIN dedges e ON e.a = w.node
),
cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)"""


_STOP_EN = textops.lang_pattern(textops.STOPWORDS_EN)


# THE oracle-side copy of `textops.quality_score_expr` (inline form
# over `text`). Every oracle needing the composite score interpolates
# this one string — the Spark side funnels through one
# quality_score_expr(), and hand-keeping several SQL copies
# IEEE-identical is exactly the drift this prevents.
_DUCK_QUALITY_EXPR = f"""0.4 * least(len(regexp_extract_all(text, '{_STOP_EN}'))
                     / len({_DUCK_WORDS}) * 4, 1.0)
         + 0.3 * least(cast(len({_DUCK_WORDS}) as double) / 100.0, 1.0)
         + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[.,;:!?]'))
                              / length(text) * 10, 1.0))"""


# word-8-gram shingles (functions.text.word_shingles n=8 twin)
_DUCK_SHINGLES8 = f"""
CASE WHEN len({_DUCK_WORDS}) < 8 THEN [text]
     ELSE [array_to_string(list_slice({_DUCK_WORDS}, i, i + 7), ' ')
           for i in range(1, len({_DUCK_WORDS}) - 6)] END
"""
