"""Shared helpers for the extension-query family modules:
derived-corpus handles, DuckDB expression twins (words,
shingles, quality bands), and the minhash/kmeans SQL chains
used by more than one family.

Split out of the monolithic ``extension_queries.py`` (round-10
modularity; VERDICT r9 item 6) with NO behavior change: same
callables, same oracle strings, same registry names.
"""

from __future__ import annotations

from ..functions.text import hash60_sql
from ..operators import dedup, textops
from ..sources.derived import (
    derive_near_dup_corpus,
    near_dup_corpus_sql,
    near_dup_embeddings_sql,
)
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


_ND_EMB = near_dup_embeddings_sql("duckdb")


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


# Fold-order-pinned squared L2 over 64-dim double arrays named e / c —
# DuckDB's list_sum(list_transform) folds sequentially, matching Spark's
# F.aggregate(zip_with) bit for bit (operators.kmeans docstring).
_KM_DIST = (
    "list_sum(list_transform(range(1, 65),"
    " j -> (e[j] - c[j]) * (e[j] - c[j])))"
)


def _sql_kmeans_lloyd(
    src: str, k: "int | str", iters: int, salts: int, prefix: str = ""
) -> str:
    """CTE chain ``cent0 .. cent{iters}`` learning ``k`` centroids with
    ``iters`` unrolled Lloyd rounds over CTE ``src`` (columns vec_id, e)
    — the SQL twin of `operators.kmeans.kmeans_centroids`, parametrized
    by source so `kmeans_embeddings` (full corpus) and
    `kmeans_ivf_assign` (deterministic sample) share one generator.
    ``k`` may be an int literal or a SQL expression string (the learned
    family derives √|sample| via a scalar subquery — the twin of
    `kmeans.sqrt_sample_k`). Returned string starts with a comma
    (appends to an open WITH)."""
    h = hash60_sql("vec_id::VARCHAR", "'km'")
    parts = [
        f""",
{prefix}cent0 AS (
  SELECT (rn - 1)::BIGINT AS cluster, e AS c FROM (
    SELECT e, row_number() OVER (ORDER BY {h}, vec_id) AS rn FROM {src}
  ) WHERE rn <= ({k})
)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
{prefix}score{i} AS (
  SELECT vec_id, cluster, {_KM_DIST} AS d FROM {src}, {prefix}cent{i}
),
{prefix}best{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM {prefix}score{i}
  ) WHERE rn = 1
),
{prefix}pe{i} AS (
  SELECT s.vec_id, b.cluster, j.j AS pos, s.e[j.j] AS val
  FROM {src} s JOIN {prefix}best{i} b USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
),
{prefix}p1_{i} AS (
  SELECT cluster, pos, vec_id % {salts} AS salt,
         list_sum(list(val ORDER BY vec_id)) AS psum,
         count(*)::BIGINT AS pn
  FROM {prefix}pe{i} GROUP BY 1, 2, 3
),
{prefix}p2_{i} AS (
  SELECT cluster, pos,
         list_sum(list(psum ORDER BY salt)) AS s,
         sum(pn)::BIGINT AS cnt
  FROM {prefix}p1_{i} GROUP BY 1, 2
),
{prefix}cent{i + 1} AS (
  SELECT cluster, list(s / cnt ORDER BY pos) AS c
  FROM {prefix}p2_{i} GROUP BY cluster
)"""
        )
    return "".join(parts)


def _sql_kmeans_ivf_cells(idx_pred: str = "TRUE") -> str:
    """CTE chain (starts with a comma, appends to an open WITH whose
    ``n`` CTE provides ``vec_id, e`` double arrays) ending in ``cells``
    = ``(vec_id, coarse, fine, d)`` — the SQL twin of
    `operators.kmeans.kmeans_ivf_assign`, shared by the plain
    `kmeans_ivf_assign` oracle and `ivf_upsert_drift`.

    ``idx_pred`` restricts the INDEX-BUILD inputs (the Lloyd sample
    and the fine table) to a sub-corpus while still assigning ALL of
    ``n`` through the result — the twin of building
    `kmeans.ivf_quantizer` from one split and serving the whole frame
    via `ivf_assign_from_index` (`decontaminate_semantic` learns from
    the train side only). The default emits the exact historical
    string, so existing oracles are byte-unchanged."""
    from ..operators import kmeans

    iters, salts = kmeans.KM_ITERS, kmeans.KM_SALTS
    idx = "" if idx_pred == "TRUE" else f" AND ({idx_pred})"
    # sqrt-scaled coarse k derived from the sample -- the twin of
    # kmeans.sqrt_sample_k (isqrt == floor(sqrt) at any testable N).
    k = "(SELECT greatest(2, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM s)"
    smod = kmeans.KM_IVF_SAMPLE_MOD
    fmod = kmeans.KM_IVF_FINE_MOD
    # Same fold-pinned squared L2, field names per join side.
    dist_f = (
        "list_sum(list_transform(range(1, 65),"
        " j -> (a.e[j] - fi.f[j]) * (a.e[j] - fi.f[j])))"
    )
    return f""",
s AS (SELECT vec_id, e FROM n WHERE vec_id % {smod} = 0{idx})
{_sql_kmeans_lloyd('s', k, iters, salts)},
coarse AS (SELECT cluster AS coarse, c FROM cent{iters}),
assigned AS (
  SELECT vec_id, e, coarse FROM (
    SELECT n.vec_id, n.e, coarse.coarse,
           row_number() OVER (
             PARTITION BY n.vec_id ORDER BY {_KM_DIST}, coarse.coarse
           ) AS rn
    FROM n, coarse
  ) WHERE rn = 1
),
fine AS (
  SELECT coarse, vec_id AS fine_id, e AS f
  FROM assigned WHERE vec_id % {fmod} = 0{idx}
),
scored AS (
  SELECT a.vec_id, a.coarse, fi.fine_id,
         CASE WHEN fi.fine_id IS NULL THEN NULL ELSE {dist_f} END AS d
  FROM assigned a LEFT JOIN fine fi ON fi.coarse = a.coarse
),
cells AS (
  SELECT vec_id, coarse, coalesce(fine_id, -1)::BIGINT AS fine, d FROM (
    SELECT vec_id, coarse, fine_id, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, fine_id) AS rn
    FROM scored
  ) WHERE rn = 1
)"""

