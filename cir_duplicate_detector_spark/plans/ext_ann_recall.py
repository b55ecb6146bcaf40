"""ANN recall diagnostic `pq_recall`: recall@5 of the shipped IVF-ADC
index (raw ADC and refined) against exact squared-L2.

Split out of ``ext_ann.py`` (round 14 — VERDICT r13 item 6: the
module had grown past the <=1.5k registry-module discipline the
round-10 split established) with NO behavior change: same callables,
same oracle strings, same registry names; the aggregator
(`extension_queries`) preserves the frozen registration order.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from ..functions.text import hash60_sql
from ..sources.tables import load_table

from .ext_ann import (
    PQ_REFINE,
    _SQL_L2_QC,
    _shared_ivfpq_index,
    _sql_ivf_pq_chain,
    _sql_refined,
)


def q_pq_recall(spark, sf_dir):
    """Recall@5 of BOTH IVF-ADC stages vs EXACT squared-L2 — the metric
    ADC approximates: ``recall_adc`` for the raw ADC top-5 and
    ``recall_refined`` for the exact re-rank of the same 20-candidate
    shortlist, computed from ONE shared shortlist (the shortlist plan
    is materialized once; the ADC top-5 is its rank ≤ 5 prefix).
    Completes the self-measuring matrix (`ann_recall_lsh` /
    `ann_recall_ivf` / `semantic_recall_learned` / `minhash_recall`):
    every approximate index ships its own oracle-checked recall row,
    and the refined column shows what the re-rank stage buys.

    Probes are a FIXED-SIZE deterministic panel (the 32 smallest
    seeded-hash vec_ids — a distributed top-k, not a window), NOT the
    corpus-scaled ``% 100`` rule the search queries use: the exact
    side costs |panel|·N distances, so a corpus-growing probe count
    would make the diagnostic quadratic (measured 154 s at the 10×
    replica under ``% 100``; the panel keeps it linear — the same
    fixed-fraction discipline as `minhash_recall`'s probe sample)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_recall_over(
        emb,
        index=_shared_ivfpq_index(spark, sf_dir),
        tag="pqr_shared_index",
    )


def _sql_pq_recall() -> str:
    h = hash60_sql("vec_id::VARCHAR", "'pqr'")
    panel = f"SELECT vec_id, e FROM n ORDER BY {h}, vec_id LIMIT 32"
    return f"""
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
{_sql_ivf_pq_chain(
    probes_body=f"SELECT vec_id AS query_id, e FROM ({panel})",
    topk=PQ_REFINE,
)}
{_sql_refined(5)},
adc AS (SELECT query_id, neighbor_id FROM ivfpq WHERE rank <= 5),
bfs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_L2_QC} AS l2sq
  FROM ({panel}) q, n c
  WHERE q.vec_id <> c.vec_id
),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY l2sq, neighbor_id
    ) AS rank FROM bfs
  ) WHERE rank <= 5
)
SELECT bf.query_id, count(*) AS n_true,
       sum(CASE WHEN adc.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit_adc,
       sum(CASE WHEN adc.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         / count(*) AS recall_adc,
       sum(CASE WHEN refined.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit_refined,
       sum(CASE WHEN refined.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         / count(*) AS recall_refined
FROM bf
LEFT JOIN adc
  ON bf.query_id = adc.query_id AND bf.neighbor_id = adc.neighbor_id
LEFT JOIN refined
  ON bf.query_id = refined.query_id AND bf.neighbor_id = refined.neighbor_id
GROUP BY bf.query_id
"""


def _pq_recall_panel(corpus):
    from ..functions.text import hash60

    return (
        corpus.select(
            "vec_id",
            hash60(F.col("vec_id").cast("string"), seed="pqr").alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(32)
        .select("vec_id")
    )


def _pq_recall_over(corpus, index, tag):
    """`pq_recall`'s shape: fixed 32-probe panel, one shared ADC
    shortlist from ``index``, brute-force L2 truth over ``corpus``."""
    from ..cache import materialize
    from ..operators import pq

    probe = _pq_recall_panel(corpus)
    bf = pq.knn_l2_bruteforce(corpus, probe, k=5).select(
        "query_id", "neighbor_id"
    )
    short = materialize(
        pq.knn_ivf_pq_from_index(index, corpus, probe, k=PQ_REFINE)
    )
    # Identity tag (round 15, ADVICE r14): the final plan is a
    # checkpoint scan whose provenance (which index built the
    # shortlist) lives in EAGER build jobs the analyzed plan never
    # shows; the SubqueryAlias makes it plan-visible.
    short = short.alias(tag)
    adc = short.where(F.col("rank") <= 5).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_adc")
    )
    ref = pq.pq_refine(corpus, short, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_ref")
    )
    return (
        bf.join(adc, ["query_id", "neighbor_id"], "left")
        .join(ref, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit_adc"), F.lit(0))).alias("n_hit_adc"),
            F.sum(F.coalesce(F.col("hit_ref"), F.lit(0))).alias(
                "n_hit_refined"
            ),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit_adc",
            (F.col("n_hit_adc") / F.col("n_true")).alias("recall_adc"),
            "n_hit_refined",
            (F.col("n_hit_refined") / F.col("n_true")).alias(
                "recall_refined"
            ),
        )
    )


ANN_RECALL_QUERIES: dict[str, tuple] = {
    "pq_recall": (q_pq_recall, _sql_pq_recall()),
}
