"""Embedding cosine helpers and the semantic decontamination screen.

* ``dot64`` / ``norm64`` — float→double widened, sequentially folded
  dot product and norm, which Spark's aggregate() and DuckDB's
  list_sum() evaluate identically, so cosine scores have a bit-exact
  oracle
* ``semantic_cross_decontaminate`` — TRAIN/EVAL cosine pairs within
  the cells of a train-side two-level quantizer (`operators.kmeans`)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dot64(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm64(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def semantic_cross_decontaminate(
    vectors: DataFrame,
    eval_pred,
    threshold: float = 0.9,
    k: int | None = None,
    iters: int | None = None,
    sample_mod: int | None = None,
    fine_mod: int | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """SEMANTIC decontamination — the third screen of the matrix
    (`decontaminate`: exact word-8-grams; `decontaminate_fuzzy`:
    MinHash/Jaccard; this: embedding cosine): TRAIN documents whose
    embedding is near an EVAL document's, catching the reworded
    contamination that shares meaning but few surface n-grams.
    ``eval_pred`` is a Column predicate over ``vec_id`` splitting one
    corpus frame; output is ``(train_id, eval_id, coarse, fine,
    cosine)`` for cross-split pairs with cosine >= ``threshold``.

    REALISTIC INDEX DIRECTION: the two-level quantizer
    (`kmeans.ivf_quantizer`) is learned from the TRAIN side only —
    eval sets are small and arrive late, so production builds the
    index once from the training corpus and probes eval through it
    (`kmeans.ivf_assign_from_index`, the same serving path as
    `ivf_index_roundtrip`). Both sides assign through the shared
    argmin/equi-join code, then pairs form WITHIN each (coarse, fine)
    cell with the eval restriction pushed BELOW the join — per-cell
    work is |cell∩train|·|cell∩eval|, never |cell|². Like every
    cell-restricted screen, a cross-cell near-pair is invisible by
    construction; the blindness is the SemDeDup trade
    `semantic_decon_recall` measures.
    """
    from ..cache import materialize
    from .kmeans import ivf_assign_from_index, ivf_quantizer

    # `cells` lets the caller share one built (possibly parquet-reread)
    # train-side quantizer assignment across the screen and its recall
    # diagnostic — deterministic build, so results are identical to
    # the in-query form.
    if cells is None:
        kwargs = {}
        if k is not None:
            kwargs["k"] = k
        if iters is not None:
            kwargs["iters"] = iters
        if sample_mod is not None:
            kwargs["sample_mod"] = sample_mod
        if fine_mod is not None:
            kwargs["fine_mod"] = fine_mod
        coarse, fine = ivf_quantizer(vectors.where(~eval_pred), **kwargs)
        cells = ivf_assign_from_index(coarse, fine, vectors).select(
            "vec_id", "coarse", "fine"
        )
    else:
        cells = cells.select("vec_id", "coarse", "fine")
    base = vectors.select(
        "vec_id", "embedding", norm64(F.col("embedding")).alias("nrm")
    )
    member = materialize(base.join(cells, "vec_id"))
    t = member.where(~eval_pred).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("t_emb"),
        F.col("nrm").alias("t_nrm"),
        "coarse",
        "fine",
    )
    v = member.where(eval_pred).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
        "coarse",
        "fine",
    )
    cos = dot64(F.col("t_emb"), F.col("v_emb")) / (
        F.col("t_nrm") * F.col("v_nrm")
    )
    return (
        t.join(v, ["coarse", "fine"])
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("train_id", "eval_id", "coarse", "fine", "cosine")
    )
