"""Product quantization (PQ) for embedding columns — the compression
path large-scale ANN actually ships (IVF-ADC): each 64-dim vector is
encoded as M=8 one-byte-ish codes (nearest centroid per 8-dim
subspace), and query-time scoring uses the asymmetric distance
computation (ADC): a query precomputes its distance to every centroid
of every subspace once (Q × M × K partial distances), and a database
vector's approximate distance is the SUM of M table lookups — no
original vectors touched at scan time.

Spark shapes (every stage an equi- or broadcast join; nothing all-pairs):

* codebook build: deterministic sample (``vec_id % centroid_mod == 0``)
  exploded into M subvectors — a tiny broadcastable dimension table
  (a real deployment k-means refines it; selection strategy is
  orthogonal to the join shapes, same stance as `similarity.knn_ivf`).
* encoding: corpus × broadcast(codebook) partial-distance scoring, then
  ``min_by`` argmin per (vector, subspace) — map-side join + one
  hash-agg shuffle on vec_id. At 100 TB this is the one full-data pass,
  and it writes 8 small ints per vector instead of 64 floats (16×
  compression in this configuration).
* ADC scoring: probe partial-distance table (Q·M·K rows, broadcast) ⋈
  corpus codes on (subspace, code) — an equi-join — then an 8-row sum
  per (query, neighbor) in one hash aggregate. Shuffle keys are
  (query_id, neighbor_id): fully scale-out, candidate volume is N·M
  rows of codes, NOT N·Q pairs of vectors.

All arithmetic is double with sequential fold order, bit-equal to the
DuckDB oracle (same discipline as `similarity.dot64`).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
    Window,
    functions as F,
)

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (M * SUBDIM = 64, the testdata dim)
# FIXED codebook size per subspace — the property that makes PQ scale.
# (A first cut sampled codewords as ``vec_id % 40 == 0``, i.e. K grew
# linearly with the corpus: encode cost O(N·K) silently became
# O(N²/40) — measured 66× growth on a 10× corpus. Real PQ always pins
# K (typically 256 = one byte per code) regardless of N; the codebook
# here is the smallest ``n_codewords`` vec_ids, a cheap global
# top-k/TakeOrdered that any engine executes without a full sort.)
PQ_CODEWORDS = 256

# The COMPOSED IVF-ADC index (`knn_ivf_pq`) runs a recall-tuned
# configuration, independent of the flat-PQ constants above (which stay
# the 16×-compression demo `knn_pq_adc` / `pq_codes_upsert` ship).
# Chosen by measured sweeps on the sf0.1 corpus (rounds 8–9; recall@5
# vs exact L2, fixed probe panel) — the corpus is ~uniform random unit
# vectors, so the coarse cells capture little structure and BOTH levers
# matter:
#   M=8  SD=8 nprobe=3 (round-7 raw):      ADC 0.19, refined 0.33
#   M=8  SD=8 nprobe=3 residual:           ADC 0.22, refined 0.32
#   M=8  SD=8 nprobe=8 residual:           ADC 0.27, refined 0.44
#   M=16 SD=4 nprobe=8 residual (round 8): ADC 0.40, refined 0.65
# Round-9 sweep over the r8 verdict's binding constraint — the
# candidate ceiling (nprobe × ADC shortlist), 32-query panel, min wall
# time per point ~11–17 s (flat; the Lloyd build dominates):
#   nprobe=8  refine=20 (round 8):   ADC 0.41, refined 0.62
#   nprobe=8  refine=64:             ADC 0.41, refined 0.68
#   nprobe=12 refine=64:             ADC 0.43, refined 0.78
#   nprobe=16 refine=64 (SHIPPED):   ADC 0.46, refined 0.91
#   nprobe=16 refine=128:            ADC 0.46, refined 0.93
#   nprobe=24 refine=128:            ADC 0.49, refined 1.00
# nprobe=16 of ~√N cells probes 36% of THIS 2k-vector corpus but a
# vanishing fraction as N grows (16/√N), and candidate volume stays
# linear in N at fixed nprobe — the knob is scale-safe; refine=64 per
# probe is a constant re-rank cost. Past (16, 64) the curve flattens
# (+0.013 for 2× the shortlist), so that is the shipped point. Codes
# are 16 bytes per vector — still 16× smaller than the float32
# original.
IVFPQ_M = 16
IVFPQ_SUBDIM = 4
IVFPQ_NPROBE = 16


def _sub(col, m: int, subdim: int = PQ_SUBDIM) -> Column:
    """1-based slice of subspace ``m`` from an array column."""
    return F.slice(col, m * subdim + 1, subdim)


def _l2sq(a: Column, b: Column, subdim: int = PQ_SUBDIM) -> Column:
    """Squared L2 distance between two ``subdim``-element array columns,
    UNROLLED into a flat left-associative scalar expression: higher-order
    functions (``aggregate``/``zip_with``) evaluate their lambda
    interpreted per element, while this shape whole-stage-codegens into
    a tight loop (measured ~3× on the encode pass). Left-assoc addition
    keeps the fold order identical to DuckDB's ``list_sum``."""
    out = None
    for i in range(subdim):
        d = F.element_at(a, i + 1).cast("double") - F.element_at(
            b, i + 1
        ).cast("double")
        term = d * d
        out = term if out is None else out + term
    return out


def pq_codebook(
    vectors: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """(subspace, cid, csub): per-subspace codewords — the smallest
    ``n_codewords`` vec_ids (deterministic, corpus-size-independent).
    BOUNDED (M·K rows) — broadcast everywhere it is used."""
    sample = vectors.orderBy("vec_id").limit(n_codewords)
    subs = F.array(
        *[
            F.struct(
                F.lit(i).alias("subspace"),
                _sub(F.col("embedding"), i, subdim).alias("csub"),
            )
            for i in range(m)
        ]
    )
    return sample.select(
        F.col("vec_id").alias("cid"), F.explode(subs).alias("s")
    ).select("s.subspace", "cid", "s.csub")


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
) -> DataFrame:
    """(vec_id, subspace, code): nearest codeword per subspace.

    Ties break to the smallest cid on both engines (argmin over the
    (dist, cid) pair). One broadcast join + one hash aggregate.

    The exploded side REPARTITIONS to cluster width first: this is the
    ONE full-data O(N·M·K) pass of the index build, CPU-dense per byte
    (each input row fans out to M·K scored rows inside the stage), and
    its input is typically a small/materialized frame whose partition
    count AQE has coalesced to ~1 — which serializes the whole encode
    on one core (measured at the 10× replica: the encode stage alone
    took 103 s single-task; the same repartition-before-CPU-dense-
    pipeline posture as `pdq._grid_joined` / SCALE.md global posture).

    The repartition is KEYED by vec_id (round 14, guide §2.4): hash
    partitioning on vec_id satisfies the clustering the
    (vec_id, subspace) argmin aggregate requires — and the vec_id
    aggregate `_pack_codes` chains after it — so the whole
    explode→score→argmin→pack pipeline runs on ONE exchange where the
    round-robin form paid that exchange PLUS two post-aggregation
    shuffles of the N·M code rows (and round-robin's
    sort-before-repartition). vec_ids are unique, so the hash spreads
    evenly at any scale."""
    slices = vectors.sparkSession.sparkContext.defaultParallelism * 2
    subs = F.array(
        *[
            F.struct(
                F.lit(i).alias("subspace"),
                _sub(F.col("embedding"), i, subdim).alias("sub"),
            )
            for i in range(m)
        ]
    )
    exploded = (
        vectors.repartition(slices, "vec_id")
        .select("vec_id", F.explode(subs).alias("s"))
        .select("vec_id", "s.subspace", "s.sub")
    )
    scored = exploded.join(F.broadcast(codebook), "subspace").withColumn(
        "d", _l2sq(F.col("sub"), F.col("csub"), subdim)
    )
    return scored.groupBy("vec_id", "subspace").agg(
        F.min_by(
            F.col("cid"),
            F.struct(F.col("d").alias("d"), F.col("cid").alias("cid")),
        ).alias("code")
    )


# Lloyd rounds for the LEARNED codebook (pq_codebook_learned). Two
# rounds, not kmeans.KM_ITERS=3: the seeds are already real data points
# (the deterministic smallest-K sample), so round-over-round centroid
# movement decays fast, while plan size and the oracle's N·M·K scoring
# CTEs grow linearly per round. Callers tune via the `iters` parameter.
PQ_LLOYD_ITERS = 2


def pq_codebook_learned(
    vectors: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    n_codewords: int = PQ_CODEWORDS,
    iters: int = PQ_LLOYD_ITERS,
    train_mod: int = 1,
) -> DataFrame:
    """(subspace, cid, csub): per-subspace Lloyd-LEARNED codewords — the
    k-means refinement :func:`pq_codebook`'s docstring defers ("a real
    deployment k-means refines it"). Seeds are exactly the deterministic
    :func:`pq_codebook` sample (cluster id = seed vec_id, stable across
    rounds); each round then re-assigns every subvector to its nearest
    codeword and recomputes codeword means.

    One GROUPED Lloyd job, not M independent ones: every stage carries
    ``subspace`` in its key, so assignment is a single broadcast join of
    the exploded (vec_id, subspace, sub) corpus against the M·K-row
    codebook, and the mean update is one aggregation tree keyed by
    (subspace, cid, pos) — M× less scheduling than per-subspace loops
    and the identical shuffle shape at any M.

    Engine-reproducible by the same construction as
    `kmeans.kmeans_centroids` (whose fold machinery this shares):
    deterministic seeds, argmin ties to the smallest cid, and the
    centroid mean's double accumulation pinned by the two-phase sorted
    fold (salt sub-buckets folded in vec_id order, partials folded in
    salt order — `kmeans._sorted_fold`). Codewords that lose every
    member drop out of the next round on both engines.

    ``train_mod`` restricts TRAINING to the deterministic sample
    ``vec_id % train_mod == 0`` (seeds included) — what production PQ
    does at scale: codebooks train on a bounded sample, the full
    corpus only pays the one O(N·M·K) encode pass (`pq_encode`).
    With the default ``train_mod=1`` the Lloyd rounds themselves cost
    O(N·M·K) per round — still linear in the corpus with K FIXED, the
    property that makes PQ the 100 TB compression path.
    """
    from .kmeans import KM_SALTS, _sorted_fold

    train = (
        vectors
        if train_mod == 1
        else vectors.where(F.col("vec_id") % train_mod == 0)
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(i).alias("subspace"),
                _sub(F.col("e"), i, subdim).alias("sub"),
            )
            for i in range(m)
        ]
    )
    # Repartition to cluster width before the per-round scoring join:
    # the training frame is a small sample whose partition count AQE
    # coalesces to ~1, and each Lloyd round fans every subvector out to
    # K scored rows inside the stage (same single-task finding as
    # `pq_encode`, measured at the 10× replica). Keyed by vec_id
    # (round 14, guide §2.4): the per-round (vec_id, subspace) argmin
    # aggregate is then already clustered and needs no exchange of the
    # sample×M×K scored rows.
    slices = train.sparkSession.sparkContext.defaultParallelism * 2
    sub = (
        train.repartition(slices, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .select("vec_id", F.explode(subs).alias("s"))
        .select("vec_id", "s.subspace", "s.sub")
    )
    cents = pq_codebook(train, m, subdim, n_codewords).select(
        "subspace", "cid", F.col("csub").cast("array<double>").alias("csub")
    )
    for _ in range(iters):
        # Argmin carries the subvector through the aggregation struct
        # (round 14, guide §2.4, the `kmeans_centroids` pattern): cid
        # is unique per (vec_id, subspace) group, so
        # min(struct(d, cid, sub)) picks the same winner as the
        # min_by(d, cid) form, and ``sub`` (identical on every row of
        # the group) rides along — removing the sub ⋈ best shuffle
        # join and the SECOND execution of the repartition+explode
        # training subtree each Lloyd round previously paid.
        scored = sub.join(F.broadcast(cents), "subspace").withColumn(
            "d", _l2sq(F.col("sub"), F.col("csub"), subdim)
        )
        members = (
            scored.groupBy("vec_id", "subspace")
            .agg(F.min(F.struct("d", "cid", "sub")).alias("m"))
            .select(
                "vec_id",
                "subspace",
                F.col("m.cid").alias("cid"),
                F.col("m.sub").alias("sub"),
            )
        )
        pe = members.select(
            "vec_id", "subspace", "cid", F.posexplode("sub").alias("pos", "val")
        )
        p1 = (
            pe.withColumn("salt", F.pmod(F.col("vec_id"), F.lit(KM_SALTS)))
            .groupBy("subspace", "cid", "pos", "salt")
            .agg(
                _sorted_fold(
                    F.collect_list(F.struct("vec_id", "val")), "val"
                ).alias("psum"),
                F.count("*").alias("pn"),
            )
        )
        p2 = p1.groupBy("subspace", "cid", "pos").agg(
            _sorted_fold(
                F.collect_list(F.struct("salt", "psum")), "psum"
            ).alias("s"),
            F.sum("pn").alias("n"),
        )
        cents = (
            p2.withColumn("cval", F.col("s") / F.col("n"))
            .groupBy("subspace", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("csub")
            )
        )
    return cents


def _query_partials(
    probes: DataFrame,
    codebook: DataFrame,
    m: int,
    subdim: int,
    keys: "tuple[str, ...]" = ("query_id",),
) -> DataFrame:
    """The ADC lookup table: (*keys, subspace, code, pd) — each probe
    row's squared distance to every codeword of every subspace
    (|probes|·M·K rows, broadcastable). Shared by :func:`knn_pq_adc`
    (keys = query_id, raw-vector partials) and :func:`knn_ivf_pq`
    (keys = (query_id, coarse): RESIDUAL encoding makes the lookup
    table cell-dependent, one probe row per probed cell) so the
    scoring tables cannot drift."""
    qsubs = F.array(
        *[
            F.struct(
                F.lit(i).alias("subspace"),
                _sub(F.col("embedding"), i, subdim).alias("qsub"),
            )
            for i in range(m)
        ]
    )
    q_exploded = probes.select(
        *keys, F.explode(qsubs).alias("s")
    ).select(*keys, "s.subspace", "s.qsub")
    return q_exploded.join(F.broadcast(codebook), "subspace").select(
        *keys,
        "subspace",
        F.col("cid").alias("code"),
        _l2sq(F.col("qsub"), F.col("csub"), subdim).alias("pd"),
    )


def _minus(a: Column, b: Column, dim: int) -> Column:
    """Element-wise ``a − b`` over ``dim``-element array columns via
    ``zip_with`` — NOT unrolled: a 64-term flat expression tree blows
    the JIT budget and falls back to interpreted evaluation (SCALE.md
    round-7 negative result; `_l2sq`'s unroll wins only at 8 terms).
    Element-wise double subtraction is order-free, so the HOF form is
    bit-equal to DuckDB's ``list_transform``. ``dim`` kept for the
    call-site contract."""
    return F.zip_with(
        a, b, lambda x, y: x.cast("double") - y.cast("double")
    )


def _coarse_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Full-corpus coarse-cell assignment CARRYING the vector:
    broadcast argmin against the ``(coarse, c)`` centroid table, ties
    to the lower cell id, output ``(vec_id, coarse, e)``. THE single
    definition shared by the index build and the upsert path — the
    merged-index-equals-rebuilt identity (`ivf_pq_upsert`) is
    structural because both call this.

    ``e`` rides through the aggregation struct (round 14, guide §2.4
    — the `kmeans._coarse_argmin` pattern): (dc, coarse) is unique per
    vec_id, so min(struct(dc, coarse, e)) picks the identical winner
    and :func:`_residualize` no longer needs the e ⋈ assigned shuffle
    join — the one full-corpus re-shuffle the build previously paid
    between assignment and residualization."""
    from .kmeans import _sq_dist

    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "coarse",
            _sq_dist(F.col("e"), F.col("c")).alias("dc"),
            "e",
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("dc", "coarse", "e")).alias("mn"))
        .select(
            "vec_id",
            F.col("mn.coarse").alias("coarse"),
            F.col("mn.e").alias("e"),
        )
    )


def _residualize(
    assigned: DataFrame, cents: DataFrame, dim: int
) -> DataFrame:
    """Residuals r(v) = v − centroid(cell(v)) over the carried-vector
    assignment frame ``(vec_id, coarse, e)`` — one element-wise
    subtract against the broadcast centroid table (map-side only; the
    e ⋈ assigned equi-join this used to need is gone now that
    :func:`_coarse_assign` carries the vector). Shared by the build
    and upsert paths."""
    return (
        assigned.join(F.broadcast(cents), "coarse")
        .select(
            "vec_id",
            _minus(F.col("e"), F.col("c"), dim).alias("embedding"),
        )
    )


def _adc_topk(pd_rows: DataFrame, m: int, k: int) -> DataFrame:
    """Rank candidates by ADC distance. ``pd_rows`` carries one row per
    (query_id, neighbor_id, subspace) with that subspace's partial
    distance ``pd``; output (query_id, neighbor_id, rank, adc_dist),
    rank by (adc asc, id asc). Shared by :func:`knn_pq_adc` (all-corpus
    candidates) and :func:`knn_ivf_pq` (cell-restricted candidates).

    The M partials pivot into fixed columns and add LEFT-TO-RIGHT: a
    bare sum() over doubles is order-nondeterministic under shuffle,
    which would break bit-equality with the oracle. Each conditional
    sum sees exactly one non-null row (one partial per subspace per
    pair), so it is an exact passthrough, and the final left-assoc
    addition chain is the same on both engines."""
    pivots = [
        F.sum(F.when(F.col("subspace") == i, F.col("pd"))).alias(f"pd{i}")
        for i in range(m)
    ]
    grouped = pd_rows.groupBy("query_id", "neighbor_id").agg(*pivots)
    adc = F.col("pd0")
    for i in range(1, m):
        adc = adc + F.col(f"pd{i}")
    scored = grouped.select("query_id", "neighbor_id", adc.alias("adc_dist"))
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Final ADC ranking over (query_id, neighbor_id, adc_dist) rows:
    rank by (adc asc, id asc), keep ``rank <= k``. Shared tail of
    :func:`_adc_topk` (row-wise scoring) and the packed scoring path in
    :func:`knn_ivf_pq_from_index`."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def _dense_code_ids(codebook: DataFrame) -> DataFrame:
    """(subspace, code, dense): contiguous slot 0..K−1 per subspace in
    cid order. PQ codes are codeword *identifiers* (sampled vec_ids —
    `pq_codebook`), not positions; the packed ADC path needs positions
    so a lookup is ``element_at`` O(1) instead of an equi-join. M·K
    rows, broadcast everywhere. row_number over unique cids per
    subspace — deterministic."""
    w = Window.partitionBy("subspace").orderBy("cid")
    return codebook.select(
        "subspace",
        F.col("cid").alias("code"),
        (F.row_number().over(w) - 1).alias("dense"),
    )


def _pack_codes(codes: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, ca): row-wise (vec_id, subspace, code) → one M-slot
    array of codeword SLOTS per vector, subspace-ordered — the
    contiguous code layout production PQ indexes store (M small ints
    per vector), and the shape the packed ADC scorer reads with O(1)
    ``element_at``. One broadcast join (dense-slot map) + one N·M → N
    hash aggregate."""
    dense = _dense_code_ids(codebook)
    return (
        codes.join(F.broadcast(dense), ["subspace", "code"])
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "dense"))),
                lambda s: s["dense"],
            ).alias("ca")
        )
    )


def _packed_codebook(codebook: DataFrame, m: int) -> DataFrame:
    """ONE row with columns cb0..cb{M−1}, each the subspace's K
    codeword subvectors slot-ordered (array<array<double>>) — the
    broadcastable M·K·subdim lookup structure the packed ADC table is
    computed against (128 KB at M=16, K=256, subdim=4)."""
    dense = _dense_code_ids(codebook).withColumnRenamed("code", "cid")
    return (
        codebook.join(F.broadcast(dense), ["subspace", "cid"])
        .groupBy()
        .agg(
            *[
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("subspace") == i,
                                F.struct("dense", "csub"),
                            )
                        )
                    ),
                    lambda s: s["csub"],
                ).alias(f"cb{i}")
                for i in range(m)
            ]
        )
    )


def knn_pq_adc(
    vectors: DataFrame,
    probe: "list[int] | DataFrame",
    k: int = 5,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance:
    (query_id, neighbor_id, rank, adc_dist), rank by (adc asc, id asc).

    The probe side precomputes its Q·M·K partial-distance table; the
    corpus contributes only its codes. The scoring join is
    codes ⋈ partials on (subspace, code) followed by one sum-aggregate —
    both shuffle-partitioned equi-operations, never an all-pairs scan of
    raw vectors.
    """
    from .similarity import _probe_restrict

    codebook = pq_codebook(vectors, m, subdim, n_codewords)
    codes = pq_encode(vectors, codebook, m, subdim)

    probes = _probe_restrict(vectors, probe).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # Q·M·K partial distances — the ADC lookup table, broadcastable.
    partials = _query_partials(probes, codebook, m, subdim)
    pd_rows = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(partials), ["subspace", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "subspace", "pd")
    )
    return _adc_topk(pd_rows, m, k)


def knn_ivf_pq(
    vectors: DataFrame,
    probe: "list[int] | DataFrame",
    k: int = 5,
    nprobe: int = IVFPQ_NPROBE,
    coarse_k: int | None = None,
    coarse_iters: int | None = None,
    sample_mod: int | None = None,
    m: int = IVFPQ_M,
    subdim: int = IVFPQ_SUBDIM,
    n_codewords: int = PQ_CODEWORDS,
    cb_iters: int = PQ_LLOYD_ITERS,
    cb_train_mod: int | None = None,
) -> DataFrame:
    """IVF-ADC — the composed index real 100 TB ANN ships, in ONE query:
    a LEARNED coarse quantizer restricts candidates to the ``nprobe``
    inverted lists nearest each query, and a LEARNED product-quantizer
    codebook scores those candidates by asymmetric distance over
    RESIDUALS — original vectors are touched only at index-build time,
    never at scan time. Output (query_id, neighbor_id, rank, adc_dist),
    rank by (adc asc, id asc), candidates limited to the probed cells.

    RESIDUAL encoding (the standard IVF-ADC formulation — Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", §IV.A): what PQ
    quantizes is ``r(v) = v − centroid(cell(v))``, not ``v`` itself.
    Residuals concentrate near the origin (the coarse quantizer has
    already removed the between-cell variance), so the same 256
    codewords per subspace cover a much tighter distribution — the
    round-7 raw-vector variant measured recall@5 of 0.19 (ADC) / 0.31
    (refined); see `pq_recall` / COVERAGE.md for the residual numbers.
    The cost is that the query's ADC lookup table becomes CELL-dependent
    (the query residual differs per probed cell): Q·nprobe·M·K partial
    rows instead of Q·M·K — still tiny and broadcast.

    Composition of the repo's own learned machinery, not new math:

    * coarse centroids — `kmeans.kmeans_centroids` on the deterministic
      ``vec_id % sample_mod`` sample, √|sample|-scaled k by default
      (`kmeans.sqrt_sample_k`; FIXED k makes cells grow linearly and
      every per-cell stage quadratic — the measured 8×-at-10× trap);
    * corpus + probe cell assignment — broadcast argmin against the
      √N-row centroid table (`kmeans._sq_dist` fold, ties to the lower
      cell id), probes keeping their ``nprobe`` nearest cells;
    * residuals — corpus ⋈ assignment ⋈ broadcast(centroids), one
      element-wise subtract per vector (:func:`_minus`), materialized
      once (feeds both codebook training and the encode pass);
    * PQ codes — :func:`pq_codebook_learned` TRAINED on the residuals
      of the same deterministic sample (``cb_train_mod`` defaults to
      ``sample_mod`` — training is bounded by the sample, the full
      corpus pays only the one encode pass) + :func:`pq_encode`;
    * scoring — candidate pairs from the cell EQUI-join (query cells ⋈
      corpus assignment — never an all-pairs scan) CARRYING the cell
      id, codes resolved by vec_id equi-join, partials from the
      broadcast per-cell ADC table (:func:`_query_partials` keyed
      (query_id, coarse)), ranked by :func:`_adc_topk`.

    The centroid table, assignment, residuals, and codebook each feed
    two consumers, so all are materialized once (`cache.materialize`)
    instead of re-running their subplans per branch — the same
    measured fix as `kmeans.kmeans_ivf_assign` (11.4 s → 4 s).

    Scale: one full-data pass to assign + subtract + encode (writes M
    small ints per vector), per-query work bounded by nprobe·|cell|·M
    code rows with |cell| ≈ √N — no stage touches N·Q vector pairs.
    Recall is self-measured by the registered `pq_recall` diagnostic
    (vs exact L2 — the metric ADC approximates).
    """
    index = build_ivf_pq_index(
        vectors,
        m=m,
        subdim=subdim,
        n_codewords=n_codewords,
        cb_iters=cb_iters,
        coarse_k=coarse_k,
        coarse_iters=coarse_iters,
        sample_mod=sample_mod,
        cb_train_mod=cb_train_mod,
    )
    return knn_ivf_pq_from_index(index, vectors, probe, k=k, nprobe=nprobe)


class IvfPqIndex(NamedTuple):
    """The built (and persistable) half of IVF-ADC: everything the
    probe phase needs that does NOT depend on the probe set. All four
    relations are deterministic functions of (corpus, config), so a
    persisted copy answers identically to an in-session build — the
    property `ivf_index_roundtrip` pins for the IVF quantizer and
    `tests/test_pq.py` pins for this composed index."""

    cents: DataFrame  # (coarse, c) — √|sample| rows, broadcastable
    assigned: DataFrame  # (vec_id, coarse) — corpus cell assignment
    codebook: DataFrame  # (subspace, cid, csub) — M·K rows
    codes: DataFrame  # (vec_id, ca) — PACKED M-slot code array per vec
    m: int
    subdim: int


def build_ivf_pq_index(
    vectors: DataFrame,
    m: int = IVFPQ_M,
    subdim: int = IVFPQ_SUBDIM,
    n_codewords: int = PQ_CODEWORDS,
    cb_iters: int = PQ_LLOYD_ITERS,
    coarse_k: int | None = None,
    coarse_iters: int | None = None,
    sample_mod: int | None = None,
    cb_train_mod: int | None = None,
    coarse_cents: "DataFrame | None" = None,
) -> IvfPqIndex:
    """Index-build phase of :func:`knn_ivf_pq` (see its docstring for
    the full recipe): learn the coarse quantizer, assign cells, form
    residuals, learn the PQ codebook on the residual sample, encode.
    Split out so diagnostic families can build ONCE and serve several
    probe-phase queries from the same index (VERDICT r9 item 2 — the
    three `knn_ivf_pq`-family queries each re-learned ~8 s of identical
    quantizer before this). ``coarse_cents`` (optional) supplies a
    prebuilt ``(coarse, c)`` centroid table — e.g. the family-shared
    persisted build — and skips the coarse Lloyd learn; parquet doubles
    round-trip exactly, so cells/residuals/codes are identical.
    Combining ``coarse_cents`` with explicit coarse-learn parameters is
    an error (ADVICE r11): the prebuilt table wins and the parameters
    would be silently ignored, so the conflict raises instead."""
    if coarse_cents is not None and (
        coarse_k is not None
        or coarse_iters is not None
        or sample_mod is not None
    ):
        raise ValueError(
            "build_ivf_pq_index: coarse_cents supplies a prebuilt "
            "coarse quantizer; coarse_k/coarse_iters/sample_mod would "
            "be ignored — pass one or the other"
        )
    from ..cache import materialize
    from .kmeans import (
        KM_ITERS,
        KM_IVF_SAMPLE_MOD,
        _sq_dist,
        kmeans_centroids,
        sqrt_sample_k,
    )

    smod = KM_IVF_SAMPLE_MOD if sample_mod is None else sample_mod
    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    if coarse_cents is not None:
        cents = coarse_cents.select("coarse", "c")
    else:
        sample = vectors.where(F.col("vec_id") % smod == 0)
        cents = materialize(
            kmeans_centroids(
                sample,
                k=sqrt_sample_k(sample) if coarse_k is None else coarse_k,
                iters=KM_ITERS if coarse_iters is None else coarse_iters,
            ).select(F.col("cluster").alias("coarse"), "c")
        )
    # The assignment pass carries (vec_id, coarse, e) through the
    # argmin struct (round 14, guide §2.4): residualization becomes a
    # broadcast-only map-side subtract — the e ⋈ assigned shuffle join
    # HEAD paid between assignment and residualization is gone.
    # Residuals STAY materialized: the codebook learn references its
    # training frame once per Lloyd round and the encode pass reads it
    # again, so leaving resid lazy re-runs the subtract (interpreted
    # zip_with) + checkpoint scan 3× and measured SLOWER in-sequence
    # (pq_recall_skewed 8.9 → 11.4 s min, with 90-147 s outlier runs
    # from the extra per-round work; restoring the checkpoint returned
    # it to HEAD-level). Two checkpoints, zero shuffle joins.
    assigned_e = materialize(_coarse_assign(e, cents))
    assigned = assigned_e.select("vec_id", "coarse")
    resid = materialize(_residualize(assigned_e, cents, m * subdim))
    codebook = materialize(
        pq_codebook_learned(
            resid,
            m,
            subdim,
            n_codewords,
            cb_iters,
            train_mod=smod if cb_train_mod is None else cb_train_mod,
        )
    )
    # Codes persist PACKED (round 11): one M-slot array of codeword
    # slots per vector, subspace-ordered — the contiguous layout
    # production PQ stores (M bytes/vector) and the only shape the
    # packed ADC scorer reads. One extra N·M → N aggregate at build.
    codes = _pack_codes(pq_encode(resid, codebook, m, subdim), codebook)
    return IvfPqIndex(cents, assigned, codebook, codes, m, subdim)


def ivf_pq_upsert(
    index: IvfPqIndex, incoming: DataFrame
) -> "tuple[DataFrame, DataFrame]":
    """Index maintenance for IVF-ADC (round 12): assign INCOMING
    vectors to the index's existing coarse cells and residual-encode
    them against its existing codebook — never a relearn. Returns
    ``(assigned_new, codes_new)`` in exactly the index's relation
    shapes, so :func:`merge_ivf_pq_index` can append them. The
    assign/residual/encode tail is SHARED CODE with
    :func:`build_ivf_pq_index` (`_coarse_assign` / `_residualize` /
    `_pack_codes(pq_encode(...))`), so a merged index equals a from-
    scratch build whose LEARN samples were restricted to the original
    corpus structurally, not by convention."""
    from ..cache import materialize

    m, subdim = index.m, index.subdim
    e = incoming.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = index.cents.select("coarse", "c")
    assigned_e = materialize(_coarse_assign(e, cents))
    resid = _residualize(assigned_e, cents, m * subdim)
    codes = _pack_codes(
        pq_encode(resid, index.codebook, m, subdim), index.codebook
    )
    return assigned_e.select("vec_id", "coarse"), codes


def merge_ivf_pq_index(
    index: IvfPqIndex, assigned_new: DataFrame, codes_new: DataFrame
) -> IvfPqIndex:
    """Append an upsert wave's assignments/codes to a (possibly
    persisted) index — pure relation union, no learned structure
    touched: the merged index serves fresh vectors through the same
    probe path (`knn_ivf_pq_from_index`) immediately."""
    return IvfPqIndex(
        index.cents,
        index.assigned.unionByName(assigned_new),
        index.codebook,
        index.codes.unionByName(codes_new),
        index.m,
        index.subdim,
    )


_IVFPQ_PARTS = ("cents", "assigned", "codebook", "codes")


def persist_ivf_pq_index(index: IvfPqIndex, out_dir: str) -> None:
    """Write the four index relations as parquet under ``out_dir`` —
    the serving posture: at 100 TB the index is built once per corpus
    snapshot and every retrieval job reads the parquet, and locally a
    parquet-backed index survives `cache.release_cached` (which
    unpersists the localCheckpoint blocks an in-session build rides
    on, e.g. between bench-loop queries)."""
    for part in _IVFPQ_PARTS:
        getattr(index, part).write.mode("overwrite").parquet(
            f"{out_dir}/{part}"
        )


def read_ivf_pq_index(
    spark: SparkSession,
    out_dir: str,
    m: int = IVFPQ_M,
    subdim: int = IVFPQ_SUBDIM,
) -> IvfPqIndex:
    """Reopen a :func:`persist_ivf_pq_index` directory. ``m``/``subdim``
    must match the build config (they are layout, not data)."""
    parts = [
        spark.read.parquet(f"{out_dir}/{part}") for part in _IVFPQ_PARTS
    ]
    return IvfPqIndex(*parts, m, subdim)


def knn_ivf_pq_from_index(
    index: IvfPqIndex,
    vectors: DataFrame,
    probe: "list[int] | DataFrame",
    k: int = 5,
    nprobe: int = IVFPQ_NPROBE,
) -> DataFrame:
    """Probe phase of :func:`knn_ivf_pq` against a pre-built (possibly
    persisted) :class:`IvfPqIndex`. ``vectors`` supplies only the probe
    embeddings — the corpus is touched exclusively through the index's
    codes, as at serving time."""
    from .kmeans import _sq_dist
    from .similarity import _probe_restrict

    cents, assigned = index.cents, index.assigned
    codebook, codes = index.codebook, index.codes
    m, subdim = index.m, index.subdim
    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    probes = _probe_restrict(e, probe).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("embedding")
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("dq").asc(), F.col("coarse").asc()
    )
    probe_cells = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "coarse",
            _sq_dist(F.col("embedding"), F.col("c")).alias("dq"),
        )
        .withColumn("rn", F.row_number().over(w_cell))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "coarse")
    )
    # Query residuals are PER PROBED CELL (q − that cell's centroid),
    # so the ADC lookup tables are keyed (query_id, coarse) —
    # Q·nprobe packed rows.
    qresid = (
        probe_cells.join(probes, "query_id")
        .join(F.broadcast(cents), "coarse")
        .select(
            "query_id",
            "coarse",
            _minus(F.col("embedding"), F.col("c"), m * subdim).alias(
                "embedding"
            ),
        )
    )
    # Candidates by cell equi-join; each corpus vector lives in exactly
    # one cell and probe cells are distinct, so pairs are unique. The
    # cell id rides along to pick the matching per-cell lookup tables.
    cand = (
        probe_cells.join(
            assigned.withColumnRenamed("vec_id", "neighbor_id"), "coarse"
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "coarse", "neighbor_id")
    )
    # PACKED ADC scoring (round 11, measured variant sweep at the 10×
    # replica — probe phase 14.8 s → 5.5 s, results bit-identical).
    # The row-wise shape — cand ⋈ codes ⋈ partials on (query_id,
    # coarse, subspace, code), then a pivot aggregate — materializes
    # candidates×M rows (18.2M at 10×) through a 4-key sort-merge join
    # AND a shuffle, and its Q·nprobe·M·K partial-distance explode ran
    # partition-starved (qresid is Q·nprobe rows AQE-coalesced to ~1
    # partition; the 256× fan-out happened inside that stage — the
    # `pq_encode` repartition lesson again). Both problems disappear
    # when each side is packed once and scoring is O(1) array lookups:
    #   * ptab — per (query_id, coarse) row, M K-slot lookup arrays
    #     computed DIRECTLY by `transform` over the broadcast packed
    #     codebook (no explode, no 13M-row shuffle; repartitioned to
    #     cluster width first because the M·K fan-out is CPU-dense);
    #   * codes ride pre-packed in the index (M-slot arrays);
    #   * candidates pack per (query_id, coarse) group, so the ptab
    #     join is 1:1 on Q·nprobe rows — the wide pda payload is never
    #     copied per candidate row (joining ptab row-wise onto the
    #     candidate frame measured 16.6 s: 70 KB/row × 1.14M rows of
    #     sort-merge copy amplification);
    #   * adc = Σ_m pda_m[slot_m] inside an explode-transform — the
    #     SAME doubles in the SAME left-assoc subspace order as the
    #     row-wise pivot sum, so adc_dist stays bit-equal to the
    #     DuckDB oracle (pinned by the parity suite).
    # Scale: every structure is Q·nprobe or |candidates| rows; nothing
    # is force-broadcast (Q grows with the corpus under the `% 100`
    # probe rule — AQE broadcasts only when actually small).
    slices = vectors.sparkSession.sparkContext.defaultParallelism * 2
    cbp = _packed_codebook(codebook, m)

    def _slot_l2(i: int):
        def fn(cs):
            out = None
            for d in range(subdim):
                diff = F.element_at(
                    F.col("embedding"), i * subdim + d + 1
                ) - F.element_at(cs, d + 1)
                term = diff * diff
                out = term if out is None else out + term
            return out

        return fn

    ptab = (
        qresid.repartition(slices)
        .crossJoin(F.broadcast(cbp))
        .select(
            "query_id",
            "coarse",
            *[
                F.transform(F.col(f"cb{i}"), _slot_l2(i)).alias(f"pda{i}")
                for i in range(m)
            ],
        )
    )
    cgrp = (
        cand.join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .groupBy("query_id", "coarse")
        .agg(F.collect_list(F.struct("neighbor_id", "ca")).alias("cands"))
    )

    def _adc_of(c):
        out = None
        for i in range(m):
            term = F.element_at(
                F.col(f"pda{i}"), F.element_at(c["ca"], i + 1) + 1
            )
            out = term if out is None else out + term
        return out

    scored = (
        cgrp.join(ptab, ["query_id", "coarse"])
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.col("cands"),
                    lambda c: F.struct(
                        c["neighbor_id"].alias("neighbor_id"),
                        _adc_of(c).alias("adc_dist"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            "query_id",
            F.col("s.neighbor_id").alias("neighbor_id"),
            F.col("s.adc_dist").alias("adc_dist"),
        )
    )
    return _rank_topk(scored, k)


def pq_refine(
    vectors: DataFrame, shortlist: DataFrame, k: int = 5
) -> DataFrame:
    """EXACT re-rank of an ADC shortlist — stage two of the production
    retrieval recipe (IVF restricts, ADC shortlists, exact re-rank
    decides): ``shortlist`` carries (query_id, neighbor_id) candidate
    pairs (typically :func:`knn_ivf_pq` with ``k = refine``); each
    pair's true squared-L2 distance is resolved by two equi-joins
    against the original vectors, then ranked (l2 asc, id asc) to the
    final top-``k``. Original vectors are touched for only
    refine·|probes| rows — the whole point of the two-stage shape: the
    scan stays code-only, exactness is bought per-candidate.
    Output (query_id, neighbor_id, rank, l2sq)."""
    from .kmeans import _sq_dist

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scored = (
        shortlist.select("query_id", "neighbor_id")
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                e.select(
                    F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
                ).join(
                    shortlist.select("query_id").distinct(), "query_id", "semi"
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist(F.col("qe"), F.col("ne")).alias("l2sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2sq")
    )


def knn_ivf_pq_refined(
    vectors: DataFrame,
    probe: "list[int] | DataFrame",
    k: int = 5,
    refine: int = 20,
    **ivf_pq_kwargs,
) -> DataFrame:
    """Two-stage IVF-ADC retrieval: :func:`knn_ivf_pq` shortlists
    ``refine`` candidates per probe by asymmetric distance (codes
    only), :func:`pq_refine` resolves their exact distances and keeps
    the final ``k`` — the standard production recipe that recovers
    most of the quantization loss for refine·|probes| extra vector
    reads. The registered `pq_recall` row measures both stages' recall
    from one shared shortlist."""
    from ..cache import materialize as _mat

    # `pq_refine` references its shortlist twice; one narrow
    # materialize keeps the ADC probe pipeline single-execution
    # (round 15 — the `_pq_recall_over` shortlist pattern).
    short = _mat(knn_ivf_pq(vectors, probe, k=refine, **ivf_pq_kwargs))
    return pq_refine(vectors, short, k)


def knn_l2_bruteforce(
    vectors: DataFrame, probe: "list[int] | DataFrame", k: int = 5
) -> DataFrame:
    """EXACT squared-L2 top-k — the ground truth ADC approximates (the
    cosine brute force ranks a different metric): (query_id,
    neighbor_id, rank, l2sq), rank by (l2sq asc, id asc). Probe ×
    corpus scan, fold-order-pinned distance (`kmeans._sq_dist`) — the
    deliberately-exact baseline `pq_recall` measures the learned
    IVF-ADC index against."""
    from .kmeans import _sq_dist
    from .similarity import _probe_restrict

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    probes = _probe_restrict(e, probe).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    scored = (
        e.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(probes))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist(F.col("qe"), F.col("e")).alias("l2sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2sq")
    )
