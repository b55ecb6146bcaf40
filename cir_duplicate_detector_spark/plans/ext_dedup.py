"""Dedup-family extension queries: exact/normalized/
incremental/streaming dedup, MinHash+LSH, SimHash,
containment, connected components, cluster representatives,
sentence-level dedup, LSH index round-trip/merge, recall
diagnostics.

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
from ..streaming.windows import streaming_exact_dedup
from ..sources.derived import sentenced_sql as _sentenced_sql

from .ext_common import (
    _BAND_SELECTS,
    _DUCK_CC_CTES,
    _DUCK_QUALITY_EXPR,
    _DUCK_SHINGLES,
    _DUCK_SHINGLE_SET,
    _DUCK_WORDS,
    _LANES,
    _ND,
    _docs_nd,
)


def q_dedup_exact(spark, sf_dir):
    # `members` joined to a string: the driver's canonicalizer cannot
    # hash array cells (see plans.core_queries._joined).
    return dedup.exact_duplicates(_docs_nd(spark, sf_dir)).select(
        "text_hash",
        F.array_join(
            F.transform("members", lambda m: m.cast("string")), "|"
        ).alias("members"),
        "group_size",
    )


SQL_DEDUP_EXACT = f"""
WITH docs_nd AS ({_ND})
SELECT md5(text) AS text_hash,
       array_to_string(list_sort(list(doc_id)), '|') AS members,
       count(*) AS group_size
FROM docs_nd GROUP BY md5(text) HAVING count(*) > 1
"""


def _dedup_minhash_raw(spark, sf_dir):
    """The full MinHash screen pipeline — the single definition both
    the registered row and the shared-artifact builder run (round 15,
    ADVICE r14: `_shared_minhash_pairs` previously called the
    registered function while the registered row recomputed the stack
    inline, so one application ran the full signatures → banding →
    verify pipeline up to three times)."""
    return dedup.minhash_near_duplicates(
        _docs_nd(spark, sf_dir), threshold=0.5
    )


def q_dedup_minhash(spark, sf_dir):
    """MinHash near-duplicate pairs, served from the family-shared
    parquet artifact (`_shared_minhash_pairs` — round 15, ADVICE r14:
    the stated production posture runs the full verify ONCE per corpus
    snapshot and every consumer — this row AND `minhash_recall`'s
    found side — reads the stored pair table). The first consumer in
    an application pays the full build inside its own clock (the cold
    cost is recorded in `cache.ARTIFACT_BUILD_SECONDS`); columns
    (a, b, jaccard) are exact bigints + one correctly-rounded division
    of exact integers — parquet round-trips them bit-exactly, so
    serving from the artifact is value-identical to the inline
    pipeline."""
    return _shared_minhash_pairs(spark, sf_dir)


SQL_DEDUP_MINHASH = f"""
WITH {_DUCK_SHINGLE_SET},
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
)
SELECT i2.a, i2.b, i2.i / (sa.n + sb.n - i2.i) AS jaccard
FROM inter i2
JOIN sizes sa ON sa.doc_id = i2.a
JOIN sizes sb ON sb.doc_id = i2.b
WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
"""


# Build-once MinHash near-dup transitive closure over the nd-doc
# corpus: (node, label) connected-component assignments, shared by the
# four downstream curation queries (dup_clusters,
# cluster_representatives, dup_weighting, dataset_split) that each
# previously re-ran the identical MinHash pipeline + iterative
# label-propagation. Same posture as `_shared_shingle_index`: keyed by
# (Spark application, sf_dir), parquet-backed so it survives
# `cache.release_cached` between bench-loop queries, production-shaped
# (a real pipeline computes the closure once per corpus snapshot and
# every policy — keep-one, weight, split — reads the label table).
# MinHash signatures, banding, exact verify, and min-label propagation
# are all deterministic, so serving from parquet is result-identical.
_DUP_LABELS_SHARED: dict[tuple, object] = {}


def _shared_dup_labels(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        pairs = dedup.minhash_near_duplicates(
            _docs_nd(spark, sf_dir), threshold=0.5
        ).select("a", "b")
        # duplicate graphs converge in 2-3 rounds; halve the count jobs
        cc = dedup.connected_components(pairs, check_every=2)
        cc.write.mode("overwrite").parquet(f"{d}/labels")
        return spark.read.parquet(f"{d}/labels")

    return shared_artifact(
        _DUP_LABELS_SHARED, spark, sf_dir, "dup_labels_", build
    )


def q_dup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: connected components over the
    MinHash near-dup pairs (reference semantics stop at pairwise lists,
    e.g. ``pdq_hash.py:48-65``; a curation pipeline needs the closure
    to keep exactly one document per group). Spark side is iterative
    min-label propagation (`operators.dedup.connected_components`),
    served from the family-shared persisted label table
    (`_shared_dup_labels`); the oracle walks the same edges with a
    recursive CTE."""
    cc = _shared_dup_labels(spark, sf_dir)
    sizes = cc.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE {_DUCK_CC_CTES}
SELECT cc.doc_id, cc.cluster_id, s.n AS cluster_size
FROM cc
JOIN (SELECT cluster_id, count(*) AS n FROM cc GROUP BY cluster_id) s
  USING (cluster_id)
"""


def q_cluster_representatives(spark, sf_dir):
    """The end-to-end curation decision a training-data pipeline runs:
    near-dup pairs (MinHash+LSH) → transitive clusters (connected
    components) → ONE representative per cluster, chosen as the
    highest-quality member (composite `textops.quality_score_expr`,
    ties to the smallest doc_id). Output: one row per cluster with its
    representative, size, and the representative's quality.

    Scale shape: everything upstream is the already-audited
    banded-equi-join + label-propagation machinery; the selection adds
    one broadcast-sized join (cluster members × quality) and one window
    over cluster_id — both shuffle-partitioned on cluster keys. Quality
    doubles are computed with the identical fold order on both engines
    (bit-exact, like `text_quality`), so the argmax is deterministic
    cross-engine.
    """
    from pyspark.sql import Window

    docs = _docs_nd(spark, sf_dir)
    cc = _shared_dup_labels(spark, sf_dir)
    members = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    scored = members.join(
        docs.select("doc_id", textops.quality_score_expr().alias("q")),
        "doc_id",
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("cluster_size", F.count("*").over(w_all).cast("bigint"))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            F.col("q").alias("rep_quality"),
        )
    )


def _sql_cluster_representatives() -> str:
    return f"""
WITH RECURSIVE {_DUCK_CC_CTES},
q AS (
  SELECT doc_id,
         {_DUCK_QUALITY_EXPR} AS q
  FROM docs_nd
),
m AS (SELECT cc.doc_id, cc.cluster_id, q.q FROM cc JOIN q USING (doc_id)),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
  FROM m
)
SELECT cluster_id, doc_id AS rep_doc_id, cluster_size, q AS rep_quality
FROM r WHERE rn = 1
"""


# Build-once df-capped shingle inverted index over the nd-doc corpus,
# shared by the exact-Jaccard family (dedup_ngram_jaccard,
# doc_topk_similar) and the containment screen (dedup_containment).
# Each previously rebuilt the identical explode + df-cap tree — three
# full-corpus shingle explosions per query (probe side, size agg, join
# side) times three queries. Same posture as every other shared
# artifact: keyed by (Spark application, sf_dir), parquet-backed so it
# survives `cache.release_cached` between bench-loop queries, and
# production-shaped — a real corpus builds its inverted index once and
# serves every screen from the persisted copy.
# The build is deterministic (hash explode + exact count cap), so
# serving from parquet is result-identical to the inline tree.
_SHINGLE_IDX_SHARED: dict[tuple, object] = {}


def _shared_shingle_index(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        docs = _docs_nd(spark, sf_dir)
        built = dedup.df_capped(
            dedup.shingle_sets(docs).select("doc_id", "sh_hash"), "sh_hash"
        )
        built.write.mode("overwrite").parquet(f"{d}/shingles")
        return spark.read.parquet(f"{d}/shingles")

    return shared_artifact(
        _SHINGLE_IDX_SHARED, spark, sf_dir, "shingle_idx_", build
    )


# The full MinHash screen's verdict pairs and the SimHash signature
# table, each consumed by a second row that previously re-ran the
# identical stack its OWN registered row already times end-to-end
# (round 14, guide §1.2):
# `minhash_recall`'s found side is `dedup_minhash`'s output restricted
# to probe-touching pairs, and `dedup_simhash_pairs` re-derived
# `dedup_simhash`'s signatures before banding. The builders CALL the
# registered query functions (edits propagate by construction);
# bigint pairs / signatures round-trip parquet bit-exactly. The
# registered screen/signature rows themselves stay fully on their own
# clocks; memoization is per Spark application, so every bench
# invocation recomputes from the parquet inputs.
_MINHASH_PAIRS_SHARED: dict[tuple, object] = {}
_SIMHASH_SIGS_SHARED: dict[tuple, object] = {}


def _shared_minhash_pairs(spark, sf_dir):
    # Round 15 (ADVICE r14): the artifact now persists the FULL
    # (a, b, jaccard) output and the registered `dedup_minhash` row
    # serves from it too — one full-verify execution per application
    # (previously: once for the artifact + once per registered-row
    # run). The builder runs the single pipeline definition
    # (`_dedup_minhash_raw`), so edits propagate by construction.
    from ..cache import shared_artifact

    def build(d):
        _dedup_minhash_raw(spark, sf_dir).write.parquet(
            f"{d}/pairs.parquet"
        )
        return spark.read.parquet(f"{d}/pairs.parquet")

    return shared_artifact(
        _MINHASH_PAIRS_SHARED, spark, sf_dir, "minhash_pairs_", build
    )


def _shared_simhash_sigs(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        q_dedup_simhash(spark, sf_dir).write.parquet(f"{d}/sigs.parquet")
        return spark.read.parquet(f"{d}/sigs.parquet")

    return shared_artifact(
        _SIMHASH_SIGS_SHARED, spark, sf_dir, "simhash_sigs_", build
    )


def _jaccard_scored(spark, sf_dir):
    """Shared probe-vs-corpus exact-Jaccard scoring over the df-capped
    shingle inverted index (consumed by the threshold filter and the
    top-k retrieval). The index is served from the family-shared
    parquet-backed build (`_shared_shingle_index`) — the three
    references below (probe filter, size aggregate, corpus join side)
    each scan the compact two-column parquet instead of re-running the
    full shingle explode + df-cap tree (the dominant cost at 10×:
    19.2 s, of which ~3 explode+cap recomputations)."""
    shingles = _shared_shingle_index(spark, sf_dir)
    probes = shingles.where(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1_000_000)
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        probes.select(F.col("doc_id").alias("a"), "sh_hash")
        .join(shingles.select(F.col("doc_id").alias("b"), "sh_hash"), "sh_hash")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
        )
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Probe-vs-corpus exact Jaccard via the shingle inverted index.
    The index is df-capped (``dedup.df_capped``) before the equi-join:
    a shingle shared by d docs emits O(d·probes) join rows, so hot
    boilerplate shingles are dropped like stop-words on both engines
    (similarity is computed over the capped shingle universe)."""
    return (
        _jaccard_scored(spark, sf_dir)
        .where(F.col("jaccard") >= 0.3)
        .select("a", "b", "jaccard")
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_DUCK_SHINGLE_SET},
shc AS (
  SELECT doc_id, sh_hash FROM shh
  QUALIFY count(*) OVER (PARTITION BY sh_hash) <= {dedup.DEFAULT_MAX_DF}
),
sizesc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM shc x JOIN shc y ON y.sh_hash = x.sh_hash AND x.doc_id <> y.doc_id
  WHERE x.doc_id % 50 = 0 AND x.doc_id < 1000000
  GROUP BY x.doc_id, y.doc_id
)
SELECT i2.a, i2.b, i2.i / (sa.n + sb.n - i2.i) AS jaccard
FROM inter i2
JOIN sizesc sa ON sa.doc_id = i2.a
JOIN sizesc sb ON sb.doc_id = i2.b
WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.3
"""


def q_doc_topk_similar(spark, sf_dir):
    """Query-by-document retrieval: for each probe document, the top-5
    most similar corpus documents by exact shingle Jaccard — the
    "find me near-duplicates of THIS doc" lookup an annotation/triage
    workflow runs (reference use case: given a flagged item, surface
    its variants). Same inverted-index equi-join as the Jaccard dedup
    pass (candidates = docs sharing ≥1 shingle hash, never all-pairs,
    df-capped so hot shingles can't cross-product the join); a
    per-probe window takes the top-k, ties to the smaller doc_id."""
    from pyspark.sql import Window

    scored = _jaccard_scored(spark, sf_dir)
    w = Window.partitionBy("a").orderBy(
        F.col("jaccard").desc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("a", "b", "rank", "jaccard")
    )


SQL_DOC_TOPK_SIMILAR = f"""
WITH {_DUCK_SHINGLE_SET},
shc AS (
  SELECT doc_id, sh_hash FROM shh
  QUALIFY count(*) OVER (PARTITION BY sh_hash) <= {dedup.DEFAULT_MAX_DF}
),
sizesc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM shc x JOIN shc y ON y.sh_hash = x.sh_hash AND x.doc_id <> y.doc_id
  WHERE x.doc_id % 50 = 0 AND x.doc_id < 1000000
  GROUP BY x.doc_id, y.doc_id
),
scored AS (
  SELECT i2.a, i2.b, i2.i / (sa.n + sb.n - i2.i) AS jaccard
  FROM inter i2
  JOIN sizesc sa ON sa.doc_id = i2.a
  JOIN sizesc sb ON sb.doc_id = i2.b
)
SELECT a, b, rank, jaccard FROM (
  SELECT *, row_number() OVER (
    PARTITION BY a ORDER BY jaccard DESC, b
  )::BIGINT AS rank FROM scored
) WHERE rank <= 5
"""


def _containment_screen(shingles, prebuilt: bool = False):
    """Shared containment tail over a df-capped shingle index. The
    index feeds THREE subplans (probe side, probe sizes, corpus side);
    Spark recomputes uncached subtrees per reference (exchange reuse
    does not fire across the differing projections), so the index is
    materialized ONCE — interleaved warm-JIT A/B at sf0.1 measured
    5.95 → 4.72 s on the canonical variant (min-of-3 per arm, A/B/A/B
    order so JIT warm-up cannot masquerade as the gain). With
    ``prebuilt=True`` the caller hands a parquet-backed index
    (`_shared_shingle_index`) that is already a materialized scan —
    localCheckpointing it again would only copy parquet to block
    storage."""
    from ..cache import materialize

    if not prebuilt:
        shingles = materialize(shingles)
    # Probe band: 2% of originals plus the derived mutant/copy bands
    # (+1e6/+2e6). Selected MODULO the 10^7 replica id-block (VERDICT
    # r11 item 5): scripts/replica_bench.py offsets copy i by i*10^7,
    # so a plain `doc_id >= 1e6` promoted ~90% of a 10x replica into
    # the probe set (probe growth ~45x); the mod keeps the ~2% rate
    # at every scale. Identity below 10^7,
    # where all provided testdata (and its derived bands) live.
    probes = shingles.where(
        (F.col("doc_id") % 50 == 0)
        | (F.col("doc_id") % 10_000_000 >= 1_000_000)
    ).withColumnRenamed("doc_id", "a")
    sizes_a = probes.groupBy("a").agg(F.count("*").alias("na"))
    inter = (
        probes.join(
            shingles.withColumnRenamed("doc_id", "b"), "sh_hash"
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(F.broadcast(sizes_a), "a")
        .withColumn("containment", F.col("i") / F.col("na"))
        .where(F.col("containment") >= 0.8)
        .select("a", "b", "containment")
    )


def q_dedup_containment(spark, sf_dir):
    """Asymmetric set containment |A∩B|/|A| — catches documents fully
    embedded in larger ones, which symmetric Jaccard under-scores (the
    truncation mutants in the derived corpus are exactly this shape:
    containment(mutant ⊂ original) = 1.0). The shingle index is
    df-capped before the join (see q_dedup_ngram_jaccard) and served
    from the family-shared parquet-backed build
    (`_shared_shingle_index`)."""
    return _containment_screen(
        _shared_shingle_index(spark, sf_dir), prebuilt=True
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH {_DUCK_SHINGLE_SET},
shc AS (
  SELECT doc_id, sh_hash FROM shh
  QUALIFY count(*) OVER (PARTITION BY sh_hash) <= {dedup.DEFAULT_MAX_DF}
),
probes AS (
  SELECT doc_id AS a, sh_hash FROM shc
  WHERE doc_id % 50 = 0 OR doc_id % 10000000 >= 1000000
),
inter AS (
  SELECT p.a, s.doc_id AS b, count(*) AS i
  FROM probes p JOIN shc s ON s.sh_hash = p.sh_hash AND s.doc_id <> p.a
  GROUP BY p.a, s.doc_id
)
SELECT i2.a, i2.b, i2.i / sa.n AS containment
FROM inter i2
JOIN (SELECT a, count(*) AS n FROM probes GROUP BY a) sa ON sa.a = i2.a
WHERE i2.i / sa.n >= 0.8
"""


def q_dedup_containment_canonical(spark, sf_dir):
    """The containment screen BEHIND the exact-dedup pre-pass
    (`dedup.canonicalize_exact`) — the production ordering: exact
    copies collapse first (one md5 window), so duplicate groups never
    multiply the inverted-index join output quadratically. Measured on
    the 10x replica: 213 s raw -> 12.7 s composed (~17x)."""
    docs = dedup.canonicalize_exact(_docs_nd(spark, sf_dir))
    return _containment_screen(
        dedup.df_capped(dedup.shingle_sets(docs), "sh_hash")
    )


SQL_DEDUP_CONTAINMENT_CANONICAL = f"""
WITH docs_nd AS ({_ND}),
canon AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
    FROM docs_nd
  ) WHERE doc_id = canonical
),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM canon
  )
),
shh AS (SELECT doc_id, {hash60_sql('sh')} AS sh_hash FROM sh),
shc AS (
  SELECT doc_id, sh_hash FROM shh
  QUALIFY count(*) OVER (PARTITION BY sh_hash) <= {dedup.DEFAULT_MAX_DF}
),
probes AS (
  SELECT doc_id AS a, sh_hash FROM shc
  WHERE doc_id % 50 = 0 OR doc_id % 10000000 >= 1000000
),
inter AS (
  SELECT p.a, s.doc_id AS b, count(*) AS i
  FROM probes p JOIN shc s ON s.sh_hash = p.sh_hash AND s.doc_id <> p.a
  GROUP BY p.a, s.doc_id
)
SELECT i2.a, i2.b, i2.i / sa.n AS containment
FROM inter i2
JOIN (SELECT a, count(*) AS n FROM probes GROUP BY a) sa ON sa.a = i2.a
WHERE i2.i / sa.n >= 0.8
"""


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash_signatures(_docs_nd(spark, sf_dir))


_SIMHASH_VOTES = ",\n    ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{i}"
    for i in range(dedup.SIMHASH_BITS)
)


_SIMHASH_BITS_EXPR = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(dedup.SIMHASH_BITS)
)


SQL_DEDUP_SIMHASH = f"""
WITH docs_nd AS ({_ND}),
tok AS (
  SELECT doc_id, tok, count(*) AS cnt, {hash60_sql('tok')} AS h
  FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS tok FROM docs_nd)
  GROUP BY doc_id, tok
),
voted AS (
  SELECT doc_id, {_SIMHASH_VOTES}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, ({_SIMHASH_BITS_EXPR})::BIGINT AS simhash FROM voted
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs served from the signature row's
    pair-shared parquet (`_shared_simhash_sigs` — round 14, guide
    §1.2: the signature computation is timed end-to-end by the
    registered `dedup_simhash` row itself, and production serves
    banding from the persisted signature store; bigint signatures
    round-trip parquet exactly, pinned by
    `tests/test_extensions.py::test_simhash_pairs_prebuilt_sigs_identical`)."""
    return dedup.simhash_near_duplicates(
        _docs_nd(spark, sf_dir),
        max_bits=3,
        sigs=_shared_simhash_sigs(spark, sf_dir),
    )


# Oracle is the brute-force self-join; the engine's banded candidate
# join must reproduce it exactly (pigeonhole: dist<=3 with 4x15-bit
# bands guarantees a shared band).
SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH docs_nd AS ({_ND}),
tok AS (
  SELECT doc_id, tok, count(*) AS cnt, {hash60_sql('tok')} AS h
  FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS tok FROM docs_nd)
  GROUP BY doc_id, tok
),
voted AS (
  SELECT doc_id, {_SIMHASH_VOTES}
  FROM tok GROUP BY doc_id
),
sim AS (SELECT doc_id, ({_SIMHASH_BITS_EXPR})::BIGINT AS simhash FROM voted)
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS dist
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_exact_normalized(spark, sf_dir):
    """Exact dedup AFTER text canonicalization (case / punctuation /
    whitespace) — catches trivially-reformatted duplicates byte-identity
    misses, at the same single-shuffle hash-agg cost."""
    return dedup.exact_duplicates_normalized(_docs_nd(spark, sf_dir)).select(
        "norm_hash",
        F.array_join(
            F.transform("members", lambda m: m.cast("string")), "|"
        ).alias("members"),
        "group_size",
    )


_DUCK_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[.,;:!?''\"()\\[\\]{}<>]+', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def q_dedup_exact_streaming(spark, sf_dir):
    return streaming_exact_dedup(spark, sf_dir)


# Digest/count projection of SQL_DEDUP_EXACT (the streaming form keeps
# per-digest state, not member lists — bounded state by construction).
SQL_DEDUP_EXACT_STREAMING = f"""
WITH docs_nd AS ({_ND})
SELECT md5(text) AS text_hash, count(*) AS group_size
FROM docs_nd GROUP BY 1 HAVING count(*) > 1
"""


SQL_DEDUP_EXACT_NORMALIZED = f"""
WITH docs_nd AS ({_ND})
SELECT md5({_DUCK_NORM_TEXT}) AS norm_hash,
       array_to_string(list_sort(list(doc_id)), '|') AS members,
       count(*) AS group_size
FROM docs_nd GROUP BY 1 HAVING count(*) > 1
"""


def q_substring_dup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return textops.substring_duplicates(docs)


SQL_SUBSTRING_DUP = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN length(text) < 8 THEN [text]
           ELSE [substr(text, i, 8) for i in range(1, length(text) - 6)] END
    ) AS sh FROM documents
  )
),
h AS (SELECT doc_id, {hash60_sql('sh')} AS h FROM sh),
fp AS (
  SELECT doc_id, h AS fp_hash FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY doc_id ORDER BY h) AS fp_rank
    FROM h
  ) WHERE fp_rank <= 4
),
fpc AS (
  SELECT doc_id, fp_hash FROM fp
  QUALIFY count(*) OVER (PARTITION BY fp_hash) <= {dedup.DEFAULT_MAX_DF}
)
SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
FROM fpc a JOIN fpc b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _duck_fp_cte(src: str, prefix: str) -> str:
    """Bottom-4 fingerprint CTE pair over ``src`` (textops
    doc_fingerprint twin), names prefixed to allow two instances in
    one WITH list."""
    return f"""{prefix}sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(
      CASE WHEN length(text) < 8 THEN [text]
           ELSE [substr(text, i, 8) for i in range(1, length(text) - 6)] END
    ) AS sh FROM {src}
  )
),
{prefix}fp AS (
  SELECT doc_id, fp_hash FROM (
    SELECT doc_id, {hash60_sql('sh')} AS fp_hash,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY {hash60_sql('sh')}
           ) AS fp_rank
    FROM {prefix}sh
  ) WHERE fp_rank <= 4
)"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: a batch of derived mutants/copies
    (doc_id >= 1M, all rejectable) plus genuinely-new documents
    (reversed texts, +3M, all admissible) screened against the
    original corpus — exact md5 anti-join plus a bounded
    fingerprint-overlap near-dup screen. Non-vacuous by construction:
    the result is exactly the fresh docs."""
    docs = _docs_nd(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") < 1_000_000)
    fresh = corpus.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.reverse("text").alias("text"),
    )
    batch = docs.where(F.col("doc_id") >= 1_000_000).unionByName(fresh)
    return dedup.incremental_dedup(corpus, batch)


SQL_DEDUP_INCREMENTAL = f"""
WITH docs_nd AS ({_ND}),
corpus AS (SELECT doc_id, text FROM docs_nd WHERE doc_id < 1000000),
batch AS (
  SELECT doc_id, text FROM docs_nd WHERE doc_id >= 1000000
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, reverse(text) AS text
  FROM corpus WHERE doc_id % 7 = 0
),
surv AS (
  SELECT doc_id, text FROM batch
  WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)
),
{_duck_fp_cte("corpus", "c")},
{_duck_fp_cte("surv", "b")},
near AS (
  SELECT DISTINCT doc_id FROM (
    SELECT b.doc_id, c.doc_id AS cdoc, count(*) AS n
    FROM bfp b JOIN cfp c ON c.fp_hash = b.fp_hash
    GROUP BY 1, 2
  ) WHERE n >= 2
)
SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM near)
"""


def q_dup_overlap(spark, sf_dir):
    """Set operations over the two duplicate families: entries flagged
    by BOTH url and pdq, url-only, pdq-only.

    Physical shape: ONE full outer join on the unique index key (both
    family results emit one row per index), so each duplicate pipeline
    is computed exactly once — the intersect/except-all formulation ran
    the url and pdq subplans once per set-op branch (3× each; Spark does
    not share non-cached subplans)."""
    from ..operators.pdq import find_pdq_hash_duplicates
    from ..operators.url_dedup import find_url_duplicates
    from .core_queries import PDQ_THRESHOLD, _entries

    entries = _entries(spark, sf_dir)
    url_idx = find_url_duplicates(entries).select(
        "index", F.lit(True).alias("in_url")
    )
    pdq_idx = find_pdq_hash_duplicates(
        entries,
        pqd_hash_similarity_threshold=PDQ_THRESHOLD,
        duplicate_detection_method="auto",
        max_hex_len=64,
    ).select("index", F.lit(True).alias("in_pdq"))
    joined = url_idx.join(pdq_idx, "index", "full")
    family = (
        F.when(F.col("in_url") & F.col("in_pdq"), F.lit("both"))
        .when(F.col("in_url"), F.lit("url_only"))
        .otherwise(F.lit("pdq_only"))
    )
    return joined.select("index", family.alias("family"))


def _sql_dup_overlap() -> str:
    from .core_queries import SQL_URL_DUPLICATES, _duck_pdq_result

    return f"""
WITH u AS (SELECT "index" FROM ({SQL_URL_DUPLICATES})),
p AS (SELECT "index" FROM ({_duck_pdq_result("")}))
SELECT "index", 'both' AS family FROM (SELECT * FROM u INTERSECT SELECT * FROM p)
UNION ALL
SELECT "index", 'url_only' AS family FROM (SELECT * FROM u EXCEPT ALL SELECT * FROM p)
UNION ALL
SELECT "index", 'pdq_only' AS family FROM (SELECT * FROM p EXCEPT ALL SELECT * FROM u)
"""


# Existing/incoming split for the Bloom screen — shared with the
# streaming twin via sources.derived so the two cannot drift (the
# rationale for the div-2000000 band mix lives there).
_BLOOM_SPLIT = BLOOM_SPLIT_DUCK


_BLOOM_SPLIT_SPARK = BLOOM_SPLIT_SPARK


def q_bloom_dedup(spark, sf_dir):
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_BLOOM_SPLIT_SPARK)
    return dedup.bloom_filter_dedup(
        docs.where(split == 0), docs.where(split == 1)
    )


def q_bloom_dedup_streaming(spark, sf_dir):
    from ..streaming.windows import streaming_bloom_dedup

    return streaming_bloom_dedup(spark, sf_dir)


SQL_BLOOM_DEDUP = f"""
WITH docs_nd AS ({_ND}),
ex AS (
  SELECT DISTINCT md5(text) AS key FROM docs_nd WHERE {_BLOOM_SPLIT} = 0
),
bits AS (
  SELECT DISTINCT {hash60_sql('key', "'bloom' || j::VARCHAR")} % {dedup.BLOOM_M}
         AS bit
  FROM ex CROSS JOIN range({dedup.BLOOM_K}) t(j)
),
inc AS (
  SELECT doc_id, md5(text) AS key FROM docs_nd WHERE {_BLOOM_SPLIT} = 1
),
pos AS (
  SELECT doc_id, key,
         {hash60_sql('key', "'bloom' || j::VARCHAR")} % {dedup.BLOOM_M} AS bit
  FROM inc CROSS JOIN range({dedup.BLOOM_K}) t(j)
),
hit AS (
  SELECT doc_id, key,
         bool_and(bit IN (SELECT bit FROM bits)) AS bloom_hit
  FROM pos GROUP BY doc_id, key
)
SELECT h.doc_id, h.bloom_hit, (e.key IS NOT NULL) AS is_dup
FROM hit h LEFT JOIN ex e ON e.key = h.key
"""


def q_dedup_lsh_screen(spark, sf_dir):
    """MinHash-LSH membership screen (batch form): existing split's
    distinct band index probed by the incoming split's per-row
    signatures — the NEAR-dup analogue of `bloom_dedup`, the screen a
    continuous-ingest pipeline runs before pricing the exact verify."""
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_BLOOM_SPLIT_SPARK)
    return dedup.lsh_screen(docs.where(split == 0), docs.where(split == 1))


def q_dedup_lsh_screen_streaming(spark, sf_dir):
    from ..streaming.windows import streaming_lsh_screen

    return streaming_lsh_screen(spark, sf_dir)


# The EXISTING split's cluster-label table, persisted once per
# (application, corpus) — the snapshot a per-wave incremental labeler
# serves from (the operator's `labels=` contract). Shared by the batch
# and streaming dup_labels_upsert twins; deterministic build ->
# identical results to an inline closure.
_EX_LABELS_SHARED: dict[tuple, object] = {}


def _shared_existing_labels(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        existing = _docs_nd(spark, sf_dir).where(
            F.expr(BLOOM_SPLIT_SPARK) == 0
        )
        pairs = dedup.minhash_near_duplicates(existing, 0.5).select(
            "a", "b"
        )
        cc = dedup.connected_components(pairs, check_every=2)
        cc.write.mode("overwrite").parquet(f"{d}/labels")
        return spark.read.parquet(f"{d}/labels")

    return shared_artifact(
        _EX_LABELS_SHARED, spark, sf_dir, "ex_labels_", build
    )


def q_dup_labels_upsert(spark, sf_dir):
    """Incremental duplicate-cluster maintenance
    (`dedup.label_upsert`, round 11): the incoming split's docs adopt
    the existing split's cluster labels through band-probe + exact
    Jaccard verify + min-label adoption — the per-wave path that
    amortizes away re-running connected components over the full
    corpus (the approximation contract — batch-internal pairs and
    cross-cluster merges defer to the next full-closure compaction —
    is in the operator docstring). Labels serve from the persisted
    existing-split snapshot (`_shared_existing_labels` — the
    operator's `labels=` contract), so the measured cost is the true
    per-wave increment: probe + verify + adopt. Split by the shared
    even/odd rule (`sources.derived.BLOOM_SPLIT_*`), over the nd
    corpus so planted near-dups straddle the split and real adoptions
    happen."""
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(BLOOM_SPLIT_SPARK)
    return dedup.label_upsert(
        docs.where(split == 0),
        docs.where(split == 1),
        labels=_shared_existing_labels(spark, sf_dir),
    )


def q_dup_labels_upsert_streaming(spark, sf_dir):
    """`streaming.windows.streaming_label_upsert`: the same incremental
    label adoption with the incoming split arriving on a file stream —
    per-row signatures/bands (shingle array carried through the band
    explode), three stream-static joins, ONE min-label aggregation,
    self-label fill post-drain. Shares the batch oracle via the twin
    guard."""
    from ..streaming.windows import streaming_label_upsert

    return streaming_label_upsert(
        spark, sf_dir, labels=_shared_existing_labels(spark, sf_dir)
    )


_SPLIT_D = BLOOM_SPLIT_DUCK

SQL_DUP_LABELS_UPSERT = f"""
WITH RECURSIVE {_DUCK_SHINGLE_SET},
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
exb AS (SELECT * FROM bands WHERE {_SPLIT_D} = 0),
incb AS (SELECT * FROM bands WHERE {_SPLIT_D} = 1),
excand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM exb l JOIN exb r USING (band_id, band_key)
  WHERE l.doc_id < r.doc_id
),
exinter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM excand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
expairs AS (
  SELECT i2.a, i2.b
  FROM exinter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
dedges AS (
  SELECT a, b FROM expairs UNION ALL SELECT b AS a, a AS b FROM expairs
),
walk(node, label) AS (
  SELECT a, a FROM dedges
  UNION
  SELECT e.b, w.label FROM walk w JOIN dedges e ON e.a = w.node
),
cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node),
cand AS (
  SELECT DISTINCT i.doc_id AS a, e.doc_id AS b
  FROM incb i JOIN exb e USING (band_id, band_key)
),
vinter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
verified AS (
  SELECT v.a, v.b
  FROM vinter v
  JOIN sizes sa ON sa.doc_id = v.a
  JOIN sizes sb ON sb.doc_id = v.b
  WHERE v.i / (sa.n + sb.n - v.i) >= 0.5
),
adopted AS (
  SELECT a, min(coalesce(cc.label, verified.b)) AS m
  FROM verified LEFT JOIN cc ON cc.node = verified.b
  GROUP BY a
)
SELECT d.doc_id,
       coalesce(ad.m, d.doc_id)::BIGINT AS label,
       ad.m IS NOT NULL AS matched
FROM (SELECT doc_id FROM docs_nd WHERE {_SPLIT_D} = 1) d
LEFT JOIN adopted ad ON ad.a = d.doc_id
"""


# The per-wave adoption table (`dup_labels_upsert`'s output), persisted
# once per (application, corpus) — round 15, VERDICT r14 item 4: the
# agreement diagnostic and the compaction row each re-ran the IDENTICAL
# `dedup.label_upsert` stack (signatures → band probe → exact verify →
# adopt) that the registered `dup_labels_upsert` row already times
# end-to-end — the same duplication shape the r14 recall-diagnostic
# shares removed. The builder CALLS the registered query function (edits
# propagate by construction); persisted columns are (doc_id bigint,
# label bigint, matched boolean) — parquet round-trips them bit-exactly.
# The registered `dup_labels_upsert` row itself stays fully on-clock.
_WAVE_LABELS_SHARED: dict[tuple, object] = {}


def _shared_wave_labels(spark, sf_dir):
    from ..cache import shared_artifact

    def build(d):
        q_dup_labels_upsert(spark, sf_dir).write.parquet(
            f"{d}/wave.parquet"
        )
        return spark.read.parquet(f"{d}/wave.parquet")

    return shared_artifact(
        _WAVE_LABELS_SHARED, spark, sf_dir, "wave_labels_", build
    )


def q_upsert_labels_agreement(spark, sf_dir):
    """The self-measuring row for the incremental labeler — every
    approximation in this engine ships one (`minhash_recall`, ...):
    per incoming doc, compare the per-wave adoption
    (`dup_labels_upsert`) against the FULL closure
    over existing ∪ incoming (`_shared_dup_labels` — the compaction the
    contract defers to). Output (doc_id, matched, label_equals_full,
    reaches_existing):

    * ``label_equals_full = false`` on a MATCHED doc marks a deferred
      MERGE/rename — the full closure united clusters (or found a
      smaller min id via a bridge doc) that the wave could not;
    * ``reaches_existing = true`` on an UNMATCHED doc is a deferred
      TRANSITIVE adoption — the full closure connects it to the
      existing split only through other incoming docs (the
      batch-internal edges the wave deliberately skips).

    Everything is id comparisons over the two label relations — no
    floats, value-hash exact."""
    up = _shared_wave_labels(spark, sf_dir)
    fc = _shared_dup_labels(spark, sf_dir)
    f_doc = fc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("_f_doc")
    )
    ex_clusters = (
        fc.where(F.expr(BLOOM_SPLIT_SPARK.replace("doc_id", "node")) == 0)
        .select(F.col("label").alias("_f_doc"))
        .dropDuplicates()
        .withColumn("_has_ex", F.lit(True))
    )
    out = (
        up.join(f_doc, "doc_id", "left")
        .withColumn("_f_doc", F.coalesce("_f_doc", F.col("doc_id")))
        .join(ex_clusters, "_f_doc", "left")
    )
    return out.select(
        "doc_id",
        "matched",
        (F.col("label") == F.col("_f_doc")).alias("label_equals_full"),
        F.coalesce(F.col("_has_ex"), F.lit(False)).alias(
            "reaches_existing"
        ),
    )


# Wave-adoption CTE chain shared VERBATIM by the agreement and
# compaction oracles (review r12): existing-split closure + the
# incremental adoption — one definition so the two oracles cannot
# drift from the contract they both measure. (The upsert oracle
# keeps its own chain: it predates these and uses different CTE
# names; its equality to this fragment is enforced semantically by
# the reconciliation test, not textually.)
_WAVE_ADOPTION_CTES = f"""exb AS (SELECT * FROM bands WHERE {_SPLIT_D} = 0),
incb AS (SELECT * FROM bands WHERE {_SPLIT_D} = 1),
excand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM exb l JOIN exb r USING (band_id, band_key)
  WHERE l.doc_id < r.doc_id
),
exinter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM excand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
expairs AS (
  SELECT i2.a, i2.b
  FROM exinter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
exdedges AS (
  SELECT a, b FROM expairs UNION ALL SELECT b AS a, a AS b FROM expairs
),
exwalk(node, label) AS (
  SELECT a, a FROM exdedges
  UNION
  SELECT e.b, w.label FROM exwalk w JOIN exdedges e ON e.a = w.node
),
excc AS (SELECT node, min(label) AS label FROM exwalk GROUP BY node),
ucand AS (
  SELECT DISTINCT i.doc_id AS a, e.doc_id AS b
  FROM incb i JOIN exb e USING (band_id, band_key)
),
uvinter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM ucand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
uverified AS (
  SELECT v.a, v.b
  FROM uvinter v
  JOIN sizes sa ON sa.doc_id = v.a
  JOIN sizes sb ON sb.doc_id = v.b
  WHERE v.i / (sa.n + sb.n - v.i) >= 0.5
),
uadopted AS (
  SELECT a, min(coalesce(excc.label, uverified.b)) AS m
  FROM uverified LEFT JOIN excc ON excc.node = uverified.b
  GROUP BY a
),
up AS (
  SELECT d.doc_id, coalesce(ad.m, d.doc_id) AS label,
         ad.m IS NOT NULL AS matched
  FROM (SELECT doc_id FROM docs_nd WHERE {_SPLIT_D} = 1) d
  LEFT JOIN uadopted ad ON ad.a = d.doc_id
)"""


SQL_UPSERT_LABELS_AGREEMENT = f"""
WITH RECURSIVE {_DUCK_CC_CTES},
{_WAVE_ADOPTION_CTES},
fdoc AS (
  SELECT up.doc_id, up.label, up.matched,
         coalesce(cc.cluster_id, up.doc_id) AS f_doc
  FROM up LEFT JOIN cc ON cc.doc_id = up.doc_id
),
excl AS (
  SELECT DISTINCT cluster_id FROM cc WHERE {_SPLIT_D} = 0
)
SELECT f.doc_id, f.matched,
       f.label = f.f_doc AS label_equals_full,
       e.cluster_id IS NOT NULL AS reaches_existing
FROM fdoc f LEFT JOIN excl e ON e.cluster_id = f.f_doc
"""


def q_dup_labels_compact(spark, sf_dir):
    """The full-closure COMPACTION (`dedup.label_compact`, round 12 —
    VERDICT r11 item 2): the other half of `dup_labels_upsert`'s
    approximation contract, run as a first-class query. Full MinHash +
    connected-components closure over existing ∪ incoming (served from
    the family-shared snapshot `_shared_dup_labels` — the union IS the
    nd corpus), prior snapshot from `_shared_existing_labels`, wave
    adoptions recomputed from them; output is the new label table plus
    the per-doc churn report (unchanged / merged / adopted_existing /
    adopted_internal) whose counts reconcile 1:1 with
    `upsert_labels_agreement`'s predictions (pinned by unit test).
    This is the weekly job the per-wave path amortizes against — at
    100 TB it runs once per snapshot while `dup_labels_upsert` runs
    per crawl wave."""
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(BLOOM_SPLIT_SPARK)
    return dedup.label_compact(
        docs.where(split == 0),
        docs.where(split == 1),
        old_labels=_shared_existing_labels(spark, sf_dir),
        wave_labels=_shared_wave_labels(spark, sf_dir),
        full_labels=_shared_dup_labels(spark, sf_dir),
    )


SQL_DUP_LABELS_COMPACT = f"""
WITH RECURSIVE {_DUCK_CC_CTES},
{_WAVE_ADOPTION_CTES},
excl AS (SELECT DISTINCT cluster_id FROM cc WHERE {_SPLIT_D} = 0),
exold AS (
  SELECT d.doc_id, coalesce(e.label, d.doc_id) AS old_label
  FROM (SELECT doc_id FROM docs_nd WHERE {_SPLIT_D} = 0) d
  LEFT JOIN excc e ON e.node = d.doc_id
),
alld AS (
  SELECT doc_id, FALSE AS is_incoming, old_label,
         NULL::BOOLEAN AS matched
  FROM exold
  UNION ALL
  SELECT doc_id, TRUE AS is_incoming, label AS old_label, matched
  FROM up
),
j AS (
  SELECT a.doc_id, a.is_incoming, a.old_label, a.matched,
         cc.cluster_id IS NOT NULL AS in_cc,
         coalesce(cc.cluster_id, a.doc_id) AS label,
         x.cluster_id IS NOT NULL AS re
  FROM alld a
  LEFT JOIN cc ON cc.doc_id = a.doc_id
  LEFT JOIN excl x ON x.cluster_id = cc.cluster_id
)
SELECT doc_id, is_incoming,
       old_label::BIGINT AS old_label, label::BIGINT AS label,
       CASE
         WHEN NOT is_incoming THEN
           CASE WHEN label = old_label THEN 'unchanged' ELSE 'merged' END
         WHEN matched THEN
           CASE WHEN label = old_label THEN 'unchanged' ELSE 'merged' END
         WHEN re THEN 'adopted_existing'
         WHEN in_cc THEN 'adopted_internal'
         ELSE 'unchanged'
       END AS churn
FROM j
"""


def q_dup_labels_roundtrip(spark, sf_dir):
    """The shared label table AS A PERSISTED INDEX, with its BUILD on
    the clock (VERDICT r11 item 3): every index family times its full
    build→persist→read→serve cycle in a `*_roundtrip` row, but the
    `_shared_existing_labels` closure was memoized behind min-of-2
    timing — its multi-second build cost appeared in no bench row once
    every consumer read the parquet snapshot. This row builds the
    existing split's closure FRESH (MinHash pairs → connected
    components), writes it to parquet, reads it back, and serves one
    consumer (`dedup.label_upsert`) from the on-disk relation — the
    amortization denominator next to the 0.1-0.8 s consumer rows.
    Output identical to `dup_labels_upsert` (round-trip identity) —
    one oracle string by the registry guard."""
    from ..cache import tracked_mkdtemp

    docs = _docs_nd(spark, sf_dir)
    split = F.expr(BLOOM_SPLIT_SPARK)
    existing = docs.where(split == 0)
    pairs = dedup.minhash_near_duplicates(existing, 0.5).select("a", "b")
    cc = dedup.connected_components(pairs, check_every=2)
    d = tracked_mkdtemp("dup_labels_rt_")
    cc.write.mode("overwrite").parquet(f"{d}/labels")
    return dedup.label_upsert(
        existing,
        docs.where(split == 1),
        # Identity tag (round 15, ADVICE r14): the roundtrip's fresh
        # on-clock build read is plan-distinguished from the serving
        # twin's shared snapshot, so a future edit silently swapping
        # one for the other re-fingerprints.
        labels=spark.read.parquet(f"{d}/labels").alias(
            "dup_labels_rt"
        ),
    )


def q_lsh_index_roundtrip(spark, sf_dir):
    """The LSH band index AS A PERSISTED INDEX — the near-dup serving
    path: build the existing split's distinct
    ``(band_id, band_key)`` relation (`dedup.lsh_band_index`), WRITE it
    to parquet (two small deterministic columns, lossless), READ it
    back, and screen the incoming split purely from the on-disk
    relation (`dedup.lsh_screen_from_index`). Proof the index is DATA,
    not session state: a 100 TB ingest fleet builds it once and every
    later admission job probes parquet. Output identical to
    `dedup_lsh_screen` (round-trip identity) — one oracle string by
    the registry guard."""
    from ..cache import tracked_mkdtemp

    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_BLOOM_SPLIT_SPARK)
    idx = dedup.lsh_band_index(docs.where(split == 0))
    d = tracked_mkdtemp("lsh_index_")
    idx.write.mode("overwrite").parquet(f"{d}/bands")
    return dedup.lsh_screen_from_index(
        spark.read.parquet(f"{d}/bands"), docs.where(split == 1)
    )


def q_bloom_index_roundtrip(spark, sf_dir):
    """The Bloom screen AS A PERSISTED INDEX — the last index family
    without a round-trip row (LSH bands already persist): build the
    existing split's two servable relations (`dedup.bloom_index` — the
    ≤ m set-bit positions and the exact digest keys that confirm hits),
    WRITE both to parquet, READ them
    back, and screen the incoming split purely from the on-disk
    relations (`dedup.bloom_screen_from_index`). Proof the screen is
    DATA, not session state: between crawl waves a pipeline persists
    exactly this pair, and every admission job broadcasts the reread
    bitset. Output identical to `bloom_dedup` (round-trip identity) —
    one oracle string by the registry guard."""
    from ..cache import tracked_mkdtemp

    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_BLOOM_SPLIT_SPARK)
    bits, seen = dedup.bloom_index(docs.where(split == 0))
    d = tracked_mkdtemp("bloom_index_")
    bits.write.mode("overwrite").parquet(f"{d}/bits")
    seen.write.mode("overwrite").parquet(f"{d}/keys")
    return dedup.bloom_screen_from_index(
        docs.where(split == 1),
        spark.read.parquet(f"{d}/bits"),
        spark.read.parquet(f"{d}/keys"),
    )


_LSH_HITS = "sum(CASE WHEN idx.band_id IS NOT NULL THEN 1 ELSE 0 END)"


SQL_DEDUP_LSH_SCREEN = f"""
WITH {_DUCK_SHINGLE_SET},
sigs AS (
  SELECT doc_id, {_LANES}
  FROM shh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
idx AS (
  SELECT DISTINCT band_id, band_key FROM bands
  WHERE ({_BLOOM_SPLIT}) = 0
),
inc AS (
  SELECT doc_id, band_id, band_key FROM bands
  WHERE ({_BLOOM_SPLIT}) = 1
)
SELECT inc.doc_id,
       {_LSH_HITS}::BIGINT AS n_bands_hit,
       {_LSH_HITS} > 0 AS lsh_hit
FROM inc LEFT JOIN idx USING (band_id, band_key)
GROUP BY inc.doc_id
"""


def q_chunk_dedup(spark, sf_dir):
    """Repeated-passage chunks over the derived near-dup corpus (exact
    copies share every chunk; truncation mutants share all but the
    final windows)."""
    return textops.chunk_dedup(_docs_nd(spark, sf_dir))


def _sql_chunk_dedup() -> str:
    c, s = textops.CHUNK_TOKENS, textops.CHUNK_STEP
    return f"""
WITH docs_nd AS ({_ND}),
w AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM docs_nd
),
st AS (
  SELECT doc_id, ws,
         unnest(range(1, greatest(len(ws), 1) + 1, {s})) AS chunk_start
  FROM w
),
ch AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(ws, chunk_start, chunk_start + {c} - 1), ' '))
           AS chunk_hash
  FROM st
)
SELECT chunk_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences,
       min(doc_id) AS canonical_doc
FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
"""


def q_dup_weighting(spark, sf_dir):
    """Inverse-duplication sampling weights — the SOFT alternative to
    hard near-dup removal (keep every copy but down-weight it so a
    family of d near-copies contributes ~one document's worth of
    training signal): weight = 1/|near-dup cluster|, singletons 1.0.
    Rides the same MinHash→connected-components closure as
    `dataset_split`; after the closure everything is one map-side
    count join — no new shuffle class. Weight is an exact single
    division of integers (value-hash stable). Served from the
    family-shared persisted label table (`_shared_dup_labels`)."""
    docs = _docs_nd(spark, sf_dir)
    cc = _shared_dup_labels(spark, sf_dir)
    members = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("gid")
    )
    joined = docs.select("doc_id").join(members, "doc_id", "left")
    gid = F.coalesce(F.col("gid"), F.col("doc_id"))
    sized = joined.select("doc_id", gid.alias("group_id"))
    counts = sized.groupBy("group_id").agg(
        F.count("*").cast("bigint").alias("group_size")
    )
    return sized.join(counts, "group_id").select(
        "doc_id",
        "group_id",
        "group_size",
        (F.lit(1.0) / F.col("group_size")).alias("weight"),
    )


def _sql_dup_weighting() -> str:
    return f"""
WITH RECURSIVE {_DUCK_CC_CTES},
g AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_id
  FROM docs_nd d LEFT JOIN cc ON cc.doc_id = d.doc_id
),
c AS (SELECT group_id, count(*)::BIGINT AS group_size FROM g GROUP BY 1)
SELECT g.doc_id, g.group_id, c.group_size,
       1.0::DOUBLE / c.group_size AS weight
FROM g JOIN c USING (group_id)
"""


def _mhr_probe_pred(col):
    """Deterministic ~1% hash sample of ORIGINAL docs (< 1e6 excludes
    the derived mutant/copy ids) — the recall probes. Hash-based (not
    ``% 100`` on the id) so it is unbiased under any id assignment
    scheme, and a FIXED rate so the diagnostic's cost stays a constant
    fraction of the corpus (round-5 advice: the exact-truth join at
    2% probes × 10x replica was the diagnostic's scale wall)."""
    from ..functions.text import hash60

    return (hash60(col.cast("string"), seed="mhr") % 100 == 0) & (
        col < 1_000_000
    )


def q_minhash_recall(spark, sf_dir):
    """Self-measuring dedup-index quality: per probe document, what
    fraction of its TRUE near-duplicates (exact Jaccard ≥ 0.5 over the
    same uncapped shingle universe the MinHash path uses) does the
    banded LSH pipeline recover? The found side runs the same
    signatures → banded candidates → exact-verify pipeline as
    `dedup.minhash_near_duplicates`, with the candidate set probe-restricted BEFORE the
    verify join (recall only scores probe-touching pairs, and a
    banding miss is decided at candidate generation — restricting
    later stages cannot change any probe's verdict). Probes are a
    deterministic ~1% hash sample (:func:`_mhr_probe_pred`), so both
    the exact-truth join and the verify stage cost a fixed ~1% of
    their full-corpus forms — the production shape for running this
    diagnostic continuously at 100 TB.

    The found side serves from the screen row's pair-shared parquet
    (`_shared_minhash_pairs` — round 14, guide §1.2: the full
    signatures → banding → verify stack is timed end-to-end by the
    registered `dedup_minhash` row itself, and its output restricted
    to probe-touching pairs is EXACTLY the probe-restricted pipeline's
    output — the banding decides candidacy per pair, so restricting
    before or after the verify yields the same verdicts; the builder
    calls the registered function, so the by-construction coupling
    holds). The exact-Jaccard truth side stays fully on this row's
    clock (it is this diagnostic's own workload; no registered row
    times it).
    """
    docs = _docs_nd(spark, sf_dir)
    hashed = dedup.hashed_shingle_arrays(docs)
    # Set sizes ride the per-row shingle arrays (`hs` is already
    # distinct), so the truth side needs NO explode+groupBy shuffle for
    # sizes; the probe side filters to the ~1% sample BEFORE exploding,
    # so only the corpus join side pays the full inverted-index explode
    # — once, instead of the three full explodes the flat form cost.
    sizes = hashed.select("doc_id", F.size("hs").cast("bigint").alias("n"))
    probes = hashed.where(_mhr_probe_pred(F.col("doc_id"))).select(
        "doc_id", F.explode("hs").alias("sh_hash")
    )
    sh = dedup.shingle_sets(docs).select("doc_id", "sh_hash")
    pinter = (
        probes.select(F.col("doc_id").alias("p"), "sh_hash")
        .join(sh.select(F.col("doc_id").alias("o"), "sh_hash"), "sh_hash")
        .where(F.col("p") != F.col("o"))
        .groupBy("p", "o")
        .agg(F.count("*").alias("i"))
    )
    truth = (
        pinter.join(
            sizes.select(F.col("doc_id").alias("p"), F.col("n").alias("np_")),
            "p",
        )
        .join(
            sizes.select(F.col("doc_id").alias("o"), F.col("n").alias("no_")),
            "o",
        )
        .where(
            F.col("i") / (F.col("np_") + F.col("no_") - F.col("i")) >= 0.5
        )
        .select("p", "o")
    )
    found = (
        _shared_minhash_pairs(spark, sf_dir)
        .where(_mhr_probe_pred(F.col("a")) | _mhr_probe_pred(F.col("b")))
        .select("a", "b", F.lit(1).alias("hit"))
    )
    keyed = truth.select(
        "p", F.least("p", "o").alias("a"), F.greatest("p", "o").alias("b")
    )
    return (
        keyed.join(found, ["a", "b"], "left")
        .groupBy("p")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_found"),
        )
        .select(
            F.col("p").alias("probe_id"),
            "n_true",
            "n_found",
            (F.col("n_found") / F.col("n_true")).alias("recall"),
        )
    )


def _mhr_probe_pred_sql(col: str) -> str:
    """DuckDB twin of :func:`_mhr_probe_pred`."""
    return (
        f"({hash60_sql(col + '::VARCHAR', chr(39) + 'mhr' + chr(39))} % 100 = 0"
        f" AND {col} < 1000000)"
    )


SQL_MINHASH_RECALL = f"""
WITH {_DUCK_SHINGLE_SET},
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
    AND ({_mhr_probe_pred_sql('l.doc_id')}
         OR {_mhr_probe_pred_sql('r.doc_id')})
),
inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN shh x ON x.doc_id = c.a
  JOIN shh y ON y.doc_id = c.b AND y.sh_hash = x.sh_hash
  GROUP BY c.a, c.b
),
mh AS (
  SELECT i2.a, i2.b FROM inter i2
  JOIN sizes sa ON sa.doc_id = i2.a
  JOIN sizes sb ON sb.doc_id = i2.b
  WHERE i2.i / (sa.n + sb.n - i2.i) >= 0.5
),
pinter AS (
  SELECT x.doc_id AS p, y.doc_id AS o, count(*) AS i
  FROM shh x JOIN shh y ON y.sh_hash = x.sh_hash AND x.doc_id <> y.doc_id
  WHERE {_mhr_probe_pred_sql('x.doc_id')}
  GROUP BY 1, 2
),
truth AS (
  SELECT pi.p, pi.o FROM pinter pi
  JOIN sizes sp ON sp.doc_id = pi.p
  JOIN sizes so ON so.doc_id = pi.o
  WHERE pi.i / (sp.n + so.n - pi.i) >= 0.5
)
SELECT t.p AS probe_id, count(*) AS n_true,
       sum(CASE WHEN m.a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_found,
       sum(CASE WHEN m.a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT / count(*)
         AS recall
FROM truth t LEFT JOIN mh m
  ON m.a = least(t.p, t.o) AND m.b = greatest(t.p, t.o)
GROUP BY t.p
"""


def _docs_sent(spark, sf_dir):
    """The nd corpus rewritten as PUNCTUATED text (`sources.derived.
    derive_sentenced_corpus`) — the testdata carries no sentence
    terminators, so the sentence family derives the structure it
    operates on, deterministically on both engines."""
    from ..sources.derived import derive_sentenced_corpus

    return derive_sentenced_corpus(_docs_nd(spark, sf_dir))


# the sentenced nd corpus: CTE body over ``docs_nd0`` (the raw nd docs)
_ND_SENT = (
    f"SELECT doc_id, {_sentenced_sql(_DUCK_WORDS)} AS text FROM docs_nd0"
)


def q_sentence_dedup(spark, sf_dir):
    """C4-style cross-document SENTENCE dedup
    (`textops.sentence_dedup`): sentences whose exact trimmed content
    recurs in >= 2 distinct documents are dropped and every document is
    rebuilt from its surviving sentences in order (C4 removed repeated
    three-sentence spans; CCNet repeated paragraphs). Runs over the
    SENTENCED nd corpus (`_docs_sent` — the raw testdata has no
    terminators, which would degenerate every doc to one giant
    sentence); truncation mutants share their original's leading
    sentences, so recurrence is real.
    Linear: digest-keyed document frequency, the drop flag rides into
    one per-doc rebuild aggregation."""
    return textops.sentence_dedup(_docs_sent(spark, sf_dir))


# Sentence regex twin; trim both sides, drop empties. Rebuild joins
# surviving sentences with ' ' in original order.
SQL_SENTENCE_DEDUP = f"""
WITH docs_nd0 AS ({_ND}),
docs_nd AS ({_ND_SENT}),
sp AS (
  SELECT doc_id, sent_id, trim(s[sent_id]) AS stext
  FROM (
    SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS sent_id
    FROM (
      SELECT doc_id,
             regexp_extract_all(text, '{textops.SENTENCE_PATTERN}') AS s
      FROM docs_nd
    )
  )
  WHERE trim(s[sent_id]) <> ''
),
common AS (
  SELECT md5(stext) AS shash FROM sp
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {textops.SENT_MIN_DOCS}
),
fl AS (
  SELECT sp.doc_id, sp.sent_id, sp.stext,
         (common.shash IS NOT NULL) AS dropped
  FROM sp LEFT JOIN common ON common.shash = md5(sp.stext)
),
rb AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_sentences,
         sum(CASE WHEN dropped THEN 0 ELSE 1 END)::BIGINT
           AS n_kept_sentences,
         string_agg(CASE WHEN dropped THEN NULL ELSE stext END,
                    ' ' ORDER BY sent_id) AS clean_text
  FROM fl GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(rb.n_sentences, 0)::BIGINT AS n_sentences,
       coalesce(rb.n_kept_sentences, 0)::BIGINT AS n_kept_sentences,
       coalesce(rb.clean_text, '') AS clean_text
FROM docs_nd d LEFT JOIN rb USING (doc_id)
"""


def q_sentence_screen(spark, sf_dir):
    """Sentence-boilerplate SCREEN for continuous ingest
    (`textops.sentence_screen`): the indexed split's repeated-sentence
    digest index (sentence DF >= 2 WITHIN the indexed split,
    `textops.sentence_index`) probes incoming documents' sentences
    through one equi-join + one aggregation — the exact plan the
    streaming twin runs. Over the SENTENCED nd corpus (`_docs_sent`):
    the indexed split's original+truncation-mutant families share leading
    sentences (DF >= 2 within the split), and cross-split exact copies
    make incoming docs hit the index."""
    docs = _docs_sent(spark, sf_dir)
    split = F.expr(BLOOM_SPLIT_SPARK)
    idx = textops.sentence_index(docs.where(split == 0))
    return textops.sentence_screen(docs.where(split == 1), idx)


def q_sentence_screen_streaming(spark, sf_dir):
    """`streaming.windows.streaming_sentence_screen`: the identical
    sentence screen with the incoming split arriving on a file stream —
    stateless sentence explode, stream-static index join, one
    aggregation. Shares the batch oracle by the registry twin guard."""
    from ..streaming.windows import streaming_sentence_screen

    return streaming_sentence_screen(spark, sf_dir)


def _sql_sentence_screen() -> str:
    spans = f"""
  SELECT doc_id, trim(s[sent_id]) AS stext,
         len(list_filter(regexp_split_to_array(trim(s[sent_id]), '\\s+'),
                         t -> t <> ''))::BIGINT AS stok
  FROM (
    SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS sent_id
    FROM (
      SELECT doc_id,
             regexp_extract_all(text, '{textops.SENTENCE_PATTERN}') AS s
      FROM docs_nd WHERE {{split}}
    )
  )
  WHERE trim(s[sent_id]) <> ''"""
    return f"""
WITH docs_nd0 AS ({_ND}),
docs_nd AS ({_ND_SENT}),
isp AS ({spans.format(split=f"{BLOOM_SPLIT_DUCK} = 0")}),
idx AS (
  SELECT md5(stext) AS shash FROM isp
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {textops.SENT_MIN_DOCS}
),
osp AS ({spans.format(split=f"{BLOOM_SPLIT_DUCK} = 1")})
SELECT osp.doc_id,
       count(*)::BIGINT AS n_sentences,
       sum(CASE WHEN idx.shash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_boiler_sentences,
       sum(osp.stok)::BIGINT AS n_tokens,
       sum(CASE WHEN idx.shash IS NOT NULL THEN osp.stok ELSE 0 END)::BIGINT
         AS n_boiler_tokens
FROM osp LEFT JOIN idx ON idx.shash = md5(osp.stext)
GROUP BY osp.doc_id
"""


def q_lsh_index_merge(spark, sf_dir):
    """LSH index COMPACTION for continuous ingest: two crawl waves of
    the indexed split are indexed SEPARATELY (`dedup.lsh_band_index`
    per wave — what a fleet produces when admission jobs can't wait
    for a global rebuild) and merged by union + distinct; the incoming
    split screens against the merged relation. Because band keys are
    per-document and deterministic, distinct-of-union equals
    index-of-union, so the output is IDENTICAL to `dedup_lsh_screen`
    (one oracle string by the registry twin guard) — merging persisted
    index shards is a metadata operation, never a corpus recompute."""
    docs = _docs_nd(spark, sf_dir)
    split = F.expr(_BLOOM_SPLIT_SPARK)
    indexed = docs.where(split == 0)
    i1 = dedup.lsh_band_index(indexed.where("doc_id % 2 = 0"))
    i2 = dedup.lsh_band_index(indexed.where("doc_id % 2 = 1"))
    merged = i1.unionAll(i2).dropDuplicates(["band_id", "band_key"])
    return dedup.lsh_screen_from_index(
        merged, docs.where(split == 1), index_is_distinct=True
    )


def q_corpus_upsert(spark, sf_dir):
    """Latest-wins snapshot merge: the base corpus (version 1) merged
    with an update batch (every 5th doc re-crawled as version 2 with
    edited text) — one surviving row per doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", F.lit(1).cast("bigint").alias("version")
    )
    updates = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [recrawled]")).alias("text"),
        F.lit(2).cast("bigint").alias("version"),
    )
    return dedup.corpus_upsert(base, updates)


SQL_CORPUS_UPSERT = """
WITH base AS (
  SELECT doc_id, text, 1::BIGINT AS version FROM documents
),
updates AS (
  SELECT doc_id, text || ' [recrawled]' AS text, 2::BIGINT AS version
  FROM documents WHERE doc_id % 5 = 0
),
merged AS (
  SELECT doc_id, version, md5(text) AS text_hash FROM base
  UNION ALL
  SELECT doc_id, version, md5(text) AS text_hash FROM updates
)
SELECT doc_id, version, text_hash FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY version DESC, text_hash DESC
  ) AS rn
  FROM merged
) WHERE rn = 1
"""


def q_corpus_upsert_streaming(spark, sf_dir):
    """The latest-wins upsert as a stream (`streaming.windows.
    streaming_corpus_upsert`): re-crawls arrive on a file stream,
    per-key winner state stays (version, digest)-sized, the drained
    delta resolves against the static snapshot batch-side. Shares the
    batch `corpus_upsert` oracle by the registry twin guard."""
    from ..streaming.windows import streaming_corpus_upsert

    return streaming_corpus_upsert(spark, sf_dir)


DEDUP_QUERIES: dict[str, tuple] = {
    "sentence_dedup": (q_sentence_dedup, SQL_SENTENCE_DEDUP),
    "lsh_index_merge": (q_lsh_index_merge, SQL_DEDUP_LSH_SCREEN),
    "sentence_screen": (q_sentence_screen, _sql_sentence_screen()),
    "sentence_screen_streaming": (
        q_sentence_screen_streaming,
        _sql_sentence_screen(),
    ),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_exact_normalized": (
        q_dedup_exact_normalized,
        SQL_DEDUP_EXACT_NORMALIZED,
    ),
    "dedup_exact_streaming": (
        q_dedup_exact_streaming,
        SQL_DEDUP_EXACT_STREAMING,
    ),
    "dedup_minhash": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "dup_clusters": (q_dup_clusters, SQL_DUP_CLUSTERS),
    "cluster_representatives": (
        q_cluster_representatives,
        _sql_cluster_representatives(),
    ),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "doc_topk_similar": (q_doc_topk_similar, SQL_DOC_TOPK_SIMILAR),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_containment_canonical": (
        q_dedup_containment_canonical,
        SQL_DEDUP_CONTAINMENT_CANONICAL,
    ),
    "substring_dup": (q_substring_dup, SQL_SUBSTRING_DUP),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dup_labels_upsert": (q_dup_labels_upsert, SQL_DUP_LABELS_UPSERT),
    "dup_labels_upsert_streaming": (
        q_dup_labels_upsert_streaming,
        SQL_DUP_LABELS_UPSERT,
    ),
    "upsert_labels_agreement": (
        q_upsert_labels_agreement,
        SQL_UPSERT_LABELS_AGREEMENT,
    ),
    "dup_labels_compact": (q_dup_labels_compact, SQL_DUP_LABELS_COMPACT),
    "dup_labels_roundtrip": (
        q_dup_labels_roundtrip,
        SQL_DUP_LABELS_UPSERT,
    ),
    "chunk_dedup": (q_chunk_dedup, _sql_chunk_dedup()),
    "bloom_dedup": (q_bloom_dedup, SQL_BLOOM_DEDUP),
    "bloom_dedup_streaming": (q_bloom_dedup_streaming, SQL_BLOOM_DEDUP),
    "dedup_lsh_screen": (q_dedup_lsh_screen, SQL_DEDUP_LSH_SCREEN),
    "dedup_lsh_screen_streaming": (
        q_dedup_lsh_screen_streaming,
        SQL_DEDUP_LSH_SCREEN,
    ),
    "lsh_index_roundtrip": (q_lsh_index_roundtrip, SQL_DEDUP_LSH_SCREEN),
    "bloom_index_roundtrip": (q_bloom_index_roundtrip, SQL_BLOOM_DEDUP),
    "dup_overlap": (q_dup_overlap, _sql_dup_overlap()),
    "dup_weighting": (q_dup_weighting, _sql_dup_weighting()),
    "minhash_recall": (q_minhash_recall, SQL_MINHASH_RECALL),
    "corpus_upsert": (q_corpus_upsert, SQL_CORPUS_UPSERT),
    "corpus_upsert_streaming": (q_corpus_upsert_streaming, SQL_CORPUS_UPSERT),
}
