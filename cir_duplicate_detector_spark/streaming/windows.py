"""Structured Streaming twins of the batch extension operators.

Each function runs a real streaming query — file-source ``readStream``
over a staged parquet directory → memory sink — driven to completion
with an availableNow trigger, so a batch caller gets back an ordinary
DataFrame whose contents match the batch operator (and the same DuckDB
oracle) exactly.

On a live cluster the same plan runs continuously: swap the trigger for
a processing-time one and the memory sink for kafka/delta.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


def stage_source(path: str, prefix: str) -> str:
    """Stage a parquet source for the file-stream source (which needs a
    DIRECTORY of data files): symlink the single file, or — when the
    source is itself a directory of part files (replica corpora, real
    table directories) — symlink each data file. Zero-copy either way."""
    stage = tempfile.mkdtemp(prefix=prefix)
    stem = os.path.splitext(os.path.basename(path))[0]
    if os.path.isdir(path):
        n = 0
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                os.symlink(
                    os.path.join(path, f),
                    os.path.join(stage, f"{stem}_{n:05d}.parquet"),
                )
                n += 1
        if n == 0:
            raise FileNotFoundError(f"no parquet part files under {path}")
    else:
        os.symlink(path, os.path.join(stage, f"{stem}.parquet"))
    return stage


def _stream_near_dup_corpus(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """File-stream over the documents parquet with the derived
    near-dup corpus branches (original / truncation mutant / exact
    copy) applied STREAM-SIDE — the same expressions as
    ``sources.derived.near_dup_corpus_sql``, kept here in streaming
    form because that builder emits one batch SQL string. The file
    stream source requires a DIRECTORY; the single parquet file is
    staged into a temp dir via symlink (zero-copy).
    """
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    stage = stage_source(path, prefix)
    docs = spark.readStream.schema(schema).parquet(stage)
    words = "split(text, '\\\\s+')"
    orig = docs.select("doc_id", "text")
    mut = docs.where("doc_id % 5 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id",
        f"array_join(slice({words}, 1, greatest(size({words}) - 3, 1)), ' ')"
        " AS text",
    )
    copies = docs.where("doc_id % 11 = 0").selectExpr(
        "doc_id + 2000000 AS doc_id", "text"
    )
    return orig.unionAll(mut).unionAll(copies)


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate detection AS A STREAM: the continuously-ingesting
    form of `operators.dedup.exact_duplicates` — documents arrive on a
    file stream, the derived near-dup corpus branches (original / mutant
    / exact copy, same expressions as `sources.derived`) are unioned
    stream-side, and duplicate groups accumulate in a complete-mode
    hash-state aggregation keyed on the 128-bit digest. State is one
    entry per distinct text digest (the bounded-state shape: digest +
    count, never the text). Returns ``(text_hash, group_size)`` for
    groups > 1, identical to the batch oracle's digest/count pairs.
    """
    corpus = _stream_near_dup_corpus(spark, sf_dir, "docs_dedup_stream_")
    agg = (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("group_size"))
        .where(F.col("group_size") > 1)
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom membership screen AS A STREAM: incoming documents
    arrive on a file stream and are screened against a STATIC Bloom
    bitset built (batch-side) from the existing corpus — the canonical
    continuous-ingest shape: the reference corpus is indexed once, and
    each micro-batch pays only a broadcast hash join against the ≤ m-row
    bitset plus per-doc aggregation state. Both static sides (bitset,
    exact-key set) join BEFORE the aggregation — Structured Streaming
    allows stream-static joins pre-aggregation; post-aggregation joins
    are not supported in complete mode.

    Output is identical to the batch `operators.dedup.bloom_filter_dedup`
    — the two registry entries share one oracle string by construction
    (the batch/streaming twin guard in ``plans/__init__``).
    """
    from ..operators.dedup import BLOOM_K, bloom_bit_positions
    from ..sources.derived import BLOOM_SPLIT_SPARK, derive_near_dup_corpus

    # Static side (batch): bitset + exact-key set of the existing split.
    docs_b = derive_near_dup_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    existing = docs_b.where(F.expr(BLOOM_SPLIT_SPARK) == 0)
    key_b = F.md5("text")
    bits = (
        existing.select(F.explode(bloom_bit_positions(key_b)).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    seen = existing.select(key_b.alias("key")).distinct().withColumn(
        "seen", F.lit(1)
    )

    # Stream side: documents file stream -> derived-corpus branches
    # (shared helper) -> incoming split.
    incoming = _stream_near_dup_corpus(
        spark, sf_dir, "docs_bloom_stream_"
    ).where(F.expr(BLOOM_SPLIT_SPARK) == 1)

    probed = (
        incoming.select("doc_id", F.md5("text").alias("key"))
        .select(
            "doc_id",
            "key",
            F.explode(bloom_bit_positions(F.col("key"))).alias("bit"),
        )
        .join(F.broadcast(bits), "bit", "left")
        .join(F.broadcast(seen), "key", "left")
        .groupBy("doc_id", "key", F.col("seen").isNotNull().alias("is_dup"))
        .agg(
            (
                F.sum(F.coalesce(F.col("present"), F.lit(0))) == BLOOM_K
            ).alias("bloom_hit")
        )
        .select("doc_id", "bloom_hit", "is_dup")
    )
    name = f"stream_bloom_{uuid.uuid4().hex[:8]}"
    query = (
        probed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_lsh_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup membership screen AS A STREAM — the
    near-duplicate analogue of :func:`streaming_bloom_dedup`: the
    existing split's distinct ``(band_id, band_key)`` index is built
    batch-side ONCE; incoming documents arrive on a file stream,
    compute their signatures per-row (pure projection — zero stream
    state before the final rollup), explode to band keys and probe the
    static index through a stream-static equi-join. Output is identical
    to the batch `operators.dedup.lsh_screen` — the two registry
    entries share one oracle string by construction (the batch/
    streaming twin guard in ``plans/__init__``).
    """
    from ..operators.dedup import (
        banded_keys,
        hashed_shingle_arrays,
        minhash_signatures,
    )
    from ..sources.derived import BLOOM_SPLIT_SPARK, derive_near_dup_corpus

    # Static side (batch): the existing split's distinct band index.
    docs_b = derive_near_dup_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    idx = (
        banded_keys(
            minhash_signatures(
                hashed_shingle_arrays(
                    docs_b.where(F.expr(BLOOM_SPLIT_SPARK) == 0)
                )
            )
        )
        .select("band_id", "band_key")
        .dropDuplicates(["band_id", "band_key"])
        .withColumn("hit", F.lit(1))
    )

    # Stream side: documents file stream -> derived-corpus branches ->
    # incoming split -> per-row signatures -> band keys.
    incoming = _stream_near_dup_corpus(
        spark, sf_dir, "docs_lsh_stream_"
    ).where(F.expr(BLOOM_SPLIT_SPARK) == 1)
    inc = banded_keys(minhash_signatures(hashed_shingle_arrays(incoming)))

    probed = (
        inc.join(idx, ["band_id", "band_key"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_bands_hit")
        )
        .withColumn("lsh_hit", F.col("n_bands_hit") > 0)
    )
    name = f"stream_lsh_{uuid.uuid4().hex[:8]}"
    query = (
        probed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins corpus upsert AS A STREAM — the continuous-ingest
    form of `operators.dedup.corpus_upsert` (the one recurring-crawl
    pattern that was still batch-only after the exact/Bloom/LSH
    screens): re-crawled documents arrive on a file stream (every 5th
    doc as version 2 with edited text, the batch twin's update
    relation built STREAM-SIDE), and per-key winner state accumulates
    in a complete-mode ``max(struct(version, text_hash))`` aggregation
    — one (version, digest) pair per UPDATED key, never the text, and
    never a row for the untouched corpus: state is bounded by the
    update stream's key cardinality, which a crawl window bounds by
    design. The drained winner set then resolves against the STATIC
    base snapshot batch-side — the merge-on-read pattern: the stream
    maintains the compacted delta, the snapshot join happens at read
    time (on a live pipeline the winner state would compact into a
    Delta/Hudi delta table in update mode, with a crawl-time watermark
    expiring keys once their re-crawl horizon passes).

    Output is identical to the batch `corpus_upsert` — the two
    registry entries share one oracle string by construction (the
    batch/streaming twin guard in ``plans/__init__``). The tie-break
    (equal versions resolve to the lexically larger digest) rides the
    same struct-max rule on both paths.
    """
    from pyspark.sql import Window

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    base = spark.read.parquet(path).select(
        "doc_id",
        F.lit(1).cast("bigint").alias("version"),
        F.md5("text").alias("text_hash"),
    )
    stage = stage_source(path, "docs_upsert_stream_")
    updates = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.lit(2).cast("bigint").alias("version"),
            F.md5(F.concat(F.col("text"), F.lit(" [recrawled]"))).alias(
                "text_hash"
            ),
        )
    )
    winners = (
        updates.groupBy("doc_id")
        .agg(F.max(F.struct("version", "text_hash")).alias("m"))
        .select("doc_id", F.col("m.version").alias("version"),
                F.col("m.text_hash").alias("text_hash"))
    )
    name = f"stream_upsert_{uuid.uuid4().hex[:8]}"
    query = (
        winners.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    merged = base.unionByName(spark.table(name))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("version").desc(), F.col("text_hash").desc()
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "version", "text_hash")
    )


def streaming_boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate span screen AS A STREAM — the span-level sibling
    of :func:`streaming_lsh_screen`: the existing split's boilerplate
    span index (span digests with document frequency >= 2 WITHIN the
    indexed split, `textops.boilerplate_index`) is built batch-side
    ONCE; incoming documents arrive on a file stream, split into
    non-overlapping spans per-row (posexplode — zero stream state
    before the rollup) and probe the static index through a
    stream-static equi-join, one aggregation. Output identical to the
    batch `boilerplate_screen` entry — one oracle string by the
    batch/streaming twin guard in ``plans/__init__``."""
    from ..operators.textops import boilerplate_index, boilerplate_screen
    from ..sources.derived import BLOOM_SPLIT_SPARK, derive_near_dup_corpus

    docs_b = derive_near_dup_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    idx = boilerplate_index(
        docs_b.where(F.expr(BLOOM_SPLIT_SPARK) == 0), min_docs=2
    )
    incoming = _stream_near_dup_corpus(
        spark, sf_dir, "docs_boiler_stream_"
    ).where(F.expr(BLOOM_SPLIT_SPARK) == 1)
    probed = boilerplate_screen(incoming, idx)
    name = f"stream_boiler_{uuid.uuid4().hex[:8]}"
    query = (
        probed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring AS A STREAM — importance scoring at ingest: the
    likelihood-ratio table learns batch-side ONCE from the indexed half
    of the raw documents (`textops.dsir_bucket_ratios`, target = the
    English slice); incoming documents stream in, explode to
    position-keyed token buckets (stateless), resolve ratios through a
    broadcast stream-static join, and fold per document in ONE
    aggregation (`textops.dsir_score` — the token-level shape exists
    precisely because streaming allows a single aggregation). Output
    identical to the batch `dsir_score` entry — one oracle string by
    the twin guard."""
    from ..operators.textops import dsir_bucket_ratios, dsir_score

    path = f"{sf_dir}/documents.parquet"
    docs_b = spark.read.parquet(path)
    ratios, default = dsir_bucket_ratios(
        docs_b.where("doc_id % 2 = 0"), F.col("lang") == "en"
    )
    schema = docs_b.schema
    stage = stage_source(path, "docs_dsir_stream_")
    incoming = (
        spark.readStream.schema(schema).parquet(stage).where("doc_id % 2 = 1")
    )
    scored = dsir_score(incoming, ratios, default)
    name = f"stream_dsir_{uuid.uuid4().hex[:8]}"
    query = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_bm25_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 percolation AS A STREAM — standing keyword queries, arriving
    documents: corpus statistics (N, Σdl, per-term df) build batch-side
    ONCE from the indexed half (`textops.bm25_index_stats`); incoming
    documents stream in, take per-term tf from a stateless array-filter
    projection after the broadcast panel join, and fold per (doc,
    query) in ONE aggregation (`textops.bm25_route` — the
    single-aggregation shape exists precisely so this twin can run it
    unchanged). Output identical to the batch `bm25_route` entry — one
    oracle string by the twin guard."""
    from ..operators import textops
    from ..operators.textops import bm25_index_stats, bm25_route

    path = f"{sf_dir}/documents.parquet"
    docs_b = spark.read.parquet(path)
    panel = spark.createDataFrame(
        textops.BM25_PANEL, "query_id bigint, term string"
    )
    stats, df_rel = bm25_index_stats(docs_b.where("doc_id % 2 = 0"), panel)
    schema = docs_b.schema
    stage = stage_source(path, "docs_bm25_stream_")
    incoming = (
        spark.readStream.schema(schema).parquet(stage).where("doc_id % 2 = 1")
    )
    routed = bm25_route(incoming, panel, stats, df_rel)
    name = f"stream_bm25_{uuid.uuid4().hex[:8]}"
    query = (
        routed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_decontaminate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination AS A STREAM — scrub-at-ingest: the eval
    corpus's overlapping-span digest index builds batch-side ONCE
    (`textops.eval_span_index`); incoming train documents stream in,
    split to non-overlapping spans (stateless posexplode), flag
    contaminated spans through one stream-static digest join, and
    rebuild per document in ONE aggregation — the single-aggregation
    shape `textops.decontaminate_scrub` was written in precisely so
    this twin runs it unchanged. Output identical to the batch
    `decontaminate_scrub` entry — one oracle string by the twin
    guard."""
    from ..operators.textops import decontaminate_scrub
    from ..sources.derived import derive_near_dup_corpus

    # Static side: the eval split's overlapping-span digest index input
    # (the derived nd corpus, so planted near-dups straddle the split).
    nd_b = derive_near_dup_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    ev = nd_b.where("doc_id % 13 = 7")
    # Stream side: the same derived-corpus branches applied stream-side.
    incoming = _stream_near_dup_corpus(
        spark, sf_dir, "docs_scrub_stream_"
    ).where("doc_id % 13 <> 7")
    scrubbed = decontaminate_scrub(incoming, ev)
    name = f"stream_scrub_{uuid.uuid4().hex[:8]}"
    query = (
        scrubbed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashed linear quality scoring AS A STREAM — model-scored
    admission at ingest: `textops.quality_classifier` is a pure per-row
    projection (tokenize → per-token weight → one in-row integer fold),
    so the IDENTICAL expressions run under Structured Streaming with
    NO state at all — append mode, no watermark, no aggregation; the
    cheapest possible streaming shape, and the reason the scorer was
    built as an in-row fold instead of an explode + groupBy. Scores
    the odd-doc_id half (the batch twin scores the same slice) — one
    oracle string by the registry twin guard."""
    from ..operators.textops import quality_classifier

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    stage = stage_source(path, "docs_qc_stream_")
    incoming = (
        spark.readStream.schema(schema).parquet(stage).where("doc_id % 2 = 1")
    )
    scored = quality_classifier(incoming)
    name = f"stream_qc_{uuid.uuid4().hex[:8]}"
    query = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_sentence_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boilerplate screening AS A STREAM — the C4-granularity
    ingest gate: the indexed split's repeated-sentence digest index
    builds batch-side once (`textops.sentence_index`); incoming
    documents explode to sentences statelessly, probe the static index
    through one stream-static equi-join, and roll up per document in
    ONE aggregation (`textops.sentence_screen` — shared code, so batch
    and stream cannot drift). One oracle string by the twin guard."""
    from ..operators.textops import sentence_index, sentence_screen
    from ..sources.derived import (
        BLOOM_SPLIT_SPARK,
        derive_near_dup_corpus,
        derive_sentenced_corpus,
    )

    docs_b = derive_sentenced_corpus(
        derive_near_dup_corpus(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    )
    idx = sentence_index(docs_b.where(F.expr(BLOOM_SPLIT_SPARK) == 0))
    incoming = derive_sentenced_corpus(
        _stream_near_dup_corpus(spark, sf_dir, "docs_sent_stream_")
    ).where(F.expr(BLOOM_SPLIT_SPARK) == 1)
    screened = sentence_screen(incoming, idx)
    name = f"stream_sent_{uuid.uuid4().hex[:8]}"
    query = (
        screened.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_quality_classifier_learned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEARNED quality scoring AS A STREAM — the model-artifact
    deployment: the ONE-ROW diagonal-LDA model trains batch-side once
    (`textops.quality_classifier_model` on the deterministic
    `doc_id % 4 == 0` split — on a live pipeline, a periodically
    re-trained static artifact, exactly like
    `streaming_sentence_screen`'s digest index); incoming odd-doc_id
    documents score through the SHARED
    `textops.quality_classifier_learned` code path — a broadcast
    one-row stream-static join feeding a pure projection, so the
    stream runs APPEND-mode with NO state at all (the cheapest
    streaming shape, same as `streaming_quality_classifier`). One
    oracle string with the batch twin by the registry guard."""
    from ..operators.textops import (
        quality_classifier_learned,
        quality_classifier_model,
    )

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    model = quality_classifier_model(spark.read.parquet(path))
    stage = stage_source(path, "docs_qcl_stream_")
    incoming = (
        spark.readStream.schema(schema).parquet(stage).where("doc_id % 2 = 1")
    )
    scored = quality_classifier_learned(incoming, model)
    name = f"stream_qcl_{uuid.uuid4().hex[:8]}"
    query = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_label_upsert(
    spark: SparkSession, sf_dir: str, labels: "DataFrame | None" = None
) -> DataFrame:
    """Incremental duplicate-cluster maintenance AS A STREAM — the
    streaming twin of `operators.dedup.label_upsert`: the existing
    split's banded keys, shingle arrays, and cluster-label table build
    ONCE batch-side (the persisted-snapshot posture); incoming docs
    arrive on a file stream, compute shingle arrays + minhash lanes +
    band keys per-row (pure projections — zero stream state before the
    final rollup, with the shingle array CARRIED through the band
    explode because a stream cannot self-join it back), probe the
    static band keys through one stream-static equi-join, verify by
    exact per-row Jaccard against the static shingle arrays, pick up
    the matched doc's cluster label by one more stream-static left
    join, and fold to min-adopted-label per incoming doc in ONE
    aggregation. Duplicate (a, b) band collisions need no distinct —
    the min fold absorbs them. Unmatched docs never reach the
    aggregation, so the self-label fill joins the drained table against
    the source relation batch-side, after the drain. Output identical
    to the batch
    `dup_labels_upsert` entry — one oracle string by the twin guard."""
    from ..operators.dedup import (
        banded_keys,
        connected_components,
        hashed_shingle_arrays,
        minhash_near_duplicates,
        minhash_signatures,
    )
    from ..sources.derived import BLOOM_SPLIT_SPARK, derive_near_dup_corpus

    split = F.expr(BLOOM_SPLIT_SPARK)
    nd_b = derive_near_dup_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    existing = nd_b.where(split == 0)
    ex_hashed = hashed_shingle_arrays(existing)
    # Round-15 negative result (VERDICT r14 item 4): materializing
    # this narrow band index before the stream start measured
    # 3.70 → 4.06 s min-of-3 (the availableNow drain evaluates the
    # static side once, so the checkpoint only added its own write
    # barrier). Left lazy; the twin's residual cost is micro-batch
    # planning + state-store setup, not a re-executed static subtree.
    ex_bands = banded_keys(minhash_signatures(ex_hashed)).select(
        F.col("doc_id").alias("b"), "band_id", "band_key"
    )
    # ``labels`` shares the batch-built (possibly parquet-reread)
    # snapshot with the batch twin; deterministic build, identical
    # results either way.
    if labels is None:
        pairs = minhash_near_duplicates(existing, 0.5).select("a", "b")
        labels = connected_components(pairs, check_every=2)
    lab_b = labels.select(
        F.col("node").alias("b"), F.col("label").alias("ex_label")
    )

    incoming = _stream_near_dup_corpus(
        spark, sf_dir, "docs_labup_stream_"
    ).where(split == 1)
    inc_h = hashed_shingle_arrays(incoming)
    sigs = minhash_signatures(inc_h, keep=("hs",))
    inc_bands = banded_keys(sigs, keep=("hs",)).select(
        F.col("doc_id").alias("a"),
        F.col("hs").alias("hs_a"),
        "band_id",
        "band_key",
    )
    cand = inc_bands.join(ex_bands, ["band_id", "band_key"])
    full = cand.join(
        ex_hashed.select(
            F.col("doc_id").alias("b"), F.col("hs").alias("hs_b")
        ),
        "b",
    )
    i = F.size(F.array_intersect("hs_a", "hs_b"))
    verified = full.where(
        i / (F.size("hs_a") + F.size("hs_b") - i) >= 0.5
    ).select("a", "b")
    adopted = (
        verified.join(lab_b, "b", "left")
        .select(
            "a",
            F.coalesce(F.col("ex_label"), F.col("b")).alias("cand_label"),
        )
        .groupBy("a")
        .agg(F.min("cand_label").alias("m"))
    )
    name = f"stream_labup_{uuid.uuid4().hex[:8]}"
    query = (
        adopted.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    drained = spark.table(name).withColumnRenamed("a", "doc_id")
    return (
        nd_b.where(split == 1)
        .select("doc_id")
        .join(drained, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("m"), F.col("doc_id")).alias("label"),
            F.col("m").isNotNull().alias("matched"),
        )
    )
