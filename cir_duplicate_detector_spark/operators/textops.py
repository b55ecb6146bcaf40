"""Text-analysis operators over a documents table: token counting,
quality scoring, language identification, document fingerprinting.

All pure Catalyst expressions (JVM-side regex / array ops; no Python in
the hot path), so they scale linearly with the scan and stay inside
whole-stage codegen. Ratios are single exact divisions and score
formulas fixed expression trees, so the DuckDB oracle reproduces every
double bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import char_shingles, hash60, tokens

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
# Same pattern compiles identically under Java regex and RE2 (DuckDB).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

PUNCT_PATTERN = "[.,;:!?]"


# Tiny per-language stopword lexicons for the n-gram/stopword heuristic.
# Deterministic tie-break: first language in this order wins ties.
LANG_LEXICONS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "in", "is"]),
    ("es", ["el", "la", "de", "que", "y", "los"]),
    ("de", ["der", "die", "und", "das", "ist", "nicht"]),
    ("fr", ["le", "les", "et", "des", "un", "est"]),
]

STOPWORDS_EN = LANG_LEXICONS[0][1]


def _count_matches(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast(
        "bigint"
    )


def lang_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe): whitespace tokens and a
    BPE-style pre-tokenization count (letters/digits/punct runs).
    """
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens_ws"),
        _count_matches(F.col("text"), BPE_PATTERN).alias("n_tokens_bpe"),
    )


CHUNK_TOKENS = 64
CHUNK_STEP = 48  # 16-token overlap between consecutive chunks


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    step: int = CHUNK_STEP,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    tokenize/chunk step that precedes training-sequence packing:
    ``(doc_id, chunk_id, chunk_start, n_chunk_tokens, chunk_hash)``.

    Pure per-row work: tokenize once, `posexplode` a `sequence` of
    window starts, slice the token array per window. Zero shuffles at
    any corpus size — chunking at 100 TB is exactly a scan. The chunk
    content is carried as its md5 (dedupable key) rather than the text
    to keep the output narrow; callers wanting text join back on
    (doc_id, chunk_start).
    """
    ws = tokens("text")
    n = F.size(ws)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    return (
        docs.select(
            "doc_id",
            ws.alias("ws"),
            F.posexplode(starts).alias("chunk_id", "chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.size(F.slice("ws", F.col("chunk_start"), chunk_tokens))
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.md5(
                F.array_join(
                    F.slice("ws", F.col("chunk_start"), chunk_tokens), " "
                )
            ).alias("chunk_hash"),
        )
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    step: int = CHUNK_STEP,
    min_docs: int = 2,
) -> DataFrame:
    """Repeated-passage discovery: token-window chunks whose content
    recurs across >= ``min_docs`` distinct documents — the chunk-level
    form of exact substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better": repeated spans are memorized
    disproportionately; a production pipeline drops or down-weights
    them before packing training sequences).

    Returns ``(chunk_hash, n_docs, n_occurrences, canonical_doc)``.

    Physical shape: :func:`chunk_documents` is a pure scan (zero
    shuffles); the aggregation shuffles twice (the two-phase
    count-distinct: (chunk_hash, doc_id) occurrence dedup, then the
    per-digest counts) — both keyed on the 128-bit digest, never the
    text, so the shuffle payload is ~48 bytes/chunk at any corpus
    size. Pinned by ``tests/test_plans.py``.
    """
    ch = chunk_documents(docs, chunk_tokens, step)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def doc_repetition(docs: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition scoring: the fraction of word
    ``n``-grams that are repeats of an earlier gram in the SAME document
    (Gopher/Rae et al.'s duplicate-n-gram quality signal — looping or
    template-stuffed text scores high and is filtered before training).

    ``rep_ratio = (total - distinct) / total`` over exact integer
    counts, so the oracle reproduces the double bitwise. Entirely
    per-row array expressions — zero shuffles, scan-linear; the gram
    set never leaves its row.

    Returns ``(doc_id, n_grams, n_distinct_grams, rep_ratio)``.
    """
    from ..functions.text import word_shingles

    grams = word_shingles("text", n)
    total = F.size(grams).cast("bigint")
    distinct = F.size(F.array_distinct(grams)).cast("bigint")
    return docs.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct_grams"),
        ((total - distinct) / total).alias("rep_ratio"),
    )


SEQ_LEN = 512


def pack_sequences(
    docs: DataFrame, seq_len: int = SEQ_LEN, group: str = "lang"
) -> DataFrame:
    """Training-sequence packing by concatenation: documents are laid
    end-to-end per ``group`` in deterministic (doc_id) order and cut
    into fixed ``seq_len``-token sequences; each document's pack is
    where its first token lands (``tokens-before div seq_len``) — the
    standard concat-then-split packing a pre-training dataloader
    performs, computed engine-side so the pack manifest ships with the
    data. Returns the per-pack manifest
    ``(group, pack_id, n_docs, n_tokens, first_doc)``.

    Physical shape: one window shuffle on ``group`` for the running
    token count (explicit ROWS frame, total order), one aggregate on
    ``(group, pack_id)``. No skew risk beyond group cardinality —
    production would sub-salt a giant language by date/shard, which
    composes with the same two-stage shape.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select(
        group, "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    # Integer `div`, not a double divide+cast: the running token count
    # at 100 TB exceeds 2^53 and double division would misplace packs.
    packed = sized.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).withColumn("pack_id", F.expr(f"cum_before div {seq_len}"))
    return packed.groupBy(group, "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


TOKEN_BUDGET = 2000


def token_budget_sample(
    docs: DataFrame, budget: int = TOKEN_BUDGET, group: str = "lang"
) -> DataFrame:
    """Greedy quality-ranked token-budget selection per ``group``: rank
    documents by quality score (descending, doc_id tie-break), admit
    each while the tokens BEFORE it total under ``budget`` — how a
    training mix fills a per-language token quota with the best
    documents first. Deterministic (no RNG), so the selected set is
    reproducible across runs and engines.

    Returns ``(group, doc_id, n_tokens, cum_tokens, quality_score)``
    for admitted documents. One window shuffle on ``group``; the
    feature projection rides the scan. An explicit ROWS frame keeps the
    running sum peer-row-independent (the ordering is total anyway —
    doc_id breaks ties).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group)
        .orderBy(F.col("quality_score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = docs.select(
        group,
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        quality_score_expr().alias("quality_score"),
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") - F.col("n_tokens") < budget)
        .select(group, "doc_id", "n_tokens", "cum_tokens", "quality_score")
    )


def quality_band_filter(
    docs: DataFrame,
    lo: float = 0.1,
    hi: float = 0.9,
    group: str = "lang",
) -> DataFrame:
    """Keep documents inside the [lo, hi] quality percentile band per
    ``group`` — the two-sided quantile prune (drop the bottom tail as
    garbage AND the top tail as boilerplate/templated text, whose
    "perfect" scores usually mean degenerate repetition). percent_rank
    = (rank-1)/(n-1) with a total ordering (doc_id tie-break), so band
    membership is exact and engine-reproducible — no approximate
    quantile sketch divergence.

    Returns ``(group, doc_id, quality_score, pr)``. One window shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy(
        F.col("quality_score").asc(), F.col("doc_id")
    )
    scored = docs.select(
        group, "doc_id", quality_score_expr().alias("quality_score")
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .where((F.col("pr") >= lo) & (F.col("pr") <= hi))
    )


def quality_score_expr() -> "F.Column":
    """The composite quality score as a reusable expression over `text`."""
    ws = tokens("text")
    n_chars = F.length("text").cast("bigint")
    n_words = F.size(ws).cast("bigint")
    punct = _count_matches(F.col("text"), PUNCT_PATTERN)
    stop = _count_matches(F.col("text"), lang_pattern(STOPWORDS_EN))
    punct_ratio = punct / n_chars
    stop_ratio = stop / n_words
    return (
        F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * F.least(n_words.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score per document."""
    ws = tokens("text")
    n_chars = F.length("text").cast("bigint")
    n_words = F.size(ws).cast("bigint")
    punct = _count_matches(F.col("text"), PUNCT_PATTERN)
    stop = _count_matches(F.col("text"), lang_pattern(STOPWORDS_EN))
    avg_word_len = (n_chars - (n_words - 1)) / n_words  # chars net of single spaces
    punct_ratio = punct / n_chars
    stop_ratio = stop / n_words
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality_score_expr().alias("quality_score"),
    )


def lang_pred_expr() -> "F.Column":
    """Language prediction as a reusable expression over `text`:
    stopword-lexicon scores with deterministic tie-breaking (first
    language in LANG_LEXICONS order wins); all-zero -> 'und'."""
    scores = {
        lang: _count_matches(F.lower(F.col("text")), lang_pattern(words))
        for lang, words in LANG_LEXICONS
    }
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang, _ in LANG_LEXICONS:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-lexicon language ID with deterministic tie-breaking.

    Scores = per-language stopword hit counts; the CASE cascade picks
    the first language (in LANG_LEXICONS order) whose score equals the
    maximum; all-zero scores -> 'und' (undetermined).
    """
    scores = {
        lang: _count_matches(F.lower(F.col("text")), lang_pattern(words))
        for lang, words in LANG_LEXICONS
    }
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang, _ in LANG_LEXICONS],
        lang_pred_expr().alias("lang_pred"),
    )


def doc_fingerprint(docs: DataFrame, k: int = 8, bottom: int = 4) -> DataFrame:
    """Bottom-k sketch fingerprint: the ``bottom`` smallest 60-bit hashes
    of the document's distinct char k-gram shingles — a compact,
    order-stable signature for containment/near-dup screening
    (winnowing-style document fingerprinting).

    Output is flat (doc_id, fp_rank, fp_hash) for hash-stable comparison.

    Entirely array-native per row (distinct → hash → sort → slice inside
    one projection): zero shuffles, zero row explosion — the shingle
    blow-up never leaves the expression, so the operator scales with the
    scan alone. (The first cut exploded to rows and ranked with a
    window; that shuffled |text| rows per document for a 4-row answer.)
    """
    fp = F.slice(
        F.array_sort(
            F.transform(
                F.array_distinct(char_shingles("text", k)),
                lambda g: hash60(g),
            )
        ),
        1,
        bottom,
    )
    return docs.select("doc_id", F.posexplode(fp)).select(
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("fp_rank"),
        F.col("col").alias("fp_hash"),
    )


def substring_duplicates(
    docs: DataFrame,
    k: int = 8,
    bottom: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` bottom-k fingerprint
    hashes (:func:`doc_fingerprint`) — a winnowing-style substring-
    overlap screen: two documents that share long literal runs share
    char-k-gram minima with high probability.

    Physical shape: the fingerprint index is BOUNDED at ``bottom`` rows
    per document (the bottom-k sketch, not the full shingle set), so
    the self equi-join on fp_hash shuffles O(bottom·N) rows and scales
    out on the hash key. Hot fingerprints (boilerplate runs shared by
    d docs) would still emit O(d²) join output, so the index is
    df-capped first (``dedup.df_capped``): fingerprints occurring in
    more than ``max_df`` documents are dropped, exactly like a stop-
    word list — measured 118 s → bounded on a 10x corpus replica where
    the uncapped join blew up. Default ``dedup.DEFAULT_MAX_DF`` (1000).
    """
    from .dedup import DEFAULT_MAX_DF, df_capped

    if max_df is None:
        max_df = DEFAULT_MAX_DF
    fp = doc_fingerprint(docs, k, bottom).select("doc_id", "fp_hash")
    fp = df_capped(fp, "fp_hash", max_df)
    a = fp.select(F.col("doc_id").alias("a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


DECON_NGRAM = 8


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = DECON_NGRAM,
    max_df: int | None = None,
) -> DataFrame:
    """Train/eval contamination screen: training documents that share at
    least one word ``n``-gram with any held-out evaluation document —
    the standard benchmark-decontamination pass (GPT-3 appx. C /
    PaLM-style 8-gram overlap) run before a training corpus ships.

    Returns ``(doc_id, n_shared_grams, n_eval_docs)`` for contaminated
    TRAIN docs: how many distinct n-grams leak and how many eval docs
    they touch.

    Physical shape: both sides reduce to distinct (doc, gram-hash) pairs
    per-row (``array_distinct`` inside the projection — no explode
    shuffle), the eval index is df-capped (a gram appearing in more than
    ``max_df`` eval docs is boilerplate, not contamination signal — and
    an uncapped hot gram makes the join output quadratic), and the
    match is one equi-join on the 60-bit gram hash. The eval side is
    typically orders of magnitude smaller than train, so AQE converts
    the join to broadcast at runtime when it fits; the declared plan
    stays a shuffle equi-join so a large eval set cannot OOM the build
    side. 8-grams (vs the 3-gram near-dup shingles) keep incidental
    phrase overlap out of the index entirely.
    """
    from .dedup import DEFAULT_MAX_DF, df_capped

    from ..functions.text import hash60, word_shingles

    if max_df is None:
        max_df = DEFAULT_MAX_DF

    def grams(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(id_alias),
            F.explode(
                F.array_distinct(
                    F.transform(word_shingles("text", n), lambda g: hash60(g))
                )
            ).alias("g"),
        )

    ev = df_capped(grams(eval_docs, "eval_id"), "g", max_df)
    return (
        grams(train, "doc_id")
        .join(ev, "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_shared_grams"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
    )


# PII patterns (name, regex, replacement). Patterns avoid backrefs /
# lookarounds so Java regex (Spark) and RE2 (DuckDB) compile them
# identically; redaction applies them in list order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b555-[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b", "<IP>"),
]


def pii_redact(docs: DataFrame) -> DataFrame:
    """Per-document PII scrub: counts and redacts emails, phone
    numbers, and IPv4 addresses in one projection — a standard
    pre-training privacy pass. Pure Catalyst regex (scan-linear, zero
    shuffles); counts are taken on the original text, then patterns
    replace in order.
    """
    redacted = F.col("text")
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(_count_matches(F.col("text"), pat).alias(f"n_{name}s"))
        redacted = F.regexp_replace(redacted, pat, token)
    return docs.select("doc_id", *counts, redacted.alias("redacted"))


def ngram_topk(docs: DataFrame, n: int = 2, k: int = 5) -> DataFrame:
    """Top-k most frequent word n-grams per language — the corpus-
    statistics pass used for boilerplate discovery and contamination
    screens. One explode + one count aggregate + one top-k window, all
    shuffle-partitioned by language/gram (scales out; the gram-count
    aggregate is map-side combined). Ties break deterministically on
    the gram string."""
    from pyspark.sql import Window

    from ..functions.text import word_shingles

    counts = (
        docs.select("lang", F.explode(word_shingles("text", n)).alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic stratified sampling: English documents kept at
    1/2, every other language at 1/4, decided by a seeded 60-bit hash
    of the document key — reproducible across runs and engines (no RNG
    state), and a pure scan-side filter (zero shuffles, pushdown-
    friendly), unlike ``df.sample`` whose seed is partition-layout
    dependent."""
    h = hash60(F.col("doc_id").cast("string"), seed="sample")
    keep = F.when(F.col("lang") == "en", h % 2 == 0).otherwise(h % 4 == 0)
    return docs.where(keep).select("doc_id", "lang")


def curate_corpus(
    docs: DataFrame, min_quality: float = 0.5, language: str = "en"
) -> DataFrame:
    """End-to-end corpus curation in ONE scan + ONE shuffle: language
    filter, quality threshold, and exact-duplicate canonicalization
    (keep the smallest doc_id of each byte-identical group) — the
    standard pre-training data cleaning pass, composed from the same
    expressions the individual operators use.

    All features (token count, quality score, language) are computed in
    a single projection; the only shuffle is the ``min(doc_id) OVER
    (PARTITION BY md5(text))`` canonical window. Returns
    ``(doc_id, n_tokens, quality_score)`` for kept documents.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    annotated = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        quality_score_expr().alias("quality_score"),
        lang_pred_expr().alias("lang_pred"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )
    return annotated.where(
        (F.col("doc_id") == F.col("canonical_id"))
        & (F.col("lang_pred") == language)
        & (F.col("quality_score") >= min_quality)
    ).select("doc_id", "n_tokens", "quality_score")


def bigram_novelty(docs: DataFrame) -> DataFrame:
    """Corpus-frequency n-gram language-model scoring, integer-exact.

    The classic LM-based quality signal (KenLM-style perplexity scoring
    a la CCNet/Gopher) needs log-probabilities, whose libm rounding
    differs across engines; this operator keeps the *signal* — "is this
    document made of common or of never-seen-again word sequences?" —
    in exact integer arithmetic so every value is reproducible
    bit-for-bit anywhere:

    * ``avg_gram_freq`` — mean corpus frequency of the document's word
      bigram occurrences (high = boilerplate-like, low = novel), one
      exact ``sum(bigint)/count`` division;
    * ``rare_ratio`` — fraction of the document's bigram occurrences
      whose corpus frequency is 1 (hapax bigrams: high = unique prose
      or noise), again a single exact division.

    Physical shape: one explode + map-side-combined count aggregate
    builds the corpus bigram frequency table, then one equi-join of
    gram occurrences against it and a per-document re-aggregate — two
    key-partitioned shuffles, both scale-out; no broadcast of the
    (corpus-sized) frequency table, and hot boilerplate grams are
    AQE-skew-join territory, same shape as :func:`decontaminate`.
    Documents shorter than 2 words shingle to the whole text
    (``word_shingles`` contract), so no document drops out.
    """
    from ..cache import materialize
    from ..functions.text import word_shingles

    # Materialized: the gram relation feeds BOTH the frequency rollup
    # and the scoring join — the same shared-subplan shape as
    # tfidf_top_terms' tf relation (Spark does not share uncached
    # subplans; without this the tokenize+shingle+explode scan runs
    # twice).
    grams = materialize(
        docs.select(
            "doc_id", F.explode(word_shingles("text", 2)).alias("gram")
        )
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("freq"))
    return (
        grams.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("freq").alias("freq_sum"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("freq_sum") / F.col("n_grams")).alias("avg_gram_freq"),
            (F.col("n_rare") / F.col("n_grams")).alias("rare_ratio"),
        )
    )


def domain_mixture(
    docs: DataFrame, budget_docs: int = 100_000
) -> DataFrame:
    """Temperature-scaled source-mixture weights for training-data
    sampling (the multi-corpus mixing step of every LLM data pipeline:
    upweight small high-quality sources, damp the giant crawl).

    Weight of source d with n_d documents is ``sqrt(n_d)`` normalized
    over sources — temperature alpha = 1/2, chosen because IEEE-754
    ``sqrt`` is correctly rounded on every engine (an ``n^0.7``-style
    ``pow`` is not, and a 1-ulp divergence would break cross-engine
    reproducibility). The rounded 1e6-scaled weight numerators are
    BIGINTs, so the normalization denominator is an exact integer sum
    (order-independent) and ``expected_docs`` is exact integer
    arithmetic end-to-end.

    One groupBy(source) aggregate (map-side combined) over the scan; the
    unpartitioned normalization window moves only one tiny row per
    source — cardinality = #corpora, not #documents.
    """
    from pyspark.sql import Window

    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_tokens"),
    )
    w_num = F.round(F.sqrt(F.col("n_docs")) * 1_000_000).cast("bigint")
    denom = F.sum("w_num").over(Window.partitionBy())
    return (
        per_source.withColumn("w_num", w_num)
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.col("w_num") / denom).alias("weight"),
            F.floor(F.lit(budget_docs) * F.col("w_num") / denom)
            .cast("bigint")
            .alias("expected_docs"),
        )
    )


def assign_shards(docs: DataFrame, n_shards: int = 20) -> DataFrame:
    """Deterministic global shuffle + sharding for training output: the
    final step that turns a curated corpus into N equal-ish shard files
    in a reproducible pseudo-random read order.

    Each document hashes to a shard (seeded 60-bit hash, so the
    assignment is stable across runs, engines, and partition layouts —
    unlike ``repartition``'s internal hash) and gets a within-shard
    position by hash order (hash ties broken by doc_id). Writing with
    ``partitionBy(shard) sortWithinPartitions(pos)`` then streams each
    shard in training order. The only wide operation is the per-shard
    ranking window, partitioned on the shard key — shards are the
    parallel unit, so the sort scales out with shard count; no global
    sort, no driver state.
    """
    from pyspark.sql import Window

    h = hash60(F.col("doc_id").cast("string"), seed="shard")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k salient terms by TF-IDF — the keyword /
    topic-signal extraction step of a corpus-analysis pipeline (and the
    classic sparse-retrieval doc representation).

    Weighting: ``tf × (n_docs / df)`` — LINEAR inverse document
    frequency rather than the textbook ``log(n_docs/df)``. Rationale:
    ``tf * n_docs`` is exact integer arithmetic and the single IEEE-754
    division by ``df`` is correctly rounded identically on every
    engine, whereas ``ln`` is only ~1-ulp accurate and java.lang.Math
    vs libm may disagree in the last bit — a value-hash-exact oracle
    cannot be built on it. For a fixed tf both weightings are strictly
    decreasing in df; across terms the linear form weights rarity more
    aggressively (a deliberate variant, not an approximation).

    Shape at scale (100 TB): tokenize+explode is map-side; (doc, term)
    tf is one hash aggregation; term-level df REUSES the tf relation
    (one row per (doc, term), so ``count(*)`` per term IS the document
    frequency) — partial aggregation absorbs stopword skew map-side
    before the term shuffle. The corpus size joins in as a broadcast
    1-row relation, df joins back on the term equi-key (AQE handles
    stopword-key skew), and the final top-k is a per-document
    row_number window partitioned on doc_id — the parallel unit is the
    document, no global sort.
    """
    from pyspark.sql import Window

    from ..cache import materialize

    terms = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    # The tf relation feeds BOTH the score join and the df rollup;
    # Spark does not share uncached subplans, so without materializing
    # it the tokenize+explode+aggregate runs twice. Measured on the 10x
    # replica (warm, interleaved A/B): 4.5 s -> 1.9 s materialized.
    tf = materialize(
        terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def corpus_drift(docs: DataFrame, k: int = 20) -> DataFrame:
    """Token-distribution drift between two corpus cohorts — the
    distribution-shift diagnostic run between crawl snapshots, data
    sources, or pipeline versions before blessing a new training mix.

    Cohorts here are the deterministic halves ``doc_id % 2`` (stand-in
    for snapshot A/B); the divergence score per token is the exact
    integer cross product ``|cnt_a·nb − cnt_b·na|`` — zero iff the
    token's relative frequency is identical in both cohorts, and
    scale-invariant in the same way as comparing the two ratios
    ``cnt/n`` without ever leaving integer arithmetic (so the oracle is
    value-hash exact; a float ratio diff would not be). Top-k most
    divergent tokens, ties to the lexically smaller token.

    Shape at scale: one exploded token aggregation (partial combine
    absorbs stopword skew map-side), a broadcast 1-row totals join, and
    a distributed TakeOrderedAndProject top-k — no global sort. The
    BIGINT cross product bounds exact use at ~3·10⁹ tokens per cohort
    (past that, run per shard/day slice — which is also the analysis
    you want — or accept one float rounding per side).
    """
    from pyspark.sql import Window

    toks = docs.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("cnt_b"),
    )
    # Overflow guard (round-5 advice): the cross product is exact only
    # while na·nb fits BIGINT (cnt ≤ n, so na,nb < ~3e9 suffices); past
    # the bound fail loudly instead of ranking wrapped garbage.
    _DRIFT_EXACT_MAX = 3_000_000_000

    def _guarded(c: str):
        return F.when(
            F.col(c) < F.lit(_DRIFT_EXACT_MAX), F.col(c)
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"corpus_drift: cohort token count {c} exceeds the "
                    "exact BIGINT cross-product bound (~3e9); run per-"
                    "shard/day slices (docstring) instead"
                )
            )
        )

    tot = counts.agg(
        F.sum("cnt_a").alias("na"), F.sum("cnt_b").alias("nb")
    ).select(_guarded("na").alias("na"), _guarded("nb").alias("nb"))
    scored = counts.join(F.broadcast(tot)).withColumn(
        "score",
        F.abs(
            F.col("cnt_a") * F.col("nb") - F.col("cnt_b") * F.col("na")
        ),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.orderBy(F.col("score").desc(), "term")
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("term", "cnt_a", "cnt_b", "score", "rank")
    )
