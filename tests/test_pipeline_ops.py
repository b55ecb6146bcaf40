"""Planted-input tests for the pipeline operators: decontamination
screen, exact canonicalization, chunk dedup, sampling, packing,
sharding, TF-IDF, dataset split, drift and MinHash recall.

Each test constructs an input where the correct answer is computable by
hand, so these pin SEMANTICS; engine parity with DuckDB is pinned
separately by tests/test_oracle_parity.py.
"""

from __future__ import annotations

from cir_duplicate_detector_spark.operators import dedup, textops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ----------------------------------------------------- decontamination

_EVAL_TEXT = "the quick brown fox jumps over the lazy dog today"  # 10 words


def test_decontaminate_flags_verbatim_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "prefix words " + _EVAL_TEXT),  # contains every eval 8-gram
            (2, "completely unrelated text with no overlap at all here"),
        ],
    )
    ev = _docs(spark, [(100, _EVAL_TEXT)])
    out = {r.doc_id: r for r in textops.decontaminate(train, ev).collect()}
    assert set(out) == {1}
    # eval text has 10 words -> 3 distinct 8-grams, all shared
    assert out[1].n_shared_grams == 3
    assert out[1].n_eval_docs == 1


def test_decontaminate_short_text_whole_doc_gram(spark):
    # Texts under 8 words shingle to the whole text: only an exact
    # short-text match is contamination.
    train = _docs(spark, [(1, "short snippet"), (2, "other snippet")])
    ev = _docs(spark, [(100, "short snippet")])
    out = textops.decontaminate(train, ev).collect()
    assert [(r.doc_id, r.n_shared_grams) for r in out] == [(1, 1)]


def test_decontaminate_df_cap_drops_boilerplate_gram(spark):
    # A gram shared by every eval doc is dropped at max_df=1, so train
    # docs matching ONLY it are not flagged.
    boiler = "one two three four five six seven eight"
    train = _docs(spark, [(1, boiler)])
    ev = _docs(spark, [(100, boiler), (101, boiler)])
    assert textops.decontaminate(train, ev, max_df=1).count() == 0
    assert textops.decontaminate(train, ev, max_df=2).count() == 1


# ------------------------------------------------ exact canonicalization

def test_canonicalize_exact_keeps_smallest_id(spark):
    df = _docs(
        spark,
        [(5, "same text"), (2, "same text"), (9, "same text"), (7, "other")],
    )
    out = sorted(r.doc_id for r in dedup.canonicalize_exact(df).collect())
    assert out == [2, 7]


def test_canonicalize_exact_preserves_non_dups(spark):
    df = _docs(spark, [(i, f"unique {i}") for i in range(10)])
    assert dedup.canonicalize_exact(df).count() == 10


# ----------------------------------------------------- chunk-level dedup

def test_chunk_dedup_finds_repeated_passage(spark):
    # Two docs share an identical 8-token passage; chunking at 8/8
    # (no overlap) isolates it as one recurring chunk.
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(
        spark,
        [
            (1, passage + " " + "unique one two three four five six seven"),
            (2, passage + " " + "different eight nine ten eleven twelve thirteen fourteen"),
            (3, "nothing in common here at all whatsoever friends"),
        ],
    )
    out = textops.chunk_dedup(df, chunk_tokens=8, step=8).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2
    assert out[0].n_occurrences == 2
    assert out[0].canonical_doc == 1


def test_chunk_dedup_within_doc_repeat_not_cross_doc(spark):
    # A passage repeated INSIDE one doc is not cross-doc duplication
    # (n_docs counts distinct docs, the min_docs gate uses it).
    passage = "rep one two three four five six seven"
    df = _docs(spark, [(1, passage + " " + passage)])
    assert textops.chunk_dedup(df, chunk_tokens=8, step=8).count() == 0


# ----------------------------------------------------- budget sampling

def test_token_budget_greedy_prefix(spark):
    # Equal quality -> doc_id order; budget 5 admits docs while tokens
    # BEFORE each stay under budget: 1 (0<5), 2 (3<5), not 3 (6>=5).
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f", "en"), (3, "g h i", "en")],
        "doc_id long, text string, lang string",
    )
    out = textops.token_budget_sample(df, budget=5)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


def test_token_budget_prefers_quality(spark):
    # Higher-quality doc admitted first even with a larger doc_id.
    low = "zzz qqq xxx"  # no stopwords, no punct -> low score
    high = "the cat and the dog is in the house. it is nice."
    df = spark.createDataFrame(
        [(1, low, "en"), (2, high, "en")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in textops.token_budget_sample(df, budget=1).collect()}
    assert set(out) == {2}  # only the high-quality doc fits the 1-token budget gate


def test_quality_band_drops_both_tails(spark):
    # 11 docs, distinct scores -> percent_rank = i/10; band [0.1, 0.9]
    # drops exactly the extremes.
    rows = [
        (i, ("the is and of to in. " * (i + 1)).strip(), "en")
        for i in range(11)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textops.quality_band_filter(df, lo=0.1, hi=0.9)
    kept = sorted(r.doc_id for r in out.collect())
    assert len(kept) == 9
    scores = {
        r.doc_id: r.quality_score
        for r in df.select(
            "doc_id", textops.quality_score_expr().alias("quality_score")
        ).collect()
    }
    order = sorted(scores, key=lambda d: (scores[d], d))
    assert kept == sorted(order[1:-1])


# ----------------------------------------------------- repetition score

def test_doc_repetition_planted(spark):
    # "a b c a b c a b c" -> 7 3-grams, 3 distinct -> ratio 4/7.
    # A non-repetitive doc scores 0; <3 words scores 0 (whole-text gram).
    df = _docs(
        spark,
        [(1, "a b c a b c a b c"), (2, "all words unique here now"), (3, "so short")],
    )
    out = {r.doc_id: r for r in textops.doc_repetition(df).collect()}
    assert out[1].n_grams == 7 and out[1].n_distinct_grams == 3
    assert out[1].rep_ratio == 4 / 7
    assert out[2].rep_ratio == 0.0
    assert out[3].n_grams == 1 and out[3].rep_ratio == 0.0


# ----------------------------------------------------- sequence packing

def test_pack_sequences_concat_then_split(spark):
    # 4 docs of 3 tokens each, seq_len=5: cumulative starts 0,3,6,9 ->
    # packs 0,0,1,1. Manifest: two packs of 2 docs / 6 tokens.
    df = spark.createDataFrame(
        [(i, "x y z", "en") for i in range(1, 5)],
        "doc_id long, text string, lang string",
    )
    out = sorted(
        textops.pack_sequences(df, seq_len=5).collect(),
        key=lambda r: r.pack_id,
    )
    assert [(r.pack_id, r.n_docs, r.n_tokens, r.first_doc) for r in out] == [
        (0, 2, 6, 1),
        (1, 2, 6, 3),
    ]


def test_pack_sequences_groups_pack_independently(spark):
    # Each language concatenates separately: same layout per group.
    df = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "en"), (3, "e f", "de"), (4, "g h", "de")],
        "doc_id long, text string, lang string",
    )
    out = textops.pack_sequences(df, seq_len=2).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append((r.pack_id, r.n_docs, r.n_tokens))
    assert sorted(by_lang["en"]) == sorted(by_lang["de"]) == [(0, 1, 2), (1, 1, 2)]


# ------------------------------------- LM scoring / mixing / sharding

def test_bigram_novelty_counts(spark):
    # doc 1: grams {"a b", "b c"}; doc 2: gram {"a b"}. Corpus freq:
    # "a b"=2, "b c"=1 -> doc1 avg=(2+1)/2, rare_ratio=1/2; doc2 avg=2.
    out = {
        r.doc_id: r
        for r in textops.bigram_novelty(
            _docs(spark, [(1, "a b c"), (2, "a b")])
        ).collect()
    }
    assert out[1].n_grams == 2 and out[2].n_grams == 1
    assert out[1].avg_gram_freq == 1.5 and out[1].rare_ratio == 0.5
    assert out[2].avg_gram_freq == 2.0 and out[2].rare_ratio == 0.0


def test_bigram_novelty_short_doc_whole_text_gram(spark):
    # <2 words: the whole text is the single gram (word_shingles
    # contract) -- the doc does not drop out.
    out = textops.bigram_novelty(_docs(spark, [(1, "solo")])).collect()
    assert [(r.doc_id, r.n_grams, r.rare_ratio) for r in out] == [(1, 1, 1.0)]


def test_domain_mixture_sqrt_weights(spark):
    df = spark.createDataFrame(
        [(i, "w x y z", "big") for i in range(4)] + [(9, "w", "small")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in textops.domain_mixture(df).collect()}
    # w_num: big=sqrt(4)*1e6=2e6, small=1e6 -> weights 2/3, 1/3.
    assert abs(out["big"].weight - 2 / 3) < 1e-12
    assert abs(out["small"].weight - 1 / 3) < 1e-12
    assert out["big"].total_tokens == 16 and out["small"].total_tokens == 1
    # expected_docs are exact floors summing to <= budget
    assert out["big"].expected_docs == 66666
    assert out["small"].expected_docs == 33333


def test_assign_shards_deterministic_and_dense(spark):
    docs = _docs(spark, [(i, "t") for i in range(50)])
    a = textops.assign_shards(docs, n_shards=4).collect()
    b = textops.assign_shards(docs, n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # run-stable
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    # positions are dense 1..len within every shard
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


# ------------------------------------------------- TF-IDF top terms

def test_tfidf_linear_idf_ranking(spark):
    # apple: tf=2 df=1 -> 2*3/1 = 6; banana: tf=1 df=2 -> 1.5.
    df = _docs(
        spark,
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
    )
    out = textops.tfidf_top_terms(df, k=1).collect()
    best = {r.doc_id: r for r in out}
    assert best[1].term == "apple" and best[1].score == 6.0
    assert best[3].term == "cherry" and best[3].score == 3 * 3 / 2
    # doc 2: banana and cherry tie at 1*3/2; term asc tie-break -> banana
    assert best[2].term == "banana"


def test_tfidf_k_limits_per_doc(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b")])
    out = textops.tfidf_top_terms(df, k=3)
    per_doc = out.groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in per_doc} == {1: 3, 2: 2}


# --------------------------------- leakage-safe dataset split

def test_dataset_split_cluster_members_share_split(spark):
    from cir_duplicate_detector_spark.plans.extension_queries import (
        q_dataset_split,
    )

    out = q_dataset_split(spark, "/root/testdata/sf0.001").collect()
    # every document assigned exactly once
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids)) and len(ids) > 0
    # leakage guarantee: all members of a duplicate group land on the
    # same side
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())
    # at least one multi-member group exists in the derived corpus and
    # all three splits are populated at 90/5/5 over ~1000 groups
    assert {r.split for r in out} == {"train", "val", "test"}


# --------------------------------------------- corpus drift

def test_corpus_drift_planted_shift(spark):
    # cohort A (even ids) says "alpha", cohort B says "beta"; "common"
    # is balanced and must score 0.
    rows = [
        (0, "alpha common"), (2, "alpha common"),
        (1, "beta common"), (3, "beta common"),
    ]
    out = {r.term: r for r in textops.corpus_drift(_docs(spark, rows)).collect()}
    assert out["common"].score == 0
    assert out["alpha"].score == out["beta"].score > 0
    assert out["alpha"].cnt_a == 2 and out["alpha"].cnt_b == 0
    # ranks: the two shifted terms outrank the balanced one
    assert {out["alpha"].rank, out["beta"].rank} == {1, 2}


# --------------------------------------------- minhash recall

def test_minhash_recall_floor_on_planted_corpus(spark):
    from cir_duplicate_detector_spark.plans.extension_queries import (
        q_minhash_recall,
    )

    rows = q_minhash_recall(spark, "/root/testdata/sf0.001").collect()
    assert rows, "planted corpus must yield probe near-dup pairs"
    n_true = sum(r.n_true for r in rows)
    n_found = sum(r.n_found for r in rows)
    # The derived corpus plants high-Jaccard mutants; 16 bands x 8 rows
    # at J>=0.5 keeps collision probability near 1, so micro-recall must
    # stay >= 0.9 (found is a subset of truth by construction).
    assert all(0.0 <= r.recall <= 1.0 for r in rows)
    assert n_found / n_true >= 0.9
