"""The ``__spark_entry__`` contract: the query registry's names, one
DuckDB oracle per query, and the flagship ``entry`` smoke query."""

from __future__ import annotations

import __spark_entry__ as entry_mod

# Every registered query, by name. Removing a query family removes its
# names here too, so the removal is explicit.
REGISTERED = {
    "bigram_novelty", "chunk_dedup", "cluster_representatives",
    "corpus_curation", "corpus_drift", "curation_pipeline",
    "dataset_split", "dedup_containment", "dedup_containment_canonical",
    "dedup_exact", "dedup_exact_normalized", "dedup_minhash",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_pairs",
    "detect_duplicates", "doc_chunks", "doc_fingerprint",
    "doc_repetition", "doc_topk_similar", "domain_mixture",
    "dup_clusters", "dup_overlap", "dup_weighting", "hash_decode",
    "hash_explode_dedup", "image_pdq_hashes", "image_pdq_near_dup",
    "lang_id", "minhash_recall", "ngram_topk", "pack_sequences",
    "pdq_duplicates_banded", "pdq_duplicates_naive",
    "pdq_duplicates_probed", "pdq_duplicates_t08_probe30",
    "pdq_duplicates_t08_probed", "pdq_pairs", "pii_redact",
    "quality_band", "shard_assign", "stratified_sample",
    "substring_dup", "text_quality", "tfidf_topterms",
    "token_budget_sample", "token_count", "url_duplicates",
    "url_duplicates_capped", "url_duplicates_probed", "url_normalize",
}


def test_queries_names_the_registry():
    assert sorted(entry_mod.queries()) == sorted(REGISTERED)


def test_every_query_has_an_oracle():
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_entry_smoke_rows(spark):
    # sf0.001: 500 documents, 483 of them with at least one url or
    # pdq duplicate.
    assert entry_mod.entry(spark).count() == 483
