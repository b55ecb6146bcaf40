"""Semantic tests for the pipeline-extension operators (the oracle
parity suite checks engine-vs-DuckDB equivalence; these check the
operators do the *right thing* on planted structures).
"""

from __future__ import annotations

from cir_duplicate_detector_spark.operators import dedup, textops
from cir_duplicate_detector_spark.sources.derived import derive_near_dup_corpus
from cir_duplicate_detector_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

DOCS_SCHEMA = "doc_id bigint, text string"


def test_exact_duplicates_planted(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "aa bb cc"), (3, "unique text"), (4, "aa bb cc")],
        DOCS_SCHEMA,
    )
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["members"] == [1, 2, 4]
    assert got[0]["group_size"] == 3


def test_minhash_finds_mutants(spark):
    docs = derive_near_dup_corpus(load_table(spark, SF_DIR, "documents"))
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    # Exact copies (doc_id % 11 == 0 -> +2_000_000) have jaccard 1.0.
    assert pairs[(0, 2_000_000)] == 1.0
    assert pairs[(11, 2_000_011)] == 1.0
    # Truncation mutants (doc_id % 5 == 0 -> +1_000_000) are near 1.
    assert pairs[(5, 1_000_005)] > 0.7


def test_simhash_identical_for_copies(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "a completely different sentence here")],
        DOCS_SCHEMA,
    )
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    assert 0 <= sig[1] < (1 << 60)


def test_lang_id_deterministic_ties(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el perro y la casa de que"),
         (3, "xyzzy plugh")],
        DOCS_SCHEMA,
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"


def test_fingerprint_shape(spark):
    docs = spark.createDataFrame([(1, "abcdefghijklmno")], DOCS_SCHEMA)
    got = textops.doc_fingerprint(docs).collect()
    assert [r["fp_rank"] for r in sorted(got, key=lambda r: r["fp_rank"])] == [
        1,
        2,
        3,
        4,
    ]
    hashes = [r["fp_hash"] for r in sorted(got, key=lambda r: r["fp_rank"])]
    assert hashes == sorted(hashes)


def test_connected_components_transitive_closure(spark):
    # chain 1-2-3 (1,3 never directly paired) + isolated pair 10-11;
    # node 4 appears in no pair and must not appear in the output.
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    got = {
        r["node"]: r["label"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # a 40-node path graph needs the pointer-jump acceleration to
    # converge inside max_iter (plain propagation would need 40 rounds)
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a bigint, b bigint"
    )
    labels = dedup.connected_components(pairs, max_iter=12).collect()
    assert {r["label"] for r in labels} == {0}
    assert len(labels) == n + 1


def test_pii_redact_counts_and_replaces(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob@example.com or call 555-1234 from 10.0.3.21 ok"),
         (2, "no pii here at all")],
        DOCS_SCHEMA,
    )
    got = {r["doc_id"]: r for r in textops.pii_redact(docs).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ips"]) == (1, 1, 1)
    assert got[1]["redacted"] == "mail <EMAIL> or call <PHONE> from <IP> ok"
    assert got[2]["redacted"] == "no pii here at all"
    assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_ips"]) == (0, 0, 0)


def test_ngram_topk_ranking(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b", "en"), (2, "a b c d", "en"), (3, "x y x y", "de")],
        "doc_id bigint, text string, lang string",
    )
    got = textops.ngram_topk(docs, n=2, k=2).collect()
    en = {r["rank"]: (r["gram"], r["cnt"]) for r in got if r["lang"] == "en"}
    # "a b" appears 3x in doc1 + 1x in doc2; "b a" 2x in doc1.
    assert en[1] == ("a b", 4)
    assert en[2] == ("b a", 2)
    assert {r["gram"] for r in got if r["lang"] == "de"} == {"x y", "y x"}


def test_normalized_exact_dedup_merges_reformatted(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, World!  How are you?"),
         (2, "hello world how are you"),
         (3, 'HELLO   "world";  how are YOU'),
         (4, "a different document entirely")],
        DOCS_SCHEMA,
    )
    got = dedup.exact_duplicates_normalized(docs).collect()
    assert len(got) == 1
    assert sorted(got[0]["members"]) == [1, 2, 3]
    # Byte-exact dedup sees nothing to merge on the same input.
    assert dedup.exact_duplicates(docs).count() == 0


def test_chunk_documents_windows_and_overlap(spark):
    text100 = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, text100), (2, "a b c d e"), (3, "")], DOCS_SCHEMA
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in textops.chunk_documents(docs).collect()
    }
    # 100 tokens, window 64, step 48 -> starts 1/49/97, sizes 64/52/4.
    assert [got[(1, i)]["chunk_start"] for i in range(3)] == [1, 49, 97]
    assert [got[(1, i)]["n_chunk_tokens"] for i in range(3)] == [64, 52, 4]
    # Overlap: chunk 1 starts inside chunk 0's window (49 <= 64).
    assert got[(1, 1)]["chunk_start"] <= got[(1, 0)]["n_chunk_tokens"]
    # Short and empty docs produce exactly one (possibly empty) chunk.
    assert got[(2, 0)]["n_chunk_tokens"] == 5 and (2, 1) not in got
    assert got[(3, 0)]["n_chunk_tokens"] == 0 and (3, 1) not in got


def test_df_cap_drops_only_hot_keys(spark):
    from cir_duplicate_detector_spark.operators.dedup import df_capped

    rows = [(d, 1) for d in range(20)] + [(1, 7), (2, 7), (3, 8)]
    idx = spark.createDataFrame(rows, "doc_id long, key long")
    capped = df_capped(idx, "key", max_df=5)
    assert {r["key"] for r in capped.collect()} == {7, 8}
    assert capped.count() == 3


def test_substring_dup_hot_key_bounded(spark):
    # Planted hot key (VERDICT r3 #5): 40 identical documents share
    # every bottom-4 fingerprint, so each fingerprint has df=40 and the
    # uncapped self-join emits the full C(40,2) cross-product. A df cap
    # below 40 drops the hot fingerprints and bounds the join output.
    from cir_duplicate_detector_spark.operators import textops

    shared = "the same boilerplate header run " * 4
    docs = spark.createDataFrame(
        [(i, shared) for i in range(40)], "doc_id long, text string"
    )
    assert textops.substring_duplicates(docs, max_df=100).count() == 40 * 39 // 2
    assert textops.substring_duplicates(docs, max_df=10).count() == 0


# ------------------------------------------------- real image codec

def _ppm(w, h, pixels, comment=None):
    """Binary P6 bytes from [(r,g,b), ...] row-major."""
    head = b"P6\n"
    if comment is not None:
        head += b"# " + comment + b"\n"
    head += f"{w} {h}\n255\n".encode()
    return head + bytes(v for px in pixels for v in px)


def test_decode_ppm_parses_header_comments_and_raster():
    import numpy as np

    from cir_duplicate_detector_spark.operators.pdqimage import decode_ppm

    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    arr = decode_ppm(_ppm(2, 2, px, comment=b"made by a test"))
    assert arr.shape == (2, 2, 3)
    assert arr.dtype == np.uint8
    assert arr[0, 0].tolist() == [255, 0, 0]
    assert arr[1, 1].tolist() == [9, 9, 9]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        decode_ppm(_ppm(2, 2, px)[:-1])
    with _pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")


def test_decode_image_pil_agrees_with_pure_decoder():
    import pytest as _pytest

    _pytest.importorskip("PIL")  # optional extra; skip in no-deps envs
    import io

    import numpy as np
    from PIL import Image

    from cir_duplicate_detector_spark.operators.pdqimage import decode_ppm

    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    payload = _ppm(2, 2, px)
    ours = decode_ppm(payload)
    pils = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    assert (ours == pils).all()


def test_decode_image_routes_low_maxval_ppm_through_pure_decoder():
    # PIL RESCALES a maxval<255 raster to 8-bit (v * 255 // maxval);
    # the pure decoder returns raw bytes. decode_image must route every
    # P6 payload through the pure decoder so the hash does not
    # depend on whether the optional PIL extra is installed (round-6
    # advice, re-flagged in VERDICT r7).
    from cir_duplicate_detector_spark.operators.pdqimage import (
        decode_image,
        decode_ppm,
    )

    px = [(100, 0, 0), (0, 50, 0), (0, 0, 25), (9, 9, 9)]
    payload = b"P6\n2 2\n100\n" + bytes(v for p in px for v in p)
    got = decode_image(payload)
    assert (got == decode_ppm(payload)).all()
    assert got[0, 0].tolist() == [100, 0, 0]  # raw bytes, NOT rescaled


def test_dup_weighting_partitions_unit_mass_per_group(spark):
    from cir_duplicate_detector_spark.plans import ALL_QUERIES

    rows = ALL_QUERIES["dup_weighting"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r.group_id, []).append(r)
    assert any(len(v) > 1 for v in by_group.values())
    for members in by_group.values():
        ws = {m.weight for m in members}
        assert len(ws) == 1  # equal weight within a family
        assert abs(sum(m.weight for m in members) - 1.0) < 1e-9
        assert all(m.group_size == len(members) for m in members)


def test_simhash_pairs_prebuilt_sigs_identical(spark, tmp_path):
    # Round-14 share contract: `dedup_simhash_pairs` bands over the
    # signature row's parquet instead of re-deriving signatures.
    # Bigint signatures round-trip parquet exactly, so the banded
    # pairs must be identical to the in-session derivation.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon eta"),
            (4, "totally different words here now ok"),
        ],
        "doc_id bigint, text string",
    )
    inline = sorted(
        (r.a, r.b, r.dist)
        for r in dedup.simhash_near_duplicates(docs, max_bits=3).collect()
    )
    d = str(tmp_path / "sigs.parquet")
    dedup.simhash_signatures(docs).write.parquet(d)
    served = sorted(
        (r.a, r.b, r.dist)
        for r in dedup.simhash_near_duplicates(
            docs, max_bits=3, sigs=spark.read.parquet(d)
        ).collect()
    )
    assert served == inline and len(inline) > 0
