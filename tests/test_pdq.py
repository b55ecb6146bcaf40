"""PDQ pipeline unit tests (ports of reference tests/unit/test_pdq_hash.py)."""

from __future__ import annotations

import warnings

import pytest

from cir_duplicate_detector_spark.operators.pdq import (
    exploded_hashes,
    find_pdq_hash_duplicates,
    get_pdq_fuzzy_duplicates,
)

from .conftest import BACKENDS, rows_by_index

PDQ_SCHEMA = "index string, pdq_hash array<string>"


@pytest.mark.parametrize("method", BACKENDS)
def test_golden_pdq(golden_df, method):
    out = find_pdq_hash_duplicates(
        golden_df,
        pqd_hash_similarity_threshold=0.9,
        duplicate_detection_method=method,
    )
    got = rows_by_index(out)
    assert set(got) == {"UW0001", "UW0002", "UW0003", "UW0004", "UW0005", "UW0007"}
    assert got["UW0004"]["pdq_hash_duplicates"] == ["UW0005", "UW0007"]
    assert got["UW0004"]["pdq_hash_similarities"] == [1 - 3 / 256, 1 - 4 / 256]
    assert got["UW0001"]["pdq_hash_duplicates"] == ["UW0002", "UW0003"]


def test_threshold_one_no_fuzzy(golden_df):
    out = find_pdq_hash_duplicates(
        golden_df, pqd_hash_similarity_threshold=1.0
    )
    got = rows_by_index(out)
    # Only the exact-identical hashes survive t=1.0.
    assert set(got) == {"UW0001", "UW0002", "UW0003"}


def test_invalid_threshold_raises(golden_df):
    for bad in (-0.1, 1.1, "abc", None):
        with pytest.raises(ValueError):
            find_pdq_hash_duplicates(golden_df, pqd_hash_similarity_threshold=bad)


def test_invalid_method_raises(golden_df):
    with pytest.raises(ValueError, match="method"):
        find_pdq_hash_duplicates(golden_df, duplicate_detection_method="nope")


def test_null_hash_forms_dropped(spark):
    rows = [("A", ["00" * 32]), ("B", None), ("C", ["00" * 32])]
    out = find_pdq_hash_duplicates(
        spark.createDataFrame(rows, PDQ_SCHEMA), pqd_hash_similarity_threshold=0.9
    )
    got = rows_by_index(out)
    assert set(got) == {"A", "C"}


def test_literal_dedup(spark):
    # Same (index, hash) twice must not create self-duplicates or double
    # distances (reference utils.py:55-87).
    rows = [("A", ["ab" * 32, "ab" * 32]), ("B", ["ab" * 32])]
    df = spark.createDataFrame(rows, PDQ_SCHEMA)
    assert exploded_hashes(df).count() == 2
    got = rows_by_index(
        find_pdq_hash_duplicates(df, pqd_hash_similarity_threshold=0.9)
    )
    assert got["A"]["pdq_hash_duplicates"] == ["B"]
    assert got["A"]["pdq_hash_similarities"] == [1.0]


def test_empty_probe_list_warns(golden_df):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = find_pdq_hash_duplicates(golden_df, indexes_to_check=[])
        assert out.count() == 0
    assert any("empty" in str(x.message) for x in w)


def test_probe_bidirectional_reverse_rows(golden_df):
    out = find_pdq_hash_duplicates(
        golden_df,
        indexes_to_check=["UW0004"],
        pqd_hash_similarity_threshold=0.9,
    )
    got = rows_by_index(out)
    # UW0004 probed; UW0005/UW0007 appear as reverse-only rows.
    assert set(got) == {"UW0004", "UW0005", "UW0007"}
    assert got["UW0005"]["pdq_hash_duplicates"] == ["UW0004"]
    assert got["UW0007"]["pdq_hash_duplicates"] == ["UW0004"]


def test_min_distance_canonicalization(spark):
    # One index with two hashes matching the same partner at different
    # distances: keep min(dist) = max(similarity) (SURVEY §7.4.2).
    h0 = "00" * 32
    h_d3 = "0" * 63 + "7"  # 3 bits from h0
    rows = [("A", [h0, h_d3]), ("B", [h0])]
    got = rows_by_index(
        find_pdq_hash_duplicates(
            spark.createDataFrame(rows, PDQ_SCHEMA),
            pqd_hash_similarity_threshold=0.9,
        )
    )
    assert got["A"]["pdq_hash_similarities"] == [1.0]
    assert got["B"]["pdq_hash_similarities"] == [1.0]


def test_multi_hash_same_index_no_self_match(spark):
    # Two near hashes on the SAME index must not make it its own duplicate.
    h0 = "00" * 32
    h_d3 = "0" * 63 + "7"
    rows = [("A", [h0, h_d3])]
    out = find_pdq_hash_duplicates(
        spark.createDataFrame(rows, PDQ_SCHEMA), pqd_hash_similarity_threshold=0.9
    )
    assert out.count() == 0


def test_longer_hash_than_256_bits(spark):
    # Reference tests/unit/test_pdq_hash.py:126-146: hashes longer than
    # 64 hex chars still match, similarity still normalized by 256.
    # Since round 13 longer-hash callers OPT IN (max_hex_len=None
    # auto-detects, or pass the length) — the default assumes the
    # 256-bit PDQ contract to skip the detection scan (VERDICT r12
    # item 4).
    long_a = "f" * 70
    long_b = "f" * 69 + "e"  # distance 1 from long_a
    far = "0" * 70
    df = spark.createDataFrame(
        [("A", [long_a]), ("B", [long_b]), ("C", [far])],
        "index string, pdq_hash array<string>",
    )
    out = {
        r["index"]: r.asDict()
        for r in find_pdq_hash_duplicates(
            df, pqd_hash_similarity_threshold=0.99, max_hex_len=None
        ).collect()
    }
    assert set(out) == {"A", "B"}
    assert out["A"]["pdq_hash_duplicates"] == ["B"]
    assert out["A"]["pdq_hash_similarities"] == [1.0 - 1 / 256]


@pytest.mark.parametrize(
    "detector",
    [find_pdq_hash_duplicates, get_pdq_fuzzy_duplicates],
    ids=lambda f: f.__name__,
)
def test_longer_hash_raises_loudly_under_default(spark, detector):
    # The max_hex_len=64 default (and get_pdq_fuzzy_duplicates, which
    # has no length option) skips the detection scan on the strength of
    # the 256-bit PDQ contract; a contract-violating longer hash must
    # FAIL AT ROW TIME (decoded_hashes' length guard), never silently
    # left-truncate through the chunk decoder's lpad.
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [("A", ["f" * 70]), ("B", ["f" * 69 + "e"])],
        "index string, pdq_hash array<string>",
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as exc:
        detector(df, pqd_hash_similarity_threshold=0.99).collect()
    assert "max_hex_len" in str(exc.value)


def test_longer_hash_mixed_lengths_excess_counts(spark):
    # A 64-hex and a 66-hex hash: the extra 8 bits all count as
    # mismatches (reference utils.py:90-105 padding semantics).
    base = "a" * 64
    longer = "a" * 64 + "00"
    df = spark.createDataFrame(
        [("A", [base]), ("B", [longer])],
        "index string, pdq_hash array<string>",
    )
    # bits(A) = 256-bit form of 0xaaa..; bits(B) = 264-bit form — left-
    # aligned comparison shifts, so distance is large; just assert the
    # pipeline runs and excludes the pair at a tight threshold.
    out = find_pdq_hash_duplicates(
        df, pqd_hash_similarity_threshold=0.99, max_hex_len=None
    ).collect()
    assert out == []


def _uses_bands(df) -> bool:
    return "posexplode" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "detector",
    [find_pdq_hash_duplicates, get_pdq_fuzzy_duplicates],
    ids=lambda f: f.__name__,
)
def test_auto_method_checks_band_selectivity(golden_df, detector):
    # One dispatcher serves both functions: "auto" takes the banded join
    # only where a band layout is selective. At t=0.8 (n=51) the only
    # covering layout is 64 bands of one hex char — 16 values per band,
    # every pair a candidate — so auto must scan naively; at t=0.98
    # (n=5, 8 bands of 8 hex) it bands.
    wide = detector(
        golden_df,
        pqd_hash_similarity_threshold=0.8,
        duplicate_detection_method="auto",
    )
    assert not _uses_bands(wide)
    tight = detector(
        golden_df,
        pqd_hash_similarity_threshold=0.98,
        duplicate_detection_method="auto",
    )
    assert _uses_bands(tight)


def test_fuzzy_pairs_empty_probe_list_warns(golden_df):
    # Same contract as find_pdq_hash_duplicates: an empty list warns and
    # returns no pairs.
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = get_pdq_fuzzy_duplicates(
            golden_df, pqd_hash_similarity_threshold=0.9, indexes_to_check=[]
        )
        assert out.count() == 0
    assert any("empty" in str(x.message) for x in w)
    assert out.columns == ["index", "dup", "dist"]
