"""End-to-end golden tests for detect_duplicates.

Ports the reference's ``tests/unit/test_duplicate_detection.py`` (9
tests) to Spark DataFrames; every backend must produce identical results
(reference parametrizes naive vs bk-tree, ``tests/conftest.py:110-112``).
"""

from __future__ import annotations

import warnings

import pytest

from cir_duplicate_detector_spark import detect_duplicates

from .conftest import (
    BACKENDS,
    ENTRIES_SCHEMA,
    GOLDEN_EXPECTED,
    job_ids_in_group,
    rows_by_index,
)


@pytest.mark.parametrize("method", BACKENDS)
def test_golden_fixture(golden_df, method):
    out = detect_duplicates(
        golden_df,
        pqd_hash_similarity_threshold=0.9,
        pdq_duplicate_detection_method=method,
    )
    got = rows_by_index(out)
    assert set(got) == set(GOLDEN_EXPECTED)  # UW0006 absent
    for idx, exp in GOLDEN_EXPECTED.items():
        for col, val in exp.items():
            assert got[idx][col] == val, f"{idx}.{col}: {got[idx][col]} != {val}"


def test_url_only_subset(spark, golden_df):
    out = detect_duplicates(golden_df.select("index", "url"))
    assert out.columns == ["index", "url_duplicates"]
    got = rows_by_index(out)
    assert got["UW0001"]["url_duplicates"] == ["UW0002", "UW0003"]
    assert "UW0005" not in got  # no url duplicate
    assert "UW0006" not in got


def test_pdq_only_subset(spark, golden_df):
    out = detect_duplicates(
        golden_df.select("index", "pdq_hash"), pqd_hash_similarity_threshold=0.9
    )
    assert out.columns == ["index", "pdq_hash_duplicates", "pdq_hash_similarities"]
    got = rows_by_index(out)
    assert got["UW0004"]["pdq_hash_duplicates"] == ["UW0005", "UW0007"]
    assert "UW0006" not in got


def test_missing_payload_columns_raises(spark, golden_df):
    with pytest.raises(ValueError, match="url.*pdq_hash|pdq_hash.*url"):
        detect_duplicates(golden_df.select("index"))


def test_missing_index_raises(spark, golden_df):
    with pytest.raises(ValueError, match="index"):
        detect_duplicates(golden_df.select("url", "pdq_hash"))


def test_non_unique_index_raises(spark, golden_df):
    dup = golden_df.union(golden_df.limit(1))
    with pytest.raises(ValueError, match="unique"):
        detect_duplicates(dup)


def test_non_unique_index_wins_over_build_error(golden_df):
    # The guard runs while the statement builds; its error is still the
    # one raised when the build fails too (here: threshold out of range).
    dup = golden_df.union(golden_df.limit(1))
    with pytest.raises(ValueError, match="unique"):
        detect_duplicates(dup, pqd_hash_similarity_threshold=1.5)


def test_guard_jobs_run_in_callers_job_group(spark, golden_df):
    # Without an action on the result, the guard's two jobs are the
    # call's only jobs. Run from another thread, they must still carry
    # the caller's job group.
    jobs = job_ids_in_group(
        spark,
        "detect-guard",
        lambda: detect_duplicates(golden_df, pqd_hash_similarity_threshold=0.9),
    )
    assert len(jobs) == 2, jobs


def test_empty_input_warns_and_returns_empty(spark):
    empty = spark.createDataFrame([], ENTRIES_SCHEMA)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = detect_duplicates(empty)
        assert out.count() == 0
    assert any("empty" in str(x.message) for x in w)


def test_na_payload_rows_dropped(spark):
    rows = [
        ("A", "https://example.com/x", None),
        ("B", "example.com/x#f", None),
        ("C", None, None),
    ]
    out = detect_duplicates(spark.createDataFrame(rows, ENTRIES_SCHEMA))
    got = rows_by_index(out)
    assert set(got) == {"A", "B"}
    assert got["A"]["url_duplicates"] == ["B"]
    assert got["A"]["pdq_hash_duplicates"] is None


def test_indexes_to_check_on_all_na_row(spark, golden_df):
    # Probing a row whose payloads are NULL yields nothing for it.
    rows = [("X", None, None)]
    df = golden_df.union(
        golden_df.sparkSession.createDataFrame(rows, ENTRIES_SCHEMA)
    )
    out = detect_duplicates(df, indexes_to_check=["X"])
    assert out.count() == 0


def test_indexes_to_check_bidirectional(golden_df):
    out = detect_duplicates(
        golden_df, indexes_to_check=["UW0005"], pqd_hash_similarity_threshold=0.9
    )
    got = rows_by_index(out)
    # UW0005's match UW0004 appears as a row too (bidirectional), but
    # UW0004's other partners (UW0007) do not — they weren't probed.
    assert set(got) == {"UW0004", "UW0005"}
    assert got["UW0005"]["pdq_hash_duplicates"] == ["UW0004"]
    assert got["UW0004"]["pdq_hash_duplicates"] == ["UW0005"]


def test_probe_frame_duplicate_and_null_ids(spark, golden_df):
    # The probe ids are neither deduplicated nor null-free in the frame;
    # a repeated id must not repeat rows, and a null id matches nothing.
    probe = spark.createDataFrame(
        [("UW0005",), ("UW0007",), ("UW0005",), (None,)], "index string"
    )
    by_frame = rows_by_index(
        detect_duplicates(golden_df, probe, pqd_hash_similarity_threshold=0.9)
    )
    by_list = rows_by_index(
        detect_duplicates(
            golden_df, ["UW0005", "UW0007"], pqd_hash_similarity_threshold=0.9
        )
    )
    assert by_frame == by_list
    assert {"UW0004", "UW0005", "UW0007"} <= set(by_frame)


def test_input_not_mutated(golden_df):
    before = golden_df.collect()
    detect_duplicates(golden_df, pqd_hash_similarity_threshold=0.9).collect()
    assert golden_df.collect() == before
