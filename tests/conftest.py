"""Shared Spark session + the reference's golden 7-row fixture.

Fixture data transcribed from the reference's test suite
(``tests/conftest.py:10-54`` of cir-duplicate-detector): three URLs that
normalize to ``example.com/path``, two differing only by fragment, three
identical hashes, one two-hash row (UW0004) at Hamming distances 4 and 3
from two other rows, and one far hash (41 bits).
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from cir_duplicate_detector_spark.session import get_spark

HASH_A = "68ed3b84e3e3c6cc1e38e1c13e3be14a1e79d624c5f97c26831bbc6a94e48391"
# 41 bits away from HASH_A (same tail, different head).
HASH_FAR = "9712c47b1c63c6cc1e38e1c13e3be14a1e79d624c5f97c26831bbc6a94e48391"
HASH_B1 = "8b41e30d9ad3e58c74308389fc7a0f43fcf746349339f9660e1b59cb86a4c3b1"
HASH_B2 = "6b6decb5b2db9e8ccf2464d375799586974e53686268cd92864692796868ac24"
# distance 3 from HASH_B2
HASH_B2_NEAR = "8b6decb5b2db9e8ccf2464d375799586974e53686268cd92864692796868ac24"
# distance 4 from HASH_B1
HASH_B1_NEAR = "7b41e30d9ad3e58c74308389fc7a0f43fcf746349339f9660e1b59cb86a4c3b1"

GOLDEN_ROWS = [
    ("UW0001", "example.com/path", [HASH_A]),
    ("UW0002", "https://example.com/path#1523", [HASH_A]),
    ("UW0003", "http://example.com/path", [HASH_A]),
    ("UW0004", "test.com/asdf?mode=yes#6124", [HASH_B1, HASH_B2]),
    ("UW0005", "test.com/asdf?mode=no", [HASH_B2_NEAR]),
    ("UW0006", "hello.example.com/path", [HASH_FAR]),
    ("UW0007", "https://test.com/asdf?mode=yes", [HASH_B1_NEAR]),
]

ENTRIES_SCHEMA = "index string, url string, pdq_hash array<string>"

SIM_0 = 1.0
SIM_3 = 1.0 - 3 / 256  # 0.98828125
SIM_4 = 1.0 - 4 / 256  # 0.984375

# detect_duplicates(threshold=0.9) expected output, arrays in sorted order
# (our canonical form; reference order is an iteration artifact).
GOLDEN_EXPECTED = {
    "UW0001": {
        "url_duplicates": ["UW0002", "UW0003"],
        "pdq_hash_duplicates": ["UW0002", "UW0003"],
        "pdq_hash_similarities": [SIM_0, SIM_0],
    },
    "UW0002": {
        "url_duplicates": ["UW0001", "UW0003"],
        "pdq_hash_duplicates": ["UW0001", "UW0003"],
        "pdq_hash_similarities": [SIM_0, SIM_0],
    },
    "UW0003": {
        "url_duplicates": ["UW0001", "UW0002"],
        "pdq_hash_duplicates": ["UW0001", "UW0002"],
        "pdq_hash_similarities": [SIM_0, SIM_0],
    },
    "UW0004": {
        "url_duplicates": ["UW0007"],
        "pdq_hash_duplicates": ["UW0005", "UW0007"],
        "pdq_hash_similarities": [SIM_3, SIM_4],
    },
    "UW0005": {
        "url_duplicates": None,
        "pdq_hash_duplicates": ["UW0004"],
        "pdq_hash_similarities": [SIM_3],
    },
    "UW0007": {
        "url_duplicates": ["UW0004"],
        "pdq_hash_duplicates": ["UW0004"],
        "pdq_hash_similarities": [SIM_4],
    },
}

BACKENDS = ["naive", "banded", "bk-tree", "auto"]

# Key of the sha256-chosen default samples in the three parity modules.
# Frozen so each default run checks the same ~15 queries; the full
# sweeps (PARITY_FULL=1, PARITY_10X_FULL=1) still cover every query.
PARITY_SAMPLE_KEY = 16


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = get_spark(
        app_name="cir-dup-spark-tests", master="local[4]", shuffle_partitions=4
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture()
def golden_df(spark):
    return spark.createDataFrame(GOLDEN_ROWS, ENTRIES_SCHEMA)


def rows_by_index(df) -> dict:
    return {r["index"]: r.asDict() for r in df.collect()}


def job_ids_in_group(spark, group: str, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` submits under job group
    ``group`` (a name no other call uses)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    # The status tracker is filled from the listener bus, asynchronously.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))
