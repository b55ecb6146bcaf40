"""Hash kernel unit tests (hex decode, Hamming distance, thresholds).

Ports the reference's ``tests/unit/test_utils.py`` goldens
(``hex_to_binary`` table ``:101-142``; threshold math) against our
chunked/bit-string Catalyst expressions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cir_duplicate_detector_spark.functions.hashes import (
    bits_hamming_sql,
    calculate_absolute_threshold,
    chunks_hamming,
    hex_to_bits,
    hex_to_chunks,
)

ALL_DARK = "1134000011342c4b0000a4a65b265b6c5b6d0000a4c75b6f000011340000113c"


def _chunks(spark, hex_str):
    return (
        spark.range(1)
        .select(hex_to_chunks(F.lit(hex_str)).alias("c"))
        .first()["c"]
    )


def _bits(spark, hex_str):
    return (
        spark.range(1).select(hex_to_bits(F.lit(hex_str)).alias("b")).first()["b"]
    )


def test_hex_to_chunks_matches_int(spark):
    for h in ["ff".rjust(64, "0"), ALL_DARK, "f" * 64]:
        chunks = _chunks(spark, h)
        value = 0
        for c in chunks:
            value = (value << 32) | c
        assert value == int(h, 16)


def test_hex_to_bits_reference_semantics(spark):
    # bin(int(hex,16)).zfill(256) — reference utils.py:32-52.
    for h in ["ff", "a", ALL_DARK, "f" * 64]:
        assert _bits(spark, h) == format(int(h, 16), "b").zfill(256)
    # longer than 256 bits: length = bit_length, no truncation
    long_hash = "f" + "0" * 64
    assert _bits(spark, long_hash) == format(int(long_hash, 16), "b")


@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("0" * 64, "0" * 64, 0),
        ("0" * 64, "f" * 64, 256),
        ("0" * 63 + "7", "0" * 64, 3),
        (ALL_DARK, ALL_DARK, 0),
    ],
)
def test_chunks_hamming(spark, a, b, expected):
    row = (
        spark.range(1)
        .select(
            chunks_hamming(
                hex_to_chunks(F.lit(a)), hex_to_chunks(F.lit(b))
            ).alias("d")
        )
        .first()
    )
    assert row["d"] == expected


def test_bits_hamming_mixed_lengths(spark):
    # Excess positions of the longer string each count as one mismatch
    # (reference utils.py:90-105, rapidfuzz pad semantics).
    row = (
        spark.range(1)
        .select(
            F.expr(bits_hamming_sql("'10101'", "'101'")).alias("d1"),
            F.expr(bits_hamming_sql("'10101'", "'10101'")).alias("d2"),
            F.expr(bits_hamming_sql("'111'", "'000'")).alias("d3"),
        )
        .first()
    )
    assert row["d1"] == 2
    assert row["d2"] == 0
    assert row["d3"] == 3


def test_absolute_threshold():
    # reference utils.py:19-29 (python round = banker's)
    assert calculate_absolute_threshold(256, 1.0) == 0
    assert calculate_absolute_threshold(256, 0.9) == 26
    assert calculate_absolute_threshold(256, 0.8) == 51
    assert calculate_absolute_threshold(256, 0.0) == 256
    for bad in (-0.1, 1.1, "abc", None):
        with pytest.raises(ValueError):
            calculate_absolute_threshold(256, bad)
