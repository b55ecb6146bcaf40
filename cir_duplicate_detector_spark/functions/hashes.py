"""PDQ-hash kernels as Catalyst expressions (no Python in the hot path).

The reference decodes each 64-hex-char (256-bit) PDQ hash to a Python
binary string and computes Hamming distance with a per-pair Python/native
call (``cir_duplicate_detector/pdq_dup_detect_algorithms/utils.py:32-105``).
Here the canonical working form is ``array<bigint>`` of 8×32-bit chunks,
so the Hamming predicate is ``sum(bit_count(a[i] XOR b[i]))`` — fully
inside whole-stage codegen, vectorized by Tungsten, and expressible
verbatim in the DuckDB oracle (``bit_count(xor(..))``).

32-bit chunks (not 64) because ``conv(hex,16,10)`` parses into a signed
64-bit space: 8 hex chars can never overflow, no sign games needed.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

HASH_BITS = 256
CHUNK_HEX = 8  # hex chars per chunk → 32 bits
NUM_CHUNKS = HASH_BITS // (CHUNK_HEX * 4)  # 8


def calculate_absolute_threshold(hash_length: int, similarity_threshold: float) -> int:
    """Similarity threshold → max allowed Hamming bits ``n``.

    Mirrors reference ``utils.py:19-29``: ``int(round(len*(1-t)))`` with
    Python banker's rounding; a pair matches iff ``dist <= n``.
    """
    if not isinstance(similarity_threshold, (int, float)) or isinstance(
        similarity_threshold, bool
    ):
        raise ValueError(
            f"similarity threshold must be a float, got {similarity_threshold!r}"
        )
    if not 0.0 <= float(similarity_threshold) <= 1.0:
        raise ValueError(
            f"similarity threshold must be within [0, 1], got {similarity_threshold!r}"
        )
    return int(round(hash_length * (1 - float(similarity_threshold))))


def hex_to_chunks(hex_col: Column | str, num_chunks: int = NUM_CHUNKS) -> Column:
    """Decode a hex hash into ``array<bigint>`` of 32-bit big-endian chunks.

    Hashes shorter than ``num_chunks*8`` hex chars are left-padded with
    zeros, matching the reference's ``zfill`` (``utils.py:32-52``); this is
    the fast path and assumes hashes fit ``num_chunks`` (the general
    variable-length path is :func:`bits_hamming_sql` over binary strings).
    """
    col = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    padded = F.lpad(F.lower(col), num_chunks * CHUNK_HEX, "0")
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_chunks - 1)),
        lambda i: F.conv(
            F.substring(padded, i * CHUNK_HEX + 1, F.lit(CHUNK_HEX)), 16, 10
        ).cast("long"),
    )


def chunks_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length chunk arrays (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


NUM_CHUNKS64 = 4  # hot-path representation: 4 flat 64-bit columns

# The ``*_sql`` functions below return Spark SQL text over the SQL
# expression ``expr``: the duplicate detector builds each call as one SQL
# statement (``operators/statement.py``), so its kernels are text. The
# property tests check them against the same reference models as the
# Column kernels.


def hex_to_chunks64_sql(expr: str) -> list[str]:
    """SQL text decoding a 64-hex hash into FOUR flat signed-64-bit values.

    The hot-path representation: flat bigint columns keep the Hamming
    predicate entirely in whole-stage codegen with zero per-row array
    allocation (the ``array<bigint>`` form pays an allocation per pair in
    a similarity join). ``conv`` can only parse 15 hex chars safely into
    a signed long, so each 16-hex chunk is assembled from two 8-hex
    halves with a bit shift (shift/or are pure bit ops — no ANSI
    overflow).
    """
    padded = f"lpad(lower({expr}), 64, '0')"

    def half(start: int) -> str:
        return f"CAST(conv(substring({padded}, {start}, 8), 16, 10) AS BIGINT)"

    return [
        f"(shiftleft({half(i * 16 + 1)}, 32) | {half(i * 16 + 9)})"
        for i in range(NUM_CHUNKS64)
    ]


def hex_to_bits_sql(expr: str) -> str:
    """SQL text of :func:`hex_to_bits`."""
    n_chunks = (
        f"CAST(floor(CAST(length(lower({expr})) + {CHUNK_HEX - 1} AS INT)"
        f" / {CHUNK_HEX}) AS INT)"
    )
    padded = f"lpad(lower({expr}), {n_chunks} * {CHUNK_HEX}, '0')"
    raw = (
        f"array_join(transform(sequence(0, {n_chunks} - 1), i -> lpad(bin("
        f"CAST(conv(substring({padded}, i * {CHUNK_HEX} + 1, {CHUNK_HEX}), 16, 10)"
        f" AS BIGINT)), 32, '0')), '')"
    )
    stripped = f"regexp_replace({raw}, '^0+', '')"
    return f"lpad({stripped}, greatest(length({stripped}), {HASH_BITS}), '0')"


def bits_hamming_sql(a: str, b: str) -> str:
    """SQL text of the Hamming distance between binary strings of
    possibly different length.

    Matches the reference's padded comparison (``utils.py:90-105``):
    left-aligned character mismatches, plus one per excess position of the
    longer string. ``zip_with`` pads the shorter array with NULLs, which
    count as mismatches here.
    """
    return (
        f"aggregate(zip_with(split({a}, ''), split({b}, ''), (x, y) -> "
        "CASE WHEN x IS NULL OR y IS NULL THEN 1 WHEN x != y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )


def hex_to_bits(hex_col: Column | str) -> Column:
    """Decode hex to the reference's binary-string form: ``bin(int(hex,16))``
    left-padded to 256 — so length is ``max(256, bit_length(value))``.

    General path for hashes longer than 64 hex chars (reference
    ``tests/unit/test_pdq_hash.py:126-146``). Built from per-chunk ``bin``
    so arbitrarily long hashes never hit 64-bit parsing limits.
    """
    col = F.lower(F.col(hex_col) if isinstance(hex_col, str) else hex_col)
    # Pad to a multiple of CHUNK_HEX, decode chunkwise to 32-bit binary,
    # concat, strip leading zeros (bin() semantics), re-pad to 256.
    n_chunks = (F.length(col) + CHUNK_HEX - 1).cast("int") / F.lit(CHUNK_HEX)
    n_chunks = F.floor(n_chunks).cast("int")
    padded = F.lpad(col, (n_chunks * CHUNK_HEX).cast("int"), "0")
    raw = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.lpad(
                F.bin(
                    F.conv(
                        F.substring(padded, i * CHUNK_HEX + 1, F.lit(CHUNK_HEX)), 16, 10
                    ).cast("long")
                ),
                32,
                "0",
            ),
        ),
        "",
    )
    stripped = F.regexp_replace(raw, "^0+", "")
    return F.lpad(stripped, F.greatest(F.length(stripped), F.lit(HASH_BITS)), "0")


def hex_to_binary(hex_string: str, length: int | None = None) -> str:
    """Driver-side scalar twin of the reference's ``hex_to_binary``
    (``pdq_dup_detect_algorithms/utils.py:32-52``): ``''`` stays ``''``;
    otherwise ``format(int(hex, 16), 'b')`` optionally ``zfill``-padded.

    The distributed decode is :func:`hex_to_bits` (Column form); this
    exists so reference callers' utility code ports without edits.
    """
    if hex_string == "":
        return ""
    binary_string = format(int(hex_string, 16), "b")
    if length is not None:
        binary_string = binary_string.zfill(length)
    return binary_string


def hamming_distance(item1: str, item2: str) -> int:
    """Driver-side scalar twin of the reference's ``hamming_distance``
    (``utils.py:90-105``, rapidfuzz-backed): left-aligned character
    mismatches plus one per excess position of the longer string.

    The distributed kernels are :func:`bits_hamming_sql` (SQL text) and
    :func:`chunks_hamming` (Column form).
    """
    mismatches = sum(a != b for a, b in zip(item1, item2))
    return mismatches + abs(len(item1) - len(item2))
