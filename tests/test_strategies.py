"""Differential tests: every physical PDQ strategy, and every probe-set
form, returns the same rows on one seeded input — and the same rows as
a pure-Python model of the reference semantics. This is the
``assert cpu_ret == gpu_ret`` pattern of engine test suites, applied
across this engine's own plans.
"""

from __future__ import annotations

import random

import pytest

from cir_duplicate_detector_spark import detect_duplicates
from cir_duplicate_detector_spark.operators.pdq import find_pdq_hash_duplicates
from cir_duplicate_detector_spark.operators.url_dedup import find_url_duplicates

from .conftest import ENTRIES_SCHEMA

THRESHOLD = 0.9  # n = 26 bits: every strategy has a covering band layout
N_BITS = 26
SEED = 20261017


def _flip(rng: random.Random, h: int, bits: int) -> int:
    for b in rng.sample(range(256), bits):
        h ^= 1 << b
    return h


def _seeded_entries() -> list[tuple]:
    """~80 entries: planted hash families at distances on both sides of
    n, multi-hash rows (one repeating a hash), null/empty payloads, and
    URL groups written as scheme/fragment variants."""
    rng = random.Random(SEED)
    rows = []
    for f in range(12):
        base = rng.getrandbits(256)
        for m, d in enumerate((0, 3, N_BITS - 1, N_BITS, N_BITS + 1, 40)):
            h = f"{_flip(rng, base, d):064x}"
            hashes = [h]
            if m == 1:
                hashes.append(f"{rng.getrandbits(256):064x}")
            if m == 2:
                hashes.append(h)
            host = f"site{(f * 6 + m) % 23}.example.com"
            url = rng.choice(["https://", "http://", ""]) + host + "/p"
            url += rng.choice(["", "#frag"])
            rows.append((f"E{f:02d}{m}", url, hashes))
    rows += [
        ("N0", None, None),
        ("N1", "site1.example.com/p", [""]),
        ("N2", None, [None]),
        ("N3", "https://lonely.example.com/", []),
    ]
    return rows


ROWS = _seeded_entries()
PROBES = sorted(r[0] for r in ROWS[::7])


def _model_pdq(probes: set[str] | None) -> dict[str, tuple]:
    hashes = {
        i: {int(h, 16) for h in hs if h}
        for i, _, hs in ROWS
        if hs and any(hs)
    }
    best: dict[tuple[str, str], int] = {}
    for a, ha in hashes.items():
        if probes is not None and a not in probes:
            continue
        for b, hb in hashes.items():
            if a == b:
                continue
            d = min(bin(x ^ y).count("1") for x in ha for y in hb)
            if d <= N_BITS:
                for key in ((a, b), (b, a)):
                    best[key] = min(best.get(key, d), d)
    out: dict[str, list] = {}
    for (a, b), d in sorted(best.items()):
        out.setdefault(a, []).append((b, 1 - d / 256))
    return {
        a: ([b for b, _ in ms], [s for _, s in ms]) for a, ms in out.items()
    }


@pytest.fixture(scope="module")
def entries(spark):
    return spark.createDataFrame(ROWS, ENTRIES_SCHEMA)


def _probe_arg(spark, mode: str):
    if mode == "none":
        return None
    if mode == "list":
        return PROBES
    return spark.createDataFrame([(i,) for i in PROBES], "id string")


def _rows(df) -> dict[str, tuple]:
    return {
        r["index"]: (r["pdq_hash_duplicates"], r["pdq_hash_similarities"])
        for r in df.collect()
    }


STRATEGIES = [
    # (method, max_hex_len): naive is the grid scan without a probe set
    # and the broadcast scan with one; 65 forces the general
    # binary-string path; None measures the hash length first.
    ("naive", 64),
    ("banded", 64),
    ("bk-tree", 64),
    ("mih", 64),
    ("auto", 64),
    ("naive", None),
    ("naive", 65),
    ("banded", 65),
]


@pytest.mark.parametrize("probe_mode", ["none", "list", "frame"])
@pytest.mark.parametrize(
    "method,max_hex_len", STRATEGIES, ids=[f"{m}-{h}" for m, h in STRATEGIES]
)
def test_every_strategy_matches_model(
    spark, entries, method, max_hex_len, probe_mode
):
    out = find_pdq_hash_duplicates(
        entries,
        indexes_to_check=_probe_arg(spark, probe_mode),
        pqd_hash_similarity_threshold=THRESHOLD,
        duplicate_detection_method=method,
        max_hex_len=max_hex_len,
    )
    want = _model_pdq(None if probe_mode == "none" else set(PROBES))
    assert want, "the seeded input must plant matches"
    assert _rows(out) == want


@pytest.mark.parametrize("probe_mode", ["none", "list", "frame"])
def test_detect_equals_url_and_pdq_layers(spark, entries, probe_mode):
    probe = _probe_arg(spark, probe_mode)
    got = {
        r["index"]: tuple(r[1:])
        for r in detect_duplicates(
            entries,
            indexes_to_check=probe,
            pqd_hash_similarity_threshold=THRESHOLD,
        ).collect()
    }
    url = {
        r["index"]: r["url_duplicates"]
        for r in find_url_duplicates(entries, probe).collect()
    }
    pdq = _rows(
        find_pdq_hash_duplicates(
            entries,
            probe,
            pqd_hash_similarity_threshold=THRESHOLD,
            duplicate_detection_method="naive",
        )
    )
    assert url and pdq
    want = {
        i: (url.get(i), *pdq.get(i, (None, None))) for i in set(url) | set(pdq)
    }
    assert got == want
