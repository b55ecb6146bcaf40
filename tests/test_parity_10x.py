"""Opt-in sampled parity gate at the 10x replica (round 12, VERDICT
r11 item 6).

Determinism is proven at sf0.001/sf0.01 every round (the local parity
suite + the driver gate) and at sf0.1 by the `PARITY_SF01` sample —
but not at the 10x replica. This module closes that gap: a fixed
~15-query sample of
the exact parity comparison runs against the 10x synthetic replica
(`scripts/replica_bench.build_replica` — documents replicated with
per-copy id offsets; copies per-copy PERTURBED since round 14 so
duplicate families stay within-copy),
with DuckDB executing the same oracle over the same replica parquet.
``PARITY_10X_FULL=1`` widens the sample to the WHOLE eligible set —
the one-time full sweep of VERDICT r13 item 4.

Sample universe: every registered query (the replica holds the one
table the queries read, documents), minus the few rows whose DuckDB
oracle is infeasible at 10x (hours in a single-threaded oracle, and
the point of the oracle is value checking, not oracle-side scale).
The exclusion is named below. Everything else — the dedup/text
families whose banded/bucketed joins are the engine's scale story —
is eligible.

Opt-in (tens of minutes: DuckDB runs recursive-CTE closures over a
600k-doc corpus):

    PARITY_10X=1 python -m pytest tests/test_parity_10x.py -q

Documented in COVERAGE.md; not part of the default pytest run.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

from .conftest import PARITY_SAMPLE_KEY
from .test_oracle_parity import TABLES, _canon_rows

REPO = Path(__file__).resolve().parents[1]
REPLICA = "/tmp/scale_replica_10x"
SAMPLE_SIZE = 15

# Rows whose oracle cost is DuckDB-side infeasible at 10x.
_EXCLUDED_NAMES = {
    "dup_overlap",
    "minhash_recall",  # exact-Jaccard truth side is O(N^2)/50
    "substring_dup",
}
# Rows excluded through round 13 ONLY because the byte-identical
# replica made their candidate sets quadratic in copy count; the
# round-14 per-copy perturbation (replica_bench.perturb_text) keeps
# duplicate families within-copy, so they are eligible again.
_READMITTED_R14 = {
    "doc_topk_similar",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_containment_canonical",
}

pytestmark = pytest.mark.skipif(
    os.environ.get("PARITY_10X") != "1",
    reason="opt-in 10x-replica sampled parity gate (set PARITY_10X=1)",
)


def _eligible() -> list[str]:
    oracles = entry_mod.oracle_sql()
    out = []
    for n in sorted(entry_mod.queries()):
        if n not in oracles:
            continue
        if n in _EXCLUDED_NAMES:
            continue
        out.append(n)
    assert _READMITTED_R14 <= set(out)  # stay eligible (see above)
    return out


def _rotating_sample() -> list[str]:
    # PARITY_10X_FULL=1 runs the WHOLE eligible set — the one-time
    # full sweep (round 14, VERDICT r13 item 4); default stays the
    # fixed 15-sample for regression duty.
    if os.environ.get("PARITY_10X_FULL") == "1":
        return _eligible()
    return sorted(
        _eligible(),
        key=lambda n: hashlib.sha256(
            f"10x:{PARITY_SAMPLE_KEY}:{n}".encode()
        ).hexdigest(),
    )[:SAMPLE_SIZE]


@pytest.fixture(scope="module")
def replica_dir(spark):
    # Gate on the table's _SUCCESS marker so a partially built replica
    # is repaired instead of half-trusted — a crash DURING the write
    # leaves the directory present without the marker.
    if not os.path.isfile(f"{REPLICA}/documents.parquet/_SUCCESS"):
        sys.path.insert(0, str(REPO / "scripts"))
        from replica_bench import build_replica

        build_replica(spark, 10)
    return REPLICA


@pytest.fixture(scope="module")
def duck10(replica_dir):
    con = duckdb.connect()
    for t in TABLES:
        src = f"{replica_dir}/{t}.parquet/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", _rotating_sample())
def test_sampled_query_matches_oracle_at_10x(
    spark, duck10, replica_dir, name
):
    q = entry_mod.queries()[name]
    sdf = q(spark, replica_dir)
    spark_pdf = sdf.toPandas()
    spark_rows = list(spark_pdf.itertuples(index=False, name=None))
    pdf = duck10.sql(entry_mod.oracle_sql()[name]).df()
    duck_rows = list(pdf.itertuples(index=False, name=None))
    assert sorted(sdf.columns) == sorted(pdf.columns), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}@10x: rows spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_canon = _canon_rows(spark_rows, sdf.columns)
    d_canon = _canon_rows(duck_rows, list(pdf.columns))
    for i, (a, b) in enumerate(zip(s_canon, d_canon)):
        assert a == b, (
            f"{name}@10x: first differing row {i}: spark={a!r} duck={b!r}"
        )
