"""Opt-in sampled parity gate at sf0.1 (round 11, VERDICT r10 item 6).

The determinism engineering (DECIMAL sums, fixed-order double folds —
SCALE.md "floating-point discipline") is routinely *proven* only at
sf0.001 (the local parity suite) and at the driver's own scale; a
partitioning-dependent nondeterminism that only appears with more
data/partitions would otherwise go unseen. This module re-runs a fixed
~15-query sample of the exact parity comparison at sf0.1, chosen by
``sha256(f"{PARITY_SAMPLE_KEY}:{name}")``.

Opt-in (minutes, DuckDB runs the oracles at sf0.1 too):

    PARITY_SF01=1 python -m pytest tests/test_parity_sf01.py -q

Documented in COVERAGE.md; not part of the default pytest run.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

from .conftest import PARITY_SAMPLE_KEY
from .test_oracle_parity import TABLES, _canon_rows

SF01 = "/root/testdata/sf0.1"
SAMPLE_SIZE = 15

pytestmark = pytest.mark.skipif(
    os.environ.get("PARITY_SF01") != "1",
    reason="opt-in sf0.1 sampled parity gate (set PARITY_SF01=1)",
)


def _rotating_sample() -> list[str]:
    oracles = entry_mod.oracle_sql()
    named = sorted(n for n in entry_mod.queries() if n in oracles)
    return sorted(
        named,
        key=lambda n: hashlib.sha256(
            f"{PARITY_SAMPLE_KEY}:{n}".encode()
        ).hexdigest(),
    )[:SAMPLE_SIZE]


@pytest.fixture(scope="module")
def duck01():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _rotating_sample())
def test_sampled_query_matches_oracle_at_sf01(spark, duck01, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF01)
    spark_pdf = sdf.toPandas()
    spark_rows = list(spark_pdf.itertuples(index=False, name=None))
    pdf = duck01.sql(entry_mod.oracle_sql()[name]).df()
    duck_rows = list(pdf.itertuples(index=False, name=None))
    assert sorted(sdf.columns) == sorted(pdf.columns), name
    assert len(spark_rows) == len(duck_rows), (
        f"{name}@sf0.1: rows spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_canon = _canon_rows(spark_rows, sdf.columns)
    d_canon = _canon_rows(duck_rows, list(pdf.columns))
    for i, (a, b) in enumerate(zip(s_canon, d_canon)):
        assert a == b, (
            f"{name}@sf0.1: first differing row {i}: spark={a!r} duck={b!r}"
        )
