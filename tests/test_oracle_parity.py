"""Local replica of the driver's t2 correctness gate.

Runs registered queries on Spark AND their DuckDB oracles over the same
parquet tables, then compares row counts and order-insensitive values —
the same comparison shape the driver performs (row-count + schema +
value-hash).

Default profile vs full sweep: the full sweep takes about 3 min on 4
cores, so the default run checks every duplicate-detector row (the 13
``CORE_QUERIES``) plus a fixed ~15-query extension sample (chosen by
``sha256("parity:{PARITY_SAMPLE_KEY}:{name}")`` — the `test_parity_sf01`
pattern, salted differently so the two samples cover different rows),
and the full sweep stays one env flag away:

    PARITY_FULL=1 python -m pytest tests/test_oracle_parity.py -q

Run the full sweep (or the touched-family subset) after any
query-affecting edit.

Dtype-sensitive by design (VERDICT r3): the driver hashes a *pandas*
frame of the oracle result, and duckdb→pandas widens HUGEINT (the result
type of ANY integer ``sum()`` in DuckDB) to float64 while Spark emits
int64. Numerically-equal ``5`` vs ``5.0`` therefore hash-mismatches at
the driver, so it must FAIL here too. We pull the oracle result through
``.df()`` (pandas, same widening) and tag every numeric cell with its
kind (int vs float) before comparing. An oracle whose integer sum is not
cast ``::BIGINT`` fails this gate exactly like it fails the driver.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from cir_duplicate_detector_spark.plans.core_queries import CORE_QUERIES

from .conftest import PARITY_SAMPLE_KEY

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["documents"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon_cell(v):
    # Null first: pandas widening turns SQL NULL in a numeric column
    # into NaN, so None / NaN / NaT all canonicalize to one marker on
    # both sides (the driver cannot distinguish them either).
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):  # np.float64 subclasses float
        f = float(v)
        if math.isnan(f):
            return ("null",)
        return ("f", f)
    if isinstance(v, _dt.datetime):  # pd.Timestamp subclasses datetime
        return ("ts", v.isoformat())
    if isinstance(v, _dt.date):
        return ("d", v.isoformat())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (list, tuple, np.ndarray)):
        # The driver's canonicalizer sorts a pandas frame and cannot
        # factorize array cells (round 1: unhashable
        # numpy.ndarray) — registered queries must emit flat scalars.
        raise AssertionError(
            "array-typed result cell reached the parity gate; registered "
            "queries must emit driver-canonicalizable scalars "
            f"(got {v!r})"
        )
    # Anything else (e.g. Decimal) keeps its type name in the tag, so a
    # Decimal-vs-float pairing mismatches here like it would under the
    # driver's dtype-sensitive hash.
    return (type(v).__name__, v)


def _canon_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        out.append(tuple(_canon_cell(row[i]) for i in order))
    return sorted(out, key=repr)


def _rotating_parity_sample(size: int = 15) -> "list[str]":
    """The default profile's sample: `test_parity_sf01`'s sha256 pick,
    salted with ``"parity:"`` so this sample and the sf0.1 sample land
    on different queries."""
    import hashlib

    return sorted(
        sorted(entry_mod.queries()),
        key=lambda n: hashlib.sha256(
            f"parity:{PARITY_SAMPLE_KEY}:{n}".encode()
        ).hexdigest(),
    )[:size]


QUERY_NAMES = (
    sorted(entry_mod.queries())
    if os.environ.get("PARITY_FULL") == "1"
    else sorted(set(CORE_QUERIES) | set(_rotating_parity_sample()))
)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        # Weaker rows-only check, like the driver's.
        assert sdf.count() >= 0
        return
    # BOTH sides go through pandas — the driver compares pandas frames,
    # so both inherit pandas' null widening (nullable int64 → float64
    # when NULLs are present) identically; dtype tags then catch only
    # REAL one-sided differences like DuckDB HUGEINT→float64.
    spark_pdf = sdf.toPandas()
    spark_rows = list(spark_pdf.itertuples(index=False, name=None))
    # .df() — NOT fetchall() — so HUGEINT→float64 widening happens
    # exactly like it does in the driver's pandas-based value hash.
    pdf = duck.sql(oracle).df()
    duck_cols = list(pdf.columns)
    duck_rows = list(pdf.itertuples(index=False, name=None))

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_canon = _canon_rows(spark_rows, spark_cols)
    d_canon = _canon_rows(duck_rows, duck_cols)
    for i, (a, b) in enumerate(zip(s_canon, d_canon)):
        assert a == b, f"{name}: first differing row {i}: spark={a!r} duck={b!r}"


def test_canon_is_dtype_sensitive(duck):
    """Regression pin for VERDICT r3: DuckDB ``sum()`` over integers
    returns HUGEINT, which duckdb→pandas widens to float64; the driver's
    value hash is dtype-sensitive, so an uncast oracle sum must MISMATCH
    an int-typed Spark result here even though 5 == 5.0."""
    pdf = duck.sql(
        "SELECT sum(x) AS uncast, sum(x)::BIGINT AS cast_ FROM "
        "(VALUES (2), (3)) t(x)"
    ).df()
    row = next(pdf.itertuples(index=False, name=None))
    assert str(pdf.dtypes["uncast"]) == "float64"
    assert _canon_cell(row[0]) == ("f", 5.0)
    assert _canon_cell(row[1]) == ("i", 5)
    assert _canon_cell(row[0]) != _canon_cell(row[1])
