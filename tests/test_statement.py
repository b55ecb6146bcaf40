"""The one-statement build of the duplicate detector: user values bind
as parameters (never SQL text), and building a call stays cheap."""

from __future__ import annotations

import pytest
from py4j.java_gateway import GatewayClient

from cir_duplicate_detector_spark import detect_duplicates
from cir_duplicate_detector_spark.operators.pdq import find_pdq_hash_duplicates
from cir_duplicate_detector_spark.operators.url_dedup import find_url_duplicates

from .conftest import (
    ENTRIES_SCHEMA,
    HASH_A,
    HASH_B1,
    HASH_B1_NEAR,
    job_ids_in_group,
    rows_by_index,
)

# Index values that would break, or change, a statement if they reached
# its SQL text or its str.format template.
HOSTILE = ["it's", "back\\slash", "{work}", "a -- b", ":x", "{", "'; --"]


@pytest.fixture()
def hostile_df(spark):
    # HOSTILE[0..3] share a url and a hash; HOSTILE[4..6] share another.
    rows = [
        (i, "example.com/a" if n < 4 else "example.com/b",
         [HASH_A if n < 4 else HASH_B1])
        for n, i in enumerate(HOSTILE)
    ]
    rows.append(("plain", "example.com/b#x", [HASH_B1_NEAR]))
    return spark.createDataFrame(rows, ENTRIES_SCHEMA)


def _others(group, i):
    return sorted(x for x in group if x != i)


@pytest.mark.parametrize("probe_mode", ["list", "frame"])
def test_user_values_bind_as_parameters(spark, hostile_df, probe_mode):
    probes = [HOSTILE[1], HOSTILE[5]]
    probe = (
        probes
        if probe_mode == "list"
        else spark.createDataFrame([(i,) for i in probes], "index string")
    )
    group_a, group_b = HOSTILE[:4], HOSTILE[4:] + ["plain"]

    url = rows_by_index(find_url_duplicates(hostile_df, probe))
    assert set(url) == set(group_a) | set(group_b)
    for i in url:
        group = group_a if i in group_a else group_b
        assert url[i]["url_duplicates"] == _others(group, i)

    pdq = rows_by_index(
        find_pdq_hash_duplicates(
            hostile_df, probe, pqd_hash_similarity_threshold=0.98
        )
    )
    # Probed HOSTILE[1] matches group a at distance 0; probed HOSTILE[5]
    # matches the rest of group b, "plain" at distance 4.
    want = {HOSTILE[1]: _others(group_a, HOSTILE[1])}
    want.update({i: [HOSTILE[1]] for i in _others(group_a, HOSTILE[1])})
    want[HOSTILE[5]] = _others(group_b, HOSTILE[5])
    want.update({i: [HOSTILE[5]] for i in _others(group_b, HOSTILE[5])})
    assert {i: r["pdq_hash_duplicates"] for i, r in pdq.items()} == want
    assert pdq["plain"]["pdq_hash_similarities"] == [1 - 4 / 256]

    detected = rows_by_index(
        detect_duplicates(hostile_df, probe, pqd_hash_similarity_threshold=0.98)
    )
    assert set(detected) == set(url) | set(pdq)


def test_build_issues_few_py4j_calls(golden_df, monkeypatch):
    # Building the whole composed plan is one spark.sql statement plus
    # the view binding around it: a few dozen round trips, where the
    # DataFrame-API build spent ~2,500 (most of them per Column call).
    calls = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    detect_duplicates(
        golden_df, pqd_hash_similarity_threshold=0.9, validate=False
    )
    monkeypatch.setattr(GatewayClient, "send_command", send)
    assert 0 < len(calls) <= 100, len(calls)


def test_validate_runs_one_guard_action(golden_df, monkeypatch):
    # The uniqueness and emptiness guards are one fused aggregate: one
    # collect, no isEmpty() jobs.
    cls = type(golden_df)
    actions = []
    for name in ("collect", "isEmpty"):
        method = getattr(cls, name)

        def wrapped(self, *args, _name=name, _method=method, **kwargs):
            actions.append(_name)
            return _method(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, wrapped)
    detect_duplicates(golden_df, pqd_hash_similarity_threshold=0.9)
    assert actions == ["collect"]


@pytest.mark.parametrize("probe_mode, jobs", [("none", 8), ("frame", 9)])
def test_call_runs_pinned_job_count(spark, golden_df, probe_mode, jobs):
    # Jobs of one validated call plus collect(): the guard's two, then
    # one per query stage of the statement (a DataFrame probe set adds
    # its broadcast). A new exchange, broadcast or eager step shows up
    # here as one more job.
    probe = (
        spark.createDataFrame([("UW0001",), ("UW0004",)], "index string")
        if probe_mode == "frame"
        else None
    )
    got = job_ids_in_group(
        spark,
        f"detect-jobs-{probe_mode}",
        lambda: detect_duplicates(
            golden_df, probe, pqd_hash_similarity_threshold=0.9
        ).collect(),
    )
    assert len(got) == jobs, got
