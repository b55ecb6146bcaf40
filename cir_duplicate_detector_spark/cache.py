"""Deterministic lifetime control for materialized intermediates.

Iterative / multi-branch operators (`dedup.minhash_near_duplicates`,
`dedup.connected_components`) truncate lineage with ``localCheckpoint``.
The checkpoint blocks are reclaimed by Spark's ContextCleaner only when
the Python plan objects are garbage-collected, so a long-lived session
that invokes those operators repeatedly (a bench loop, a notebook)
accumulates storage blocks and the GC pressure bleeds into every
subsequent query (round-2 finding: timings inflated 3-30x).

:func:`materialize` is the single chokepoint those operators use to cut
lineage — it dispatches to driver-local or durable checkpointing — and
:func:`release_cached` frees everything a finished invocation left
behind (cached relations + every persisted RDD, which is where
``localCheckpoint`` blocks live).

Safety: ``release_cached`` unpersists ALL persisted RDDs in the
session. Call it only when no still-live DataFrame depends on a
truncated-lineage checkpoint (a localCheckpointed plan cannot recompute
its blocks). Between independent queries — the bench loop, a pipeline
stage boundary — that is exactly the right time.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# Temp dirs backing shared artifacts, removed at interpreter exit (and
# eagerly when their Spark application is superseded — see
# `shared_artifact`). One registry instead of N ad-hoc mkdtemp leaks.
_SHARED_DIRS: list[str] = []


def _cleanup_shared_dirs() -> None:
    while _SHARED_DIRS:
        shutil.rmtree(_SHARED_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_shared_dirs)


# Every family cache dict ever passed to `shared_artifact`, so the
# stale-application sweep can evict superseded dirs for families the
# new application never re-touches (ADVICE r12).
_FAMILY_CACHES: list[dict] = []


def shared_artifact(
    cache: dict,
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    build: Callable[[str], Any],
) -> Any:
    """Memoized parquet-backed shared artifact — the single definition
    of the build-once pattern every index family uses
    (`_shared_dup_labels`, ...): build once per (Spark
    application, corpus dir), persist to a temp dir, serve the
    parquet-backed handle to every consumer in the application.

    ``build(tmpdir)`` writes the artifact under ``tmpdir`` and returns
    the handle to cache (a DataFrame read back from parquet, a tuple of
    them, an index object — caller's choice). Lifecycle: the temp dir
    is registered for atexit removal, and entries keyed to a PREVIOUS
    Spark application are evicted (and their dirs deleted) when a new
    application first builds — so one long-lived process running many
    Spark apps does not accumulate dirs (ADVICE r11). The sweep runs
    over EVERY registered family cache, not just the one being
    accessed (ADVICE r12): a family never re-touched under the new
    application would otherwise keep its superseded parquet dirs until
    interpreter exit."""
    if not any(c is cache for c in _FAMILY_CACHES):
        _FAMILY_CACHES.append(cache)
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = cache.get(key)
    if hit is not None:
        return hit[1]
    for c in _FAMILY_CACHES:
        for k in [k for k in c if k[0] != key[0]]:
            old_dir, _ = c.pop(k)
            shutil.rmtree(old_dir, ignore_errors=True)
            if old_dir in _SHARED_DIRS:
                _SHARED_DIRS.remove(old_dir)
    d = tempfile.mkdtemp(prefix=prefix)
    _SHARED_DIRS.append(d)
    val = build(d)
    cache[key] = (d, val)
    return val


def materialize(
    df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Cut lineage by materializing ``df`` once.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (executor-local
    blocks; right for single-app sessions and iterative drivers).
    Otherwise → durable ``checkpoint`` to ``checkpoint_dir`` (survives
    executor loss; the right choice for long connected-components runs
    on a real cluster, where losing one executor's blocks would
    otherwise restart the whole iteration history).
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def release_cached(spark: SparkSession, gc: bool = True) -> int:
    """Free every cached relation and persisted RDD (including
    ``localCheckpoint`` blocks) in the session; returns the number of
    RDDs unpersisted. With ``gc=True`` (default) also asks the JVM for
    a GC pass so freed blocks leave the old generation instead of
    lingering as pressure — a 1-3 s stop on a large heap, so tight
    loops may sweep with ``gc=False`` and trigger a full pass
    periodically.
    """
    spark.catalog.clearCache()
    sc = spark.sparkContext
    # py4j auto-converts the java.util.Map to a Python mapping whose
    # values are JavaRDD handles; snapshot before unpersisting.
    rdds = list(sc._jsc.getPersistentRDDs().values())
    for jrdd in rdds:
        jrdd.unpersist()
    if gc:
        sc._jvm.System.gc()
    return len(rdds)
