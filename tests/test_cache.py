"""Lifetime control for materialized intermediates (cache.py):
repeated operator invocations in one session must not accumulate
storage blocks once the caller releases them (VERDICT r2 item 5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cir_duplicate_detector_spark.cache import materialize, release_cached


def _persistent_rdd_count(spark) -> int:
    return len(list(spark.sparkContext._jsc.getPersistentRDDs().values()))


def test_materialize_localcheckpoint_and_release(spark):
    release_cached(spark)  # start clean
    df = materialize(spark.range(1000).select((F.col("id") * 2).alias("x")))
    assert df.count() == 1000
    assert _persistent_rdd_count(spark) >= 1
    freed = release_cached(spark)
    assert freed >= 1
    assert _persistent_rdd_count(spark) == 0


def test_minhash_invocations_do_not_accumulate_blocks(spark):
    from cir_duplicate_detector_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from cir_duplicate_detector_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    release_cached(spark)
    for _ in range(2):
        minhash_near_duplicates(docs).count()
    # At least the latest invocation's candidate blocks are live (the
    # ContextCleaner may have already collected earlier ones — that
    # nondeterminism is exactly why release_cached exists).
    assert _persistent_rdd_count(spark) >= 1
    release_cached(spark)
    assert _persistent_rdd_count(spark) == 0


def test_materialize_durable_checkpoint(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = materialize(spark.range(100), checkpoint_dir=ckpt)
    assert df.count() == 100
    # Durable checkpoint writes RDD files under the directory.
    import os

    assert any(os.scandir(ckpt))
    release_cached(spark)


def test_shared_artifact_sweeps_all_family_caches(spark):
    # ADVICE r12: superseded-application dirs are evicted for EVERY
    # registered family on the first new-app build, not only for the
    # family being accessed.
    import os

    from cir_duplicate_detector_spark import cache

    fam_a: dict = {}
    fam_b: dict = {}
    sf = "/root/testdata/sf0.001"

    def build(d):
        open(f"{d}/artifact", "w").close()
        return d

    cache.shared_artifact(fam_a, spark, sf, "cache_test_a_", build)
    cache.shared_artifact(fam_b, spark, sf, "cache_test_b_", build)
    (dir_a, _), (dir_b, _) = fam_a.popitem()[1], fam_b.popitem()[1]
    # simulate a superseded application: re-key both entries to a fake
    # old app id, then touch only family A under the real app
    fam_a[("app-OLD", sf)] = (dir_a, dir_a)
    fam_b[("app-OLD", sf)] = (dir_b, dir_b)
    cache.shared_artifact(fam_a, spark, sf, "cache_test_a_", build)
    assert not os.path.exists(dir_a)
    assert not os.path.exists(dir_b)  # family B swept without access
    for c in (fam_a, fam_b):
        for d, _ in c.values():
            cache._SHARED_DIRS.remove(d) if d in cache._SHARED_DIRS else None
            import shutil

            shutil.rmtree(d, ignore_errors=True)
        c.clear()
        cache._FAMILY_CACHES[:] = [
            x for x in cache._FAMILY_CACHES if x is not c
        ]
