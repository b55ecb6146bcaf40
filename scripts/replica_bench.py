"""Synthetic scale-up harness: replicate the sf0.1 testdata Nx (default
10x) into a parquet dir and time registered queries against it.

This is the reproducible form of SCALE.md's "Measured scale-up" table:
each replica copy offsets doc_id by i*10^7 so ids stay unique
AND the derived-corpus bands (+1e6/+2e6) stay inside their copy's block.

Round 14 (VERDICT r13 item 3): document COPIES ARE PERTURBED — copy
``i > 0`` swaps every 4th word for the deterministic token ``cp<i>``
(`perturb_text`; word count and id structure unchanged). Byte-identical
copies made every text appear N times, so the output-tracking
near-dup/exact-dup rows measured the replica's duplicate DENSITY, not
the engine (their 10x/100x growth cells carried "replica
duplicate-density" caveats). With the 25% word swap, cross-copy
word-3-gram Jaccard falls to ~0.27 (< the 0.5 near-dup threshold) and
cross-copy 8-gram/exact matches vanish, so duplicate families stay
WITHIN each copy's derived bands (+1e6 mutants / +2e6 exact copies,
derived from the perturbed text per copy) and family counts grow
LINEARLY with N — the growth a real crawl shows. Pass
``perturb=False`` to rebuild the old byte-identical worst case.

Usage:
    python scripts/replica_bench.py [N] [query ...]
    # default N=10, queries = the round's new-operator set
"""

from __future__ import annotations

import sys
import time

REPLICA_DIR = "/tmp/scale_replica"
SRC = "/root/testdata/sf0.1"


def perturb_text(text_col, rep_col):
    """Per-copy deterministic text perturbation: copy 0 keeps the
    original text; copy i swaps every 4th word for ``cp<i>``. Word
    count (and so chunking/packing/token stats shape) is preserved;
    cross-copy shingle overlap drops below every near-dup threshold
    in the registry."""
    from pyspark.sql import functions as F

    swapped = F.array_join(
        F.transform(
            F.split(text_col, " "),
            lambda w, k: F.when(
                k % 4 == 0,
                F.concat(F.lit("cp"), rep_col.cast("string")),
            ).otherwise(w),
        ),
        " ",
    )
    return F.when(rep_col == 0, text_col).otherwise(swapped)

DEFAULT_QUERIES = [
    "chunk_dedup",
    "token_budget_sample",
    "quality_band",
    "doc_repetition",
    "pack_sequences",
]


def build_replica(spark, n: int, perturb: bool = True) -> str:
    from pyspark.sql import functions as F

    out = f"{REPLICA_DIR}_{n}x" + ("" if perturb else "_ident")
    src = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for i in range(n):
        p = src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if perturb:
            p = p.withColumn("text", perturb_text(F.col("text"), F.lit(i)))
        parts.append(p)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionAll(p)
    df.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def main() -> None:
    sys.path.insert(0, "/root/repo")
    from cir_duplicate_detector_spark.cache import release_cached
    from cir_duplicate_detector_spark.plans import ALL_QUERIES
    from cir_duplicate_detector_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or DEFAULT_QUERIES

    spark = get_spark(
        app_name="scale-replica-bench",
        master="local[32]",
        shuffle_partitions=32,
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = build_replica(spark, n)
    print(f"# replica at {sf_dir}", file=sys.stderr)

    for name in names:
        fn, _ = ALL_QUERIES[name]
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - start
        print(f"{name}\t{elapsed:.1f}s")
        release_cached(spark, gc=False)
        spark.sparkContext._jvm.System.gc()
    spark.stop()


if __name__ == "__main__":
    main()
