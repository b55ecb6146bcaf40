"""Benchmark of ``detect_duplicates`` on seeded archives.

Usage (from the repository root)::

    python3 perfbench/run.py --workload archive_selfjoin --seed 1 \
        --seconds 10 --trace 0

Closed loop, one client: each run starts after the previous one
finished, as an analyst's batch job waits for its result. One driver
JVM per invocation (``local[4]``, 4 shuffle partitions, 3g heap,
parallel collector), so memory and GC figures belong to one workload.
Set-up (session start, input generation and parquet write, ground-truth
checksum, untimed warm-up runs) is timed as ``setup_s``.
``release_cached`` runs between runs, off the clock.

Each timed run calls ``detect_duplicates`` and finishes with an
order-independent checksum (row count and xor of per-row ``xxhash64``)
over every output cell; that checksum is compared with the same
checksum of the generator's exact answer. A run that raises or
mismatches counts as failed.

``--trace 1`` instead times each layer's public function, materialized
to the ``noop`` sink, as a span, and reads Spark's status store around
each span. A layer's self time is its span minus the span of the layer
it consumes. The last stdout line is the JSON result; spans are written
to ``.bench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

CORES = 4
HEAP = "3g"
GEN_REPS = 3  # set-up repetitions of input generation + write
# The first run in a fresh JVM is ~5x the steady time while the JIT
# compiles Spark's planner and the generated stage code. At default
# compile thresholds the next runs were still ~2x steady; at a tenth of
# the thresholds (the JVM options below) ~1.3x. Run time keeps drifting
# down slowly for ~30 runs either way, so every run of a workload is
# measured at the same age of its JVM.
WARMUP_RUNS = 2
# Runs per timed invocation, at least. A tail percentile needs ten
# samples beyond it; with a fixed count that percentile (p33 of 15) is
# the same in every invocation instead of moving with the host's speed.
# BENCHMARK.json's run_seconds is short enough that this count governs.
MIN_RUNS = 15

# Sizes keep one warm run near 2 s on 4 cores, so that an invocation
# (set-up plus fifteen runs) stays under a minute. They are far below
# the reference's 20k-300k hashes, and Spark's per-stage overhead is a
# large share of every run. Each workload's rationale is the `why` of
# its entry in BENCHMARK.json.
WORKLOADS = {
    # Full-archive self-join at the reference's default operating point
    # (t=0.8, naive): the grid scan over every hash pair and symmetrize
    # of every match; no probe restriction, the banded join is bypassed.
    "archive_selfjoin": dict(
        entries=1_500, probes=None, threshold=0.8, method="naive"
    ),
    # A batch of new entries checked against a larger archive at a
    # high-similarity threshold (t=0.94, banded): probe semi-join, band
    # equi-join plus verify, probe-restricted URL groups, and decode of
    # the whole archive; the grid scan is bypassed.
    "incremental_banded": dict(
        entries=4_000, probes=150, threshold=0.94, method="banded"
    ),
}

# Layer -> the layers whose output its public function consumes. Each
# span recomputes its inputs, so a layer's self time is its span minus
# the spans of the layers it consumes.
CONSUMES = {
    "scan": [],
    "url_dedup": ["scan"],
    "pdq.explode": ["scan"],
    "pdq.decode": ["pdq.explode"],
    "pdq.pairs": ["pdq.decode"],
    "pdq.symmetrize": ["pdq.pairs"],
    "detect": ["url_dedup", "pdq.symmetrize"],
}

RESULT_COLS = [
    "index",
    "url_duplicates",
    "pdq_hash_duplicates",
    "pdq_hash_similarities",
]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile)."""
    xs = sorted(values)
    k = len(xs) - 10
    if k < 1:
        raise ValueError(f"{len(xs)} samples cannot support a tail")
    return xs[k - 1], 100.0 * k / len(xs)


class Bench:
    """One workload in one JVM: set-up, then timed or traced runs."""

    def __init__(self, workload: str, seed: int, work: Path):
        import cir_duplicate_detector_spark as cds
        from cir_duplicate_detector_spark import cache, session

        self.cds, self.cache = cds, cache
        self.name, self.seed = workload, seed
        self.cfg = WORKLOADS[workload]

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_confs={
                "spark.driver.memory": HEAP,
                # The parallel collector: GC per run measured ~0.02 s
                # against G1's ~0.1 s on a 4-vCPU VM. Compile
                # thresholds: see WARMUP_RUNS.
                "spark.driver.extraJavaOptions": (
                    "-XX:+UseParallelGC -XX:CompileThresholdScaling=0.1 "
                    "-XX:ReservedCodeCacheSize=2g -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={work}"
                ),
                "spark.local.dir": str(work / "spark-local"),
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        try:
            self._set_up(work)
        except BaseException:
            self.close()
            raise

    def _set_up(self, work: Path) -> None:
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

        gen_times = []
        for rep in range(GEN_REPS):
            t0 = time.perf_counter()
            self._make_inputs(work / f"input-{rep}")
            gen_times.append(time.perf_counter() - t0)
        self.gen_s = statistics.median(gen_times)

        t0 = time.perf_counter()
        self.want = self._checksum(
            self.spark.read.parquet(str(self.truth_path))
        )
        self.truth_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for _ in range(WARMUP_RUNS):
            self.release()
            self.run_once()
        self.warmup_s = time.perf_counter() - t0
        self.setup_s = self.session_s + self.gen_s + self.truth_s + self.warmup_s

    def _make_inputs(self, path: Path) -> None:
        import gen
        import random

        cfg = self.cfg
        archive = gen.generate(self.seed, cfg["entries"])
        gen.assert_planted_is_exact(archive.n_hashes, cfg["threshold"])
        archive.write(path / "archive", files=CORES)
        probe = None
        if cfg["probes"]:
            rng = random.Random(self.seed + 1)
            probe = sorted(rng.sample(archive.index, cfg["probes"]))
        self.truth = archive.truth(cfg["threshold"], set(probe or ()) or None)
        self.truth_path = path / "truth.parquet"
        gen.pq.write_table(gen.truth_table(self.truth), self.truth_path)

        self.archive = self.spark.read.parquet(str(path / "archive"))
        self.probe_df = (
            self.spark.createDataFrame([(i,) for i in probe], "index string")
            if probe
            else None
        )
        self.n_hashes = archive.n_hashes
        self.probe_hashes = archive.n_hashes
        if probe:
            wanted = set(probe)
            self.probe_hashes = sum(
                len({x for x in h if x})
                for i, h in zip(archive.index, archive.hashes)
                if h and i in wanted
            )

    def _checksum(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = (
            df.select(F.xxhash64(*RESULT_COLS).alias("h"))
            .agg(F.count("*").alias("n"), F.bit_xor("h").alias("x"))
            .first()
        )
        return row["n"], row["x"] or 0

    def detect(self):
        cfg = self.cfg
        return self.cds.detect_duplicates(
            self.archive,
            self.probe_df,
            pqd_hash_similarity_threshold=cfg["threshold"],
            pdq_duplicate_detection_method=cfg["method"],
        )

    def run_once(self) -> tuple[float, bool]:
        """One timed run: (job seconds, output correct). Raises on error."""
        t0 = time.perf_counter()
        got = self._checksum(self.detect())
        job_s = time.perf_counter() - t0
        ok = got == self.want
        if not ok:
            self.report_mismatch(got)
        return job_s, ok

    def report_mismatch(self, got) -> None:
        log(f"checksum mismatch: got {got}, want {self.want}")
        rows = {
            r["index"]: (
                r["url_duplicates"],
                r["pdq_hash_duplicates"],
                r["pdq_hash_similarities"],
            )
            for r in self.detect().collect()
        }
        diff = sorted(set(rows) ^ set(self.truth)) + sorted(
            k for k in set(rows) & set(self.truth)
            if tuple(rows[k]) != tuple(self.truth[k])
        )
        for k in diff[:10]:
            log(f"  {k}: got {rows.get(k)} want {self.truth.get(k)}")

    def release(self) -> float:
        t0 = time.perf_counter()
        self.cache.release_cached(self.spark, gc=False)
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        status = Path(f"/proc/{self.jvm_pid}/status").read_text()
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def timed(bench: Bench, seconds: float) -> dict:
    times, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or attempted < MIN_RUNS:
        bench.release()
        attempted += 1
        try:
            job_s, ok = bench.run_once()
        except Exception:
            log(traceback.format_exc())
            failed += 1
            continue
        times.append(job_s)
        failed += not ok
    job_s = statistics.median(times)
    tail_s, tail_pct = tail(times)
    rss = bench.peak_rss_mb()
    log(
        f"{bench.name}: job_s median {job_s:.4f} over {len(times)} runs, "
        f"p{tail_pct:.0f} {tail_s:.4f}; setup: session {bench.session_s:.2f}"
        f" gen {bench.gen_s:.2f} truth {bench.truth_s:.2f}"
        f" warm-up {bench.warmup_s:.2f}"
    )
    print(
        f"job_s_tail is p{tail_pct:.0f} of {len(times)} samples; "
        f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})"
    )
    return dict(
        attempted=attempted,
        failed=failed,
        metrics={
            "job_s": (job_s, "s"),
            "job_s_tail": (tail_s, "s"),
            "pairs_per_s": (bench.probe_hashes * bench.n_hashes / job_s, "1/s"),
            "setup_s": (bench.setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        },
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced(bench: Bench, seconds: float, spans_path: Path) -> dict:
    from cir_duplicate_detector_spark.operators import pdq
    from spans import StageCounters, Tracer

    cfg = bench.cfg
    probe, t = bench.probe_df, cfg["threshold"]
    df = bench.archive
    layers = {
        "scan": lambda: df,
        "url_dedup": lambda: bench.cds.find_url_duplicates(df, probe),
        "pdq.explode": lambda: pdq.exploded_hashes(df),
        "pdq.decode": lambda: pdq.decoded_hashes(df, assert_max_hex=64),
        "pdq.pairs": lambda: pdq.get_pdq_fuzzy_duplicates(
            df, t, probe, cfg["method"]
        ),
        "pdq.symmetrize": lambda: pdq.find_pdq_hash_duplicates(
            df, probe, t, cfg["method"]
        ),
    }
    # Output sizes are fixed by the seed: count once, off the clock.
    rows = {name: make().count() for name, make in layers.items()}
    rows["detect"] = len(bench.truth)

    # A span's parent is the layer that calls it inside detect.
    callers = {
        name: ",".join(k for k, ps in CONSUMES.items() if name in ps)
        for name in layers
    }

    counters = StageCounters(bench.spark)
    tracer = Tracer(bench.name, counters)
    per_run: list[dict[str, float]] = []
    plain: list[float] = []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or attempted < 3:
        run = attempted
        attempted += 1
        m: dict[str, float] = {}
        try:
            m["cache.release_s"] = bench.release()
            gc0 = counters.gc_seconds()
            job_s, ok = bench.run_once()
            m["jvm.gc_s"] = counters.gc_seconds() - gc0
            plain.append(job_s)
            bench.release()
            spans = {}
            for name, make in layers.items():
                spans[name] = tracer.span(
                    name, run, lambda: noop(make()), parent=callers[name]
                )
            box = {}

            def detect_job():
                t0 = time.perf_counter()
                result = bench.detect()
                box["build_s"] = time.perf_counter() - t0
                box["got"] = bench._checksum(result)

            spans["detect"] = tracer.span("detect", run, detect_job)
            ok = ok and box["got"] == bench.want
        except Exception:
            log(traceback.format_exc())
            failed += 1
            continue
        failed += not ok
        m.update(layer_metrics(spans, box["build_s"], rows, bench))
        per_run.append(m)
    tracer.write(spans_path)

    metrics = {
        k: (statistics.median(r[k] for r in per_run), unit_of(k))
        for k in per_run[0]
    }
    for name, n in rows.items():
        metrics[f"{name}.rows_out"] = (n, "count")
    metrics["pdq.pairs.comparisons"] = (
        bench.probe_hashes * bench.n_hashes,
        "count",
    )
    metrics["pdq.pairs.match_ratio"] = (
        rows["pdq.pairs"] / (bench.probe_hashes * bench.n_hashes),
        "ratio",
    )
    metrics["trace.overhead_s"] = (
        metrics["detect.span_s"][0] - statistics.median(plain),
        "s",
    )
    del metrics["scan.rows_out"]
    detect_s = metrics["detect.span_s"][0]
    selfs = {k: v for k, (v, _) in metrics.items() if k.endswith(".self_s")}
    log(
        f"{bench.name}: traced detect {detect_s:.3f}s = "
        + " + ".join(f"{k[:-7]} {v:.3f}" for k, v in selfs.items())
    )
    return dict(attempted=attempted, failed=failed, metrics=metrics)


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_cpu_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith(("util", "ratio")) else "count"


def layer_metrics(spans, build_s, rows, bench) -> dict[str, float]:
    """Self times and counters of one traced run.

    A layer's self time is its span minus the spans it consumes
    (:data:`CONSUMES`). Both inputs of ``detect`` include a scan of the
    input, so ``detect`` adds one scan back: the self times then sum to
    the ``detect`` span."""
    s = {k: v.seconds for k, v in spans.items()}
    c = {k: v.counters for k, v in spans.items()}
    self_s = {k: s[k] - sum(s[p] for p in ps) for k, ps in CONSUMES.items()}
    self_s["detect"] += s["scan"]

    def own(layer: str, key: str) -> float:
        return c[layer][key] - sum(c[p][key] for p in CONSUMES[layer])

    pairs_cpu_s = own("pdq.pairs", "task_cpu_ns") / 1e9
    comparisons = bench.probe_hashes * bench.n_hashes
    mb = 1024 * 1024
    m = {f"{k}.self_s": v for k, v in self_s.items()}
    m.update(
        {
            "detect.span_s": s["detect"],
            "detect.build_s": build_s,
            "url_dedup.shuffle_mb": c["url_dedup"]["shuffle_write_bytes"] / mb,
            "pdq.decode.task_cpu_s": own("pdq.decode", "task_cpu_ns") / 1e9,
            "pdq.pairs.comparisons_per_cpu_s": comparisons / max(pairs_cpu_s, 1e-9),
            "pdq.pairs.core_util": own("pdq.pairs", "task_run_ms")
            / 1e3
            / (max(self_s["pdq.pairs"], 1e-9) * CORES),
            "pdq.pairs.shuffle_mb": own("pdq.pairs", "shuffle_write_bytes") / mb,
            "pdq.pairs.spill_mb": own("pdq.pairs", "spill_disk_bytes") / mb,
            "spark.failed_tasks": sum(v["failed_tasks"] for v in c.values()),
        }
    )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything the run writes stays under the checkout.
    base = ROOT / ".bench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = str(work)

    bench = None
    try:
        bench = Bench(args.workload, args.seed, work)
        if args.trace:
            spans = base / f"spans-{args.workload}-{args.seed}.jsonl"
            out = traced(bench, args.seconds, spans)
        else:
            out = timed(bench, args.seconds)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()
        },
    }
    for k, (v, u) in out["metrics"].items():
        print(f"{k:40s} {v:16.6g} {u}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
