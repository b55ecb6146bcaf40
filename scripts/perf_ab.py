"""A/B comparison of two checkouts on the repository benchmark.

Usage (from anywhere)::

    python3 scripts/perf_ab.py --parent ../parent --change . \\
        --pairs 10 --seeds 1 2 3 --out ab-runs.jsonl

``--parent`` and ``--change`` are two checkouts of the repository (for
example two ``git worktree``s or clones). Each pair runs
``perfbench/run.py`` once on each side, for every workload, with the
same seed and settings; the side that runs first alternates from pair
to pair, and the seed changes every second pair. Every run is appended to ``--out`` as one JSON line as soon as
it finishes.

The summary gives, per workload and end-to-end metric, each side's
median and quartiles, the change's win count over the pairs (ties count
for neither side), and one verdict:

* ``gain`` — the change wins at least nine tenths of the pairs and the
  medians differ, in the metric's better direction, by more than the
  parent's interquartile range;
* ``worse`` — the change's median is worse than the parent's by more
  than the bound ``BENCHMARK.json`` fixes for the metric;
* ``unresolved`` — neither, while the parent's own interquartile range
  is wider than that bound and some change run reads no better than
  some parent run;
* ``within bound`` — otherwise.

Runs that fail (non-zero exit, or a ``failed`` count) are listed per
side. Metric names, directions and bounds come from the parent's
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(root: Path, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload",
        workload,
        "--seed",
        str(seed),
        "--seconds",
        str(seconds),
        "--trace",
        "0",
    ]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"ok": False, "error": proc.stderr[-2000:]}
    result = json.loads(lines[-1])
    return {
        "ok": result["failed"] == 0,
        "failed": result["failed"],
        "attempted": result["attempted"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], bench: dict) -> list[str]:
    out = []
    for workload in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == workload and r["result"].get("metrics"):
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = {k: v for k, v in pairs.items() if len(v) == 2}
        failed = {
            side: sum(
                1
                for r in runs
                if r["workload"] == workload
                and r["side"] == side
                and not r["result"]["ok"]
            )
            for side in ("parent", "change")
        }
        out.append(
            f"{workload}: {len(pairs)} complete pairs; failed runs "
            f"parent {failed['parent']}, change {failed['change']}"
        )
        out.append(
            f"  {'metric':12s} {'parent q1/med/q3':>30s} "
            f"{'change q1/med/q3':>30s} {'wins':>6s} {'delta':>8s}  verdict"
        )
        for spec in bench["end_to_end"]:
            name, lower = spec["name"], spec["better"] == "lower"
            p = [v["parent"]["metrics"][name] for v in pairs.values()]
            c = [v["change"]["metrics"][name] for v in pairs.values()]
            if not p:
                continue
            pq, cq = quartiles(p), quartiles(c)
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            delta = (cq[1] - pq[1]) / pq[1]
            gain = cq[1] < pq[1] if lower else cq[1] > pq[1]
            worse_by = delta if lower else -delta
            all_better = max(c) < min(p) if lower else min(c) > max(p)
            if wins >= 0.9 * len(p) and gain and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            elif worse_by > spec["bound"]:
                verdict = "worse"
            elif (pq[2] - pq[0]) / pq[1] > spec["bound"] and not all_better:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            out.append(
                f"  {name:12s} {fmt.format(*pq):>30s} {fmt.format(*cq):>30s}"
                f" {wins:>3d}/{len(p):<2d} {delta:+8.1%}  {verdict}"
            )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args(argv)

    bench = json.loads((args.parent / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}

    runs = []
    for pair in range(args.pairs):
        # Each seed gets both run orders.
        seed = args.seeds[(pair // 2) % len(args.seeds)]
        order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
        for workload in workloads:
            for side in order:
                result = run_once(sides[side], workload, seed, seconds)
                run = dict(
                    pair=pair, seed=seed, workload=workload, side=side,
                    result=result,
                )
                runs.append(run)
                with args.out.open("a") as f:
                    f.write(json.dumps(run) + "\n")
                print(
                    f"# pair {pair} seed {seed} {workload} {side}: "
                    + (
                        f"job_s {result['metrics']['job_s']:.4f}"
                        if result.get("metrics")
                        else "FAILED"
                    ),
                    file=sys.stderr,
                    flush=True,
                )
    print("\n".join(summarize(runs, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
