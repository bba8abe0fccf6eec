"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,mutate} --seed N \\
        --seconds S --trace {0,1}

Runs one workload on local[<cores>] from the root of a checkout and prints,
as its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics when ``--trace 0``,
per-layer metrics when ``--trace 1``). Traced runs also write their spans
to ``perfbench/_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from harness import TRACE_DIR, cache_path, median  # noqa: E402
from workloads import WORKLOADS, Bench, layer_metrics  # noqa: E402


def check_job_counts(b: Bench) -> None:
    """Spark job and stage counts per operation kind must repeat exactly
    across runs of one seed on the same sources. The first such run
    records them; a code change starts a new record (see cache_path)."""
    counts: dict[str, list] = {}
    for sp in b.ops:
        counts.setdefault(sp["name"], []).append([sp["jobs"], sp["stages"]])
    counts = {k: sorted(v)[len(v) // 2] for k, v in counts.items()}
    path = cache_path(f"jobs-{b.workload}-s{b.seed}.json")
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
        for kind in counts.keys() & seen.keys():
            b.check(counts[kind] == seen[kind],
                    f"job/stage count of {kind} changed: {seen[kind]} -> {counts[kind]}")
    else:
        with open(path, "w") as fh:
            json.dump(counts, fh)


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import lucene_spark  # noqa: F401  - fail fast outside a checkout

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        index = WORKLOADS[args.workload](b)
        b.rec.resolve()
        check_job_counts(b)
        if b.traced:
            metrics = layer_metrics(b)
            b.rec.dump(os.path.join(
                TRACE_DIR, f"{b.workload}-s{b.seed}-p{os.getpid()}.json"))
        else:
            e2e = b.end_to_end()
            metrics = {
                "setup_s": (b.setup_s(), "s"),
                "index_turns_per_cpu_s": (index["turns_per_cpu_s"], "1/s"),
                "index_bytes_per_input_byte": (index["bytes_ratio"], "ratio"),
                "op_cpu_ms": (e2e["op_cpu_ms"], "ms"),
                "op_spark_jobs": (e2e["op_spark_jobs"], "count"),
            }
    finally:
        if b.spark is not None:
            stop(b.spark)
        shutil.rmtree(b.run_dir, ignore_errors=True)

    for kind, spans in sorted(b.op_kinds().items()):
        print(f"perfbench: {kind:24s} n={len(spans)} median_ms="
              f"{median(1e3 * (s['end'] - s['start']) for s in spans):.1f} "
              f"cpu_ms={median(1e3 * s['cpu_s'] for s in spans):.1f} "
              f"jobs={spans[0].get('jobs')}", file=sys.stderr)
    for p in b.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: workload={b.workload} seed={b.seed} "
          f"ops={len(b.ops)} results={b.digest.hexdigest()[:16]}",
          file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0 and not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
