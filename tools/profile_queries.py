"""Per-query profiling harness for optimization work (guide §1).

Runs a subset of the catalog with bench.py's own warm-up and timing
loop (noop sink, min-of-N with one more run on a >2.5x spread, a full
GC every 10 queries) and writes {name: sec} to stdout as JSON. Usage:

    python tools/profile_queries.py q01_pricing_summary q146_ewma ...
    python tools/profile_queries.py --top 25        # 25 slowest per bench_queries.json
    python tools/profile_queries.py --explain DIR q146_ewma   # also dump explain("formatted")

Timing runs label jobs with the query name (setJobDescription) so the
(disabled-by-default) UI or event logs attribute stages to queries.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from airquality_data_pipeline_spark.queries import QUERIES  # noqa: E402
from airquality_data_pipeline_spark.session import get_spark  # noqa: E402
from bench import time_queries, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--explain", default="", help="dir for explain dumps")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        ranked = json.load(open(f"{REPO_ROOT}/bench_queries.json"))
        names += [
            k
            for k, _ in sorted(ranked.items(), key=lambda kv: -kv[1])[
                : args.top
            ]
            if k not in names
        ]
    assert names, "no queries given"
    unknown = [n for n in names if n not in QUERIES]
    assert not unknown, f"unknown queries: {unknown}"

    spark = get_spark(app_name="profile")
    if not args.no_warmup:
        warm_up(spark, args.sf_dir)

    if args.explain:
        out = Path(args.explain)
        out.mkdir(parents=True, exist_ok=True)
        for n in names:
            plan = QUERIES[n](spark, args.sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            (out / f"{n}.txt").write_text(plan)

    if args.runs == 0:
        print(json.dumps({"explained": sorted(set(names))}))
        return
    timings, all_runs = time_queries(
        spark, args.sf_dir, sorted(set(names)), args.runs
    )
    print(json.dumps({"timings": timings, "runs": all_runs}, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
