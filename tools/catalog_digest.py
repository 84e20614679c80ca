"""Digest of the whole catalog, for checking that a refactor changed no
plan and no oracle result. Usage:

    python tools/catalog_digest.py fixtures/sf0.01 > after.txt
    python tools/catalog_digest.py --oracles-only fixtures/sf0.1 > after_sf0.1.txt
    diff before.txt after.txt      # before.txt: the same run on the parent

For each registered query it prints one `plan` line: the SHA-256 of the
normalized `optimizedPlan` and `executedPlan` strings of the built (not
executed) DataFrame, with expression, plan and RDD ids stripped, since
those count up across a session. For each oracle it prints one `oracle`
line: the row count and the SHA-256 of the sorted rows in DuckDB,
normalized as the parity tests compare them (`tests/oracle_utils`), then
the SHA-256 of the oracle's text with whitespace runs collapsed, which
shows which oracle texts a refactor moved.
Plans are built in one local Spark session (`SPARK_GRAFT_CPUS` sizes it),
oracles run in one in-memory DuckDB over the fixture's parquet files.
"""

from __future__ import annotations

import argparse
import hashlib
import re
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from airquality_data_pipeline_spark.io import FIXTURE_TABLES  # noqa: E402
from airquality_data_pipeline_spark.queries import ORACLE, QUERIES  # noqa: E402
from tests.oracle_utils import _normalize  # noqa: E402

# expression ids (name#12L), exchange ids ([plan_id=3]), RDD ids (RDD[7])
_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def plan_digest(df) -> str:
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + "\n" + qe.executedPlan().toString()
    return _sha(_IDS.sub(r"\1", text))


def oracle_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0].lower() for d in cur.description]
    rows = cur.fetchall()
    norm = sorted(map(repr, _normalize(rows, cols).elements()))
    return len(rows), _sha("\n".join(norm))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--oracles-only", action="store_true")
    args = ap.parse_args()

    if not args.oracles_only:
        from airquality_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="catalog_digest")
        spark.sparkContext.setLogLevel("ERROR")
        for name in sorted(QUERIES):
            print("plan", name, plan_digest(QUERIES[name](spark, args.sf_dir)))
        spark.stop()

    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")
    for name in sorted(ORACLE):
        sql = ORACLE[name]
        print("oracle", name, *oracle_digest(con, sql), _sha(" ".join(sql.split())))


if __name__ == "__main__":
    main()
