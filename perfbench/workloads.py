"""The benchmark workloads, etl_cycles and curation. Each is a closed loop
with one client: the next operation starts when the previous one (and its
check) ends.

A workload owns its inputs and its checks. Its timed operations call
the program only through the public functions of `session`, `io`,
`queries`, `operators.*`, `sources`, `plans` and `streaming`.
"""

from __future__ import annotations

import json
import os
import sqlite3
import statistics
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Bench, dir_bytes, steal_s, tree_cpu_s
from perfbench.tracing import median_self_time


class Workload:
    name = ""
    # wall seconds one round takes on a 4-vCPU box;
    # a run does max(1, round(seconds / round_s)) rounds
    round_s = 1.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        # per timed operation: CPU seconds of the process tree, and wall
        # seconds less the CPU time the hypervisor stole, per core
        self.op_cpu: list[float] = []
        self.op_net: list[float] = []
        # traced run: per-layer samples, reduced to medians by probes()
        self.samples: dict[str, list[float]] = {}

    # --- hooks --------------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Registration and warm-up after each session start."""
        raise NotImplementedError

    def run_round(self, traced: bool) -> list[float]:
        """One round of timed operations; returns their durations."""
        raise NotImplementedError

    def probes(self) -> None:
        """Traced run only: per-layer timings into self.layer."""

    def write_amp(self) -> float | None:
        return None

    # --- helpers ------------------------------------------------------------
    def rounds(self, traced: bool = False) -> int:
        """Rounds in a pass; the traced pass runs one."""
        return 1 if traced else max(1, round(self.b.seconds / self.round_s))

    def attempt(self, fn):
        """Run one timed operation. Returns (seconds, result), or
        (None, None) when it raised; the failure is counted."""
        self.attempted += 1
        self.b.phase("op")
        t0, c0, s0 = time.perf_counter(), tree_cpu_s(), steal_s()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        dt = time.perf_counter() - t0
        self.op_cpu.append(tree_cpu_s() - c0)
        self.op_net.append(dt - (steal_s() - s0) / (os.cpu_count() or 1))
        return dt, out

    def check(self, problems: list[str], what: str) -> None:
        """Count an operation whose output failed its check."""
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: {problems[:3]}", file=sys.stderr)

    def probe(self, metric: str, make_df) -> None:
        """Time the public function call plus a noop write of its result."""
        self.b.phase("probe")
        t0 = time.perf_counter()
        self.b.noop(make_df())
        self.layer[metric] = time.perf_counter() - t0


# =============================================================================
# curation: catalog queries
# =============================================================================


def oracle_utils():
    """The repo's Spark-vs-DuckDB comparator module, imported unedited."""
    sys.path.insert(0, inputs.REPO_ROOT)
    try:
        from tests import oracle_utils
    finally:
        sys.path.pop(0)
    return oracle_utils


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of the frame's own query
    execution, from its QueryPlanningTracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class Curation(Workload):
    """Curation catalog queries on a corpus- and embedding-heavy fixture,
    each built and executed to the noop sink and compared with its DuckDB
    oracle. Operator compute dominates each operation."""

    name = "curation"
    scale = 3.0
    round_s = 10.0
    # a fixed set, so every seed runs the same operations: the shingle
    # explodes, banded self-joins, build-time localCheckpoints and vector
    # folds of the dedup, similarity, text, llmops and llmops3 modules;
    # sized so that an untraced run stays under a minute on a busy
    # 4-vCPU box
    QUERIES = (
        "q41_minhash_candidates", "q42_ngram_jaccard", "q44_cosine_topk",
        "q62_tfidf", "q132_incremental_dedup", "q250_dsir_selection",
    )
    # shingles and MinHash like q41, so the first timed query does not
    # carry the JIT compilation of that whole path
    WARMUP = "q67_signature_clusters"

    def make_inputs(self) -> None:
        import duckdb

        from airquality_data_pipeline_spark.io import FIXTURE_TABLES

        self.fx = inputs.catalog_fixture(self.b.subdir("fixture"), self.b.seed, self.scale)
        self.checked: set[str] = set()
        self.plan_ms: list[float] = []
        self.con = duckdb.connect()
        for t in FIXTURE_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.fx}/{t}.parquet'")

    def setup(self) -> None:
        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.queries import QUERIES

        self.b.phase("setup")
        io.register_views(self.b.spark, self.fx)
        self.b.noop(QUERIES[self.WARMUP](self.b.spark, self.fx))

    def run_round(self, traced: bool) -> list[float]:
        from airquality_data_pipeline_spark.queries import ORACLE, QUERIES

        spark, tr = self.b.spark, self.b.tracer
        durations = []
        for name in self.QUERIES:
            tr.op = self.attempted

            def op():
                self.b.phase("build")
                with tr.span("queries.build"):
                    df = QUERIES[name](spark, self.fx)
                self.b.phase("op")
                if traced:
                    with tr.span("queries.plan"):
                        self.plan_ms.append(plan_ms(df))
                with tr.span("queries.exec"):
                    self.b.noop(df)
                return df

            dt, df = self.attempt(op)
            if dt is None:
                continue
            durations.append(dt)
            # every execution of a query runs the same plan over the same
            # files, so its result is compared once per run
            if name not in self.checked:
                self.checked.add(name)
                self.b.phase("check")
                self.check(oracle_utils().compare_bounded(df, self.con, ORACLE[name]), name)
        return durations

    def probes(self) -> None:
        from airquality_data_pipeline_spark import io

        spark = self.b.spark
        scans = []
        self.b.phase("probe")
        for t in io.FIXTURE_TABLES:
            t0 = time.perf_counter()
            self.b.noop(io.table(spark, self.fx, t))
            scans.append(time.perf_counter() - t0)
        self.layer["io.scan_s"] = statistics.median(scans)
        self.layer["queries.plan_ms"] = statistics.median(self.plan_ms) if self.plan_ms else 0.0
        self.operator_probes()
        self.graph_probes()

    def operator_probes(self) -> None:
        from pyspark.sql import functions as F

        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.operators import dedup, similarity, text
        from airquality_data_pipeline_spark.queries.text import BM25_QUERIES

        spark = self.b.spark
        docs = io.table(spark, self.fx, "documents").where(F.col("text").isNotNull())
        emb = io.table(spark, self.fx, "embeddings").where(F.col("embedding").isNotNull())
        sh = dedup.word_shingles(docs, "text", "doc_id")

        def minhash():
            return dedup.minhash_candidate_pairs(dedup.minhash_signatures(sh))

        self.probe("operators.dedup.minhash_candidate_pairs_s", minhash)
        self.probe(
            "operators.dedup.simhash_band_candidates_s",
            lambda: dedup.simhash_band_candidates(dedup.simhash(docs, "text", "doc_id")),
        )
        self.probe("operators.dedup.ngram_jaccard_pairs_s", lambda: dedup.ngram_jaccard_pairs(sh, 0.5))
        cand = minhash().select("id_a", "id_b")
        verified = cand.join(dedup.ngram_jaccard_pairs(sh, 0.5), ["id_a", "id_b"])
        self.layer["operators.dedup.candidate_yield"] = ratio(verified.count(), cand.count())

        corpus = similarity.planted_neardup_corpus(emb)
        self.probe(
            "operators.similarity.cosine_topk_s",
            lambda: similarity.cosine_topk(emb, F.col("vec_id") < 20, k=5),
        )
        self.probe(
            "operators.similarity.ivf_assign_s",
            lambda: similarity.ivf_assign(emb, F.col("vec_id") % 25 == 0),
        )
        self.probe(
            "operators.similarity.lsh_gated_neardup_s",
            lambda: similarity.lsh_gated_neardup(corpus, threshold=0.9),
        )
        # candidates: pairs sharing any 4-bit band of the 16-bit signature
        sig = similarity.hyperplane_lsh(corpus, n_bits=16)
        bands = sig.select(
            "id", F.explode(F.array(*[
                F.struct(F.lit(j).alias("band"), F.substring("sig", 4 * j + 1, 4).alias("bv"))
                for j in range(4)
            ])).alias("b"),
        ).select("id", "b.band", "b.bv")
        n_cand = (
            bands.alias("a").join(bands.alias("c"), ["band", "bv"])
            .where(F.col("a.id") < F.col("c.id"))
            .select("a.id", "c.id").distinct().count()
        )
        n_verified = similarity.lsh_gated_neardup(corpus, threshold=0.9).count()
        self.layer["operators.similarity.candidate_yield"] = ratio(n_verified, n_cand)

        self.probe(
            "operators.text.quality_features_s",
            lambda: text.quality_features(docs, "text", "doc_id"),
        )
        queries = spark.createDataFrame(BM25_QUERIES, "query_id int, term string")
        self.probe(
            "operators.text.bm25_topk_s",
            lambda: text.bm25_topk(docs, queries, "text", "doc_id", k=10),
        )
        train = docs.where(F.col("doc_id") % 20 != 0)
        held = docs.where(F.col("doc_id") % 20 == 0)
        self.probe(
            "operators.text.bloom_contamination_s",
            lambda: text.bloom_contamination(train, held, "text", "doc_id", n=8),
        )

    def graph_probes(self) -> None:
        from pyspark.sql import functions as F

        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.operators import graph, windows

        li = io.table(self.b.spark, self.fx, "lineitem")
        d = li.select("l_orderkey", "l_partkey").distinct()
        edges = (
            d.select("l_orderkey", F.col("l_partkey").alias("src"))
            .join(d.select("l_orderkey", F.col("l_partkey").alias("dst")), "l_orderkey")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        self.probe(
            "operators.graph.pagerank_fixed_point_s",
            lambda: graph.pagerank_fixed_point(edges, iterations=3),
        )
        nodes = d.select(F.col("l_partkey").alias("id")).distinct()
        pairs = edges.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        self.probe(
            "operators.graph.connected_components_s",
            lambda: graph.connected_components(nodes, pairs),
        )
        self.probe(
            "operators.windows.global_row_number_s",
            lambda: windows.global_row_number(
                li, [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
            ),
        )


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# =============================================================================
# etl_cycles: the reference's producer cycle, state carried across cycles
# =============================================================================

_POLLUTANTS_SQL = "('pm10','pm25','no2','nox','no','o3','co','so2')"
# DuckDB model of the silver plan's filters over one cycle's feed: null
# values dropped, pollutant normalized and allowlisted, well-formed rows
# kept when newer than their cursor
_FRESH_CTE = f"""
WITH b AS (
  SELECT *, regexp_replace(lower(trim(pollutant)), 'pm2[.,]5', 'pm25', 'g') AS pn
  FROM bronze WHERE value IS NOT NULL
), c AS (SELECT * FROM b WHERE pn IN {_POLLUTANTS_SQL}
), fresh AS (
  SELECT c.* FROM c LEFT JOIN cursors k
    ON c.station_id = k.station_id AND c.pn = k.pollutant
  WHERE c.station_id IS NOT NULL AND c.timestamp IS NOT NULL
    AND (k.ts IS NULL OR c.timestamp > k.ts)
)"""
# fresh rows plus malformed ones (null key or timestamp), first-wins dedup
_EXPECTED_PAYLOAD_SQL = _FRESH_CTE + """, u AS (
  SELECT * FROM fresh
  UNION ALL SELECT * FROM c WHERE station_id IS NULL OR timestamp IS NULL
), d AS (
  SELECT *, row_number() OVER (PARTITION BY station_id, pn, timestamp ORDER BY source) AS rn
  FROM u
)
SELECT station_id, pn, timestamp, value FROM d WHERE rn = 1
"""
_PENDING_CURSORS_SQL = _FRESH_CTE + " SELECT station_id, pn, max(timestamp) FROM fresh GROUP BY 1, 2"
_FRESH_COUNT_SQL = _FRESH_CTE + " SELECT count(*) FROM fresh"
CURSOR_SOURCE = "perfbench"


def feed_options(feed: str, rows: list[dict], cores: int) -> dict[str, str]:
    """REST source options serving `rows` through the replay transport,
    one request per page. DE has no documented request limit, NL the
    reference's budget."""
    from airquality_data_pipeline_spark.sources import rest

    pages = len(rows) // inputs.ROWS_PER_REQUEST
    transport = rest.fake_transport_from_rows(rows, page_size=inputs.ROWS_PER_REQUEST)
    return {
        "base_url": f"replay://{feed}",
        "max_pages": str(pages),
        "num_shards": str(cores),
        "request_budget": str(inputs.NL_REQUEST_BUDGET if feed == "nl" else pages),
        "transport_pickle": rest.transport_option(transport),
    }


class EtlCycles(Workload):
    name = "etl_cycles"
    cycles = 2
    # housekeeping runs on the second cycle, past the first's retention
    housekeeping_every = 2
    round_s = 20.0

    def make_inputs(self) -> None:
        import duckdb

        self.inp = inputs.etl_inputs(self.b.seed, self.cycles)
        self.con = duckdb.connect()
        self.round_no = 0
        self.drain = StreamDrain(self) if self.b.trace else None

    def setup(self) -> None:
        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.sources import rest

        spark = self.b.spark
        self.b.phase("setup")
        spark.dataSource.register(rest.RestMeasurementsSource)
        self.stations = spark.createDataFrame(self.inp.stations, io.STATION_SCHEMA)
        self.canonical = spark.createDataFrame([], io.MEASUREMENT_SCHEMA)
        # no warm-up: like a producer's first cycle, the first timed cycle
        # starts the REST source's Python workers and compiles the plans

    def bronze(self, c: int):
        """The cycle's feeds through the REST source and its replay transport."""
        from pyspark.sql import functions as F

        from airquality_data_pipeline_spark.plans import pipeline

        feeds = [
            self.b.spark.read.format("rest_measurements")
            .options(**feed_options(feed, rows, self.b.cores))
            .load()
            .withColumn("source", F.lit(feed))
            for feed, rows in self.inp.bronze[c].items()
        ]
        return pipeline.canonical_union([self.canonical, *feeds])

    def cycle(self, c: int, db: str, sink: str):
        """One producer cycle: replay read, silver plan, payload write,
        commit-after-emit, catalog upsert, and housekeeping every k-th."""
        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.plans import jobs, pipeline
        from airquality_data_pipeline_spark.streaming import sinks

        spark, tr = self.b.spark, self.b.tracer
        with tr.span("streaming.sinks.load_cursors"):
            cursors = sinks.load_cursors(db, CURSOR_SOURCE, spark)
        with tr.span("sources.rest"):
            bronze = self.bronze(c)
        with tr.span("plans.measurements_job"):
            result = jobs.measurements_job(bronze, self.stations, cursors)
        with tr.span("plans.payload_write"):
            pipeline.kafka_payload(result.payload).write.mode("overwrite").parquet(
                os.path.join(sink, f"cycle={c}")
            )
        with tr.span("streaming.sinks.commit_cursor_batch"):
            sinks.commit_cursor_batch(db, result.pending_cursors, CURSOR_SOURCE)
        with tr.span("streaming.sinks.upsert_catalog_batch"):
            sinks.upsert_catalog_batch(
                db, spark.createDataFrame(self.inp.catalog[c], io.STATION_SCHEMA)
            )
        kept = None
        if c % self.housekeeping_every == self.housekeeping_every - 1:
            with tr.span("plans.housekeeping_job"):
                kept = jobs.housekeeping_job(self.curated(sink), ts_col="observed_at", keep_days=7)
                self.b.noop(kept)
        return bronze, cursors, kept

    def curated(self, sink: str):
        from pyspark.sql import functions as F

        payload = self.b.spark.read.parquet(sink)
        return payload.select(
            "value",
            F.to_timestamp(
                F.get_json_object("value", "$.timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            ).alias("observed_at"),
        )

    def run_round(self, traced: bool) -> list[float]:
        self.round_no += 1
        state = self.b.subdir("rounds", str(self.round_no))
        db, sink = os.path.join(state, "state.db"), os.path.join(state, "sink")
        model = {"cursors": {}, "stations": {}, "emitted": []}
        durations = []
        self.rest_requests, self.payload_rows, self.pass_num, self.pass_den = [], [], 0, 0
        for c in range(self.cycles):
            self.b.tracer.op = self.attempted
            dt, out = self.attempt(lambda: self.cycle(c, db, sink))
            if dt is None:
                continue
            durations.append(dt)
            self.b.phase("check")
            self.check(self.check_cycle(c, db, sink, model, out[2]), f"cycle {c}")
            # the traced run materializes each layer of the last cycle alone:
            # it meets re-deliveries and runs housekeeping
            if traced and c == self.cycles - 1:
                self.cycle_probes(c, *out)
        self.written = dir_bytes(state)
        return durations

    def check_cycle(self, c, db, sink, model, kept) -> list[str]:
        """Payload against a DuckDB model of the cursor filter and
        first-wins dedup over the same bronze; cursors never move back;
        the catalog upsert never writes a null over a value."""
        import pandas as pd

        rows = [dict(r, source=feed) for feed, rs in self.inp.bronze[c].items() for r in rs]
        bronze = pd.DataFrame(rows, columns=["station_id", "pollutant", "value", "timestamp", "source"])
        cursors = pd.DataFrame(
            [(k[0], k[1], v) for k, v in model["cursors"].items()],
            columns=["station_id", "pollutant", "ts"],
        ).astype(str)
        self.con.register("bronze", bronze)
        self.con.register("cursors", cursors)
        expected = self.con.execute(_EXPECTED_PAYLOAD_SQL).fetchall()
        pending = self.con.execute(_PENDING_CURSORS_SQL).fetchall()
        problems = []

        got = []
        for r in pq.read_table(os.path.join(sink, f"cycle={c}")).column("value").to_pylist():
            d = json.loads(r)
            got.append((d.get("station_id"), d.get("pollutant"), d.get("timestamp"), d.get("value")))
        want = [tuple(r) for r in expected]
        if sorted(got, key=repr) != sorted(want, key=repr):
            problems.append(f"payload differs: {len(got)} rows vs {len(want)} expected")
        model["emitted"] += want
        self.payload_rows.append(len(got))
        self.pass_num += self.con.execute(_FRESH_COUNT_SQL).fetchone()[0]
        self.pass_den += len(bronze)

        for sid, pol, ts in pending:
            old = model["cursors"].get((sid, pol))
            model["cursors"][(sid, pol)] = ts if old is None or ts > old else old
        with sqlite3.connect(db) as con:
            stored = {
                (s, p): ts for s, p, ts in con.execute(
                    "SELECT station_id, pollutant, last_observed_at FROM ingestion_cursors "
                    "WHERE source = ?", (CURSOR_SOURCE,))
            }
            stations = {r[0]: r[1:] for r in con.execute(
                "SELECT station_id, source, country, city, location_name, lat, lon FROM stations")}
        for key, ts in model.get("stored", {}).items():
            if stored.get(key, "") < ts:
                problems.append(f"cursor {key} moved backwards")
        model["stored"] = stored
        if stored != model["cursors"]:
            problems.append("committed cursors differ from the model")

        for sid, *vals in self.inp.catalog[c]:
            old = model["stations"].get(sid)
            if old is None:
                model["stations"][sid] = tuple(vals)
            else:
                merged = [v if v is not None else o for v, o in zip(vals[1:], old[1:])]
                model["stations"][sid] = (old[0], *merged)
        if stations != model["stations"]:
            problems.append("station catalog differs from the COALESCE model")

        if kept is not None:
            ts = sorted(r[2] for r in model["emitted"] if r[2] is not None)
            cutoff = np.datetime64(ts[-1].rstrip("Z")) - np.timedelta64(7, "D")
            n_keep = sum(np.datetime64(t.rstrip("Z")) >= cutoff for t in ts)
            if kept.count() != n_keep:
                problems.append("housekeeping kept a different row count")
        return problems

    def cycle_probes(self, c, bronze, cursors, kept) -> None:
        """Traced run: the layers of one cycle, each materialized alone."""
        from airquality_data_pipeline_spark import io
        from airquality_data_pipeline_spark.operators import cursor, dedup, merge
        from airquality_data_pipeline_spark.plans import jobs
        from airquality_data_pipeline_spark.sources import rest

        def rec(metric, make_df):
            self.probe(metric, make_df)
            self.samples.setdefault(metric, []).append(self.layer.pop(metric))

        rec("sources.rest_read_s", lambda: bronze)
        rec(
            "plans.silver_measurements_s",
            lambda: jobs.measurements_job(bronze, self.stations, cursors).payload,
        )
        rec(
            "operators.cursor.incremental_filter_s",
            lambda: cursor.incremental_filter(bronze, cursors)[0],
        )
        rec(
            "operators.dedup.first_wins_dedup_s",
            lambda: dedup.first_wins_dedup(
                bronze, ["station_id", "pollutant", "timestamp"], ["source"]
            ),
        )
        if kept is not None:
            incoming = self.b.spark.createDataFrame(self.inp.catalog[c], io.STATION_SCHEMA)
            rec(
                "operators.merge.coalesce_merge_s",
                lambda: merge.coalesce_merge(self.stations, incoming, key="station_id"),
            )
            rec(
                "operators.merge.retention_filter_s",
                lambda: merge.retention_filter(kept.select("observed_at"), "observed_at", 7),
            )
        # requests the replay transport serves: each page shard of a
        # reader runs the paginated fetch loop over its own page range
        calls = []
        for feed, rows in self.inp.bronze[c].items():
            opts = feed_options(feed, rows, self.b.cores)
            reader = rest.RestMeasurementsReader(opts)

            def counting(url, params, served=reader.transport):
                calls.append(1)
                return served(url, params)

            for part in reader.partitions():
                cfg = rest.RestSourceConfig(
                    base_url=opts["base_url"], max_pages=part.last_page,
                    request_budget=int(opts["request_budget"]),
                )
                list(rest.fetch_paginated(cfg, counting, first_page=part.first_page))
        self.rest_requests.append(len(calls))

    def probes(self) -> None:
        for metric, vals in self.samples.items():
            self.layer[metric] = statistics.median(vals)
        spans = self.b.tracer.spans
        for name in ("plans.payload_write", "streaming.sinks.commit_cursor_batch",
                     "streaming.sinks.upsert_catalog_batch"):
            self.layer[name + "_s"] = median_self_time(spans, name)
        self.layer["sources.rest_requests"] = statistics.median(self.rest_requests)
        self.layer["plans.payload_rows"] = statistics.median(self.payload_rows)
        self.layer["operators.cursor.pass_ratio"] = ratio(self.pass_num, self.pass_den)
        self.layer.update(self.drain.run())

    def write_amp(self) -> float:
        return self.written / self.inp.input_bytes


# =============================================================================
# streaming drain: the streaming layer, measured in the traced etl_cycles run
# =============================================================================

WATERMARK_US = 30 * 60 * 1_000_000


class ProgressCollector:
    """Collects the progress of every streaming query, including the one
    foreach_batch_cursor_commit starts without handing it back."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with collector.lock:
                    collector.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with collector.lock:
                    collector.terminated += 1

        self.listener = Listener()
        self.lock = threading.Lock()
        self.progress = []
        self.terminated = 0

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for the n-th end."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= n:
                    return
            time.sleep(0.01)
        raise TimeoutError("streaming query end event not delivered")


class StreamDrain:
    """availableNow drains, maxFilesPerTrigger=1, of seeded event files
    through watermark_dedup, tumbling_counts, cursor_filter_stream and
    foreach_batch_cursor_commit. Each drain is checked against its batch
    twin. The traced etl_cycles run measures the streaming layer with it."""

    files = 3

    def __init__(self, wl: Workload):
        self.wl, self.b = wl, wl.b
        self.src = self.b.subdir("events")
        self.paths = inputs.event_files(self.src, self.b.seed, self.files)
        self.input_bytes = sum(os.path.getsize(p) for p in self.paths)
        self.model = stream_model(self.paths)

    def stream(self):
        from pyspark.sql import functions as F

        from airquality_data_pipeline_spark.streaming import jobs

        return (
            self.b.spark.readStream.schema(jobs.EVENTS_TS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    @staticmethod
    def start(df, out: str):
        return (
            df.writeStream.format("parquet")
            .option("path", os.path.join(out, "data"))
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def run(self) -> dict[str, float]:
        """Drain the files through each job; the streaming.* metrics."""
        from airquality_data_pipeline_spark.streaming import jobs, stateful

        col = ProgressCollector()
        self.b.spark.streams.addListener(col.listener)
        state = self.b.subdir("stream")
        store: dict = {}
        batches = []
        for qname, job in (
            ("watermark_dedup", jobs.watermark_dedup),
            ("tumbling_counts", jobs.tumbling_counts),
            ("cursor_filter_stream", stateful.cursor_filter_stream),
            ("foreach_batch_cursor_commit", None),
        ):
            out = self.b.subdir(state, qname)
            with col.lock:
                seen, ended = len(col.progress), col.terminated
            self.b.phase("probe")
            self.wl.attempted += 1
            if job is None:
                jobs.foreach_batch_cursor_commit(self.stream(), store)
            else:
                self.start(job(self.stream()), out).awaitTermination()
            col.wait_terminated(ended + 1)
            with col.lock:
                mine = col.progress[seen:]
            batches.append(mine)
            self.b.phase("check")
            self.wl.check(self.check_query(qname, out, store), qname)
        self.b.spark.streams.removeListener(col.listener)
        flat = [p for qb in batches for p in qb]
        return {
            "streaming.trigger_ms": float(statistics.median(
                p.durationMs.get("triggerExecution", 0) for p in flat)),
            "streaming.add_batch_ms": float(statistics.median(
                p.durationMs["addBatch"] for p in flat if "addBatch" in p.durationMs)),
            # state held after each job's last batch
            "streaming.state_rows": float(sum(
                s.numRowsTotal for qb in batches if qb for s in qb[-1].stateOperators)),
            "streaming.state_bytes": float(sum(
                s.memoryUsedBytes for qb in batches if qb for s in qb[-1].stateOperators)),
            "streaming.late_rows_dropped": float(sum(
                s.numRowsDroppedByWatermark for p in flat for s in p.stateOperators)),
            "streaming.write_amp": dir_bytes(state) / self.input_bytes,
        }

    def check_query(self, qname: str, out: str, store: dict) -> list[str]:
        """Against the batch twins, computed from the same files."""
        m = self.model
        if qname == "foreach_batch_cursor_commit":
            got = {k: np.datetime64(v, "us") for k, v in store.items()}
            return [] if got == m["last_ts"] else ["committed cursors differ from batch max"]
        t = pq.read_table(os.path.join(out, "data")).to_pandas()
        if qname == "watermark_dedup":
            n = len(t)
            ok = m["distinct_keys_on_time"] <= n <= m["on_time_rows"]
            ok = ok and set(t["event_id"]) <= m["event_ids"]
            return [] if ok else [f"{n} rows outside [{m['distinct_keys_on_time']}, {m['on_time_rows']}]"]
        if qname == "tumbling_counts":
            got = {
                (np.datetime64(w, "us"), e): n
                for w, e, n in zip(t["window_start"], t["event_type"], t["n_events"])
            }
            bad = [k for k, n in got.items() if m["window_counts"].get(k) != n]
            return [f"{len(bad)} windows differ"] if bad or not got else []
        got = sorted(t["event_id"].tolist())
        return [] if got == m["cursor_ids"] else [f"{len(got)} ids vs {len(m['cursor_ids'])}"]


def stream_model(paths: list[str]) -> dict:
    """Batch twins of the four streaming jobs, one file per micro-batch.
    Stateful operators drop late rows against the previous batch's
    watermark, which is the max event time of all batches before that,
    minus 30 minutes: dedup drops a row whose event time is below it, the
    window aggregate one whose window ended at or below it."""
    import pandas as pd

    frames, batch_max = [], []
    delay = pd.Timedelta(microseconds=WATERMARK_US)
    for i, p in enumerate(paths):
        t = pq.read_table(p).to_pandas()
        t["ts"] = t["ts"].astype("datetime64[us]")
        t["batch"] = i
        t["window"] = t["ts"].dt.floor("h")
        if i >= 2:
            wm = max(batch_max[: i - 1]) - delay
            t["late"] = t["ts"] < wm
            t["late_window"] = t["window"] + pd.Timedelta(hours=1) <= wm
        else:
            t["late"] = t["late_window"] = False
        batch_max.append(t["ts"].max())
        frames.append(t)
    ev = pd.concat(frames, ignore_index=True)
    on_time = ev[~ev["late"]]
    minute = on_time["ts"].dt.floor("min")
    agg = ev[~ev["late_window"]]
    counts = agg.groupby([agg["window"], agg["event_type"]]).size()
    # per-key high-watermark cursor, advanced after each batch
    cursor: dict = {}
    kept = []
    for i in range(len(paths)):
        b = ev[ev["batch"] == i]
        for key, g in b.groupby(["user_id", "event_type"]):
            c = cursor.get(key)
            sel = g if c is None else g[g["ts"] > c]
            kept += sel["event_id"].tolist()
            m = g["ts"].max()
            cursor[key] = m if c is None or m > c else c
    last = ev.groupby(["user_id", "event_type"])["ts"].max()
    return {
        "on_time_rows": len(on_time),
        "distinct_keys_on_time": len(set(zip(on_time["user_id"], on_time["event_type"], minute))),
        "event_ids": set(ev["event_id"]),
        "window_counts": {(np.datetime64(w, "us"), e): n for (w, e), n in counts.items()},
        "cursor_ids": sorted(kept),
        "last_ts": {(int(u), e): np.datetime64(v, "us") for (u, e), v in last.items()},
    }


WORKLOADS = {w.name: w for w in (EtlCycles, Curation)}
