"""Rate-limited paginated REST source scaffold (SURVEY.md §2.1 S1-S6).

The reference polls three national air-quality APIs with pagination,
request budgets and 429 backoff (app/main.py:416, 444-487, 472-481).
On Spark 4 the idiomatic home for that logic is a Python DataSource
(spark.dataSource.register): the driver plans one partition per page
range / station shard, executors fetch their shard, and source options
carry the throttles (the maxOffsetsPerTrigger analog).

This module ships the full planning + partitioning + parsing shell with
the transport injectable: tests drive it with a fake transport; live use
plugs `requests` in. No network call happens unless a transport is
provided (this environment is offline).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Transport: (url, params) -> parsed JSON body. Injectable for tests;
# a live deployment passes a requests-backed callable with timeouts.
Transport = Callable[[str, dict], dict]


@dataclass
class RestSourceConfig:
    base_url: str
    page_param: str = "page"
    max_pages: int = 10
    request_budget: int = 280        # reference app/main.py:416
    max_retries: int = 5             # reference app/main.py:472-481
    backoff_step_s: float = 0.5
    inter_request_sleep_s: float = 0.0


def fetch_paginated(
    cfg: RestSourceConfig,
    transport: Transport,
    params: dict | None = None,
    first_page: int = 1,
) -> Iterator[dict]:
    """Paginated fetch loop with request budget + incremental backoff —
    the executor-side core of the DataSource. Yields raw row dicts.

    Budget semantics match the reference (app/main.py:465-470): when the
    request budget runs out, iteration STOPS and already-fetched rows
    stand — raising here would fail the Spark task and discard them.
    Every transport attempt (including 429-rejected ones) counts against
    the budget, mirroring the reference's per-request counter."""
    spent = 0
    for page in range(first_page, cfg.max_pages + 1):
        if spent >= cfg.request_budget:
            return  # partial results; reference logs-and-returns here
        body = None
        for attempt in range(cfg.max_retries + 1):
            try:
                spent += 1
                body = transport(
                    cfg.base_url, {**(params or {}), cfg.page_param: page}
                )
                break
            except RateLimited:
                if attempt >= cfg.max_retries:
                    raise RateLimited(f"retries exhausted on page {page}")
                if spent >= cfg.request_budget:
                    return  # budget gone mid-retry: keep what we have
                time.sleep(cfg.backoff_step_s * (attempt + 1))
        rows = body.get("data", [])
        yield from rows
        if cfg.inter_request_sleep_s:
            time.sleep(cfg.inter_request_sleep_s)
        if not rows or page >= body.get("last_page", cfg.max_pages):
            break


class RateLimited(RuntimeError):
    """HTTP 429 analog raised by the transport."""


class _PagePartition(InputPartition):
    def __init__(self, first_page: int, last_page: int, request_budget: int):
        self.first_page = first_page
        self.last_page = last_page
        self.request_budget = request_budget


class RestMeasurementsReader(DataSourceReader):
    """Plans one partition per page shard so pages fetch in
    parallel, each shard fetching only its own page range.

    The whole Python DataSource (planning included) runs in worker
    processes, so a driver-side registry cannot be seen here. The
    transport arrives through the string-only options channel as
    either:
      - 'transport_pickle': base64(cloudpickle(fn)) — see
        transport_option(); closures (recorded fixtures) ship fine;
      - 'transport_factory': 'module:attr' imported at read time —
        for live deployments (e.g. a requests-backed factory)."""

    def __init__(self, options: dict):
        self.options = dict(options)  # each read task unpickles the reader
        pickled = self.options.pop("transport_pickle", "")
        factory = options.get("transport_factory", "")
        if pickled:
            import base64

            from pyspark import cloudpickle

            self.transport = cloudpickle.loads(base64.b64decode(pickled))
        elif factory:
            import importlib

            mod_name, attr = factory.split(":")
            self.transport = getattr(importlib.import_module(mod_name), attr)()
        else:
            raise NotImplementedError(
                "offline environment: pass option('transport_pickle', "
                "rest.transport_option(fn)) or option('transport_factory', "
                "'module:attr')"
            )

    def partitions(self):
        """Page shards. Each gets a share of the read's request budget in
        proportion to its pages; the shares sum to request_budget. No
        pages (max_pages < 1) plan no shard."""
        max_pages = int(self.options.get("max_pages", "10"))
        shards = int(self.options.get("num_shards", "4"))
        if shards < 1:
            raise ValueError(f"num_shards must be >= 1, got {shards}")
        budget = int(self.options.get("request_budget", "280"))
        per = max(max_pages // shards, 1)
        firsts = [i * per + 1 for i in range(shards) if i * per + 1 <= max_pages]
        # remainder pages go to the last shard
        lasts = [first - 1 for first in firsts[1:]] + [max_pages]
        return [
            _PagePartition(
                first, last, budget * last // max_pages - budget * (first - 1) // max_pages
            )
            for first, last in zip(firsts, lasts)
        ]

    def read(self, partition):
        if partition is None:
            # Spark reads once with None when partitions() plans none
            return
        opt = self.options
        cfg = RestSourceConfig(
            base_url=opt.get("base_url", ""),
            page_param=opt.get("page_param", "page"),
            max_pages=partition.last_page,
            request_budget=partition.request_budget,
            max_retries=int(opt.get("max_retries", "5")),
            backoff_step_s=float(opt.get("backoff_step_s", "0.5")),
            inter_request_sleep_s=float(
                opt.get("inter_request_sleep_s", "0.0")
            ),
        )
        for row in fetch_paginated(
            cfg, self.transport, first_page=partition.first_page
        ):
            yield (
                row.get("station_id"),
                row.get("pollutant"),
                row.get("value"),
                row.get("timestamp"),
            )


class RestMeasurementsSource(DataSource):
    """spark.dataSource.register(RestMeasurementsSource); then
    spark.read.format('rest_measurements').option(...).load()."""

    @classmethod
    def name(cls):
        return "rest_measurements"

    def schema(self):
        # a StructType, not DDL: the JVM reads it as JSON, while the first
        # DDL parse in a JVM sets up the SQL parser (0.3-0.7 s)
        return T.StructType(
            [
                T.StructField("station_id", T.StringType()),
                T.StructField("pollutant", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("timestamp", T.StringType()),
            ]
        )

    def reader(self, schema):
        return RestMeasurementsReader(self.options)


def transport_option(fn: Transport) -> str:
    """Serialize a transport callable for the string-only DataSource
    options channel (cloudpickle + base64)."""
    import base64

    from pyspark import cloudpickle

    return base64.b64encode(cloudpickle.dumps(fn)).decode("ascii")


def requests_transport_factory(
    timeout_s: float = 20.0, rate_limit_statuses: tuple = (429,)
) -> Transport:
    """Live HTTP transport backed by `requests` — the production analog
    of the reference's per-API fetch helpers (app/main.py:341, 456, 857:
    10-20 s timeouts; 429 detected and retried by the caller's backoff
    loop, app/main.py:472-481).

    Use via the import-at-read-time channel so worker processes build
    their own Session (connections are not picklable):

        spark.read.format("rest_measurements")
             .option("transport_factory",
                     "airquality_data_pipeline_spark.sources.rest:"
                     "requests_transport_factory")
             .option("base_url", ...)

    A 429 (or configured status) raises RateLimited, which
    fetch_paginated converts into incremental backoff; other HTTP errors
    raise (fail the task → Spark retries the whole partition, which is
    the right at-least-once granularity for an idempotent GET)."""
    import requests

    session = requests.Session()

    def transport(url: str, params: dict) -> dict:
        resp = session.get(url, params=params, timeout=timeout_s)
        if resp.status_code in rate_limit_statuses:
            raise RateLimited(f"{resp.status_code} from {url}")
        resp.raise_for_status()
        return resp.json()

    return transport


def fake_transport_from_rows(rows: list[dict], page_size: int = 50) -> Transport:
    """Build a deterministic in-memory transport serving `rows` in pages
    — the offline stand-in for the three national APIs."""
    def transport(url: str, params: dict) -> dict:
        page = int(params.get("page", 1))
        start = (page - 1) * page_size
        chunk = rows[start : start + page_size]
        last = (len(rows) + page_size - 1) // page_size
        return json.loads(json.dumps({"data": chunk, "last_page": last}))

    return transport
