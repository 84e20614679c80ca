"""Seeded input generators owned by the benchmark.

The program under test only ever sees what these functions write: the
same seed yields byte-identical files. Nothing here imports Spark.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- catalog fixtures (curation / analytics) --------------------------------


def catalog_fixture(outdir: str, seed: int, scale: float) -> str:
    """The repo's alternative-seed fixture generator, called unmodified.
    Kept well below scale 50, where the planted near-dup mass of the
    dedup queries turns quadratic."""
    sys.path.insert(0, os.path.join(REPO_ROOT, "tests", "robustness"))
    try:
        import gen_alt_fixture
    finally:
        sys.path.pop(0)
    gen_alt_fixture.generate(outdir, seed, scale)
    return outdir


# --- etl_cycles: bronze feeds served by the REST replay transport -----------
#
# Request counts follow the reference's per-cycle fan-out as BASELINE.md
# records it: DE makes one request per catalog station and component
# (PM10, PM2.5, NO2, O3; BASELINE.md line 22) and NL spends its budget of
# 280 requests (line 16). One request is one page of the replay transport.
# The reference documents neither its catalog sizes nor the readings per
# request nor the edge-row shares, so those below are assumptions.

DE_COMPONENTS = ("PM10", "PM2.5", "NO2", "O3")
# NL spellings the silver plan normalizes, plus black carbon, which its
# pollutant allowlist drops
NL_COMPONENTS = ("pm10", "pm25", "no2", " o3 ", "bc")
NL_REQUEST_BUDGET = 280
# assumption: a national catalog holds several hundred stations
DE_STATIONS = 100
NL_STATIONS = NL_REQUEST_BUDGET // len(NL_COMPONENTS)
# assumption: each request returns the key's last four hourly readings
ROWS_PER_REQUEST = 4
# assumptions: shares of readings with a null value, and of requests
# whose oldest reading is replaced by a re-delivery older than the
# committed cursor or by a duplicate of another reading
NULL_VALUE_SHARE = 0.05
REDELIVERY_SHARE = 0.10
DUPLICATE_SHARE = 0.05
# NL requests whose oldest reading is replaced by a malformed row
NULL_KEY_ROWS, NULL_TS_ROWS = 4, 1

_BASE_DAY = np.datetime64("2024-03-01T00:00:00")
# cycles stand eight days apart, so the 7-day retention of a housekeeping
# run on the second cycle drops the rows of the first
CYCLE_SPAN = np.timedelta64(8, "D")


@dataclass
class EtlInputs:
    # cycle -> feed ("de", "nl") -> the rows its requests return, one page
    # of ROWS_PER_REQUEST rows per request, in request order
    bronze: list[dict[str, list[dict]]]
    # cycle -> station catalog rows delivered that cycle (upsert input)
    catalog: list[list[tuple]]
    # the full station dimension, for the enrichment join
    stations: list[tuple]
    input_bytes: int


def _iso(t: np.datetime64) -> str:
    return str(t.astype("datetime64[s]")) + "Z"


def etl_inputs(seed: int, cycles: int) -> EtlInputs:
    """Per cycle one DE and one NL feed with the FIXTURES.md §B edge rows:
    re-deliveries older than the committed cursor, exact duplicate
    composite keys, null values and null-key / null-timestamp malformed
    rows."""
    rng = np.random.default_rng(seed)
    stations = []
    feeds = {}
    for feed, prefix, n, components in (
        ("de", "DEBB", DE_STATIONS, DE_COMPONENTS),
        ("nl", "NL10", NL_STATIONS, NL_COMPONENTS),
    ):
        country = feed.upper()
        for i in range(n):
            sid = f"{prefix}{i:03d}"
            stations.append(
                (sid, feed, country, f"city_{country}_{i % 4}", f"loc_{sid}",
                 round(float(rng.uniform(47, 55)), 4), round(float(rng.uniform(3, 15)), 4))
            )
            feeds.setdefault(feed, []).extend((sid, p) for p in components)
    bronze: list[dict[str, list[dict]]] = []
    catalog: list[list[tuple]] = []
    for c in range(cycles):
        day0 = _BASE_DAY + c * CYCLE_SPAN
        cycle = {}
        for feed, requests in feeds.items():
            pages = []
            for sid, pol in requests:
                page = [{
                    "station_id": sid,
                    "pollutant": pol,
                    "value": None if rng.random() < NULL_VALUE_SHARE
                    else round(float(rng.uniform(1, 90)), 2),
                    "timestamp": _iso(day0 + np.timedelta64(h, "h")),
                } for h in range(ROWS_PER_REQUEST)]
                u = rng.random()
                if c and u < REDELIVERY_SHARE:
                    # a reading the previous cycle delivered
                    prev = _BASE_DAY + (c - 1) * CYCLE_SPAN
                    h = int(rng.integers(ROWS_PER_REQUEST))
                    page[0] = dict(page[0], timestamp=_iso(prev + np.timedelta64(h, "h")))
                elif u < REDELIVERY_SHARE + DUPLICATE_SHARE:
                    page[0] = dict(page[1 + int(rng.integers(ROWS_PER_REQUEST - 1))])
                pages.append(page)
            if feed == "nl":
                at = rng.choice(len(pages), NULL_KEY_ROWS + NULL_TS_ROWS, replace=False)
                for j, p in enumerate(at):
                    row = dict(pages[int(p)][0])
                    if j < NULL_KEY_ROWS:
                        row["station_id"] = None
                        # distinct times: no two malformed rows share a key
                        row["timestamp"] = _iso(day0 + np.timedelta64(j, "s"))
                    else:
                        row["timestamp"] = None
                    pages[int(p)][0] = row
            cycle[feed] = [row for page in pages for row in page]
        bronze.append(cycle)
        # catalog deliveries: a few stations with some attributes nulled,
        # which the COALESCE upsert must never write over
        cat = []
        for p in rng.choice(len(stations), 6, replace=False):
            sid, src, country, city, loc, lat, lon = stations[int(p)]
            if rng.random() < 0.5:
                city, lat = None, None
            else:
                loc = f"{loc}_v{c}"
            cat.append((sid, src, country, city, loc, lat, lon))
        catalog.append(cat)
    size = len(json.dumps(bronze).encode()) + len(json.dumps(catalog).encode())
    return EtlInputs(bronze=bronze, catalog=catalog, stations=stations, input_bytes=size)


# --- stream_ingest: event files drained one per micro-batch -----------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_STREAM_BASE = np.datetime64("2024-03-01T00:00:00", "us")


def event_files(
    outdir: str, seed: int, files: int, rows_per_file: int = 400, users: int = 40
) -> list[str]:
    """Write `files` parquet event files named in delivery order. Each
    file covers the next half hour of event time, with an out-of-order
    share (jitter inside the file), a late share (an hour or more behind,
    past the 30-minute watermark) and re-deliveries of earlier events."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    paths = []
    next_id = 0
    delivered: list[tuple] = []
    half_hour_us = 30 * 60 * 1_000_000
    for f in range(files):
        n_new = rows_per_file - rows_per_file // 20
        start = _STREAM_BASE + np.timedelta64(f * half_hour_us, "us")
        offs = np.sort(rng.integers(0, half_hour_us, n_new))
        # out of order: swap ~10% of offsets with a random neighbour
        swap = rng.random(n_new) < 0.10
        offs[swap] = rng.integers(0, half_hour_us, int(swap.sum()))
        # late: ~5% an hour or more behind this file's window
        late = rng.random(n_new) < 0.05
        offs[late] -= rng.integers(2 * half_hour_us, 4 * half_hour_us, int(late.sum()))
        rows = []
        for i in range(n_new):
            rows.append((
                next_id,
                start + np.timedelta64(int(offs[i]), "us"),
                int(rng.integers(users)),
                EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))],
                round(float(rng.uniform(0, 100)), 3),
                json.dumps({"k": int(rng.integers(100))}),
            ))
            next_id += 1
        if delivered:
            rows += [delivered[int(i)] for i in rng.integers(0, len(delivered), rows_per_file // 20)]
        delivered += rows
        cols = list(zip(*rows))
        table = pa.table({
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        })
        path = os.path.join(outdir, f"events_{f:04d}.parquet")
        pq.write_table(table, path)
        # the file source orders by modification time: make it strict
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        paths.append(path)
    return paths
