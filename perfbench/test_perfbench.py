"""The benchmark's own tests; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, tracing  # noqa: E402
from perfbench.workloads import EtlCycles  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        inputs.catalog_fixture(os.path.join(d, "fixture"), seed, 1.0)
        inputs.event_files(os.path.join(d, "events"), seed, 3)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)
    assert json.dumps(inputs.etl_inputs(5, 3).__dict__) == json.dumps(inputs.etl_inputs(5, 3).__dict__)
    assert inputs.etl_inputs(5, 3).bronze != inputs.etl_inputs(6, 3).bronze


def test_etl_inputs_carry_the_edge_rows():
    inp = inputs.etl_inputs(1, 2)
    rows = [r for feed in inp.bronze[1].values() for r in feed]
    assert any(r["station_id"] is None for r in rows)
    assert any(r["timestamp"] is None for r in rows)
    assert any(r["value"] is None for r in rows)
    keys = [(r["station_id"], r["pollutant"], r["timestamp"]) for r in rows]
    assert len(set(keys)) < len(keys)  # duplicate composite keys
    older = {r["timestamp"] for feed in inp.bronze[0].values() for r in feed if r["timestamp"]}
    assert any(r["timestamp"] in older for r in rows)  # re-deliveries


def test_etl_requests_follow_the_reference_fan_out():
    """DE: one request per catalog station and component; NL: the
    280-request budget. One request is one page."""
    inp = inputs.etl_inputs(1, 1)
    de_stations = [s for s in inp.stations if s[2] == "DE"]
    pages = {f: len(rows) / inputs.ROWS_PER_REQUEST for f, rows in inp.bronze[0].items()}
    assert pages == {"de": 4 * len(de_stations), "nl": inputs.NL_REQUEST_BUDGET}


def test_housekeeping_cycle_lies_past_the_first_cycles_retention():
    """The 7-day retention of the housekeeping cycle must drop rows, so a
    housekeeping job that kept everything would fail its check."""
    wl = EtlCycles
    hk = [c for c in range(wl.cycles) if c % wl.housekeeping_every == wl.housekeeping_every - 1]
    assert hk
    inp = inputs.etl_inputs(1, wl.cycles)

    def ts(c):
        return [r["timestamp"] for f in inp.bronze[c].values() for r in f if r["timestamp"]]

    newest = max(ts(hk[0]))
    cutoff = str(np.datetime64(newest.rstrip("Z")) - np.timedelta64(7, "D"))
    assert max(ts(0)).rstrip("Z") < cutoff


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "op": 0, "start": start, "end": end}


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),    # overlaps span 1: covered once
        _span(3, 6.0, 12.0, 0),   # runs past its parent: clipped at 10
        _span(4, 1.5, 2.5, 1),    # grandchild: not the root's child
    ]
    st = tracing.self_times(spans)
    assert st[0] == 10.0 - (4.0 - 1.0) - (10.0 - 6.0)
    assert st[1] == 2.0 - 1.0
    assert st[2] == 2.0 and st[3] == 6.0 and st[4] == 1.0


def test_tracer_records_parents_and_nothing_when_disabled():
    tr = tracing.Tracer(True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
    off = tracing.Tracer(False)
    with off.span("a"):
        pass
    assert off.spans == []


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    value, pct = tracing.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 75.0
    assert tracing.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_event_log_reducer_counts_only_timed_jobs(tmp_path):
    def job(jid, stages, phase):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {tracing.PHASE_PROP: phase}}

    def task(sid, launch, finish, run_ms, gc=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor Deserialize Time": 0,
                                 "Result Serialization Time": 0, "JVM GC Time": gc,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                                 "Input Metrics": {"Bytes Read": 7}}}

    events = [job(0, [0], "build"), task(0, 0, 100, 80), task(0, 0, 300, 300, gc=50),
              job(1, [1], "check"), task(1, 0, 999, 999),
              job(2, [2], "op"), task(2, 0, 100, 100)]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    c = tracing.reduce_event_log(str(tmp_path), op_wall_s=1.0, cores=4)
    assert c["spark.jobs"] == 2 and c["queries.build_jobs"] == 1
    assert c["spark.stages"] == 2 and c["spark.tasks"] == 3
    assert c["spark.scheduler_delay_s"] == 0.02
    assert c["spark.gc_s"] == 0.05
    assert c["spark.shuffle_write_bytes"] == 300 and c["io.input_bytes"] == 21
    assert c["spark.stage_skew"] == 300 / 200
    assert c["spark.task_busy_frac"] == 0.48 / 4


def test_every_metric_name_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layers = {m["name"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    source = "".join(
        open(os.path.join(HERE, f)).read() for f in ("run.py", "tracing.py", "workloads.py")
    )
    # run() fills m[...] with every end-to-end metric; the JSON carries
    # the declared ones, the others are printed only
    computed = set(re.findall(r'\bm\["([a-z0-9_]+)"\](?:, \w+)? =', open(os.path.join(HERE, "run.py")).read()))
    assert computed == set(run.END_TO_END) | set(run.PRINTED_UNITS)
    assert not set(run.END_TO_END) & set(run.PRINTED_UNITS)
    # every layer metric the code names literally is declared
    spans = set(re.findall(r'span\("([^"]+)"\)', source))
    named = set(re.findall(
        r'"((?:session|queries|spark|io|operators|sources|plans|streaming|trace)\.[a-z0-9_.]+)"',
        source,
    ))
    undeclared = named - spans - set(layers) - {"spark.run_s"}
    assert not undeclared, undeclared
