"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints each metric by name and unit,
then, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a traced pass that follows an untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.harness import Bench, since_process_start_s, tree_cpu_s  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# the traced run leaves its spans here, one file per workload and seed
SPANS_DIR = ".perfbench_spans"

# units of the metrics printed beside the BENCHMARK.json ones
PRINTED_UNITS = {
    "setup_wall_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "op_cpu_tail_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB", "write_amp": "ratio",
}


def timed_pass(wl, traced: bool) -> tuple[list[float], list[float], list[float]]:
    """All rounds of one pass: operation durations, and per round its
    summed wall and CPU seconds."""
    samples, walls, cpus = [], [], []
    for _ in range(wl.rounds(traced)):
        first = len(wl.op_cpu)
        ops = wl.run_round(traced)
        samples += ops
        walls.append(sum(ops))
        cpus.append(sum(wl.op_cpu[first:]))
    return samples, walls, cpus


def start(bench: Bench, wl, event_log: bool = False) -> tuple[float, float]:
    """(Re)start the session and set the workload up: (get_spark s, setup s)."""
    t0 = time.perf_counter()
    bench.stop_session()
    bench.start_session(event_log=event_log)
    t1 = time.perf_counter()
    wl.setup()
    return t1 - t0, time.perf_counter() - t1


def run(args) -> dict:
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        wl = WORKLOADS[args.workload](bench)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        wl.make_inputs()
        gen_s, gen_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        # the cold set-up: process start to the first timed operation,
        # input generation excluded
        start(bench, wl)
        setup_cpu, setup_wall = tree_cpu_s() - gen_cpu, since_process_start_s() - gen_s
        t_setup = time.perf_counter()
        samples, walls, cpus = timed_pass(wl, traced=False)
        t_pass = time.perf_counter()
        m = {}
        m["setup_s"] = setup_cpu
        m["setup_wall_s"] = setup_wall
        m["wall_s"] = statistics.median(walls)
        m["op_p50_s"] = statistics.median(samples)
        m["op_tail_s"], pct = tracing.tail(samples)
        m["op_p50_less_steal_s"] = statistics.median(wl.op_net)
        m["cpu_s"] = statistics.median(cpus)
        m["op_cpu_p50_s"] = statistics.median(wl.op_cpu)
        m["op_cpu_tail_s"], _ = tracing.tail(wl.op_cpu)
        m["failed_frac"] = wl.failed / max(wl.attempted, 1)
        m["peak_rss_mb"] = bench.peak_rss_mb()
        amp = wl.write_amp()
        if amp is not None:
            m["write_amp"] = amp
        print(f"workload {args.workload} seed {args.seed} local[{bench.cores}] "
              f"driver heap {bench.heap_mb} MB, {len(walls)} rounds, "
              f"{len(samples)} operations")
        units = {**PRINTED_UNITS, **END_TO_END}
        for k, v in m.items():
            extra = f"  (p{pct:.1f} of {len(samples)} samples)" if "tail" in k else ""
            print(f"{k} {v:.6g} {units[k]}{extra}")
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
        if args.trace:
            metrics = traced(bench, wl, samples)
        print(f"timing: inputs {gen_s:.1f} s, set-up {setup_wall:.1f} s, "
              f"pass {t_pass - t_setup:.1f} s, rest {time.perf_counter() - t_pass:.1f} s",
              file=sys.stderr)
        return {"correct": wl.failed == 0, "attempted": wl.attempted,
                "failed": wl.failed, "metrics": metrics}
    finally:
        bench.cleanup()


def traced(bench: Bench, wl, untraced: list[float]) -> dict:
    """Restart with the event log on, run one round with spans, then the
    per-layer probes; reduce spans and the event log to PER_LAYER. The
    tracing overhead is the traced round's median operation time minus
    the untraced pass's, both without their first operation: the
    untraced pass's first one is the process's coldest."""
    get_spark_s, warmup_s = start(bench, wl, event_log=True)
    bench.tracer.enabled = True
    samples, walls, _ = timed_pass(wl, traced=True)
    wl.probes()
    spans = bench.tracer.spans
    layer = dict(wl.layer)
    layer["session.get_spark_s"] = get_spark_s
    layer["session.warmup_s"] = warmup_s
    layer["queries.build_s"] = tracing.median_self_time(spans, "queries.build")
    layer["queries.exec_s"] = tracing.median_self_time(spans, "queries.exec")
    layer["write_amp"] = wl.write_amp() or 0.0
    layer["trace.wall_s"] = statistics.median(walls)
    layer["trace.overhead_s"] = statistics.median(samples[1:]) - statistics.median(untraced[1:])
    os.makedirs(SPANS_DIR, exist_ok=True)
    bench.tracer.write(os.path.join(SPANS_DIR, f"{wl.name}-seed{bench.seed}.json"))
    bench.stop_session()  # completes the event logs
    op_wall = sum(samples)
    layer.update(tracing.reduce_event_log(bench.event_log_dir, op_wall, bench.cores))
    out = {}
    for name, unit in PER_LAYER.items():
        out[name] = {"value": float(layer.get(name, 0.0)), "unit": unit}
        print(f"{name} {out[name]['value']:.6g} {unit}")
    return out


def load_spec() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and the per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


END_TO_END, PER_LAYER = load_spec()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    os.environ["TZ"] = "UTC"
    time.tzset()
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
