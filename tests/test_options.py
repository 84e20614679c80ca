"""Every defaulted parameter of the package (outside the query catalog)
is either set by some caller outside tests/, or kept for a stated
reason. A parameter no caller sets is a configuration nothing runs: make
its default a constant instead.

Pure `ast`, no Spark. A call sets a parameter when it passes it by
keyword or by position. A call that only forwards one of the enclosing
function's own parameters counts only once that parameter is itself
set, resolved to a fixed point. Callees are matched by name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "airquality_data_pipeline_spark"
CALLERS = [
    *sorted(PKG.rglob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# (module under the package, function, parameter) -> why it stays
KEEP = {
    ("streaming/sinks.py", "load_cursors", "connect"): "deployment: cursor store",
    ("streaming/sinks.py", "commit_cursor_batch", "connect"): "deployment: cursor store",
    ("streaming/sinks.py", "upsert_catalog_batch", "connect"): "deployment: catalog store",
    ("sources/rest.py", "requests_transport_factory", "timeout_s"): "deployment: HTTP timeout",
    ("sources/rest.py", "requests_transport_factory", "rate_limit_statuses"):
        "deployment: the API's throttle status codes",
    ("streaming/jobs.py", "kafka_writer_config", "security_protocol"): "deployment: broker",
    ("streaming/jobs.py", "kafka_writer_config", "sasl_mechanism"): "deployment: broker",
    ("streaming/jobs.py", "kafka_writer_config", "sasl_username"): "deployment: broker",
    ("streaming/jobs.py", "kafka_writer_config", "sasl_password"): "deployment: broker",
    ("session.py", "cluster_conf", "executors"): "deployment: cluster size",
    ("session.py", "cluster_conf", "cores_per_executor"): "deployment: cluster size",
    ("operators/merge.py", "retention_filter", "reference_time"):
        "the reference's now() retention cut-off",
    ("sources/rest.py", "fetch_paginated", "params"): "the per-request API parameters",
    ("operators/graph.py", "connected_components", "max_iter"):
        "iteration bound; tests drive the not-converged warning",
    ("operators/graph.py", "connected_components_star", "max_iter"):
        "iteration bound; tests drive the not-converged warning",
    ("streaming/jobs.py", "time_shifted", "window_durations"):
        "the window-alignment check; tests drive it",
    ("operators/windows.py", "global_row_number", "num_partitions"): "tests vary it",
    ("operators/windows.py", "global_ntile", "num_partitions"): "tests vary it",
    ("streaming/jobs.py", "read_documents_stream", "copies"): "tests vary it",
    ("streaming/jobs.py", "run_to_memory", "output_mode"): "tests vary it",
    ("plans/jobs.py", "synthetic_cycle_job", "n"): "tests vary it",
    ("operators/lakehouse.py", "merge_into_partitioned", "rule"): "tests vary it",
    ("sources/synthetic.py", "synthetic_measurements", "n"):
        "synthetic_cycle_job forwards its n",
}


def _defaulted(fn: ast.FunctionDef):
    """(name, position or None for keyword-only) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _declared():
    decls = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "queries":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, idx in _defaulted(node):
                    decls[(rel.as_posix(), node.name, name)] = idx
    return decls


def _calls():
    """(callee name, positional sources, keyword sources) per call; a
    source is the enclosing function's parameter the argument forwards
    verbatim, or None for any other expression."""
    calls = []

    def visit(node, mod, encl):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            encl = (mod, node.name, params)
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)

            def src(v):
                if encl and isinstance(v, ast.Name) and v.id in encl[2]:
                    return (encl[0], encl[1], v.id)
                return None

            pos = [src(a) for a in node.args if not isinstance(a, ast.Starred)]
            kw = {k.arg: src(k.value) for k in node.keywords if k.arg}
            calls.append((name, pos, kw))
        for child in ast.iter_child_nodes(node):
            visit(child, mod, encl)

    for path in CALLERS:
        rel = path.relative_to(PKG).as_posix() if PKG in path.parents else None
        visit(ast.parse(path.read_text()), rel, None)
    return calls


def never_set():
    decls, calls = _declared(), _calls()
    by_name = {}
    for name, pos, kw in calls:
        by_name.setdefault(name, []).append((pos, kw))
    is_set: set = set()
    while True:
        grown = set(is_set)
        for key, idx in decls.items():
            _, fn, param = key
            for pos, kw in by_name.get(fn, ()):
                srcs = [kw[param]] if param in kw else []
                if idx is not None and idx < len(pos):
                    srcs.append(pos[idx])
                if any(s is None or s not in decls or s in is_set for s in srcs):
                    grown.add(key)
                    break
        if grown == is_set:
            return decls, sorted(set(decls) - is_set)
        is_set = grown


def test_every_defaulted_parameter_is_set_or_kept():
    _, unset = never_set()
    unexplained = [k for k in unset if k not in KEEP]
    assert not unexplained, (
        f"{len(unexplained)} defaulted parameters no caller outside tests/ "
        "sets; make each default a constant, or add it to KEEP with a "
        "reason:\n" + "\n".join(f"  {m}: {f}({p})" for m, f, p in unexplained)
    )


def test_keep_lists_only_unset_parameters():
    decls, unset = never_set()
    stale = [k for k in KEEP if k not in decls or k not in unset]
    assert not stale, f"KEEP entries that are gone or now set by a caller: {stale}"
