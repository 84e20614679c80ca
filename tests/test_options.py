"""Everything the package declares outside the query catalog is used by
something outside tests/, or kept for a stated reason.

- Parameters: every defaulted parameter is set by some caller, or kept.
  A parameter no caller sets is a configuration nothing runs: make its
  default a constant instead. A call sets a parameter when it passes it
  by keyword or by position. A call that only forwards one of the
  enclosing function's own parameters counts only once that parameter is
  itself set, resolved to a fixed point. Callees are matched by name.
- Symbols: every top-level function, class and constant is reachable
  from the roots (the query catalog, perfbench/, bench.py,
  __spark_entry__.py and `_startup/sitecustomize.py`, the start-up hook
  the interpreter imports by file name), or kept. A name counts as used
  where a reachable body mentions it, bare or as an attribute, again
  matched by name; an import alone is not a use. Module-level statements
  that define nothing run at import, so they are roots too.

Pure `ast`, no Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "airquality_data_pipeline_spark"
HOOK = PKG / "_startup" / "sitecustomize.py"
ROOTS = [
    HOOK,
    *sorted((PKG / "queries").rglob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
MODULES = [p for p in sorted(PKG.rglob("*.py")) if p.relative_to(PKG).parts[0] != "queries" and p != HOOK]
CALLERS = [*MODULES, *ROOTS]

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
    ("operators/merge.py", "retention_filter", "reference_time"):
        "the reference's now() retention cut-off",
    ("sources/rest.py", "fetch_paginated", "params"): "the per-request API parameters",
    ("operators/graph.py", "connected_components", "max_iter"):
        "iteration bound; tests drive the not-converged warning",
    ("operators/graph.py", "connected_components_star", "max_iter"):
        "iteration bound; tests drive the not-converged warning",
    ("operators/windows.py", "global_row_number", "num_partitions"): "tests vary it",
    ("operators/windows.py", "global_ntile", "num_partitions"): "tests vary it",
    ("plans/jobs.py", "synthetic_cycle_job", "n"): "tests vary it",
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
    for path in MODULES:
        rel = path.relative_to(PKG)
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


# (module under the package, top-level name) -> why it stays unreached
ITEM_1 = "ROADMAP item 1 wires it into the producer cycle"
ITEM_2 = "ROADMAP item 2 wires it into the producer cycle"
KEEP_SYMBOLS = {
    ("plans/pipeline.py", "isolated_bronze"): ITEM_1,
    ("plans/pipeline.py", "commit_cursors"): ITEM_1,
    ("plans/jobs.py", "synthetic_cycle_job"): ITEM_1,
    ("plans/jobs.py", "refresh_catalog_job"): ITEM_2,
    ("sources/parsers.py", "parse_de_measure_payload"): ITEM_2,
    ("sources/parsers.py", "parse_de_station_rows"): ITEM_2,
    ("sources/parsers.py", "parse_pl_station_rows"): ITEM_2,
    ("sources/parsers.py", "parse_nl_station_details"): ITEM_2,
    ("functions/strings.py", "is_automatic_station"): ITEM_2,
    ("sources/rest.py", "requests_transport_factory"): "deployment stand-in: live HTTP",
    ("streaming/jobs.py", "kafka_shaped"): "deployment stand-in: Kafka sink payload",
    ("streaming/jobs.py", "kafka_writer_config"): "deployment stand-in: Kafka sink options",
    ("operators/similarity.py", "neardup_pairs"):
        "reference that tests compare lsh_gated_neardup against",
    ("streaming/jobs.py", "read_events_stream"):
        "events stream source for the kept stream jobs",
}


def _mentions(node: ast.AST) -> set[str]:
    """Names a node uses, bare or as an attribute."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _symbols():
    """(module, name) -> defining statement per top-level function, class
    and constant outside the catalog (dunders excluded), and the names
    the roots use."""
    defs, used = {}, set()
    for path in ROOTS:
        used |= _mentions(ast.parse(path.read_text()))
    for path in MODULES:
        rel = path.relative_to(PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            else:
                used |= _mentions(st)
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defs[(rel, name)] = st
    return defs, used


def reached(defs, used, seeds=()) -> set:
    """Symbols the used names reach, with seeds as extra roots."""
    live, frontier = set(seeds), set(used)
    for k in seeds:
        frontier |= _mentions(defs[k])
    while new := {k for k in defs if k[1] in frontier} - live:
        live |= new
        frontier = set().union(*(_mentions(defs[k]) for k in new))
    return live


def test_every_symbol_is_reached_or_kept():
    defs, used = _symbols()
    live = reached(defs, used, [k for k in KEEP_SYMBOLS if k in defs])
    dead = sorted(set(defs) - live)
    assert not dead, (
        f"{len(dead)} top-level symbols nothing outside tests/ reaches; "
        "delete each with the tests that only exercise it, or add it to "
        "KEEP_SYMBOLS with a reason:\n" + "\n".join(f"  {m}: {n}" for m, n in dead)
    )


def test_keep_symbols_lists_only_unreached():
    defs, used = _symbols()
    live = reached(defs, used)
    stale = [k for k in KEEP_SYMBOLS if k not in defs or k in live]
    assert not stale, f"KEEP_SYMBOLS entries that are gone or now reached: {stale}"


def test_driver_rows_become_frames_only_through_local_frame():
    """`createDataFrame` over a list of rows gives a Python-RDD scan, and
    every action over it starts Python tasks; `io.local_frame` gives a
    LocalRelation. The package calls it nowhere else."""
    callers = set()
    for path in sorted(PKG.rglob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "createDataFrame":
                    callers.add((path.relative_to(PKG).as_posix(), getattr(fn, "name", None)))
    assert callers == {("io.py", "local_frame")}


# convention -> (owning module, its distinctive spellings). Each
# convention both engines must agree on has one definition: a Column
# form and a DuckDB `*_sql` twin side by side in the owning module, which
# every operator and oracle imports. Whitespace is ignored in matching,
# and so are the quotes between implicitly concatenated literals. A
# spelling is a literal, or a compiled pattern over that flattened text
# where a literal cannot tell a copy from a look-alike.
_NEST = r"[^()]*"  # text with balanced parentheses, nested up to 5 deep
for _ in range(5):
    _NEST = rf"(?:[^()]|\({_NEST}\))*"
CONVENTIONS = {
    "md5 integer hash": (
        "functions/strings.py",
        ("F.conv(F.substring(F.md5(", "'0x' || substr"),
    ),
    "whitespace tokenizer": (
        "functions/strings.py",
        ("F.split(F.lower(F.trim(", "string_split_regex(lower(trim("),
    ),
    "hash parameter table": ("operators/dedup.py", ("59770417",)),
    "word shingles": (
        "operators/dedup.py",
        ("UNNEST(generate_series(1, greatest(len(t) -",),
    ),
    "MinHash fold": ("operators/dedup.py", ("min((p.a * h + p.b) %",)),
    "MinHash signature string": (
        "operators/dedup.py",
        (
            "string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)",
            re.compile(r'F\.concat_ws\(":",\*\[F\.col\('),
        ),
    ),
    "sign-LSH planes": ("operators/similarity.py", ("(p.a * i + p.b) %",)),
    "normed vectors": ("operators/similarity.py", (") WHERE nrm > 0",)),
    "IVF argmax": (
        "operators/similarity.py",
        ('cosine_sql("n.v", "n.nrm", "c.cv", "c.cn")',),
    ),
    "planted near-dups": ("operators/similarity.py", ("vec_id * 31 + i * 7",)),
    # the rounded cosine; the sign projection and the squared distance
    # also round a list_dot_product, but over computed lists, undivided
    "rounded cosine": (
        "operators/similarity.py",
        (re.compile(r"round\(list_dot_product\([^()]*\)/\([^()]*\*[^()]*\),6\)"),),
    ),
    "top-k tail": (
        "operators/similarity.py",
        ("PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id",),
    ),
    # a decimal SUM cast back to double; a SUM that keeps its DECIMAL,
    # or a windowed one, is not a copy
    "exact sum": (
        "queries/common.py",
        (
            re.compile(
                rf'F\.sum\((?:dec\({_NEST}\)|{_NEST}\.cast\("decimal\(18,\d+\)"\))\)'
                r'\.cast\("double"\)'
            ),
            re.compile(r"ASDECIMAL\(\d+,(?:\d+|\{scale\})\)\)\)ASDOUBLE\)"),
        ),
    ),
    # DuckDB's DECIMAL/HUGEINT -> DOUBLE cast is not correctly rounded
    "VARCHAR hop": ("queries/common.py", ("AS VARCHAR) AS DOUBLE)",)),
    # the decq floor grid as a HUGEINT scaled integer
    "decq grid": ("queries/common.py", ("+ 0.5) AS HUGEINT)",)),
}


def _flat(text: str) -> tuple[str, list[int]]:
    """text without whitespace or the quotes that join adjacent string
    literals, and the line number of each kept char."""
    chars, lines, line = [], [], 1
    for ch in text:
        if ch == "\n":
            line += 1
        elif not ch.isspace():
            if ch in "\"'" and chars and chars[-1] == ch:
                chars.pop()
                lines.pop()
                continue
            chars.append(ch)
            lines.append(line)
    return "".join(chars), lines


def test_each_cross_engine_convention_is_spelled_once():
    stray, missing = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        flat, lines = _flat(path.read_text())
        for name, (owner, spellings) in CONVENTIONS.items():
            for spelling in spellings:
                needle = spelling
                if isinstance(spelling, str):
                    needle = re.compile(re.escape(_flat(spelling)[0]))
                else:
                    spelling = spelling.pattern
                at = list(needle.finditer(flat))
                if rel == owner and not at:
                    missing.append(f"  {owner}: {spelling!r} ({name})")
                if rel != owner:
                    stray += [
                        f"  {rel}:{lines[m.start()]}: {m[0][:60]!r} ({name}, owned by {owner})"
                        for m in at
                    ]
    assert not stray, (
        f"{len(stray)} hand copies of a cross-engine convention; import the "
        "owning module's Column form or `*_sql` twin instead:\n" + "\n".join(stray)
    )
    assert not missing, "owning modules no longer spell:\n" + "\n".join(missing)
