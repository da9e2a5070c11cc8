"""Regrowth guard for tunables (Spark-free AST scan).

Every defaulted parameter of a top-level function in ``pdfspark/`` and
``jobs/`` must be passed by at least one call site in the checkout:
positionally, by keyword, or through ``*``/``**`` expansion. A default
that no caller overrides is a constant in disguise; it belongs in a
module constant (or in ``config.py`` with its reference citation), and
the branches only a non-default value reaches should not exist.

Call sites are matched by function name (``f(...)`` or ``mod.f(...)``),
so a same-named call anywhere counts: the scan can miss a dead knob,
never flag a live one.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFINED_IN = ("pdfspark", "jobs")
CALLERS = ("pdfspark", "jobs", "__spark_entry__.py", "bench.py", "tools",
           "perfbench", "tests")

# (file, function, parameter) -> why it stays although no call site
# passes it
ALLOWED = {
    ("pdfspark/synth.py", "ensure_fixtures", "root"):
        "deployment path: where fixtures are generated outside the "
        "checkout",
    ("pdfspark/streaming/windowed.py", "windowed_counts_stream",
     "path_glob"):
        "deployment path: the file filter of a directory event source",
    ("pdfspark/operators/extract.py", "extract_documents_split",
     "persisted"):
        "goes with the function itself, which only tests and the "
        "benchmark's trace still call",
}


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def defaulted_params():
    """(file, function, parameter, positional index or None)."""
    out = []
    for rel in DEFINED_IN:
        for path in _py_files(rel):
            for node in _parse(path).body:
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                key = os.path.relpath(path, ROOT)
                out += [(key, node.name, p.arg, i)
                        for i, p in enumerate(pos) if i >= first]
                out += [(key, node.name, p.arg, None)
                        for p, d in zip(a.kwonlyargs, a.kw_defaults)
                        if d is not None]
    return out


def calls_by_name():
    me = os.path.abspath(__file__)
    calls = {}
    for rel in CALLERS:
        for path in _py_files(rel):
            if os.path.abspath(path) == me:
                continue
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _passes(call, param, index):
    return (any(isinstance(a, ast.Starred) for a in call.args)
            or (index is not None and index < len(call.args))
            or any(k.arg in (param, None) for k in call.keywords))


def unpassed_defaults():
    calls = calls_by_name()
    return sorted(
        (f, fn, p) for f, fn, p, i in defaulted_params()
        if not any(_passes(c, p, i) for c in calls.get(fn, ())))


def test_every_default_is_passed_somewhere():
    found = [k for k in unpassed_defaults() if k not in ALLOWED]
    assert not found, (
        f"{len(found)} defaulted parameters no call site passes; make "
        f"each a module constant and drop the branches only it reaches: "
        f"{found}")


def test_allowlist_is_current():
    stale = set(ALLOWED) - set(unpassed_defaults())
    assert not stale, f"drop from ALLOWED (now passed or gone): {stale}"
