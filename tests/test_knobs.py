"""Regrowth guards for product code (Spark-free AST scans).

Tunables: every defaulted parameter of a top-level function in
``pdfspark/`` and ``jobs/`` must be passed by at least one call site in
the checkout: positionally, by keyword, or through ``*``/``**``
expansion. A default that no caller overrides is a constant in
disguise; it belongs in a module constant (or in ``config.py`` with its
reference citation), and the branches only a non-default value reaches
should not exist.

Callers: every top-level function and class in ``pdfspark/`` and
``jobs/`` must be named by product code (the package, the job, the
driver entry, ``bench.py``, ``tools/`` or ``perfbench/``) outside its
own definition. A function only tests call is a second implementation
or an unused capability; it is deleted, unless it is a reference that a
test compares a production kernel against (``REFERENCES``).

Config fields: every field with a default of a dataclass in
``pdfspark/`` and ``jobs/`` must be set by product code, either by a
constructor call of the class (by keyword or position) or by an
assignment to the attribute. A field only tests set is a tunable no
product path turns, the dataclass form of an unpassed default.

All scans match by name, so a same-named use anywhere counts: they
can miss dead code, never flag live code.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFINED_IN = ("pdfspark", "jobs")
PRODUCT = ("pdfspark", "jobs", "__spark_entry__.py", "bench.py", "tools",
           "perfbench")
CALLERS = (*PRODUCT, "tests")

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


# top-level products that only tests name, kept because a test compares
# a production kernel against them
REFERENCES = {
    ("pdfspark/operators/similarity.py", "cosine_topk_hof"):
        "bit-equality reference of the NumPy cosine top-k kernel "
        "(the form the DuckDB oracle transliterates)",
    ("pdfspark/operators/similarity.py", "euclidean_topk_hof"):
        "bit-equality reference of the NumPy euclidean top-k kernel",
    ("pdfspark/operators/similarity.py", "hyperplane_signature_hof"):
        "bit-equality reference of the NumPy signature kernel",
    ("pdfspark/operators/textstats.py", "quality_token_stats"):
        "standalone reference text_profile is compared against",
    ("pdfspark/operators/textstats.py", "fingerprints"):
        "standalone reference text_profile is compared against",
    ("pdfspark/sources/pdf_mini.py", "build_layout_pdf"):
        "fixture writer; moves with the other PDF writers",
}
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node):
    """Every name a subtree uses: identifiers, attributes, import
    aliases and string constants (``getattr(mod, "f")`` wraps)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def uncalled_products():
    """(file, name) of top-level defs no product code names outside
    the def itself."""
    users = {}
    for rel in PRODUCT:
        for path in _py_files(rel):
            key = os.path.relpath(path, ROOT)
            for top in _parse(path).body:
                owner = top.name if isinstance(top, _DEFS) else None
                for name in _names(top):
                    users.setdefault(name, set()).add((key, owner))
    out = []
    for rel in DEFINED_IN:
        for path in _py_files(rel):
            key = os.path.relpath(path, ROOT)
            out += [(key, top.name) for top in _parse(path).body
                    if isinstance(top, _DEFS)
                    and not users.get(top.name, set()) - {(key, top.name)}]
    return sorted(out)


def test_every_function_has_a_non_test_caller():
    found = [k for k in uncalled_products() if k not in REFERENCES]
    assert not found, (
        f"{len(found)} top-level definitions only tests use; delete each "
        f"(with the tests whose only subject it is) or, if tests compare "
        f"a production kernel against it, add it to REFERENCES: {found}")


def test_references_are_current():
    stale = set(REFERENCES) - set(uncalled_products())
    assert not stale, f"drop from REFERENCES (now used or gone): {stale}"


def _is_dataclass(decorator):
    d = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(d, ast.Name) and d.id == "dataclass"
            or isinstance(d, ast.Attribute) and d.attr == "dataclass")


def defaulted_fields():
    """(file, class, field, positional index) of every dataclass field
    with a default."""
    out = []
    for rel in DEFINED_IN:
        for path in _py_files(rel):
            key = os.path.relpath(path, ROOT)
            for node in _parse(path).body:
                if not (isinstance(node, ast.ClassDef)
                        and any(map(_is_dataclass, node.decorator_list))):
                    continue
                fields = [f for f in node.body
                          if isinstance(f, ast.AnnAssign)
                          and isinstance(f.target, ast.Name)]
                out += [(key, node.name, f.target.id, i)
                        for i, f in enumerate(fields) if f.value is not None]
    return out


def unset_fields():
    calls, assigned = {}, set()
    for rel in PRODUCT:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if (isinstance(node, ast.Attribute)
                        and isinstance(node.ctx, ast.Store)):
                    assigned.add(node.attr)
                elif isinstance(node, ast.Call):
                    f = node.func
                    name = (f.id if isinstance(f, ast.Name)
                            else f.attr if isinstance(f, ast.Attribute)
                            else None)
                    calls.setdefault(name, []).append(node)
    return sorted(
        (f, cls, fld) for f, cls, fld, i in defaulted_fields()
        if fld not in assigned
        and not any(_passes(c, fld, i) for c in calls.get(cls, ())))


def test_every_dataclass_default_is_set_somewhere():
    found = unset_fields()
    assert not found, (
        f"{len(found)} dataclass fields no product code sets; make each "
        f"a module constant and drop the branches only it reaches: "
        f"{found}")
