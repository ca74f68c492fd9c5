"""Every top-level function, class and UPPER_CASE constant in the
package is reached from a product entry point, or is named in ``KEEP``
with the reason it stays.

The pass is static (AST only, nothing is imported). A def is reached
when reached code uses its name as a ``Name``, an ``Attribute`` or an
imported name. The roots are the driver contract
(``__spark_entry__.py``), ``bench.py``, the CLI (``__main__.py``), the
benchmark (``perfbench/``), ``scripts/``, ``examples/``, and each
package module's top-level statements that are not a def, an
assignment or an import (assignments such as ``QUERIES`` are reached
through their uses). A module-level assignment to an UPPER_CASE name
counts as a def: a constant nothing reads is dead code too. So does
each non-dunder method of a top-level class (reported as
``Class.method``): it is reached when reached code uses its name. A
reached class's whole body, methods included, is reached code. Package
``__init__`` re-exports are not callers, and neither are tests. Names
resolve by name alone, so the pass can only over-count reachability:
it never reports a def that has a real caller.
"""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "xml_to_sqlite3_spark"

_REFERENCE = "reference implementation a test checks the production path against"
_FIXTURE = "fixture encoder building the inputs of a decoder the gates reach"

# Test-only defs that stay. A def reached only from one of these (a
# private helper of a kept entry point) needs no entry of its own.
KEEP = {
    "infer_type_regex": _REFERENCE + " (infer_type)",
    "node_tree": _REFERENCE + " (the recursive-CTE replica of the iterative walk)",
    "encode_bmp": _FIXTURE + " (decode_bmp)",
    "encode_wav_compressed": _FIXTURE + " (decode_wav)",
    "ima_adpcm_encode": _FIXTURE + " (decode_wav)",
    "_linear_to_ulaw": _FIXTURE + " (decode_wav)",
    "_linear_to_alaw": _FIXTURE + " (decode_wav)",
    "XREF_COLS": "the cross_references schema examples/custom_adapters.py "
    "documents for custom adapters",
}

_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _is_method(st: ast.stmt) -> bool:
    return isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
        st.name.startswith("__") and st.name.endswith("__")
    )


def _package():
    """({(module, name): names its body uses}, names used by the
    modules' own top-level statements, {(module, name) of a def, a
    method or an UPPER_CASE constant}). A method's name is
    ``Class.method``; it is reached through its bare method name."""
    bodies: dict[tuple[str, str], set[str]] = {}
    seeds: set[str] = set()
    defs = set()
    for path in sorted(PKG.rglob("*.py")):
        if path.name in ("__init__.py", "__main__.py"):
            continue
        mod = str(path.relative_to(REPO))
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bodies[(mod, st.name)] = _names(st)
                defs.add((mod, st.name))
                methods = st.body if isinstance(st, ast.ClassDef) else []
                for m in filter(_is_method, methods):
                    bodies[(mod, f"{st.name}.{m.name}")] = _names(m)
                    defs.add((mod, f"{st.name}.{m.name}"))
            elif isinstance(st, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                used = _names(st.value) if st.value is not None else set()
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            bodies.setdefault((mod, n.id), set()).update(used)
                            if _CONSTANT.fullmatch(n.id):
                                defs.add((mod, n.id))
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                seeds |= _names(st)
    return bodies, seeds, defs


def _root_names() -> set[str]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py", PKG / "__main__.py"]
    for d in ("perfbench", "scripts", "examples"):
        files += sorted((REPO / d).glob("*.py"))
    out: set[str] = set()
    for f in files:
        out |= _names(ast.parse(f.read_text()))
    return out


def _unreached_defs(extra_roots=()) -> set[tuple[str, str]]:
    bodies, seeds, defs = _package()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in bodies:
        by_name.setdefault(key[1].rsplit(".", 1)[-1], []).append(key)
    todo = list(_root_names() | seeds | set(extra_roots))
    seen: set[str] = set()
    reached = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            todo.extend(bodies[key] - seen)
    return defs - reached


def test_keep_names_are_test_only_defs():
    """A KEEP name that no longer exists, or that a product path now
    reaches, must leave KEEP."""
    _, _, defs = _package()
    unreached = {name for _, name in _unreached_defs()}
    gone = sorted(set(KEEP) - {name for _, name in defs})
    assert not gone, f"KEEP names no package def: {gone}"
    reachable = sorted(set(KEEP) - unreached)
    assert not reachable, f"KEEP names a def a product path reaches: {reachable}"


def test_no_other_test_only_defs():
    """Every other def is reached from a product entry point or from a
    kept def; a new test-only def is deleted or justified in KEEP."""
    dead = sorted(f"{mod}:{name}" for mod, name in _unreached_defs(KEEP))
    assert not dead, f"package defs only tests reach: {dead}"
