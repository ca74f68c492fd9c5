"""Every top-level function, class and UPPER_CASE constant in the
package is reached from a product entry point, or is named in ``KEEP``
with the reason it stays; and every True/False/None option has a
product call that selects its other arm, or is named in
``KEEP_OPTIONS`` (the option pass at the end of this file).

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
    "_parse_one": _REFERENCE + " (the DOM walk the expat parser _parse_one_stream "
    "must match row for row)",
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


def _root_files() -> list[pathlib.Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py", PKG / "__main__.py"]
    for d in ("perfbench", "scripts", "examples"):
        files += sorted((REPO / d).glob("*.py"))
    return files


def _root_names() -> set[str]:
    out: set[str] = set()
    for f in _root_files():
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


# ---------------------------------------------------------------------------
# The option pass: a parameter that defaults to True, False or None and
# that every product call leaves at one value has an arm only tests run.
# Make it a constant or a required argument and delete the dead arm, or
# name it here (as ``function.parameter``) with the reason it stays.
KEEP_OPTIONS = {
    "_check_store_meta.n": "safety check: a precomputed tokens/sigs frame "
    "built with another shingle width must raise, whatever n the callers "
    "forward today",
}

_VARIES = "varies"
_NOT_NONE = "not None"
_LITERALS = (ast.Call, ast.Tuple, ast.List, ast.Dict, ast.Set, ast.JoinedStr, ast.Lambda)


class _Def:
    """One function definition: its positional parameter names (a
    method's ``self`` dropped), every parameter name, the AST default
    of each defaulted parameter, and the names it assigns."""

    def __init__(self, node, mod: str, method: bool):
        a = node.args
        pos = a.posonlyargs + a.args
        self.node, self.mod = node, mod
        self.defaults = dict(zip([p.arg for p in pos][len(pos) - len(a.defaults):], a.defaults))
        self.defaults.update(
            (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        )
        self.pos = [p.arg for p in pos][1 if method and pos else 0:]
        self.params = set(self.pos) | {p.arg for p in a.kwonlyargs}
        self.stored = {
            n.id for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        }


def _import_source(f: pathlib.Path, node: ast.ImportFrom) -> str | None:
    """The repo-relative module file an ``ImportFrom`` names, or None
    when it is not a plain module file (a package, or outside the
    repo)."""
    base = f.parent if node.level else REPO
    for _ in range(node.level - 1):
        base = base.parent
    if not node.module:
        return None
    p = base.joinpath(*node.module.split(".")).with_suffix(".py")
    return str(p.relative_to(REPO)) if p.is_file() else None


def _product_calls():
    """({name: [_Def]} of every def in product code, {callee name:
    [(Call, enclosing _Defs innermost last)]}, defs used as values).
    Product code is the package plus the reachability roots; a callee
    is the called Name (import aliases resolved) or Attribute name. A
    value use is ``(module, name)`` for a bare Name, which names its
    own module's def or the def it was imported from, and the bare
    name for an Attribute (or an import whose module is no plain
    file), which may name any def of that name."""
    defs: dict[str, list[_Def]] = {}
    calls: dict[str, list] = {}
    values: set = set()
    for f in _root_files() + sorted(PKG.rglob("*.py")):
        tree = ast.parse(f.read_text())
        mod = str(f.relative_to(REPO))
        alias, source = {}, {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if a.asname:
                        alias[a.asname] = a.name
                    src = _import_source(f, n)
                    source[a.asname or a.name] = (src, a.name) if src else a.name
        called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for n in ast.walk(tree):
            if not (
                isinstance(n, (ast.Name, ast.Attribute))
                and isinstance(n.ctx, ast.Load) and id(n) not in called
            ):
                continue
            if isinstance(n, ast.Attribute):
                values.add(n.attr)
            else:  # a function-local import may shadow the module's def
                values |= {(mod, n.id), source.get(n.id, (mod, n.id))}

        def visit(node, chain, in_class, mod=mod, alias=alias):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in ch.decorator_list
                    )
                    d = _Def(ch, mod, in_class and not static)
                    defs.setdefault(ch.name, []).append(d)
                    visit(ch, chain + [d], False)
                    continue
                if isinstance(ch, ast.Call):
                    fn = ch.func
                    if isinstance(fn, ast.Name):
                        calls.setdefault(alias.get(fn.id, fn.id), []).append((ch, chain))
                    elif isinstance(fn, ast.Attribute):
                        calls.setdefault(fn.attr, []).append((ch, chain))
                visit(ch, chain, isinstance(ch, ast.ClassDef))

        visit(tree, [], False)
    return defs, calls, values


def _single_valued_options() -> dict[str, object]:
    """{"module:function.parameter": its one value} for each package
    parameter defaulting to True/False/None whose every product call
    leaves it out, passes a constant, forwards an enclosing def's
    parameter that resolves the same way, or (for a None default)
    passes a call or literal — "not None". ``*args``/``**kwargs`` at a
    call, any other expression, and a def never called by name (or
    also used as a value, e.g. stored in a dict: a bare Name marks
    only the def it resolves to, an Attribute every def of its name)
    vary, so the pass can only under-report."""
    defs, calls, values = _product_calls()
    memo: dict[tuple[int, str], set] = {}

    def value(d: _Def, p: str, call: ast.Call, chain) -> set:
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        ):
            return {_VARIES}
        expr = next((k.value for k in call.keywords if k.arg == p), None)
        if expr is None and p in d.pos and d.pos.index(p) < len(call.args):
            expr = call.args[d.pos.index(p)]
        if expr is None:
            if p not in d.defaults:
                return {_VARIES}
            expr = d.defaults[p]
        if isinstance(expr, (ast.Constant, ast.UnaryOp)):
            try:
                return {repr(ast.literal_eval(expr))}
            except ValueError:
                return {_VARIES}
        if isinstance(expr, ast.Name):
            for outer in reversed(chain):
                if expr.id in outer.params and expr.id not in outer.stored:
                    return resolve(outer, expr.id)
                if expr.id in outer.params or expr.id in outer.stored:
                    break
            return {_VARIES}
        default = d.defaults.get(p)
        if isinstance(default, ast.Constant) and default.value is None and isinstance(
            expr, _LITERALS
        ):
            return {_NOT_NONE}
        return {_VARIES}

    def resolve(d: _Def, p: str) -> set:
        key = (id(d), p)
        if key not in memo:
            memo[key] = {_VARIES}  # a recursive forward varies
            sites = calls.get(d.node.name, [])
            as_value = d.node.name in values or (d.mod, d.node.name) in values
            out = {_VARIES} if not sites or as_value else set()
            for call, chain in sites:
                out |= value(d, p, call, chain)
            memo[key] = out
        return memo[key]

    found = {}
    for name, ds in defs.items():
        for d in ds:
            if not d.mod.startswith(PKG.name):
                continue
            for p, default in d.defaults.items():
                if not (
                    isinstance(default, ast.Constant)
                    and (default.value is None or isinstance(default.value, bool))
                ):
                    continue
                vals = resolve(d, p)
                if len(vals) == 1 and _VARIES not in vals:
                    found[f"{d.mod}:{name}.{p}"] = next(iter(vals))
    return found


def test_keep_options_are_single_valued():
    """A KEEP_OPTIONS entry whose parameter is gone or now varies must
    leave KEEP_OPTIONS."""
    found = {k.split(":", 1)[1] for k in _single_valued_options()}
    stale = sorted(set(KEEP_OPTIONS) - found)
    assert not stale, f"KEEP_OPTIONS names no single-valued option: {stale}"


def test_no_single_valued_options():
    """Every other True/False/None option has a product call that
    selects its other arm."""
    found = {
        k: v for k, v in _single_valued_options().items()
        if k.split(":", 1)[1] not in KEEP_OPTIONS
    }
    assert not found, (
        "options every product call leaves at one value (make them a "
        f"constant or a required argument, or justify in KEEP_OPTIONS): {found}"
    )
