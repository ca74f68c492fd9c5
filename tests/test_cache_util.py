"""cache_util.code_closure — the one place that decides which code a
content-keyed store depends on. A store key covers the bytes of its
builder module's import closure, so an edit to any module the build
can run rebuilds the store, and an edit to any other module does not.
No Spark."""

from __future__ import annotations

import ast
import pathlib
import shutil

from xml_to_sqlite3_spark import cache_util
from xml_to_sqlite3_spark.cache_util import code_closure, content_key

PKG = pathlib.Path(cache_util.__file__).resolve().parent


def _write(root: pathlib.Path, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)


_SYNTHETIC = {
    "pkg/__init__.py": "",
    "pkg/sub/__init__.py": "",
    "pkg/sub/a.py": "def f():\n    from .b import g\n    return g()\n",
    "pkg/sub/b.py": "from ..c import h\n\n\ndef g():\n    return h()\n",
    "pkg/c.py": "def h():\n    return 1\n",
    "pkg/unrelated.py": "X = 1\n",
}


def test_closure_follows_function_level_and_parent_imports(tmp_path):
    _write(tmp_path, _SYNTHETIC)
    closure = code_closure(str(tmp_path / "pkg/sub/a.py"))
    assert sorted(pathlib.Path(p).relative_to(tmp_path).as_posix() for p in closure) == [
        "pkg/__init__.py",
        "pkg/c.py",
        "pkg/sub/__init__.py",
        "pkg/sub/a.py",
        "pkg/sub/b.py",
    ]


def test_key_changes_with_any_closure_file_only(tmp_path):
    src = str(tmp_path / "input")
    keys = {}
    for name, change in (
        ("base", {}),
        ("same", {}),
        ("c_edited", {"pkg/c.py": _SYNTHETIC["pkg/c.py"] + "# edited\n"}),
        ("unrelated_edited", {"pkg/unrelated.py": "X = 2\n"}),
    ):
        _write(tmp_path / name, {**_SYNTHETIC, **change})
        keys[name] = content_key("t", src, str(tmp_path / name / "pkg/sub/a.py"))
    # the key is the closure's bytes, not where the checkout lives
    assert keys["same"] == keys["base"]
    assert keys["c_edited"] != keys["base"]
    assert keys["unrelated_edited"] == keys["base"]


def _builders(pkg: pathlib.Path) -> list[str]:
    """Every package module that keys a store (calls content_key)."""
    out = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "content_key"
            for n in ast.walk(tree)
        ):
            out.append(path.relative_to(pkg).as_posix())
    return out


def _store_keys(tmp_path: pathlib.Path, name: str, edited: str | None) -> dict:
    """The key of every store builder in a copy of the package, with a
    comment appended to ``edited`` (a package-relative path)."""
    pkg = tmp_path / name / "xml_to_sqlite3_spark"
    shutil.copytree(PKG, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    if edited is not None:
        with open(pkg / edited, "a") as f:
            f.write("\n# edited\n")
    src = str(tmp_path / "input")
    return {b: content_key("k", src, str(pkg / b)) for b in _builders(pkg)}


def test_real_package_edits_invalidate_exactly_their_stores(tmp_path):
    base = _store_keys(tmp_path, "base", None)
    assert {"operators/dedup.py", "plans/node_graph.py"} <= set(base)

    def changed(edited: str) -> list[str]:
        keys = _store_keys(tmp_path, edited.replace("/", "_"), edited)
        return sorted(b for b in base if keys[b] != base[b])

    # the dedup store's win8 table is written by curation.shingle_hashes
    assert changed("operators/curation.py") == ["operators/dedup.py"]
    # the graph build reads every input table through io_util.load
    assert changed("io_util.py") == ["plans/node_graph.py"]
    # no store is built from the JPEG codec
    assert changed("operators/jpeg.py") == []
    # every builder imports the cache machinery
    assert changed("cache_util.py") == sorted(base)
