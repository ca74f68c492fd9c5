"""Shared content-keyed on-disk cache machinery.

One implementation of the build-once/attach-many store lifecycle
every persistent artifact (node graph, MinHash/components, text
index, vector codebooks and indexes) goes through: the four cache
roots and their in-session memos are the :class:`Store` instances
below, and the concurrency and pruning subtleties live HERE exactly
once:

- atomic publish: build into a pid-suffixed tmp dir, write the
  ``_COMPLETE`` marker last, then ONE os.rename — concurrent
  builders either win the rename or discard their copy; readers
  never observe a partial entry.
- stale-sibling pruning with a grace window: entries for the same
  input (same key prefix) built by OLDER code are removed only after
  an hour cold — immediate pruning deleted parquet out from under
  concurrent sessions still holding DataFrames built from the old
  code version (observed: a parallel test sweep crashed mid-flight).
- mtime lease: attaching refreshes the entry's mtime, since parquet
  READS never touch it and the grace window is mtime-based.
- code identity: an entry's key covers the bytes of its builder
  module's import closure inside this package (:func:`code_closure`),
  derived from the imports themselves, so no hand-kept file list can
  drift from the code that built the entry.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterable


def _module_file(pkg_dir: str, dotted: str) -> str | None:
    """The source file of module ``dotted`` relative to ``pkg_dir``
    (a ``.py`` file or a package's ``__init__.py``), None when it is
    not a module (a name the package re-exports)."""
    base = os.path.join(pkg_dir, *dotted.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _relative_imports(module_file: str) -> set[str]:
    """The package files ``module_file`` imports relatively, at module
    level or inside a function: ``from .x import y`` names x, and y
    too when y is itself a module."""
    with open(module_file, "rb") as f:
        tree = ast.parse(f.read(), module_file)
    here = os.path.dirname(module_file)
    out = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or not node.level:
            continue
        pkg_dir = here
        for _ in range(node.level - 1):
            pkg_dir = os.path.dirname(pkg_dir)
        if node.module:
            target = _module_file(pkg_dir, node.module)
            if target is not None:
                out.add(target)
            pkg_dir = os.path.join(pkg_dir, *node.module.split("."))
        for alias in node.names:
            target = _module_file(pkg_dir, alias.name)
            if target is not None:
                out.add(target)
    return out


@functools.lru_cache(maxsize=None)
def code_closure(module_file: str) -> tuple[str, ...]:
    """Every package source file that importing ``module_file`` runs: the
    modules it reaches by relative import, transitively, plus the
    ``__init__.py`` of each package on their way. An AST walk, so
    imports inside functions count too; computed once per process.

    The package has no absolute or dynamic self-imports, so relative
    imports are the whole closure. It is per module, so it
    over-includes: a file that only a builder module's query
    functions import still invalidates that builder's store. That
    costs an extra rebuild, never a stale read."""
    seen: set[str] = set()
    todo = [os.path.abspath(module_file)]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo.extend(_relative_imports(path))
        # importing a submodule runs its package's __init__ first
        init = os.path.join(os.path.dirname(path), "__init__.py")
        if os.path.isfile(init):
            todo.append(init)
    return tuple(sorted(seen))


@functools.lru_cache(maxsize=None)
def _code_digest(module_file: str) -> bytes:
    """Digest of the bytes of ``module_file``'s import closure,
    computed ONCE per process — module sources cannot change under a
    running interpreter, and re-reading them on every cache lookup put
    file I/O in front of the in-session memo hit path."""
    h = hashlib.sha256()
    for path in code_closure(module_file):
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.digest()


def stat_fingerprint(path: str, suffixes: tuple[str, ...] | None = None) -> str:
    """The stat identity of ``path``: ``name:size:mtime_ns`` for each
    entry of a directory (only names ending in ``suffixes`` when
    given), or ``size:mtime_ns`` of a file. Empty when ``path`` cannot
    be stat'ed (a glob, a remote URI). A rewrite in place that keeps
    both the size and the mtime is invisible to it."""
    parts = []
    try:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                if suffixes is not None and not name.endswith(suffixes):
                    continue
                st = os.stat(os.path.join(path, name))
                parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = os.stat(path)
            parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass
    return "".join(parts)


def content_key(prefix: str, src_path: str, builder: str, extra: str = "") -> str:
    """Cache key from the INPUT's identity (path + per-file size and
    mtime of its ``.parquet`` entries, so stray files — a writer's
    _SUCCESS/.crc, editor temp files — don't force spurious rebuilds)
    and the BUILD CODE's bytes: the import closure of ``builder``, the
    building module's ``__file__`` (:func:`code_closure`). Every
    builder imports this module, so a change to the shared cache
    machinery invalidates every entry too. The closure is per module
    and over-includes — an edit to a file only the builder's query
    functions import rebuilds the store once, it never serves a stale
    entry. ``extra`` folds in build parameters (e.g.
    which columns an index was built over) and participates in the
    key's PREFIX: stale-sibling pruning is prefix-scoped, and two
    entries differing only in build parameters are distinct live
    configurations, not stale versions of each other — they must
    never prune one another."""
    h = hashlib.sha256()
    real = os.path.realpath(src_path)
    h.update(real.encode())
    h.update(extra.encode())
    h.update(stat_fingerprint(real, (".parquet",)).encode())
    h.update(_code_digest(builder))
    sfh = hashlib.sha256(f"{real}|{extra}".encode()).hexdigest()[:10]
    return f"{prefix}_{sfh}_{h.hexdigest()[:16]}"


def content_cached_dir(
    root: str,
    key: str,
    build: Callable[[str], None],
    owned_dirs: list | None = None,
) -> str:
    """Return the published cache dir for ``key`` under ``root``,
    running ``build(tmp_dir)`` first if absent. ``build`` must
    populate the tmp dir INCLUDING its ``_COMPLETE`` marker file
    (written last; its payload is the owner's business — the graph
    cache stores the key, the text index stores corpus stats).
    Appends the final dir to ``owned_dirs`` when this process built
    (or raced for) the entry, so the owner's clear() can remove what
    it created without touching other sessions' shared entries."""
    final = os.path.join(root, key)
    marker = os.path.join(final, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        tmp = f"{final}.tmp.{os.getpid()}"
        published = False
        try:
            build(tmp)
            try:
                os.rename(tmp, final)
                published = True
            except OSError:
                # rename failing USUALLY means a concurrent builder
                # won — but ``final`` can also be a wedged partial
                # entry (e.g. an interrupted prune) whose marker will
                # never appear. Verify before trusting it; if the
                # marker is absent, heal by replacing the wedged dir
                # with our freshly built copy. The heal must not
                # rmtree(final) directly: between the marker check
                # and the delete a concurrent builder can heal AND
                # publish a complete entry, which a plain rmtree
                # would destroy while other sessions read it. Rename
                # the suspect dir ASIDE instead — rename is atomic,
                # only one healer can win it — and re-verify the
                # marker on the dir we now exclusively own.
                if os.path.exists(marker):
                    shutil.rmtree(tmp, ignore_errors=True)
                else:
                    # the aside name must be collision-proof, not just
                    # pid-unique: after a crashed heal, pid reuse would
                    # make this rename hit the dead process's leftover
                    # aside dir (ENOTEMPTY), be misread as "another
                    # healer moved it", and wedge the retry publish —
                    # the nanosecond suffix makes every heal attempt
                    # target a fresh name
                    aside = f"{final}.wedged.{os.getpid()}.{time.time_ns()}"
                    try:
                        os.rename(final, aside)
                    except OSError:
                        # another healer already moved it (or a racer
                        # pruned it); fall through and retry publish
                        pass
                    else:
                        if os.path.exists(os.path.join(aside, "_COMPLETE")):
                            # raced: a COMPLETE entry landed between
                            # our check and the rename — put it back
                            # (if that fails, a third copy already
                            # occupies final; ours aside is an equal
                            # duplicate and safe to drop)
                            try:
                                os.rename(aside, final)
                            except OSError:
                                shutil.rmtree(aside, ignore_errors=True)
                        else:
                            shutil.rmtree(aside, ignore_errors=True)
                    try:
                        os.rename(tmp, final)
                        published = True
                    except OSError:
                        shutil.rmtree(tmp, ignore_errors=True)
                        if not os.path.exists(marker):
                            raise RuntimeError(
                                f"cache entry {final} is wedged (no "
                                "_COMPLETE marker) and could not be "
                                "replaced; remove it manually"
                            )
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # only the process whose rename landed OWNS the entry — a
        # racer that lost must not let its clear() delete a shared
        # entry another live session built and may still be reading
        if published and owned_dirs is not None and final not in owned_dirs:
            owned_dirs.append(final)
        # prune stale same-input siblings (older code / older data),
        # but only entries COLD for an hour — see module docstring.
        # Abandoned BUILD dirs (a builder killed mid-write leaves its
        # pid-suffixed .tmp behind — observed at 6 GB each for the
        # sf1 graph store) get a longer 6h grace: a live builder's
        # tmp dir mtime only moves when a direct child is created, so
        # the window must comfortably exceed any single-table write.
        prefix = key.rsplit("_", 1)[0] + "_"
        for name in os.listdir(root):
            if not name.startswith(prefix) or name == key:
                continue
            path = os.path.join(root, name)
            grace = 6 * 3600 if ".tmp." in name or ".wedged." in name else 3600
            try:
                cold = time.time() - os.path.getmtime(path) > grace
            except OSError:
                cold = True
            if cold:
                shutil.rmtree(path, ignore_errors=True)

    # renew the mtime lease on attach (reads never touch mtime)
    try:
        os.utime(final, None)
    except OSError:
        pass
    return final


class Store:
    """One content-keyed cache root and its lifecycle: where entries
    live, ``get`` (build once, then the in-session memo of what was
    loaded), and the clear() that removes what this process built."""

    def __init__(self, env: str, default: str) -> None:
        self.env = env
        self.default = default
        # (applicationId, key) -> load(final). applicationId, not
        # id(sparkContext): CPython reuses object addresses after GC,
        # so an id()-keyed hit could hand back DataFrames bound to a
        # STOPPED session
        self.memo: dict = {}
        self.owned: list[str] = []

    def root(self) -> str:
        """Read at call time: tests and the benchmark harness point
        the env var (or TMPDIR) elsewhere per run."""
        return os.environ.get(
            self.env, os.path.join(tempfile.gettempdir(), self.default)
        )

    def get(self, spark, key: str, build: Callable[[str], None], load: Callable):
        """``load(final)`` of the published entry for ``key``, building
        it first when absent; memoized per session."""
        mk = (spark.sparkContext.applicationId, key)
        if mk not in self.memo:
            final = content_cached_dir(self.root(), key, build, owned_dirs=self.owned)
            self.memo[mk] = load(final)
        return self.memo[mk]

    def clear(self) -> None:
        """Drop the memo AND the entries THIS process built (tests use
        it to force a rebuild). Attached-only entries are other
        sessions' property: deleting them would bypass the pruning
        path's grace window."""
        self.memo.clear()
        while self.owned:
            shutil.rmtree(self.owned.pop(), ignore_errors=True)


GRAPH = Store("SPARK_GRAFT_GRAPH_CACHE", "spark_graft_graph_cache")
# MinHash/SimHash/window postings and the components closure
DEDUP = Store("SPARK_GRAFT_MINHASH_CACHE", "spark_graft_minhash_cache")
INDEX = Store("SPARK_GRAFT_INDEX_CACHE", "spark_graft_index_cache")
# IVF/PQ/OPQ models (.npy) and the IVF-PQ index
CODEBOOK = Store("SPARK_GRAFT_CODEBOOK_CACHE", "spark_graft_codebook_cache")


def read_tables(spark, final: str, names: Iterable[str]) -> dict:
    """``{name: DataFrame}`` for the parquet tables of a published
    entry. A clear+rebuild lands NEW part files at the SAME path, so
    each path's file-status cache is dropped first — a stale listing
    would point reads at deleted files (FAILED_READ_FILE)."""
    out = {}
    for name in names:
        spark.catalog.refreshByPath(f"{final}/{name}")
        out[name] = spark.read.parquet(f"{final}/{name}")
    return out
