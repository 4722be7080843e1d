"""Function-granular implementation fingerprints (VERDICT r13 #1).

The driver hash-checks only the first 50 registry entries per round, and the
rotation (plans/registry.py) ranks by never/least-recently-driver-checked.
That left a blind spot: a query REWRITTEN after its last driver check keeps
its "recently checked" rank and the new implementation goes unverified for
rounds. The fix is to detect "implementation changed since the round that
last checked this query" and boost such queries back into the prefix.

Granularity matters. A whole-file git-diff floods (adding one query to a
plans module would mark every query in it as touched — measured: 335/385
checked queries flagged), so the comparison is per FUNCTION: a query's
fingerprint hashes the source of its registering function plus the sources
of every package-internal function/class/constant it references,
transitively (static AST resolution of `mod.fn(...)` attribute calls through
package imports and of bare names through module-level defs). Old trees are
read with `git show <round-commit>:<path>` — no historical code is executed.
``changed_defs`` names WHICH closure defs changed, so the rotation can take
turns between distinct changes instead of letting one shared helper's edit
(the same set for all its dependents) fill the window.

Conservative on ambiguity: if the query function cannot be resolved in the
OLD tree (file or def missing) the query counts as changed; if git itself is
unavailable the whole feature degrades to "nothing changed" (the rotation
falls back to pure staleness ranking, the pre-r14 behavior).
"""

from __future__ import annotations

import ast
import hashlib
import os
import subprocess
from functools import lru_cache

PKG = "bloom_filters_count_min_sketch_spark_streaming_spark"


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _module_rel(dotted: str, exists) -> str | None:
    """Repo-relative file for a package-dotted module name, or None.

    ``exists`` is a predicate over repo-relative paths so resolution works
    against historical trees (git show) as well as the working tree.
    """
    if not dotted.startswith(PKG):
        return None
    rel = dotted.replace(".", "/") + ".py"
    if exists(rel):
        return rel
    rel_init = dotted.replace(".", "/") + "/__init__.py"
    if exists(rel_init):
        return rel_init
    return None


class _ModuleIndex:
    """Top-level defs + package-import map of one module's source text."""

    def __init__(self, text: str, rel: str, exists) -> None:
        self.rel = rel
        self.text = text
        self.defs: dict[str, ast.stmt] = {}
        # local name -> repo-relative module file (the name IS a package module)
        self.mod_aliases: dict[str, str] = {}
        # local name -> (repo-relative module file, original name)
        self.from_imports: dict[str, tuple[str, str]] = {}
        try:
            tree = ast.parse(text)
        except SyntaxError:
            return
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.defs[t.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self.defs[node.target.id] = node
        # Imports anywhere in the file (function-local imports included; the
        # per-module map is a slight overapproximation, which only risks
        # hashing an extra referenced def — never missing one).
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    mrel = _module_rel(a.name, exists)
                    if mrel is not None:
                        local = a.asname or a.name.split(".")[0]
                        if a.asname or "." not in a.name:
                            self.mod_aliases[local] = mrel
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                base = node.module
                if not base.startswith(PKG):
                    continue
                base_rel = _module_rel(base, exists)
                for a in node.names:
                    sub = _module_rel(base + "." + a.name, exists)
                    local = a.asname or a.name
                    if sub is not None:
                        self.mod_aliases[local] = sub
                    elif base_rel is not None:
                        self.from_imports[local] = (base_rel, a.name)
            elif isinstance(node, ast.ImportFrom) and node.level > 0:
                # relative import: resolve against this module's package
                parts = rel.split("/")[:-1]  # package dir of this module
                up = node.level - 1
                parts = parts[: len(parts) - up] if up else parts
                base = ".".join(parts).replace("/", ".")
                if node.module:
                    base = base + "." + node.module
                base = base.replace("/", ".")
                base_rel = _module_rel(base, exists)
                for a in node.names:
                    sub = _module_rel(base + "." + a.name, exists)
                    local = a.asname or a.name
                    if sub is not None:
                        self.mod_aliases[local] = sub
                    elif base_rel is not None:
                        self.from_imports[local] = (base_rel, a.name)

    def source_of(self, name: str) -> str | None:
        node = self.defs.get(name)
        if node is None:
            return None
        start = node.lineno
        deco = getattr(node, "decorator_list", None)
        if deco:
            start = min(d.lineno for d in deco)
        lines = self.text.splitlines(keepends=True)
        return "".join(lines[start - 1 : node.end_lineno])

    def refs_of(self, name: str) -> list[tuple[str, str]]:
        """Package-internal (module_rel, def_name) pairs referenced by def.

        Decorators are EXCLUDED from reference traversal: the ``@query``
        registration decorator would otherwise pull registry plumbing into
        every fingerprint (measured: a ``query()`` signature change marked
        271/385 checked queries as touched). Decorator TEXT still shifts
        the fingerprint via source_of (oracle SQL lives there); only the
        plumbing behind the decorator name is ignored.
        """
        node = self.defs.get(name)
        if node is None:
            return []
        out: list[tuple[str, str]] = []
        deco_nodes: set[int] = set()
        for d in getattr(node, "decorator_list", None) or []:
            for sub in ast.walk(d):
                deco_nodes.add(id(sub))
        for sub in ast.walk(node):
            if id(sub) in deco_nodes:
                continue
            if isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
                mrel = self.mod_aliases.get(sub.value.id)
                if mrel is not None:
                    out.append((mrel, sub.attr))
            elif isinstance(sub, ast.Name):
                if sub.id in self.from_imports:
                    out.append(self.from_imports[sub.id])
                elif sub.id in self.defs and sub.id != name:
                    out.append((self.rel, sub.id))
        return out


class TreeReader:
    """Reads repo-relative file text from the working tree or a commit."""

    def __init__(self, commit: str | None = None) -> None:
        self.commit = commit
        self._cache: dict[str, str | None] = {}
        self._indexes: dict[str, _ModuleIndex | None] = {}

    def read(self, rel: str) -> str | None:
        if rel not in self._cache:
            if self.commit is None:
                path = os.path.join(_repo_root(), rel)
                try:
                    with open(path, encoding="utf-8") as fh:
                        self._cache[rel] = fh.read()
                except OSError:
                    self._cache[rel] = None
            else:
                try:
                    proc = subprocess.run(
                        ["git", "show", f"{self.commit}:{rel}"],
                        cwd=_repo_root(),
                        capture_output=True,
                        text=True,
                        timeout=30,
                    )
                    self._cache[rel] = proc.stdout if proc.returncode == 0 else None
                except (OSError, subprocess.SubprocessError):
                    self._cache[rel] = None
        return self._cache[rel]

    def exists(self, rel: str) -> bool:
        return self.read(rel) is not None

    def index(self, rel: str) -> _ModuleIndex | None:
        if rel not in self._indexes:
            text = self.read(rel)
            self._indexes[rel] = (
                _ModuleIndex(text, rel, self.exists) if text is not None else None
            )
        return self._indexes[rel]


def _closure(
    tree: TreeReader, plans_rel: str, fn_name: str
) -> dict[tuple[str, str], str] | None:
    """(module_rel, def_name) -> source of fn and its transitive
    package-internal referenced defs, or None when the ROOT function itself
    cannot be resolved. Unresolvable transitive references map to a
    placeholder (it shifts the hash only if their NAME changes)."""
    root_idx = tree.index(plans_rel)
    if root_idx is None or fn_name not in root_idx.defs:
        return None
    items: dict[tuple[str, str], str] = {}
    stack: list[tuple[str, str]] = [(plans_rel, fn_name)]
    while stack:
        rel, name = stack.pop()
        if (rel, name) in items:
            continue
        idx = tree.index(rel)
        if idx is None:
            items[(rel, name)] = "<missing-module>"
            continue
        src = idx.source_of(name)
        if src is None:
            items[(rel, name)] = "<unresolved>"
            continue
        items[(rel, name)] = src
        stack.extend(idx.refs_of(name))
    return items


def fingerprint(tree: TreeReader, plans_rel: str, fn_name: str) -> str | None:
    """Content hash of fn + its transitive package-internal referenced defs.

    Returns None when the ROOT function itself cannot be resolved (caller
    decides how to treat that).
    """
    items = _closure(tree, plans_rel, fn_name)
    if items is None:
        return None
    h = hashlib.sha256()
    for (rel, name), src in sorted(items.items()):
        h.update(rel.encode())
        h.update(b"\x00")
        h.update(name.encode())
        h.update(b"\x00")
        h.update(src.encode())
        h.update(b"\x00")
    return h.hexdigest()


@lru_cache(maxsize=None)
def _round_commit(rnd: int) -> str | None:
    """Commit that recorded CORRECTNESS_r{rnd}.json (the round's tree)."""
    fname = f"CORRECTNESS_r{rnd:02d}.json"
    try:
        proc = subprocess.run(
            ["git", "log", "-n1", "--format=%H", "--", fname],
            cwd=_repo_root(),
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    commit = proc.stdout.strip()
    return commit or None


@lru_cache(maxsize=None)
def _tree_for(commit: str | None) -> TreeReader:
    return TreeReader(commit)


# Change-recency buckets for rotation ordering. Lower = more urgent.
CHANGED_THIS_ROUND = 0  # fingerprint differs from the LATEST round commit
CHANGED_LAST_ROUND = 1  # equal at latest, differs at the round before
CHANGED_OLDER = 2  # stable across the last two recorded rounds (or unknown)


def rotation_change_info(
    query_fns: dict[str, object], checked: dict[str, int]
) -> dict[str, tuple[int, bool]]:
    """Per-query (change_bucket, touched_since_last_check) for the rotation.

    ``change_bucket`` orders by WHEN the current implementation appeared —
    the blind spot is recent rewrites, so changed-this-round sorts before
    changed-last-round sorts before older drift. ``touched`` is the core
    rule: the implementation changed since the round that last driver-
    checked this query (False for never-checked queries, which are already
    top-ranked by the rotation). Degrades safely: when the latest round's
    commit is unresolvable every bucket reads CHANGED_OLDER and ``touched``
    compares against each query's own last-checked round commit; without
    git (or any round commit) everything reads (CHANGED_OLDER, False) and
    the rotation falls back to pure staleness ordering.
    """
    rounds = sorted({r for r in checked.values()}, reverse=True)
    latest = _round_commit(rounds[0]) if rounds else None
    prev = _round_commit(rounds[1]) if len(rounds) > 1 else None
    out: dict[str, tuple[int, bool]] = {}
    for name, fn in query_fns.items():
        loc = _locate(fn)
        if loc is None:
            out[name] = (CHANGED_OLDER, False)
            continue
        rel, fname = loc
        now = fingerprint(_tree_for(None), rel, fname)
        if now is None:
            out[name] = (CHANGED_OLDER, False)
            continue
        last = checked.get(name)
        if latest is None:
            # The newest round's record is not committed yet: no bucket,
            # but "touched since its own last check" still resolves.
            touched = last is not None and bool(changed_defs(fn, last))
            out[name] = (CHANGED_OLDER, touched)
            continue
        at_latest = fingerprint(_tree_for(latest), rel, fname)
        if at_latest != now:
            bucket = CHANGED_THIS_ROUND
        elif prev is not None and fingerprint(_tree_for(prev), rel, fname) != now:
            bucket = CHANGED_LAST_ROUND
        else:
            bucket = CHANGED_OLDER
        touched = False
        if last is not None:
            if last == rounds[0]:
                touched = bucket == CHANGED_THIS_ROUND
            elif len(rounds) > 1 and last == rounds[1]:
                touched = bucket in (CHANGED_THIS_ROUND, CHANGED_LAST_ROUND)
            else:
                touched = bool(changed_defs(fn, last))
        out[name] = (bucket, touched)
    return out


def _locate(fn: object) -> tuple[str, str] | None:
    """(repo-relative file, def name) of a query function inside the repo."""
    code = getattr(fn, "__code__", None)
    fname = getattr(fn, "__name__", None)
    if code is None or fname is None:
        return None
    rel = os.path.relpath(os.path.abspath(code.co_filename), _repo_root())
    if rel.startswith(".."):
        return None
    return rel, fname


def changed_defs(fn: object, rnd: int) -> frozenset[tuple[str, str]]:
    """The (module_rel, def_name) entries of fn's closure whose source
    differs from round ``rnd``'s tree: WHAT changed, so the rotation can
    tell one shared helper's edit (the same set for every dependent) from
    distinct rewrites. The whole closure when fn is missing there; empty
    when nothing resolves (no git, no round commit, fn outside the repo)."""
    loc = _locate(fn)
    commit = _round_commit(rnd)
    if loc is None or commit is None:
        return frozenset()
    now = _closure(_tree_for(None), *loc)
    if now is None:
        return frozenset()
    old = _closure(_tree_for(commit), *loc) or {}
    return frozenset(k for k, src in now.items() if old.get(k) != src)

