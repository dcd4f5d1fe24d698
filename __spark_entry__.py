"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``rabbit_in_a_blender_spark`` package; the
query/oracle inventory is the plans catalog
(rabbit_in_a_blender_spark/plans/*.py), one entry per SURVEY.md §2
operator.

Ordering policy (this file, not the library): the driver adjudicates
``queries()`` in dict order and caps the per-round check at ~50
queries, so with a 90+ query catalog a fixed order would leave the
same tail permanently unverified.  ``_verification_order`` therefore
emits:

1. ``_REVERIFY_FIRST`` — manual override for anything the automatic
   derivation can't see (the hand-only list missed
   w4_rekey_window_losers in r3; the list now only carries explicit
   verdict orders and corner cases);
2. queries with no green row in any committed CORRECTNESS_r*.json
   (new this round), in catalog registration order — a first hard
   signal beats refreshing an old one;
3. stale queries — their implementation changed after their last green
   CORRECTNESS row.  Derived automatically (VERDICT r3 task 3) from
   ``git diff <commit-that-recorded-the-round>``: a query is stale
   when the diff touches (a) the import closure of an engine module
   the query function (or a local helper it references) actually
   pulls in — module granularity inside the engine, reference
   granularity at the plan layer, so q5 isn't flagged by a change to
   a sequence op it never calls — or (b) the plan module itself,
   counted only when the query function's AST fingerprint moved
   (otherwise adding one query to a plans file would flag every
   query in it).  plans/catalog.py is excluded: pure registration
   plumbing whose breakage every query would surface instantly.
   Docstring-only edits don't move a symbol's fingerprint (r13);
4. ...MERGED with everything else by last-green round ascending, with
   staleness discounting a row's green by ``_STALE_AGE_PENALTY``
   rounds (and winning ties).  Since r13 the stale and rest buckets
   share one ordering: a core-module round (like r12→r13's
   pointer-commit rewrite) flags 60+ stale rows, more than the
   driver's ~50-row cap, and a stale-strictly-first order would let
   rows whose last hard signal is r4 starve for ANOTHER round behind
   stale rows greened in r11-r12 (VERDICT r12 task 3 ordered that
   tail drained).  The age of the last hard signal is the common
   currency — a stale flag makes that signal OLDER (its code moved)
   but not zero, because every stale row is additionally covered by
   the builder's own full-replay FULLGATE hash gate each round: a
   stale row waiting behind an older rest row is never unchecked,
   only unconfirmed by the driver.

The rotation maximizes cumulative oracle coverage across rounds while
re-earning the hard signal on exactly the code that moved.  The
library API (plans/catalog.py all_queries/all_oracles) stays in stable
registration order — this environment-dependent sampling concern
belongs to the harness that owns the CORRECTNESS artifacts.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import subprocess
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Manual override: verified before everything else regardless of the
# automatic staleness derivation below.  Kept for cases the import
# closure can't see (dynamic dispatch, data-file dependencies) and for
# explicit verdict orders.
_REVERIFY_FIRST: list[str] = [
    # (empty since r13 — the r12 pin did its job and VERDICT r12 task 3
    # ordered it dropped; the automatic never/stale/oldest buckets now
    # feed the rotation unimpeded)
]

_PKG = "rabbit_in_a_blender_spark"

#: Rounds of evidence a staleness flag costs a row in the merged
#: verification order (r13): a stale row greened in r12 competes for
#: driver slots like an unchanged row greened in r7.  Tuned so a
#: core-module round (60+ stale) interleaves with the oldest unchanged
#: tail inside the driver's ~50-row cap instead of starving it.
_STALE_AGE_PENALTY = 5


def _pkg_file(mod: str, root: str) -> str | None:
    """Repo-relative file of a package module, if it exists."""
    rel = mod.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        if os.path.exists(os.path.join(root, cand)):
            return cand
    return None


# queries() fingerprints every catalog query, and their import closures
# share most engine modules: each source text is parsed once and each
# tree walked once per process.  Trees are only read (``_dump`` strips
# docstrings from a copy), so the memoized nodes stay valid.
@functools.cache
def _parse(src: str) -> ast.Module:
    return ast.parse(src)


@functools.cache
def _nodes(node: ast.AST) -> tuple[ast.AST, ...]:
    return tuple(ast.walk(node))


@functools.cache
def _import_nodes(tree: ast.Module) -> tuple[ast.Import | ast.ImportFrom, ...]:
    return tuple(
        n for n in _nodes(tree) if isinstance(n, (ast.Import, ast.ImportFrom))
    )


def _import_closure(
    mod: str,
    root: str,
    seen: set[str],
    edges: dict[str, set[str]] | None = None,
) -> set[str]:
    """Repo-relative files reachable from ``mod`` via package-internal
    imports (AST walk; handles absolute and relative forms).

    When ``edges`` is given, it accumulates target module → the set of
    SYMBOL names imported from it across the whole closure ("*" for
    whole-module imports) — the input for symbol-level staleness
    (VERDICT r7 task 4: a one-function change to a hot module must not
    flood every query whose closure merely contains the file)."""
    if mod in seen:
        return set()
    seen.add(mod)
    path = _pkg_file(mod, root)
    if path is None:
        return set()
    files = {path}
    try:
        with open(os.path.join(root, path)) as f:
            tree = _parse(f.read())
    except (OSError, SyntaxError):
        return files
    targets: list[str] = []

    def _edge(target: str, name: str) -> None:
        if edges is not None:
            edges.setdefault(target, set()).add(name)

    for node in _import_nodes(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG):
                    targets.append(a.name)
                    _edge(a.name, "*")  # module-object usage: untrackable
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = mod.split(".")
                if not path.endswith("__init__.py"):
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            if base.startswith(_PKG):
                targets.append(base)
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    if a.name == "*":
                        _edge(base, "*")
                    elif _pkg_file(sub, root):
                        # `from pkg.plans import quality` submodule pull
                        targets.append(sub)
                        _edge(sub, "*")
                    else:
                        _edge(base, a.name)
    for t in targets:
        files |= _import_closure(t, root, seen, edges)
    return files


def _round_commit(rnd: int, root: str) -> str | None:
    """Commit that recorded CORRECTNESS_r{rnd}.json (round-end marker)."""
    path = f"CORRECTNESS_r{rnd:02d}.json"
    try:
        rec = subprocess.run(
            ["git", "log", "--diff-filter=A", "--format=%H", "-n", "1", "--", path],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        sha = rec.stdout.strip().splitlines()[0] if rec.stdout.strip() else None
        return sha if rec.returncode == 0 and sha else None
    except (OSError, subprocess.SubprocessError, IndexError):
        return None


def _changed_since(sha: str, root: str) -> set[str] | None:
    """Files changed (committed or working-tree) since ``sha``, plus
    untracked files — a brand-new not-yet-committed engine module in a
    query's import closure is a change `git diff` can't see (ADVICE r4)."""
    try:
        diff = subprocess.run(
            ["git", "diff", "--name-only", sha],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        if diff.returncode != 0:
            return None
        changed = {ln.strip() for ln in diff.stdout.splitlines() if ln.strip()}
        untracked = subprocess.run(
            ["git", "ls-files", "--others", "--exclude-standard"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        if untracked.returncode == 0:
            changed |= {
                ln.strip() for ln in untracked.stdout.splitlines() if ln.strip()
            }
        return changed
    except (OSError, subprocess.SubprocessError):
        return None


# Registration plumbing: every query flows through it equally, so a
# change there breaks everything loudly rather than silently skewing
# one query — excluded from per-query staleness.
_REGISTRY_MODULE = f"{_PKG}.plans.catalog"


def _module_defs(tree: ast.Module) -> dict[str, ast.AST]:
    """Top-level name → defining node (functions, classes, assigns)."""
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    defs[tgt.id] = node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            defs[node.target.id] = node
    return defs


def _reachable_names(defs: dict[str, ast.AST], fn_name: str) -> set[str] | None:
    """Every Name referenced from ``fn_name``'s def plus the local defs
    it (transitively) pulls in; None when the function isn't found."""
    if fn_name not in defs:
        return None
    visited: set[str] = set()
    names: set[str] = set()
    frontier = [fn_name]
    while frontier:
        name = frontier.pop()
        if name in visited:
            continue
        visited.add(name)
        for ref in _nodes(defs[name]):
            if isinstance(ref, ast.Name):
                names.add(ref.id)
                if ref.id in defs and ref.id not in visited:
                    frontier.append(ref.id)
    return names | visited


#: Method decorators that don't change how a method is REACHED — a
#: consumer still gets at it via ``obj.name`` / ``Cls.name``, so the
#: attrs-based method selection below stays sound.  Anything else
#: (registration decorators, wrappers with side effects at class-body
#: execution) forces the method into every fingerprint.
_TRANSPARENT_METHOD_DECORATORS = {
    "staticmethod", "classmethod", "property", "abstractmethod",
    "override", "cached_property", "lru_cache", "cache", "setter",
}


def _decorator_name(d: ast.AST) -> str | None:
    if isinstance(d, ast.Call):
        d = d.func
    if isinstance(d, ast.Attribute):
        return d.attr
    if isinstance(d, ast.Name):
        return d.id
    return None


@functools.cache
def _dump(node: ast.AST) -> str:
    """``ast.dump`` with docstrings stripped (r13): a docstring edit
    documents behavior, it doesn't change it, so it must not flag
    dependents stale — the r12→r13 pointer-commit DOC edits alone
    would have re-flagged every ``Warehouse`` consumer on top of the
    real protocol change.  Leading string-constant statements of
    modules, functions, and classes are dropped before dumping."""
    import copy

    node = copy.deepcopy(node)
    for n in ast.walk(node):
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            b = n.body
            if (
                b
                and isinstance(b[0], ast.Expr)
                and isinstance(b[0].value, ast.Constant)
                and isinstance(b[0].value.value, str)
            ):
                n.body = b[1:] or [ast.Pass()]
    return ast.dump(node)


def _class_fingerprint(node: ast.ClassDef, attrs: set[str] | None) -> str:
    """Method-granular ClassDef fingerprint (VERDICT r10 task 3): the
    class header (bases, keywords, decorators, class-level assigns) plus
    ONLY the methods the consuming code can reach — names in ``attrs``
    (every attribute name referenced anywhere in the query's import
    closure), dunders (invoked implicitly), and methods carrying
    non-transparent decorators (class-body side effects).  Adding an
    unused method no longer moves the fingerprint — the r10 stale flood
    (74 rows from two new ``Warehouse`` methods).  Falls back to the
    whole-class dump when ``attrs`` is None (a closure file couldn't be
    parsed) or the class declares a metaclass (which may rewrite any
    part of the body)."""
    if attrs is None or any(kw.arg == "metaclass" for kw in node.keywords):
        return _dump(node)
    header: list[str] = []
    methods: list[str] = []
    body = node.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # class docstring: not part of the fingerprint
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            reached = (
                stmt.name in attrs
                or (stmt.name.startswith("__") and stmt.name.endswith("__"))
                or any(
                    _decorator_name(d) not in _TRANSPARENT_METHOD_DECORATORS
                    for d in stmt.decorator_list
                )
            )
            if reached:
                methods.append(_dump(stmt))
        else:
            header.append(_dump(stmt))
    return "|".join(
        [
            f"class {node.name}",
            ",".join(_dump(b) for b in node.bases),
            ",".join(_dump(k) for k in node.keywords),
            ",".join(_dump(d) for d in node.decorator_list),
        ]
        + header
        + methods
    )


def _fn_fingerprint(
    src: str, fn_name: str, attrs: set[str] | None = None
) -> str | None:
    """AST fingerprint of a top-level function plus every module-level
    def/assign it (transitively) references by name.  Comment and
    formatting changes don't move it; body or helper changes do.

    Package-internal import lines whose bound name is in the symbol's
    reachable set are part of the fingerprint: re-pointing an import
    (``from .c import g`` -> ``from .d import g``) changes behavior
    through the rebound dependency without moving any def (ADVICE r8).

    ``attrs`` is the attribute-name universe of the consuming closure;
    when given, ClassDefs in the reachable set are fingerprinted at
    method granularity (see :func:`_class_fingerprint`)."""
    try:
        tree = _parse(src)
    except SyntaxError:
        return None
    defs = _module_defs(tree)
    if fn_name not in defs:
        return None
    reach = _reachable_names(defs, fn_name) or set()
    local = sorted(n for n in reach if n in defs)
    imports: list[str] = []
    for node in _import_nodes(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if a.name.startswith(_PKG) and bound in reach:
                    imports.append(f"import {a.name} as {a.asname or ''}")
        elif isinstance(node, ast.ImportFrom):
            if not (node.level or (node.module or "").startswith(_PKG)):
                continue
            src_mod = "." * node.level + (node.module or "")
            for a in node.names:
                if (a.asname or a.name) in reach:
                    imports.append(
                        f"from {src_mod} import {a.name} as {a.asname or ''}"
                    )
    parts = [
        _class_fingerprint(defs[n], attrs)
        if isinstance(defs[n], ast.ClassDef)
        else _dump(defs[n])
        for n in local
    ]
    return "\n".join(parts + sorted(imports))


@functools.cache
def _import_map(tree: ast.Module, mod: str, mod_path: str, root: str) -> dict[str, str]:
    """Local binding name → package module it came from (shared and
    memoized: callers only read it)."""
    imap: dict[str, str] = {}
    for node in _import_nodes(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG):
                    imap[a.asname or a.name.split(".")[0]] = a.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = mod.split(".")
                if not mod_path.endswith("__init__.py"):
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            if not base.startswith(_PKG):
                continue
            for a in node.names:
                sub = f"{base}.{a.name}"
                imap[a.asname or a.name] = sub if _pkg_file(sub, root) else base
    return imap


def _fn_deep_files(
    src: str, fn_name: str, mod: str, root: str
) -> tuple[set[str], dict[str, set[str]]] | None:
    """Repo-relative engine files the query function actually depends
    on — the import closures of every package module referenced (by
    imported name) from the function or its local helpers — plus the
    module → imported-symbol-names edge map across that closure, so a
    changed file can be adjudicated at symbol granularity.  None when
    the function can't be located (caller goes conservative)."""
    mod_path = _pkg_file(mod, root) or ""
    try:
        tree = _parse(src)
    except SyntaxError:
        return None
    reach = _reachable_names(_module_defs(tree), fn_name)
    if reach is None:
        return None
    imap = _import_map(tree, mod, mod_path, root)
    edges: dict[str, set[str]] = {}
    modules: set[str] = set()
    for n in reach:
        if n not in imap:
            continue
        target = imap[n]
        if target in (_REGISTRY_MODULE, mod):
            continue
        modules.add(target)
        if _pkg_file(f"{target}.{n}", root) or target.endswith(f".{n}"):
            # the binding IS a module object: symbol usage untrackable
            edges.setdefault(target, set()).add("*")
        else:
            edges.setdefault(target, set()).add(n)
    files: set[str] = set()
    seen: set[str] = set()
    for m in modules:
        files |= _import_closure(m, root, seen, edges)
    files.discard(_pkg_file(_REGISTRY_MODULE, root) or "")
    files.discard(mod_path)
    return files, edges


def _git_show(sha: str, path: str, root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "show", f"{sha}:{path}"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        return out.stdout if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def _file_module(path: str) -> str:
    """Repo-relative package file → dotted module name."""
    mod = path[:-3] if path.endswith(".py") else path
    if mod.endswith("/__init__"):
        mod = mod[: -len("/__init__")]
    return mod.replace("/", ".")


def _closure_attrs(
    paths: set[str], root: str, cache: dict[str, set[str] | None]
) -> set[str] | None:
    """Union of every attribute name (``x.<attr>``) referenced across
    ``paths`` — the universe of method names the query's closure can
    possibly call, which scopes class fingerprints to reached methods.
    None (→ conservative whole-class dumps) when any file is unreadable
    or unparsable.

    Known limitation: a method dispatched via getattr with a COMPUTED
    string never appears as an Attribute node, so its edits would not
    flag importers.  The engine deliberately has no such dispatch (a
    grep-able invariant); code that needs it should also add the query
    to _REVERIFY_FIRST, the documented escape hatch for
    closure-invisible dependencies."""
    out: set[str] = set()
    for p in paths:
        if p not in cache:
            try:
                with open(os.path.join(root, p)) as f:
                    tree = _parse(f.read())
            except (OSError, SyntaxError):
                cache[p] = None
            else:
                cache[p] = {
                    a.attr for a in _nodes(tree)
                    if isinstance(a, ast.Attribute)
                }
        if cache[p] is None:
            return None
        out |= cache[p]
    return out


def _symbols_changed(
    files: set[str],
    edges: dict[str, set[str]],
    sha: str,
    root: str,
    cur_src: dict[str, str | None],
    old_src: dict[tuple[str, str], str | None],
    fp_cache: dict[tuple, bool],
    attrs: set[str] | None = None,
) -> bool:
    """True when any symbol the closure imports from a CHANGED file has
    a moved fingerprint (VERDICT r7 task 4: symbol-level staleness).
    Whole-module imports ("*"), missing sources (e.g. a brand-new
    untracked file), and un-fingerprintable names stay conservative."""
    for path in files:
        names = edges.get(_file_module(path))
        if not names or "*" in names:
            return True
        if path not in cur_src:
            try:
                with open(os.path.join(root, path)) as f:
                    cur_src[path] = f.read()
            except OSError:
                cur_src[path] = None
        if (sha, path) not in old_src:
            old_src[(sha, path)] = _git_show(sha, path, root)
        new, old = cur_src[path], old_src[(sha, path)]
        if new is None or old is None:
            return True
        # attrs varies per query (each has its own closure), so it is
        # part of the cache key; hash(frozenset) is stable in-process
        atoken = None if attrs is None else hash(frozenset(attrs))
        for name in names:
            key = (sha, path, name, atoken)
            if key not in fp_cache:
                fp_old = _fn_fingerprint(old, name, attrs)
                fp_new = _fn_fingerprint(new, name, attrs)
                fp_cache[key] = (
                    fp_old is None or fp_new is None or fp_old != fp_new
                )
            if fp_cache[key]:
                return True
    return False


def _stale_queries(names: list[str], last_green: dict[str, int], root: str) -> list[str]:
    """Queries whose implementation changed since their last green round
    was recorded.  A change to a file in the plan module's import
    closure flags a query only when a SYMBOL it (transitively) imports
    from that file moved — module-file granularity flooded ~150 queries
    whenever a hot helper module was touched (VERDICT r7 task 4); a
    change to the plan module ITSELF only flags queries whose function
    fingerprint moved.  Empty on git failure (the manual override list
    still applies)."""
    from rabbit_in_a_blender_spark.plans import catalog

    commits: dict[int, str | None] = {}
    changed: dict[int, set[str] | None] = {}
    cur_src: dict[str, str | None] = {}
    old_src: dict[tuple[str, str], str | None] = {}
    fp_cache: dict[tuple, bool] = {}
    attr_cache: dict[str, set[str] | None] = {}
    stale = []
    for n in names:
        rnd = last_green.get(n)
        if rnd is None:
            continue  # never-green bucket handles these
        if rnd not in commits:
            commits[rnd] = _round_commit(rnd, root)
            changed[rnd] = (
                _changed_since(commits[rnd], root) if commits[rnd] else None
            )
        sha, delta = commits[rnd], changed[rnd]
        if delta is None:
            continue
        fn = catalog.get(n).fn
        mod = fn.__module__
        mod_file = _pkg_file(mod, root)
        if mod_file not in cur_src:
            try:
                with open(os.path.join(root, mod_file)) as f:
                    cur_src[mod_file] = f.read()
            except (OSError, TypeError):
                cur_src[mod_file] = None
        new = cur_src[mod_file]
        if new is None:
            stale.append(n)
            continue
        res = _fn_deep_files(new, fn.__name__, mod, root)
        if res is None:
            stale.append(n)
            continue
        deep, edges = res
        hit = deep & delta
        attrs = (
            _closure_attrs(deep | {mod_file}, root, attr_cache)
            if (hit or mod_file in delta)
            else None
        )
        if hit and _symbols_changed(
            hit, edges, sha, root, cur_src, old_src, fp_cache, attrs
        ):
            stale.append(n)
            continue
        if mod_file in delta:
            if (sha, mod_file) not in old_src:
                old_src[(sha, mod_file)] = _git_show(sha, mod_file, root)
            old = old_src[(sha, mod_file)]
            if old is None:
                stale.append(n)  # can't compare → conservative
                continue
            fp_old = _fn_fingerprint(old, fn.__name__, attrs)
            fp_new = _fn_fingerprint(new, fn.__name__, attrs)
            if fp_old is None or fp_new is None or fp_old != fp_new:
                stale.append(n)
    return stale


def _last_green_rounds(has_oracle: set[str]) -> dict[str, int]:
    """name → latest round with a green CORRECTNESS row, from the
    committed CORRECTNESS_r*.json files next to this entry point."""
    last_green: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                results = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, res in results.items():
            if not isinstance(res, dict):
                continue
            err = res.get("err")
            if err == "no_oracle":
                # rows-only by design: the driver marks the missing
                # oracle as an err but the query itself ran — a
                # non-null row count IS the (weaker) green signal
                if res.get("spark_rows") is not None:
                    last_green[name] = max(last_green.get(name, 0), rnd)
                continue
            if err:
                continue
            ok = (
                res.get("rows_match", res.get("spark_rows") is not None)
                and res.get("schema_match", True)
                # rows-only queries (no oracle) can't hash-match by design
                and (res.get("hash_match") or name not in has_oracle)
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def _verification_order(names: list[str], has_oracle: set[str]) -> list[str]:
    last_green = _last_green_rounds(has_oracle)
    reg_index = {name: i for i, name in enumerate(names)}
    root = os.path.dirname(os.path.abspath(__file__))
    manual = [n for n in _REVERIFY_FIRST if n in reg_index]
    taken = set(manual)
    new = [n for n in names if n not in last_green and n not in taken]
    taken |= set(new)
    stale_set = {
        n for n in _stale_queries(names, last_green, root) if n not in taken
    }
    stale = sorted(
        stale_set, key=lambda n: (last_green.get(n, -1), reg_index[n])
    )
    rest = sorted(
        (n for n in names if n not in taken and n not in stale_set),
        key=lambda n: (last_green.get(n, -1), reg_index[n]),
    )
    # merged ordering (r13, see module docstring): oldest hard signal
    # first across BOTH buckets, with staleness DISCOUNTING a row's
    # last green by _STALE_AGE_PENALTY rounds (its evidence predates a
    # code change, so it counts as old — but not as zero, because the
    # builder's full-replay FULLGATE re-hashes every stale row each
    # round).  A 60+ stale flood can't starve the ≤r5 tail past the
    # driver's ~50-row cap, and the oldest stale rows still share the
    # head with it.
    merged = sorted(
        stale + rest,
        key=lambda n: (
            last_green.get(n, -1)
            - (_STALE_AGE_PENALTY if n in stale_set else 0),
            0 if n in stale_set else 1,
            reg_index[n],
        ),
    )
    _emit_queue_metadata(manual, new, stale, rest, last_green, root)
    return manual + new + merged


def _emit_queue_metadata(
    manual: list[str],
    new: list[str],
    stale: list[str],
    rest: list[str],
    last_green: dict[str, int],
    root: str,
) -> None:
    """Best-effort sidecar (VERIFY_QUEUE.json next to the CORRECTNESS
    artifacts) recording the computed buckets, so a driver cap that
    truncates ``queries()`` is auditable after the fact: anything below
    the cut line is visible with its bucket and last green round
    (VERDICT r4 task 8)."""
    try:
        payload = {
            "buckets": {
                "manual_reverify": manual,
                "never_green": new,
                "stale": stale,
                "rest": rest,
            },
            "last_green_round": {n: last_green.get(n) for n in manual + new + stale + rest},
        }
        with open(os.path.join(root, "VERIFY_QUEUE.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=False)
    except OSError:
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: grouped pricing summary
    (scan → filter → project → groupBy/agg), the engine's spine."""
    from rabbit_in_a_blender_spark.plans.catalog import get

    return get("q1_pricing_summary").fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    unverified/stale-first (see module docstring)."""
    from rabbit_in_a_blender_spark.plans.catalog import all_oracles, all_queries

    qs = all_queries()
    order = _verification_order(list(qs), set(all_oracles()))
    return {name: qs[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    from rabbit_in_a_blender_spark.plans.catalog import all_oracles

    return all_oracles()
