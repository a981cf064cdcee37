"""Static per-query dependency fingerprints for preflight --changed.

The full-registry driver-sim costs ~2 minutes and is run repeatedly
inside a round; most edits touch a handful of queries. This module
computes, WITHOUT starting Spark, a fingerprint per registry query
that changes iff something its result could depend on changed:

  * the query function's own source, and the source of every
    entry-file helper reachable from it (transitive closure over the
    entry file's top-level def graph — ``_q_dedup_clusters`` reaches
    ``_jaccard_index`` reaches ``_fixture`` ...);
  * its oracle SQL string (absent for rows-only queries);
  * the file hash of every package module the closure references —
    via module-level ``from mape_calculation_and_anonymization_spark.X
    import name`` bindings that the closure's code actually names,
    plus function-local ImportFrom statements inside the closure —
    expanded TRANSITIVELY over the package's internal import graph
    (editing ``operators/rebalance.py`` re-flags queries that import
    ``operators/dedup.py`` which imports it);
  * a source-data token (size+mtime of every testdata table file),
    so a regenerated testdata drop re-flags everything.

Approximation boundary (documented, deliberately conservative where
it matters): references are NAME-based — any mention of a bound name
counts as a use; unresolvable dynamic imports or getattr-dispatch
would be invisible, but the repo's query code is static calls. The
fingerprint errs toward re-running (a name collision can only ADD
dependencies, never hide one).
"""

from __future__ import annotations

import ast
import hashlib
import os

PKG_NAME = "mape_calculation_and_anonymization_spark"
REPO = os.path.dirname(os.path.abspath(__file__))
PKG_DIR = os.path.join(REPO, PKG_NAME)
ENTRY = os.path.join(REPO, "__spark_entry__.py")


def _file_md5(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def _names_used(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            # entrymod-style attribute roots (rare) still surface via
            # the Name node of the value; nothing extra needed
            pass
    return used


def _local_pkg_imports(node: ast.AST) -> set[str]:
    """Package modules imported by ImportFrom statements INSIDE the
    node (function-local imports, the entry file's common pattern)."""
    mods: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.ImportFrom) and n.module:
            if n.module == PKG_NAME or n.module.startswith(PKG_NAME + "."):
                mods.add(n.module)
    return mods


def _module_file(modname: str) -> str | None:
    """Repo file for a package module name, or None if external."""
    if not (modname == PKG_NAME or modname.startswith(PKG_NAME + ".")):
        return None
    rel = modname.replace(".", os.sep)
    for cand in (
        os.path.join(REPO, rel + ".py"),
        os.path.join(REPO, rel, "__init__.py"),
    ):
        if os.path.exists(cand):
            return cand
    return None


def _pkg_import_graph() -> dict[str, set[str]]:
    """file -> set of package files it imports (one AST pass over the
    package; relative imports resolved against the module's package)."""
    graph: dict[str, set[str]] = {}
    for root, dirs, files in os.walk(PKG_DIR):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path).read(), filename=path)
            deps: set[str] = set()
            # module dotted name of THIS file, for resolving relatives
            rel = os.path.relpath(path, REPO)[: -len(".py")]
            this_mod = rel.replace(os.sep, ".")
            if this_mod.endswith(".__init__"):
                this_mod = this_mod[: -len(".__init__")]
            for n in ast.walk(tree):
                if isinstance(n, ast.ImportFrom):
                    if n.level:  # relative: from ..operators import x
                        base = this_mod.split(".")
                        base = base[: len(base) - n.level]
                        mod = ".".join(base + ([n.module] if n.module else []))
                    else:
                        mod = n.module or ""
                    mf = _module_file(mod)
                    if mf:
                        deps.add(mf)
                    # `from pkg.sub import name` where name is itself a
                    # module (import of a submodule via from-import)
                    for alias in n.names:
                        mf2 = _module_file(f"{mod}.{alias.name}")
                        if mf2:
                            deps.add(mf2)
                elif isinstance(n, ast.Import):
                    for alias in n.names:
                        mf = _module_file(alias.name)
                        if mf:
                            deps.add(mf)
            graph[path] = deps
    return graph


def _transitive_files(seed: set[str], graph: dict[str, set[str]]) -> set[str]:
    out, todo = set(), list(seed)
    while todo:
        f = todo.pop()
        if f in out:
            continue
        out.add(f)
        todo.extend(graph.get(f, ()))
    return out


def query_fingerprints(sf_dir: str) -> dict[str, str]:
    """name -> md5 fingerprint for every registry query (computed
    statically; importing __spark_entry__ only for the name list and
    oracle strings, no Spark session)."""
    import __spark_entry__ as entrymod

    full_src = open(ENTRY).read()
    tree = ast.parse(full_src, filename=ENTRY)
    src_lines = full_src.splitlines(keepends=True)

    def segment(node: ast.AST) -> str:
        # whole-line slice by (lineno, end_lineno): top-level nodes
        # start at column 0, and for HASHING purposes trailing
        # same-line content is irrelevant; ast.get_source_segment
        # re-splits the whole 8k-line file per call (measured 36s
        # across the registry — this is <10ms total)
        return "".join(src_lines[node.lineno - 1 : node.end_lineno])

    top_funcs: dict[str, ast.AST] = {}
    module_bindings: dict[str, str] = {}  # bound name -> package module
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            top_funcs[node.name] = node
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(PKG_NAME):
                for alias in node.names:
                    module_bindings[alias.asname or alias.name] = node.module
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG_NAME):
                    module_bindings[alias.asname or alias.name] = alias.name

    # entry-file top-level ASSIGNMENTS (oracle strings, constants):
    # name -> source segment, so a constant edit re-flags its users
    top_assigns: dict[str, str] = {}
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            targets = [node.target.id]
        if targets:
            seg = segment(node)
            for t in targets:
                top_assigns[t] = seg

    # precompute per-function facts ONCE (segment extraction and AST
    # walks over a 8k-line entry file dominate; doing them per query
    # was measured at 45s for the registry, cached it's <2s)
    fn_seg: dict[str, str] = {}
    fn_names_used: dict[str, set[str]] = {}
    fn_pkg_imports: dict[str, set[str]] = {}
    for fname, node in top_funcs.items():
        fn_seg[fname] = segment(node)
        fn_names_used[fname] = _names_used(node)
        fn_pkg_imports[fname] = _local_pkg_imports(node)

    closure_cache: dict[str, frozenset[str]] = {}

    def closure(fn_name: str) -> frozenset[str]:
        if fn_name in closure_cache:
            return closure_cache[fn_name]
        seen: set[str] = set()
        todo = [fn_name]
        while todo:
            n = todo.pop()
            if n in seen or n not in top_funcs:
                continue
            seen.add(n)
            for used in fn_names_used[n]:
                if used not in seen and used in top_funcs:
                    todo.append(used)
        result = frozenset(seen)
        closure_cache[fn_name] = result
        return result

    pkg_graph = _pkg_import_graph()
    file_hash_cache: dict[str, str] = {}

    def fhash(path: str) -> str:
        if path not in file_hash_cache:
            file_hash_cache[path] = _file_md5(path)
        return file_hash_cache[path]

    # testdata token: any table regeneration re-flags every query
    data_token = []
    if os.path.isdir(sf_dir):
        for f in sorted(os.listdir(sf_dir)):
            st = os.stat(os.path.join(sf_dir, f))
            data_token.append(f"{f}:{st.st_size}:{int(st.st_mtime)}")
    data_token_s = "|".join(data_token)

    oracles = entrymod.oracle_sql()
    fps: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        # Derive the entry-point function from the registered callable
        # itself, not a naming convention (ADVICE r9): a registry
        # entry bound to a function NOT named _q_<name> would
        # otherwise silently fingerprint to data-token+oracle only,
        # and --changed would never flag its code edits as stale.
        fn_name = getattr(fn, "__name__", f"_q_{name}")
        if fn_name not in top_funcs:
            raise RuntimeError(
                f"query_fingerprints: registry entry {name!r} is bound "
                f"to {fn_name!r}, which is not a top-level def in the "
                "entry file — --changed staleness tracking cannot see "
                "its body. Bind registry entries to top-level entry-"
                "file functions (wrappers included) so the AST closure "
                "walk covers them."
            )
        fn_closure = closure(fn_name)
        h = hashlib.md5()
        h.update(data_token_s.encode())
        h.update((oracles.get(name) or "<rows-only>").encode())
        used_names: set[str] = set()
        pkg_files: set[str] = set()
        for cname in sorted(fn_closure):
            h.update(fn_seg[cname].encode())
            used_names |= fn_names_used[cname]
            for mod in fn_pkg_imports[cname]:
                mf = _module_file(mod)
                if mf:
                    pkg_files.add(mf)
        # constants referenced by the closure (oracle strings included)
        for n in sorted(used_names):
            if n in top_assigns:
                h.update(top_assigns[n].encode())
        # module-level bindings the closure actually names
        for n in sorted(used_names):
            mod = module_bindings.get(n)
            if mod:
                mf = _module_file(mod)
                if mf:
                    pkg_files.add(mf)
        for f in sorted(_transitive_files(pkg_files, pkg_graph)):
            h.update(fhash(f).encode())
        fps[name] = h.hexdigest()
    return fps
