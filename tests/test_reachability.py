"""Reachability: every top-level def and assignment in the package is
reached from the programs that run it — the entry file, the bench and
tool scripts, the preflights, perfbench — or from the reference drop-in
API (the top-level ``__all__``). A def that only a test calls must be a
key of ``TEST_REFERENCES``, whose value names the reached operator or
paper API it stands for. Every defaulted parameter of the other defs is
set by some call in those programs or the package. AST walks; start no
Spark."""

import ast
import glob
import os

import mape_calculation_and_anonymization_spark as pkg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mape_calculation_and_anonymization_spark")
ROOT_FILES = [
    os.path.join(REPO, name)
    for name in (
        "__spark_entry__.py",
        "bench.py",
        "tools.py",
        "preflight.py",
        "preflight_deps.py",
    )
] + sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))

# Defs no program calls, kept as a test's reference for one that is.
TEST_REFERENCES = {
    "minhash_signature": "reference signatures for minhash_signatures",
    "signature_agreement": "agreement of minhash_signatures rows",
    "md5_band_keys": "reference band keys for md5_band_buckets",
    "ks_statistic": "two-sample KS reference for drift_scorecard",
    "bpe_merges": "driver-side reference for bpe_merges_local",
    "simhash64_udf": "unigram simhash of simhash_near_duplicates",
    "count_nodes": "plan pin of tests/test_plans.py (plans/audit.py)",
    "uses_broadcast_join": "plan pin of tests/test_plans.py (plans/audit.py)",
    "read_schema_columns": "plan pin of tests/test_plans.py (plans/audit.py)",
    "anonymize_files": "reference anonymize_datasets.py:137-215",
}


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _refs(node) -> set[str]:
    """Every identifier ``node`` refers to: names, attribute names and
    from-imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _package_defs() -> dict[str, list[tuple[str, ast.AST]]]:
    """Top-level def, class and assignment names of every package module
    except the ``__init__`` files, each with its module and node."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if os.path.basename(path) == "__init__.py":
            continue
        rel = os.path.relpath(path, REPO)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            for name in names:
                defs.setdefault(name, []).append((rel, stmt))
    return defs


def _reached(defs, roots: set[str]) -> set[str]:
    reached: set[str] = set()
    frontier = list(roots)
    while frontier:
        name = frontier.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _, node in defs[name]:
            frontier.extend(_refs(node))
    return reached


def test_every_package_def_is_reached():
    defs = _package_defs()
    roots = set(pkg.__all__)
    for path in ROOT_FILES:
        roots |= _refs(_parse(path))
    reached = _reached(defs, roots)
    stale = sorted(n for n in TEST_REFERENCES if n in reached or n not in defs)
    # a test reference keeps the helpers it calls
    kept = _reached(defs, roots | set(TEST_REFERENCES))
    unreached = sorted(
        f"{rel}:{node.lineno} {name}"
        for name, sites in defs.items()
        if name not in kept
        for rel, node in sites
    )
    assert not unreached, f"package defs nothing reaches: {unreached}"
    assert not stale, f"TEST_REFERENCES entries reached or not defined: {stale}"



def _defaulted(fn) -> list[str]:
    """Names of ``fn``'s parameters that carry a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [p.arg for p in positional[len(positional) - len(a.defaults):]]
    out += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _functions(tree, rel, exempt):
    """Every def of a module, nested ones and methods included, as
    ``(key, node, class name or None, exempt)``; a def inside an
    exempt top-level def or class is exempt too."""
    out = []

    def walk(node, prefix, cls, ex):
        for child in ast.iter_child_nodes(node):
            top = not prefix
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                e = ex or (top and child.name in exempt)
                out.append((f"{rel}:{prefix}{child.name}", child, cls, e))
                walk(child, f"{prefix}{child.name}.", None, e)
            elif isinstance(child, ast.ClassDef):
                e = ex or (top and child.name in exempt)
                walk(child, f"{prefix}{child.name}.", child.name, e)
            else:
                walk(child, prefix, cls, ex)

    walk(tree, "", None, False)
    return out


def _unset_parameters() -> list[str]:
    """``"<module>:<def> <parameter>"`` for every defaulted parameter of
    a non-exempt package def that no call in a program or the package
    sets. Calls resolve by name (``Cls(...)`` to ``Cls.__init__``). A
    keyword, a positional argument and a ``*``/``**`` splat set a
    parameter. An argument that is a bare defaulted parameter of the
    innermost enclosing non-exempt package def passes that parameter
    through: it sets the callee's only once the outer one is set."""
    exempt = set(pkg.__all__) | set(TEST_REFERENCES)
    pkg_files = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))
    trees = {p: _parse(p) for p in ROOT_FILES + pkg_files}
    by_name: dict[str, list] = {}
    info = {}  # def node -> (key, exempt)
    for path in pkg_files:
        rel = os.path.relpath(path, REPO)
        for key, fn, cls, ex in _functions(trees[path], rel, exempt):
            info[fn] = (key, ex)
            name = cls if fn.name == "__init__" else fn.name
            by_name.setdefault(name, []).append((key, fn, cls is not None))

    set_params: set[tuple[str, str]] = set()
    through: list[tuple[tuple[str, str], tuple[str, str]]] = []

    def visit(node, outer):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            outer = node
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for key, fn, is_method in by_name.get(name, []):
                params = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                params = params[1:] if is_method else params
                given = []
                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        given += [(p, None) for p in params[i:]]
                        break
                    if i < len(params):
                        given.append((params[i], arg))
                for kw in node.keywords:
                    if kw.arg is None:
                        given += [(p, None) for p in _defaulted(fn)]
                    else:
                        given.append((kw.arg, kw.value))
                for p, value in given:
                    if (
                        isinstance(value, ast.Name)
                        and outer in info
                        and not info[outer][1]
                        and value.id in _defaulted(outer)
                    ):
                        through.append(((info[outer][0], value.id), (key, p)))
                    else:
                        set_params.add((key, p))
        for child in ast.iter_child_nodes(node):
            visit(child, outer)

    for tree in trees.values():
        visit(tree, None)
    changed = True
    while changed:
        changed = False
        for source, target in through:
            if source in set_params and target not in set_params:
                set_params.add(target)
                changed = True
    return sorted(
        f"{key} {p}"
        for fn, (key, ex) in info.items()
        if not ex
        for p in _defaulted(fn)
        if (key, p) not in set_params
    )


def test_every_defaulted_parameter_is_set():
    """A defaulted parameter that no program sets is an option with one
    value in use: put the value in the body (or, when a test must vary
    it, in a private module constant the test patches)."""
    unset = _unset_parameters()
    assert not unset, f"defaulted parameters no program sets: {unset}"
