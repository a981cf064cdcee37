"""Reachability: every top-level def and assignment in the package is
reached from the programs that run it — the entry file, the bench and
tool scripts, the preflights, perfbench — or from the reference drop-in
API (the top-level ``__all__``). A def that only a test calls must be a
key of ``TEST_REFERENCES``, whose value names the reached operator or
paper API it stands for. AST walk; starts no Spark."""

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
