"""Driver-collect audit: the engine's 100-TB posture claims nothing
ever collects a fact-proportional frame to the driver (VERDICT r7
"collect surface is dimension-sized by contract"). This test freezes
that audit as code: every ``.collect()`` / ``.toPandas()`` /
``.first()`` / ``.take(n)`` / ``.toLocalIterator()`` call site in the
package and the entry file must appear in the allowlist below, each
with its boundedness argument. Adding a driver action anywhere else
fails this test until the new site is audited and listed — the
reviewer-in-the-loop a fact-table collect should have to get past.

ADVICE-r8 hardening: the scan is AST-based (``ast.parse`` + a
visitor), not a hand-rolled quote-state text scan — string literals,
comments, escaped backslashes, and f-strings can no longer hide or
fake a call site. Sites are recorded by ENCLOSING QUALNAME with a
per-qualname count, so removing an audited site and adding an
unaudited one in the same file can never net out: the new qualname
(or the grown count under an existing one) surfaces by name.

``first`` is matched only as the ZERO-ARG call ``.first()`` — the
DataFrame driver action — never the JVM-side aggregate ``F.first(col)``.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mape_calculation_and_anonymization_spark")

# driver-action attribute names; True = only the zero-argument call is
# the driver action (``.first()``; ``F.first(col)`` is an aggregate)
ACTION_ATTRS = {
    "collect": True,
    "toPandas": True,
    "first": True,
    "take": False,
    "toLocalIterator": False,
}

# (relpath, pattern) -> ({enclosing qualname: site count}, boundedness
# argument). Line numbers drift with edits; qualnames survive them and
# name the function to re-audit when a count grows.
ALLOWLIST = {
    # label/zone universes: distinct over a low-cardinality dimension
    # column; the collected list sizes the anonymization mapping
    ("functions/labels.py", "collect"): (
        {"label_universe": 1},
        "distinct label universe (dimension-sized by contract)",
    ),
    ("operators/mape.py", "collect"): (
        {"daily_mape_aggregation": 1},
        "distinct zone universe for the pivot column set (zones are a "
        "small fixed dimension)",
    ),
    # PQ: codebook training sample and the query batch, both explicitly
    # guarded (max_queries raises on a corpus-sized query frame)
    ("operators/pq.py", "collect"): (
        {"_collect_query_batch": 1, "train_pq_codebooks": 1},
        "bounded training sample + max_queries-guarded query batch "
        "(pq.py:45-56 raises on corpus-sized input)",
    ),
    # BPE: vocab fold (max_words-guarded), the per-iteration argmax,
    # and the merge-list pull at encode time
    ("operators/bpe.py", "collect"): (
        {"bpe_merges_local": 1, "bpe_encode_words": 1},
        "max_words-guarded word-frequency vocab (trainer) + the learned "
        "merge list (one row per merge — answer-sized by construction, "
        "carried into the encode UDF closure)",
    ),
    ("operators/bpe.py", "first"): (
        {"bpe_merges": 1},
        "ONE best-pair row per merge iteration (answer-sized scalar)",
    ),
    # scalar probes: max timestamp, stats
    ("operators/layout.py", "first"): (
        {"quantile_rank_column": 1},
        "single aggregate scalar for layout sizing",
    ),
    ("operators/joins.py", "first"): (
        {"merge_upsert": 1},
        "the MERGE duplicate-source-key guard reads ONE aggregated "
        "scalar row",
    ),
    ("operators/similarity.py", "first"): (
        {"embedding_near_duplicates": 1},
        "embedding dimensionality probe — one scalar row",
    ),
    ("operators/similarity.py", "collect"): (
        {"assign_to_centroids_udf": 1},
        "offline coarse-index centroid table carried into the routing "
        "UDF closure (n_clusters × dim floats — answer-sized by "
        "construction, same convention as the LSH hyperplanes and the "
        "BPE merge list)",
    ),
    ("sources/sinks.py", "collect"): (
        {"delete_keys": 1},
        "affected-file list for targeted delete: file paths of a "
        "broadcast-semi-join probe, O(affected files) not O(rows)",
    ),
    ("sources/sinks.py", "toPandas"): (
        {"write_excel_workbook": 1},
        "Excel workbook sheets are post-aggregation report frames "
        "(the reference's xlsx surface is driver-side by nature)",
    ),
    ("__spark_entry__.py", "toPandas"): (
        {"_q_k2_excel_sheets.build": 1},
        "daily MAPE report frame (days x zones, dimension-sized) "
        "feeding the Excel sink query",
    ),
    ("__spark_entry__.py", "first"): (
        {"_sentinel_stream_fixture.build": 1},
        "MAX(ts) scalar for the sentinel stream fixture",
    ),
}


class _SiteVisitor(ast.NodeVisitor):
    """Collect (pattern, enclosing qualname, lineno) for every
    driver-action call. The qualname stack includes classes and nested
    functions, so ``Foo.bar`` and ``outer.<locals>-style`` nestings
    stay distinguishable (joined with '.')."""

    def __init__(self):
        self.stack: list[str] = []
        self.sites: list[tuple[str, str, int]] = []

    def _visit_scope(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_FunctionDef = _visit_scope
    visit_AsyncFunctionDef = _visit_scope
    visit_ClassDef = _visit_scope

    def visit_Call(self, node):
        func = node.func
        if isinstance(func, ast.Attribute) and func.attr in ACTION_ATTRS:
            zero_arg_only = ACTION_ATTRS[func.attr]
            if not zero_arg_only or (not node.args and not node.keywords):
                qual = ".".join(self.stack) or "<module>"
                self.sites.append((func.attr, qual, node.lineno))
        self.generic_visit(node)


def _target_files():
    targets = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        targets += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return targets


def _relpath(path: str) -> str:
    rel = os.path.relpath(path, REPO)
    return rel.removeprefix("mape_calculation_and_anonymization_spark" + os.sep)


def _scan():
    """(relpath, pattern) -> {qualname: count} over real AST call
    sites (comments/strings cannot produce or hide one)."""
    found: dict[tuple[str, str], dict[str, int]] = {}
    for path in _target_files():
        rel = _relpath(path)
        visitor = _SiteVisitor()
        visitor.visit(ast.parse(open(path).read(), filename=path))
        for pattern, qual, _lineno in visitor.sites:
            per = found.setdefault((rel, pattern), {})
            per[qual] = per.get(qual, 0) + 1
    return found


def test_every_driver_collect_site_is_audited():
    found = _scan()
    problems = []
    for key, per_qual in found.items():
        allowed = ALLOWLIST.get(key, ({}, ""))[0]
        for qual, n in per_qual.items():
            if qual not in allowed:
                problems.append(f"{key}: unaudited site in {qual} (x{n})")
            elif n > allowed[qual]:
                problems.append(
                    f"{key}: {qual} grew {allowed[qual]} -> {n} call sites"
                )
    assert not problems, (
        "driver-collect audit failures:\n  " + "\n  ".join(problems) + "\n"
        "verify each new/grown site is dimension-sized or guarded, then "
        "add it to ALLOWLIST under its enclosing qualname with its "
        "boundedness argument"
    )


def test_no_row_at_a_time_python_udfs():
    """The hot-path posture claim "no row-at-a-time Python UDF exists
    in the repo" (every Python escape hatch is Arrow-batched:
    pandas_udf / applyInPandas / mapInPandas), frozen as a source
    audit. ``udf(...)`` — bare or as ``F.udf`` / ``functions.udf`` —
    and a bare ``@udf`` decorator are the per-row-pickle path that is
    ~10-100x slower than Arrow batches; new code wanting Python must
    take the vectorized route. AST-based for the same evasion
    resistance as the collect audit."""

    def is_udf_ref(node) -> bool:
        return (isinstance(node, ast.Name) and node.id == "udf") or (
            isinstance(node, ast.Attribute) and node.attr == "udf"
        )

    offenders = []
    for path in _target_files():
        tree = ast.parse(open(path).read(), filename=path)
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and is_udf_ref(node.func):
                offenders.append(f"{rel}:{node.lineno}")
            decorators = getattr(node, "decorator_list", [])
            for dec in decorators:
                if is_udf_ref(dec):
                    offenders.append(f"{rel}:{dec.lineno}")
    assert not offenders, (
        f"row-at-a-time Python UDF call sites: {offenders} — use a "
        "pandas_udf / applyInPandas / mapInPandas Arrow batch instead"
    )


def test_allowlist_carries_no_dead_entries():
    """Shrinking is progress — but the allowlist must shrink with it,
    or the stale entry would mask a future re-introduction under the
    same qualname."""
    found = _scan()
    dead = []
    shrunk = []
    for key, (allowed, _reason) in ALLOWLIST.items():
        per_qual = found.get(key, {})
        for qual, n_allowed in allowed.items():
            n_found = per_qual.get(qual, 0)
            if n_found == 0:
                dead.append(f"{key}: {qual}")
            elif n_found < n_allowed:
                shrunk.append(f"{key}: {qual} {n_allowed} -> {n_found}")
    assert not dead, f"allowlist entries with no remaining call site: {dead}"
    assert not shrunk, f"call sites shrank — lower the counts: {shrunk}"
