"""Reachability: every top-level def and assignment in the package is
reached from the programs that run it — the entry file, the bench and
tool scripts, the preflights, perfbench — or from the reference drop-in
API (the top-level ``__all__``). A def that only a test calls must be a
key of ``TEST_REFERENCES``, whose value names the reached operator or
paper API it stands for. Every parameter of the other defs takes two
values across the calls in those programs and the package. AST walks;
start no Spark."""

import ast
import glob
import operator
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
] + sorted(
    p
    for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    if not os.path.basename(p).startswith("test_")
)

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



def _functions(tree, rel, exempt):
    """Every def of a module, nested ones and methods included, as
    ``(key, node, class name or None, exempt)``; a def inside an
    exempt top-level def or class is exempt too."""
    out = []

    def walk(node, prefix, cls, ex):
        for child in ast.iter_child_nodes(node):
            top = not prefix
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                e = ex or (top and exempt(child.name))
                out.append((f"{rel}:{prefix}{child.name}", child, cls, e))
                walk(child, f"{prefix}{child.name}.", None, e)
            elif isinstance(child, ast.ClassDef):
                e = ex or (top and exempt(child.name))
                walk(child, f"{prefix}{child.name}.", child.name, e)
            else:
                walk(child, prefix, cls, ex)

    walk(tree, "", None, False)
    return out


# Addresses, not options: a sheet name locates data inside a workbook
# as a table directory locates it on disk. The reader must read any
# sheet the sink writes, and the warm-up resolver takes the table
# directory its program names (the package knows no data path).
ADDRESS_PARAMETERS = {
    ("read_xlsx_sheet_pandas", "sheet"),
    ("read_xlsx_sheet", "sheet"),
    ("resolve_warmup_sf_dir", "default"),
}
VARIES = "<varies>"
_OPERATORS = {
    ast.Add: operator.add,
    ast.Sub: operator.sub,
    ast.Mult: operator.mul,
    ast.Div: operator.truediv,
    ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod,
    ast.Pow: operator.pow,
    ast.LShift: operator.lshift,
    ast.RShift: operator.rshift,
    ast.BitOr: operator.or_,
    ast.BitAnd: operator.and_,
    ast.USub: operator.neg,
    ast.UAdd: operator.pos,
    ast.Invert: operator.invert,
    ast.Not: operator.not_,
}


def _dotted(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        return f"{node.value.id}.{node.attr}"
    return None


def _const(node, names: dict[str, object]):
    """The value of a constant expression: literals, containers and
    arithmetic of them, and the (``a`` or ``mod.a``) names ``names``
    maps to a value. Raises ValueError or TypeError on anything else."""
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        kind = {ast.Tuple: tuple, ast.List: list, ast.Set: set}[type(node)]
        return kind(_const(e, names) for e in node.elts)
    if isinstance(node, ast.Dict) and None not in node.keys:
        return {_const(k, names): _const(v, names) for k, v in zip(node.keys, node.values)}
    if isinstance(node, ast.UnaryOp) and type(node.op) in _OPERATORS:
        return _OPERATORS[type(node.op)](_const(node.operand, names))
    if isinstance(node, ast.BinOp) and type(node.op) in _OPERATORS:
        return _OPERATORS[type(node.op)](_const(node.left, names), _const(node.right, names))
    name = _dotted(node)
    if name in names:
        return names[name]
    raise ValueError(ast.dump(node))


def _value(node, names) -> str | None:
    try:
        return repr(_const(node, names))
    except (ValueError, TypeError, ArithmeticError, RecursionError):
        return None


def _module_constants(trees) -> dict[str, dict[str, object]]:
    """Per module, the constant each name stands for: its top-level
    ``NAME = <constant expression>`` assignments (a name stored more
    than once anywhere in the module is not a constant) and the
    constants it imports, by name (``from m import A as B``) or through
    a module (``from p import m``, ``import p.m as m``: ``m.A``)."""
    module_of = {
        rel[: -len(".py")].removesuffix("/__init__").replace("/", "."): rel
        for rel in trees
    }
    own = {}
    for rel, tree in trees.items():
        stored = [n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)]
        names = {}
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
                target, value = stmt.targets[0], stmt.value
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                target, value = stmt.target, stmt.value
            else:
                continue
            if isinstance(target, ast.Name) and stored.count(target.id) == 1:
                try:
                    names[target.id] = _const(value, names)
                except (ValueError, TypeError, ArithmeticError, RecursionError):
                    pass
        own[rel] = names
    out = {}
    for rel, tree in trees.items():
        names = dict(own[rel])
        package = rel.split("/")[:-1]
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                base = package[: len(package) - node.level + 1] if node.level else []
                module = ".".join(base + ([node.module] if node.module else []))
                for a in node.names:
                    local = a.asname or a.name
                    if a.name in own.get(module_of.get(module), {}):
                        names[local] = own[module_of[module]][a.name]
                    for c, v in own.get(module_of.get(f"{module}.{a.name}"), {}).items():
                        names[f"{local}.{c}"] = v
            elif isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name
                    for c, v in own.get(module_of.get(a.name), {}).items():
                        names[f"{local}.{c}"] = v
        out[rel] = names
    return out


def _signature(fn, is_method):
    """``fn``'s named parameters in order, and its defaults by name."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaults = dict(zip([p.arg for p in positional[len(positional) - len(a.defaults):]], a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    names = [p.arg for p in positional + a.kwonlyargs]
    return (names[1:] if is_method else names), defaults


def _one_value_scan(trees, checked) -> list[str]:
    """``"<module>:<def> <parameter> = <value>"`` for every parameter
    of a non-exempt def of a ``checked`` module (``rel -> exempt(name)``)
    whose every call in ``trees`` gives it one and the same constant.
    Calls resolve by name (``Cls(...)`` to ``Cls.__init__``, an import
    alias to its target). A call's value for a parameter is a constant
    expression (literals and module constants, imported ones included),
    the default when the argument is omitted (a default that is no
    constant expression stands for itself), or, for a bare name that is
    a parameter of an enclosing non-exempt def (closures included),
    every value of that parameter. Anything else, a ``*``/``**`` splat
    included, varies. A def nothing calls takes its defaults."""
    constants = _module_constants(trees)
    by_name: dict[str, list] = {}
    info = {}  # def node -> (key, exempt)
    sigs = {}
    for rel, is_exempt in checked.items():
        for key, fn, cls, ex in _functions(trees[rel], rel, is_exempt):
            info[fn] = (key, ex)
            sigs[key] = _signature(fn, cls is not None)
            name = cls if fn.name == "__init__" else fn.name
            by_name.setdefault(name, []).append(key)
    for tree in trees.values():  # ``from m import f as g``: g(...) calls f
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.asname and a.name in by_name:
                        by_name.setdefault(a.asname, []).extend(by_name[a.name])

    values: dict[tuple[str, str], set[str]] = {}
    through: list[tuple[tuple[str, str], tuple[str, str]]] = []

    def default(key, p):
        node = sigs[key][1].get(p)
        if node is None:
            return VARIES
        return _value(node, constants[key.split(":")[0]]) or ast.unparse(node)

    def stores(fn):
        return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}

    def resolve(arg, stack, names):
        if isinstance(arg, ast.Name):
            for fn in reversed(stack):
                params = {p.arg for p in ast.walk(fn.args) if isinstance(p, ast.arg)}
                if arg.id in params:
                    if fn in info and not info[fn][1] and arg.id not in stores(fn):
                        return (info[fn][0], arg.id)
                    return VARIES
                if isinstance(fn, ast.Lambda) or arg.id in stores(fn):
                    return VARIES
        return _value(arg, names) or VARIES

    called = set()

    def visit(node, stack, names):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            stack = stack + [node]
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for key in by_name.get(name, []):
                called.add(key)
                params = sigs[key][0]
                given = {}
                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        given.update((p, VARIES) for p in params[i:] if p not in given)
                        break
                    if i < len(params):
                        given[params[i]] = resolve(arg, stack, names)
                for kw in node.keywords:
                    if kw.arg is None:
                        given.update((p, VARIES) for p in params if p not in given)
                    else:
                        given[kw.arg] = resolve(kw.value, stack, names)
                for p in params:
                    v = given[p] if p in given else default(key, p)
                    if isinstance(v, tuple):
                        through.append((v, (key, p)))
                    else:
                        values.setdefault((key, p), set()).add(v)
        for child in ast.iter_child_nodes(node):
            visit(child, stack, names)

    for rel, tree in trees.items():
        visit(tree, [], constants[rel])
    for key, (params, _) in sigs.items():
        if key not in called:
            for p in params:
                values.setdefault((key, p), set()).add(default(key, p))
    changed = True
    while changed:
        changed = False
        for source, target in through:
            new = values.get(source, set()) - values.setdefault(target, set())
            if new:
                values[target] |= new
                changed = True
    return sorted(
        f"{key} {p} = {next(iter(values[(key, p)]))}"
        for fn, (key, ex) in info.items()
        if not ex
        for p in sigs[key][0]
        if (fn.name, p) not in ADDRESS_PARAMETERS
        and len(values.get((key, p), ())) == 1
        and VARIES not in values[(key, p)]
    )


def _one_value_parameters() -> list[str]:
    """The one-value parameters of the package defs and the entry
    file's helpers, over the calls in the programs and the package.
    Exempt: the top-level ``__all__``, ``TEST_REFERENCES``, and in the
    entry file the public names and the ``_q_`` builders, whose
    ``(spark, sf_dir)`` is the driver contract."""
    exempt = set(pkg.__all__) | set(TEST_REFERENCES)
    pkg_files = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))
    trees = {os.path.relpath(p, REPO): _parse(p) for p in ROOT_FILES + pkg_files}
    checked = {os.path.relpath(p, REPO): exempt.__contains__ for p in pkg_files}
    checked["__spark_entry__.py"] = lambda n: not n.startswith("_") or n.startswith("_q_")
    return _one_value_scan(trees, checked)


def test_every_parameter_takes_two_values():
    """A parameter that every program call gives the same constant is an
    option with one value in use: put the value in the body (or, when a
    test must vary it, in a private module constant the test patches).
    A default no program sets is the same case."""
    one = _one_value_parameters()
    assert not one, f"parameters every program call gives one value: {one}"


def test_two_values_scan_resolves_constants():
    """A module constant, an imported one (by name or through its
    module) and a constant expression are each one value, also as a
    default nothing overrides; two different values pass."""
    trees = {
        "pkg/consts.py": ast.parse("_N = 5\n"),
        "pkg/ops.py": ast.parse(
            "from pkg import consts\n"
            "from .consts import _N as N\n"
            "_M = 1 << 3\n"
            "def local(df, n): ...\n"
            "def by_name(df, n): ...\n"
            "def by_module(df, n): ...\n"
            "def defaulted(df, n=_M * 2): ...\n"
            "def spelled(df, n=F.lit(1)): ...\n"
            "def two(df, n): ...\n"
            "def run(df):\n"
            "    local(df, _M)\n"
            "    by_name(df, n=N)\n"
            "    by_module(df, consts._N)\n"
            "    defaulted(df)\n"
            "    spelled(df)\n"
            "    two(df, N)\n"
            "    two(df, 6)\n"
        ),
    }
    got = _one_value_scan(trees, {"pkg/ops.py": lambda n: False})
    assert got == [
        "pkg/ops.py:by_module n = 5",
        "pkg/ops.py:by_name n = 5",
        "pkg/ops.py:defaulted n = 16",
        "pkg/ops.py:local n = 8",
        "pkg/ops.py:spelled n = F.lit(1)",
    ]
