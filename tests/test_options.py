"""Every parameter of a ``genie_spark`` function, constructor or method
must take two different values among its call sites, and every defaulted
one must be passed a value other than its default.

A parameter every caller sets to the same value is a constant wearing an
option's clothes: the other values are configurations no test, oracle or
benchmark has ever run. The census here is pure ``ast`` (no Spark):

* the definitions are the top-level ``def``s of every ``genie_spark``
  module, the ``__init__`` of every top-level class (matched by the class
  name) and every other method of those classes (matched by attribute
  name, ``x.m(...)``); a method's leading ``self``/``cls`` is not a
  parameter;
* a call matches a function or class by its last name (``f(...)`` or
  ``m.f(...)``); its positional arguments map onto the parameters in
  order, its keywords by name, and a parameter it leaves out takes its
  default;
* a ``*args`` at position i may carry every positional parameter from i
  on, a ``**kwargs`` every parameter no explicit argument binds: such a
  parameter's value at that call is unknown;
* call sites are every ``.py`` file of the repo (library, scripts,
  ``perfbench/``, ``tests/``, ``examples/``); tests count as callers.

Two rules read that census:

* ``test_every_parameter_takes_two_values``: a parameter is one-valued
  when every call site gives it the same constant — a literal (what
  ``ast.literal_eval`` accepts, negated numbers included), a module
  constant name such as ``SIMHASH_BITS``, or a Column built from one
  literal such as ``F.col("text")`` — compared by ``ast``, a constant
  name as the literal it is assigned (``EMB_DIM`` and ``64`` are one
  value) when every module-level assignment of that name agrees;
* ``test_every_defaulted_parameter_is_passed``: a defaulted parameter is
  unset when every call site gives it its default's ``ast`` (an argument
  spelling out the default does not set the option).

Matching by name only adds call sites, so a collision such as
``F.transform`` can hide a finding, never invent one for a definition
that has real callers.

Deployment settings (table names, paths, URIs, write modes) are kept as
options on purpose: they are listed in ``EXEMPT`` and ``ONE_VALUE_EXEMPT``
with their reason, as are the parameters only the frozen benchmark
harness sets.

Two more ``ast`` checks: every ``genie_spark`` module must be imported by
some non-test file, or be listed in ``UNREACHED_EXEMPT`` with its reason;
and every name a ``genie_spark`` module imports must be read
(``test_every_import_is_used``).

``python3 tests/test_options.py`` prints both parameter censuses per
module (unset/exempt and one-valued/exempt) and the unused imports.
"""
from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "genie_spark"
SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench_work"}

_PERFBENCH = ("set by perfbench/, the benchmark harness, which changes "
              "only with the benchmark")

# (module, function, parameter) -> why it stays an option nobody sets.
# Constructors are keyed by the class name, methods by ``Class.method``.
EXEMPT: dict[tuple[str, str, str], str] = {
    ("genie_spark.canonicalize", "write_graph", "table"):
        "deployment setting: the catalog table the graph is committed to",
    ("genie_spark.triples", "ntriple_col", "base"):
        "deployment setting: the URI namespace of the exported graph",
    ("genie_spark.checkpoint", "run_checkpointed", "key"): _PERFBENCH,
    ("genie_spark.datapipe.graph", "bellman_ford_sql_chain", "seeds_cte"):
        _PERFBENCH,
    ("genie_spark.datapipe.graph", "random_walks_sql_chain", "seeds_cte"):
        _PERFBENCH,
}

# (module, function, parameter) -> why it stays an option every caller sets
# to the same value: the unset ones above, and three only perfbench spells
# out.
ONE_VALUE_EXEMPT: dict[tuple[str, str, str], str] = {
    **EXEMPT,
    ("genie_spark.canonicalize", "write_graph", "mode"):
        "deployment setting: the write mode of the graph sink",
    ("genie_spark.datapipe.graph", "hits_fixed", "dedup_edges"): _PERFBENCH,
    ("genie_spark.datapipe.graph", "kcore_sql_chain", "k"): _PERFBENCH,
}

# (module, qualified name, positional parameters, keyword-only parameters,
#  name -> default expression)
Definition = tuple[str, str, list[str], list[str], dict[str, ast.expr]]


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts):
            yield p


def _signature(fn: ast.FunctionDef, method: bool
               ) -> tuple[list[str], list[str], dict[str, ast.expr]]:
    """(positional parameter names in order, keyword-only names,
    name -> default expression).

    A method drops its leading ``self``/``cls``, which no call spells out.
    """
    a = fn.args
    positional = [x.arg for x in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):],
                        a.defaults))
    defaults.update((k.arg, d) for k, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None)
    if method and positional and positional[0] in ("self", "cls"):
        positional = positional[1:]
    return positional, [k.arg for k in a.kwonlyargs], defaults


def _definitions() -> tuple[dict[str, list[Definition]],
                            dict[str, list[Definition]]]:
    """(functions and classes by name, methods by name)."""
    by_name: dict[str, list[Definition]] = {}
    by_attr: dict[str, list[Definition]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                by_name.setdefault(node.name, []).append(
                    (module, node.name, *_signature(node, method=False)))
            elif isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    sig = _signature(fn, method=True)
                    if fn.name == "__init__":
                        by_name.setdefault(node.name, []).append(
                            (module, node.name, *sig))
                    else:
                        by_attr.setdefault(fn.name, []).append(
                            (module, f"{node.name}.{fn.name}", *sig))
    return by_name, by_attr


def _bind(call: ast.Call, positional: list[str], kwonly: list[str],
          defaults: dict[str, ast.expr]) -> dict[str, ast.expr | None]:
    """Parameter -> the argument's ``ast`` at this call, the default's when
    the call leaves it out, or None when a splat may carry it (or a
    required parameter is missing, as in a name collision).

    A ``*args`` at position i stands for the positional parameters from i
    on; a ``**kwargs`` only for the parameters no explicit argument binds.
    """
    star = next((i for i, a in enumerate(call.args)
                 if isinstance(a, ast.Starred)), None)
    given = dict(zip(positional, call.args[:star]))
    given.update((k.arg, k.value) for k in call.keywords if k.arg)
    kw_splat = any(k.arg is None for k in call.keywords)
    bound: dict[str, ast.expr | None] = {}
    for i, p in enumerate(positional + kwonly):
        if p in given:
            bound[p] = given[p]
        elif kw_splat or star is not None and star <= i < len(positional):
            bound[p] = None
        else:
            bound[p] = defaults.get(p)
    return bound


def _call_sites() -> dict[tuple[str, str, str], list[ast.expr | None]]:
    """(module, name, parameter) -> its value at every matching call site
    (see :func:`_bind`), for every parameter of every definition."""
    by_name, by_attr = _definitions()
    values = {(module, qual, p): []
              for defs in (*by_name.values(), *by_attr.values())
              for module, qual, positional, kwonly, _d in defs
              for p in positional + kwonly}
    for path in _py_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                defs = by_name.get(f.id, [])
            elif isinstance(f, ast.Attribute):
                defs = by_name.get(f.attr, []) + by_attr.get(f.attr, [])
            else:
                continue
            for module, qual, positional, kwonly, defaults in defs:
                for p, v in _bind(node, positional, kwonly, defaults).items():
                    values[(module, qual, p)].append(v)
    return values


def _defaults() -> dict[tuple[str, str, str], ast.expr]:
    by_name, by_attr = _definitions()
    return {(module, qual, p): d
            for defs in (*by_name.values(), *by_attr.values())
            for module, qual, _pos, _kw, defaults in defs
            for p, d in defaults.items()}


def census() -> tuple[int, list[tuple[str, str, str]]]:
    """(number of defaulted parameters, sorted unset (module, name, param)).

    A defaulted parameter is unset when no call site passes it a value
    other than its default (an argument spelling out the default does not
    set the option; a splat that may carry it does).
    """
    defaults = _defaults()
    values = _call_sites()
    unset = sorted(key for key, d in defaults.items()
                   if all(v is not None and ast.dump(v) == ast.dump(d)
                          for v in values[key]))
    return len(defaults), unset


_CONSTANT_NAME = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _literal(expr: ast.expr) -> bool:
    """``ast.literal_eval`` accepts it: numbers, negated numbers, strings,
    ``None``, containers of those."""
    try:
        ast.literal_eval(expr)
    except (ValueError, TypeError):
        return False
    return True


def _constant(expr: ast.expr | None) -> bool:
    """A literal, a module constant name, or a Column built from one
    literal (``F.col("doc_id")``, ``F.lit(0)``)."""
    if expr is None:
        return False
    if isinstance(expr, ast.Name):
        return bool(_CONSTANT_NAME.fullmatch(expr.id))
    if (isinstance(expr, ast.Call) and isinstance(expr.func, ast.Attribute)
            and isinstance(expr.func.value, ast.Name)
            and expr.func.value.id == "F" and expr.func.attr in ("col", "lit")
            and len(expr.args) == 1 and not expr.keywords):
        expr = expr.args[0]
    return _literal(expr)


def _constant_values() -> dict[str, ast.expr]:
    """Module constant name -> the literal it is assigned, for every name
    whose module-level assignments across the repo (``X = 1`` and
    ``X, Y = 1, 2``) all assign the same literal."""
    assigned: dict[str, dict[str, ast.expr]] = {}
    for path in _py_files():
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.Assign):
                continue
            for target in node.targets:
                if (isinstance(target, ast.Tuple)
                        and isinstance(node.value, ast.Tuple)):
                    pairs = zip(target.elts, node.value.elts)
                else:
                    pairs = [(target, node.value)]
                for t, v in pairs:
                    if (isinstance(t, ast.Name)
                            and _CONSTANT_NAME.fullmatch(t.id)):
                        assigned.setdefault(t.id, {})[ast.dump(v)] = v
    return {name: v for name, vs in assigned.items() if len(vs) == 1
            for v in vs.values() if _literal(v)}


def one_valued() -> tuple[int, list[tuple[str, str, str]]]:
    """(number of parameters, sorted (module, name, param) that every call
    site, tests included, sets to the same constant; a constant name
    stands for the literal it is assigned)."""
    values = _call_sites()
    literal = _constant_values()

    def value(v: ast.expr) -> str:
        return ast.dump(literal.get(v.id, v) if isinstance(v, ast.Name)
                        else v)

    found = sorted(
        key for key, vs in values.items()
        if vs and all(_constant(v) for v in vs)
        and len({value(v) for v in vs}) == 1)
    return len(values), found


def test_every_defaulted_parameter_is_passed():
    _total, unset = census()
    missing = [u for u in unset if u not in EXEMPT]
    assert not missing, (
        f"{len(missing)} defaulted parameters no call site passes "
        f"(make them constants, or exempt a deployment setting): "
        + ", ".join(f"{m}.{f}({p})" for m, f, p in missing))


def test_every_parameter_takes_two_values():
    _total, found = one_valued()
    missing = [u for u in found if u not in ONE_VALUE_EXEMPT]
    assert not missing, (
        f"{len(missing)} parameters every call site sets to the same "
        f"constant (make them constants in the body, or exempt a "
        f"deployment setting): "
        + ", ".join(f"{m}.{f}({p})" for m, f, p in missing))


def test_exempt_entries_are_live():
    _total, unset = census()
    stale = sorted(set(EXEMPT) - set(unset))
    assert not stale, f"exempt entries that are gone or now passed: {stale}"
    _total, found = one_valued()
    stale = sorted(set(ONE_VALUE_EXEMPT) - set(found))
    assert not stale, (
        f"one-value exempt entries that are gone or now take two values: "
        f"{stale}")


# genie_spark modules no non-test file imports -> why they stay.
UNREACHED_EXEMPT: dict[str, str] = {
    "genie_spark.toy_bpe":
        "the executable stand-in for the HuggingFace stack that "
        "test_hf_adapter runs where transformers is not installed",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or rel.name.startswith("test_")


def unreached_modules() -> list[str]:
    """``genie_spark`` modules that no non-test ``.py`` file imports.

    An import of ``a.b.c`` also reaches its packages ``a.b`` and ``a``;
    ``from a import x`` reaches ``a.x`` when that is a module. Relative
    imports resolve against the importing file's package.
    """
    modules = {_module_name(p) for p in PACKAGE.rglob("*.py")
               if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts)}
    reached: set[str] = set()

    def reach(importer: str, name: str) -> None:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            target = ".".join(parts[:i])
            if target != importer:
                reached.add(target)

    for path in _py_files():
        if _is_test(path):
            continue
        importer = _module_name(path)
        package = importer if path.name == "__init__.py" else importer.rpartition(".")[0]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    reach(importer, alias.name)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.split(".")
                    anchor = anchor[:len(anchor) - (node.level - 1)]
                    base = ".".join(anchor + ([base] if base else []))
                reach(importer, base)
                for alias in node.names:
                    if f"{base}.{alias.name}" in modules:
                        reach(importer, f"{base}.{alias.name}")
    return sorted(modules - reached)


def test_every_module_has_a_non_test_importer():
    unreached = unreached_modules()
    missing = [m for m in unreached if m not in UNREACHED_EXEMPT]
    assert not missing, (
        f"genie_spark modules only tests import (delete them, or exempt "
        f"one with its reason): {', '.join(missing)}")
    stale = sorted(set(UNREACHED_EXEMPT) - set(unreached))
    assert not stale, f"exempt modules that are gone or now imported: {stale}"


def _imports(node: ast.AST, scope: ast.AST):
    """(import statement, the innermost function or module holding it)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.Import, ast.ImportFrom)):
            yield child, scope
        yield from _imports(child, child if isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope)


def unused_imports() -> list[tuple[str, str]]:
    """(module, name) for every name a ``genie_spark`` module imports and
    never reads.

    An import inside a function must be read in that function; a
    module-level one anywhere in the module. Package ``__init__`` files
    (whose imports are re-exports), ``from __future__`` and a line marked
    ``# noqa`` (an availability probe such as ``import torch``) are
    skipped.
    """
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        source = path.read_text()
        lines = source.splitlines()
        tree = ast.parse(source)
        for node, scope in _imports(tree, tree):
            if (getattr(node, "module", None) == "__future__"
                    or "# noqa" in lines[node.lineno - 1]):
                continue
            read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*" and name not in read:
                    unused.append((_module_name(path), name))
    return unused


def test_every_import_is_used():
    unused = unused_imports()
    assert not unused, "imports never read: " + ", ".join(
        f"{m}: {n}" for m, n in unused)


if __name__ == "__main__":
    total, unset = census()
    n_params, one = one_valued()
    print(f"defaulted={total} unset={len(unset)} "
          f"exempt={sum(u in EXEMPT for u in unset)}")
    print(f"parameters={n_params} one-valued={len(one)} "
          f"exempt={sum(u in ONE_VALUE_EXEMPT for u in one)}")
    print("module: unset/exempt one-valued/exempt")
    for m in sorted({k[0] for k in unset + one}):
        u = [k for k in unset if k[0] == m]
        o = [k for k in one if k[0] == m]
        print(f"  {m}: {len(u)}/{sum(k in EXEMPT for k in u)} "
              f"{len(o)}/{sum(k in ONE_VALUE_EXEMPT for k in o)}")
    for tag, keys, exempt in (("unset", unset, EXEMPT),
                              ("one-valued", one, ONE_VALUE_EXEMPT)):
        print(f"{tag}:")
        for m, f, p in keys:
            print(f"{'E' if (m, f, p) in exempt else ' '} {m}.{f}({p})")
    print(f"unused imports: {len(unused_imports())}")
    for m, n in unused_imports():
        print(f"  {m}: {n}")
