"""Every defaulted parameter of a ``genie_spark`` function, constructor or
method must be passed by some call site in the repo, with a value other
than its default.

A default that no caller overrides is a constant wearing an option's
clothes: it is a configuration no test, oracle or benchmark has ever run.
The census here is pure ``ast`` (no Spark):

* the definitions are the top-level ``def``s of every ``genie_spark``
  module, the ``__init__`` of every top-level class (matched by the class
  name) and every other method of those classes (matched by attribute
  name, ``x.m(...)``); a method's leading ``self``/``cls`` is not a
  parameter;
* a call matches a function or class by its last name (``f(...)`` or
  ``m.f(...)``), and its positional arguments map onto the parameters in
  order;
* an argument whose ``ast`` equals the parameter's default (the same
  literal, the same constant name) does not pass it;
* a call with ``*args`` or ``**kwargs`` counts as passing every parameter;
* call sites are every ``.py`` file of the repo (library, scripts,
  ``perfbench/``, ``tests/``, ``examples/``).

Matching by name only ever adds callers: a collision such as
``F.transform`` can mark a parameter as passed, never invent a finding.

Deployment settings (table names, paths, URIs, write modes) are kept as
options on purpose: they are listed in ``EXEMPT`` with their reason, as
are the parameters only the frozen benchmark harness sets.

A second ``ast`` check asks the same of whole modules: every ``genie_spark``
module must be imported by some non-test file, or be listed in
``UNREACHED_EXEMPT`` with its reason.
"""
from __future__ import annotations

import ast
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
    ("genie_spark.sources", "write_bucketed", "mode"):
        "deployment setting: the write mode of the bucketed sink",
    ("genie_spark.checkpoint", "run_checkpointed", "key"): _PERFBENCH,
    ("genie_spark.datapipe.graph", "bellman_ford_sql_chain", "seeds_cte"):
        _PERFBENCH,
    ("genie_spark.datapipe.graph", "random_walks_sql_chain", "seeds_cte"):
        _PERFBENCH,
}

Definition = tuple[str, str, list[str], dict[str, ast.expr]]


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts):
            yield p


def _signature(fn: ast.FunctionDef, method: bool
               ) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names in order, name -> default expression).

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
    return positional, defaults


def _definitions() -> tuple[dict[str, list[Definition]],
                            dict[str, list[Definition]]]:
    """(functions and classes by name, methods by name); each definition is
    (module, qualified name, positional parameters, defaults)."""
    by_name: dict[str, list[Definition]] = {}
    by_attr: dict[str, list[Definition]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                positional, defaults = _signature(node, method=False)
                if defaults:
                    by_name.setdefault(node.name, []).append(
                        (module, node.name, positional, defaults))
            elif isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    positional, defaults = _signature(fn, method=True)
                    if not defaults:
                        continue
                    if fn.name == "__init__":
                        by_name.setdefault(node.name, []).append(
                            (module, node.name, positional, defaults))
                    else:
                        by_attr.setdefault(fn.name, []).append(
                            (module, f"{node.name}.{fn.name}", positional,
                             defaults))
    return by_name, by_attr


def _passes(arg: ast.expr, default: ast.expr) -> bool:
    """An argument spelling out the default does not set the option."""
    return ast.dump(arg) != ast.dump(default)


def census() -> tuple[int, list[tuple[str, str, str]]]:
    """(number of defaulted parameters, sorted unset (module, name, param))."""
    by_name, by_attr = _definitions()
    total = sum(len(d[3]) for defs in (*by_name.values(), *by_attr.values())
                for d in defs)
    passed: set[tuple[str, str, str]] = set()
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
            splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords)
            for module, qual, positional, defaults in defs:
                given = list(zip(positional, node.args)) + [
                    (k.arg, k.value) for k in node.keywords]
                passed.update(
                    (module, qual, p) for p, default in defaults.items()
                    if splat or any(name == p and _passes(arg, default)
                                    for name, arg in given))

    unset = sorted((module, qual, p)
                   for defs in (*by_name.values(), *by_attr.values())
                   for module, qual, _pos, defaults in defs
                   for p in defaults if (module, qual, p) not in passed)
    return total, unset


def test_every_defaulted_parameter_is_passed():
    _total, unset = census()
    missing = [u for u in unset if u not in EXEMPT]
    assert not missing, (
        f"{len(missing)} defaulted parameters no call site passes "
        f"(make them constants, or exempt a deployment setting): "
        + ", ".join(f"{m}.{f}({p})" for m, f, p in missing))


def test_exempt_entries_are_live():
    _total, unset = census()
    stale = sorted(set(EXEMPT) - set(unset))
    assert not stale, f"exempt entries that are gone or now passed: {stale}"


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


if __name__ == "__main__":
    total, unset = census()
    by_module: dict[str, int] = {}
    for m, _f, _p in unset:
        by_module[m] = by_module.get(m, 0) + 1
    print(f"defaulted={total} unset={len(unset)} "
          f"exempt={sum(u in EXEMPT for u in unset)}")
    for m, n in sorted(by_module.items(), key=lambda kv: -kv[1]):
        print(f"  {m}: {n}")
    for m, f, p in unset:
        print(f"{'E' if (m, f, p) in EXEMPT else ' '} {m}.{f}({p})")
