"""Every defaulted parameter of a module-level ``genie_spark`` function must
be passed by some call site in the repo.

A default that no caller overrides is a constant wearing an option's
clothes: it is a configuration no test, oracle or benchmark has ever run.
The census here is pure ``ast`` (no Spark):

* the functions are the top-level ``def``s of every ``genie_spark`` module;
* a call matches a function by its last name (``f(...)`` or ``m.f(...)``),
  and its positional arguments map onto the parameters in order;
* a call with ``*args`` or ``**kwargs`` counts as passing every parameter;
* call sites are every ``.py`` file of the repo (library, scripts,
  ``perfbench/``, ``tests/``, ``examples/``).

Deployment settings (table names, paths, URIs, write modes) are kept as
options on purpose: they are listed in ``EXEMPT`` with their reason.

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

# (module, function, parameter) -> why it stays an option nobody sets.
EXEMPT: dict[tuple[str, str, str], str] = {
    ("genie_spark.canonicalize", "write_graph", "table"):
        "deployment setting: the catalog table the graph is committed to",
    ("genie_spark.triples", "ntriple_col", "base"):
        "deployment setting: the URI namespace of the exported graph",
    ("genie_spark.sources", "write_bucketed", "mode"):
        "deployment setting: the write mode of the bucketed sink",
}


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts):
            yield p


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """(positional parameter names in order, names that carry a default)."""
    a = fn.args
    positional = [x.arg for x in a.posonlyargs + a.args]
    with_default = positional[len(positional) - len(a.defaults):] if a.defaults else []
    with_default += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                     if d is not None]
    return positional, with_default


def census() -> tuple[int, list[tuple[str, str, str]]]:
    """(number of defaulted parameters, sorted unset (module, fn, param))."""
    functions: dict[str, list[tuple[str, list[str], list[str]]]] = {}
    total = 0
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                positional, defaulted = _defaulted(node)
                if defaulted:
                    functions.setdefault(node.name, []).append(
                        (module, positional, defaulted))
                    total += len(defaulted)

    passed: dict[str, set[str]] = {name: set() for name in functions}
    for path in _py_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name not in functions:
                continue
            splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords)
            for _module, positional, defaulted in functions[name]:
                if splat:
                    passed[name].update(defaulted)
                else:
                    passed[name].update(positional[:len(node.args)])
                    passed[name].update(k.arg for k in node.keywords)

    unset = sorted((module, name, p)
                   for name, defs in functions.items()
                   for module, _pos, defaulted in defs
                   for p in defaulted if p not in passed[name])
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
