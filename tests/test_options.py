"""Guard: every defaulted parameter of a package def has a second value
in use.

An AST scan (no imports, no Spark). For each defaulted parameter of a
def in the package, methods and nested defs included, it collects what
every call site passes for it: by keyword, by position, or through
``functools.partial``. Call sites are read from the package itself,
``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py`` and
``tests/``. A call matches every def of the same name (the scan does
not resolve imports), a call to a class name matches its
``__init__``, and a call that spreads ``*args`` or ``**kwargs`` counts
as passing anything. A value counts as the default only when its AST
equals the default's.

A parameter that no call site sets to anything but its default is a
constant wearing an option's clothes: inline it or make it a module
constant, or name it in ``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "taxi_trips_etl_spark"

# Kept although every caller passes the default. One entry per group.
ALLOWED = {
    # Deployment settings: which session factory builds the Airflow
    # tasks' session is the deployment's choice, not the engine's.
    "deployment settings": {
        "plans.airflow_dag.build_dag(spark_factory)",
    },
}


def _sources() -> list[Path]:
    entry = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return (
        sorted((REPO / PKG).rglob("*.py"))
        + sorted((REPO / "tools").glob("*.py"))
        + sorted((REPO / "perfbench").glob("*.py"))
        + sorted((REPO / "tests").glob("*.py"))
        + [p for p in entry if p.exists()]
    )


def _callee(fn: ast.AST) -> str | None:
    if isinstance(fn, ast.Name):
        return fn.id
    if isinstance(fn, ast.Attribute):
        return fn.attr
    return None


def _calls(paths) -> dict[str, list[tuple[list, dict, bool]]]:
    """def name → [(positional args, keyword args, spreads)]."""
    out: dict[str, list[tuple[list, dict, bool]]] = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), list(node.args)
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            kw = {k.arg: k.value for k in node.keywords if k.arg}
            spread = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in node.keywords
            )
            out.setdefault(name, []).append((args, kw, spread))
    return out


def _defs():
    """(label, call name, params after any bound self, {param: default})."""
    for path in sorted((REPO / PKG).rglob("*.py")):
        mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        todo: list[tuple[ast.AST, str, ast.ClassDef | None]] = [(tree, "", None)]
        while todo:
            node, prefix, cls = todo.pop()
            for sub in ast.iter_child_nodes(node):
                if isinstance(sub, ast.ClassDef):
                    todo.append((sub, f"{prefix}{sub.name}.", sub))
                    continue
                if not isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    todo.append((sub, prefix, cls))
                    continue
                todo.append((sub, f"{prefix}{sub.name}.", None))
                a = sub.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                static = any(
                    getattr(d, "id", None) == "staticmethod"
                    for d in sub.decorator_list
                )
                if cls is not None and not static:
                    pos = pos[1:]
                defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                defaults.update(
                    (p.arg, d)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                )
                if not defaults:
                    continue
                label = f"{mod}.{prefix}{sub.name}"
                name = cls.name if sub.name == "__init__" and cls else sub.name
                yield label, name, pos, defaults


def single_valued() -> set[str]:
    """'module.def(param)' for each defaulted parameter no caller varies."""
    calls = _calls(_sources())
    out: set[str] = set()
    for label, name, pos, defaults in _defs():
        for param, default in defaults.items():
            want = ast.dump(default)
            i = pos.index(param) if param in pos else None
            varied = False
            for args, kw, spread in calls.get(name, []):
                given = kw.get(param)
                if given is None and i is not None and i < len(args):
                    given = args[i]
                if spread or (given is not None and ast.dump(given) != want):
                    varied = True
                    break
            if not varied:
                out.add(f"{label}({param})")
    return out


def test_every_option_has_a_second_value_in_use():
    allowed = set().union(*ALLOWED.values())
    stray = sorted(single_valued() - allowed)
    assert not stray, (
        "defaulted parameters that no caller sets to anything but the "
        "default (make each a constant, or add it to ALLOWED with a "
        f"reason): {len(stray)} {stray}"
    )


def test_allow_list_is_not_stale():
    hits = single_valued()
    stale = {
        group: sorted(names - hits)
        for group, names in ALLOWED.items()
        if names - hits
    }
    assert not stale, f"ALLOWED names varied or gone: {stale}"
