"""Guard: every parameter of a package def that production code can set
has a second value in use there.

An AST scan (no imports, no Spark). For each parameter of a def in the
package, methods and nested defs included, it collects what every
production call site passes for it: by keyword, by position, or
through ``functools.partial``. Production call sites are read from the
package itself, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``; ``tests/`` is left out, so a value only a test
passes does not make a parameter an option. A call matches every def
of the same name (the scan does not resolve imports), a call to a
class name matches its ``__init__``, and a call that spreads ``*args``
or ``**kwargs`` counts as passing anything.

Two checks:

- a defaulted parameter that no production call site sets to anything
  but its default (a value counts as the default only when its AST
  equals the default's);
- a required parameter that every production call site, of which
  there is at least one, sets to the same literal constant.

Either is a constant wearing an option's clothes: inline it or make it
a module constant (a test that needs a second value monkeypatches the
constant), or name it in ``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "taxi_trips_etl_spark"

# Kept although production passes one value: name → reason.
_DECODE = "pending ROADMAP item 8: the image decode stack goes as a whole"
_MIN_LABEL = (
    "reference implementation: the min-label components that "
    "test_star_matches_min_label_on_mixed_graph checks the star against"
)
_REGISTRY = "data value: a source name in the dbt-style model registry"
ALLOWED = {
    "plans.airflow_dag.build_dag(spark_factory)": (
        "deployment setting: the session factory of the Airflow tasks"
    ),
    "plans.models.taxi_models(out_dir)": (
        "deployment setting: where materialized model tables are written"
    ),
    "dataprep.privacy.dp_noisy_counts(epsilon)": (
        "deployment setting: the privacy budget of a release"
    ),
    "dataprep.privacy.dp_noisy_counts(salt)": (
        "deployment setting: the per-release secret that seeds the noise"
    ),
    "queries._flagship_tpch.q_flagship(sf_dir)": (
        "data value: the input directory every registry builder takes"
    ),
    "plans.models.ModelRegistry.add_source(name)": _REGISTRY,
    "plans.models.ModelRegistry.source(name)": _REGISTRY,
    "operators.enrich.enrich_trips(literal_self_join)": (
        "reference implementation: the reference's literal self-join, "
        "which the pipeline tests compare the broadcast join against"
    ),
    "dataprep.components.connected_components(max_rounds)": _MIN_LABEL,
    "dataprep.components.connected_components(strict)": _MIN_LABEL,
    "functions.geo.centroid_cell(scheme)": (
        "platform path: genuine H3 ids where the h3 wheel is installed "
        "(PARITY.md F7)"
    ),
    "dataprep.multimodal.decode_image(decoder)": _DECODE,
    "dataprep.multimodal.resize_image(decoder)": _DECODE,
    "dataprep.multimodal.resize_image(height)": _DECODE,
    "dataprep.multimodal.resize_image(width)": _DECODE,
}


def _sources() -> list[Path]:
    entry = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return (
        sorted((REPO / PKG).rglob("*.py"))
        + sorted((REPO / "tools").glob("*.py"))
        + sorted((REPO / "perfbench").glob("*.py"))
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
    """(label, call name, positional params after any bound self,
    {param: default or None when required})."""
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
                params = dict.fromkeys(pos)
                params.update(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                params.update(zip((p.arg for p in a.kwonlyargs), a.kw_defaults))
                if not params:
                    continue
                label = f"{mod}.{prefix}{sub.name}"
                name = cls.name if sub.name == "__init__" and cls else sub.name
                yield label, name, pos, params


def _given(calls, pos, param):
    """What each call site passes for ``param``: an AST, None when the
    site leaves it out, or ... when the site spreads arguments."""
    i = pos.index(param) if param in pos else None
    for args, kw, spread in calls:
        given = kw.get(param)
        if given is None and i is not None and i < len(args):
            given = args[i]
        yield ... if spread else given


def single_valued() -> set[str]:
    """'module.def(param)' for each defaulted parameter no production
    caller varies."""
    calls = _calls(_sources())
    out: set[str] = set()
    for label, name, pos, params in _defs():
        for param, default in params.items():
            if default is None:
                continue
            want = ast.dump(default)
            if all(
                g is None or (g is not ... and ast.dump(g) == want)
                for g in _given(calls.get(name, []), pos, param)
            ):
                out.add(f"{label}({param})")
    return out


def one_literal() -> set[str]:
    """'module.def(param)' for each required parameter that every
    production call site sets to the same literal."""
    calls = _calls(_sources())
    out: set[str] = set()
    for label, name, pos, params in _defs():
        for param, default in params.items():
            if default is not None:
                continue
            given = list(_given(calls.get(name, []), pos, param))
            if given and all(isinstance(g, ast.Constant) for g in given):
                if len({ast.dump(g) for g in given}) == 1:
                    out.add(f"{label}({param})")
    return out


def test_every_option_has_a_second_value_in_use():
    stray = sorted(single_valued() - ALLOWED.keys())
    assert not stray, (
        "defaulted parameters that no production caller sets to anything "
        "but the default (make each a constant, or add it to ALLOWED with "
        f"a reason): {len(stray)} {stray}"
    )


def test_no_required_parameter_gets_one_literal():
    stray = sorted(one_literal() - ALLOWED.keys())
    assert not stray, (
        "required parameters that every production caller sets to the "
        "same literal (make each a constant, or add it to ALLOWED with "
        f"a reason): {len(stray)} {stray}"
    )


def test_allow_list_is_not_stale():
    stale = sorted(ALLOWED.keys() - single_valued() - one_literal())
    assert not stale, f"ALLOWED names varied or gone: {stale}"
