"""Guard: every package-level def must be reachable from a production
root, not only from tests.

A transitive AST scan (no imports, no Spark). Production roots are the
``@register`` query builders, the module-level code of every package
module (its ``__all__`` strings included), and everything in
``tools/``, ``perfbench/``, ``plans/``, ``bench.py`` and
``__spark_entry__.py``. A def is reached through a name or attribute
chain that resolves via module-level or function-local imports, or
through a string literal naming it (``__all__`` entries, registry
names). Classes count as one unit with their methods.

A def the scan cannot reach is either dead or kept alive only by its
tests; delete it, or name it in ``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "taxi_trips_etl_spark"

# Kept although no production root reaches them. One entry per group.
ALLOWED = {
    # The reference's Airflow DAG seam (PARITY O1-O6): the callables
    # run standalone under pytest; build_dag wires them into Airflow
    # only where airflow is importable.
    "airflow DAG callables": {
        "plans.airflow_dag._drop",
        "plans.airflow_dag._stage_dir",
        "plans.airflow_dag.build_dag",
        "plans.airflow_dag.enrichment",
        "plans.airflow_dag.final_result",
        "plans.airflow_dag.normalization",
        "plans.airflow_dag.storage_to_bq",
    },
    # The min-label reference that test_star_matches_min_label_on_
    # mixed_graph checks the production star contraction against.
    "min-label components reference": {
        "dataprep.components.connected_components",
    },
    # The TESTDATA.md seam: name→path manifest of the generated tables.
    "testdata manifest": {
        "sources.catalog.load_testdata",
        "sources.catalog.testdata_manifest",
    },
    # Not yet deleted: removing them also removes the ~20 codec tests
    # that check them, more test deletions than one change may make.
    "image decode stack (pending deletion)": {
        "dataprep.multimodal._ensure_hwc",
        "dataprep.multimodal._nn_resample",
        "dataprep.multimodal._parse_bmp",
        "dataprep.multimodal._parse_pnm",
        "dataprep.multimodal.decode_image",
        "dataprep.multimodal.decode_image_bytes",
        "dataprep.multimodal.encode_bmp",
        "dataprep.multimodal.encode_ppm",
        "dataprep.multimodal.fake_image_decoder",
        "dataprep.multimodal.resize_image",
    },
}

DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    def __init__(self, path: Path):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        self.is_pkg = parts[-1] == "__init__"
        self.name = ".".join(parts[:-1] if self.is_pkg else parts)
        self.defs: dict[str, ast.AST] = {}
        self.imports: dict[str, tuple[str, str | None]] = {}
        self.stars: list[str] = []
        self.toplevel: list[ast.AST] = []
        for node in ast.parse(path.read_text(), str(path)).body:
            self._add(node)

    def absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = self.name.split(".")
        if not self.is_pkg:
            base = base[:-1]
        base = base[: len(base) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))

    def import_map(self, nodes) -> dict[str, tuple[str, str | None]]:
        """alias → (module, None) for a module, (module, name) for a name."""
        out: dict[str, tuple[str, str | None]] = {}
        for node in nodes:
            if isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name if a.asname else a.name.split(".")[0]
                    out[a.asname or top] = (top, None)
            elif isinstance(node, ast.ImportFrom):
                src = self.absolute(node)
                for a in node.names:
                    if a.name == "*":
                        self.stars.append(src)
                    else:
                        out[a.asname or a.name] = (src, a.name)
        return out

    def _add(self, node: ast.AST) -> None:
        if isinstance(node, DEF_TYPES):
            self.defs[node.name] = node
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            self.imports.update(self.import_map([node]))
        elif isinstance(node, (ast.If, ast.Try)):
            # guarded imports and defs are still module level
            body = list(node.body) + list(node.orelse)
            for handler in getattr(node, "handlers", []):
                body += handler.body
            body += getattr(node, "finalbody", [])
            for sub in body:
                self._add(sub)
            if isinstance(node, ast.If):
                self.toplevel.append(node.test)
        else:
            self.toplevel.append(node)


class _Scan:
    def __init__(self):
        def load(paths) -> dict[str, _Module]:
            return {m.name: m for m in map(_Module, paths)}

        entry = [REPO / "bench.py", REPO / "__spark_entry__.py"]
        self.pkg = load(sorted((REPO / PKG).rglob("*.py")))
        self.roots = load(
            sorted((REPO / "tools").glob("*.py"))
            + sorted((REPO / "perfbench").glob("*.py"))
            + sorted((REPO / "plans").rglob("*.py"))
            + [p for p in entry if p.exists()]
        )
        self.mods = {**self.pkg, **self.roots}
        self.by_name: dict[str, set[tuple[str, str]]] = {}
        for m in self.pkg.values():
            for name in m.defs:
                self.by_name.setdefault(name, set()).add((m.name, name))

    def _target(self, src: str, attr: str | None):
        if attr is None:
            return src if src in self.mods or src.startswith(PKG) else None
        if f"{src}.{attr}" in self.mods:
            return f"{src}.{attr}"
        return self.resolve(src, attr)

    def resolve(self, mod: str, name: str, seen=None):
        """A def as (module, name), a module as its dotted name, or None."""
        seen = seen if seen is not None else set()
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            return None
        seen.add((mod, name))
        if name in m.defs:
            return (mod, name)
        if name in m.imports:
            return self._target(*m.imports[name])
        for star in m.stars:
            hit = self.resolve(star, name, seen)
            if hit is not None:
                return hit
        return None

    def refs(self, mod: str, node: ast.AST) -> set[tuple[str, str]]:
        m = self.mods[mod]
        local = m.import_map(ast.walk(node))

        def lookup(name: str):
            if name in local:
                return self._target(*local[name])
            return self.resolve(mod, name)

        out: set[tuple[str, str]] = set()
        for sub in ast.walk(node):
            hit = None
            if isinstance(sub, ast.Name):
                hit = lookup(sub.id)
            elif isinstance(sub, ast.Attribute):
                chain = []
                while isinstance(sub, ast.Attribute):
                    chain.append(sub.attr)
                    sub = sub.value
                if isinstance(sub, ast.Name):
                    hit = lookup(sub.id)
                    for attr in reversed(chain):
                        if not isinstance(hit, str):
                            break
                        hit = self.resolve(hit, attr)
            elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                if sub.value.isidentifier():
                    hit = lookup(sub.value)
                    if not isinstance(hit, tuple):
                        out |= self.by_name.get(sub.value, set())
            if isinstance(hit, tuple):
                out.add(hit)
        return out

    def closure(self, start: set[tuple[str, str]]) -> set[tuple[str, str]]:
        seen: set[tuple[str, str]] = set()
        todo = list(start)
        while todo:
            key = todo.pop()
            if key not in seen and key[0] in self.mods:
                seen.add(key)
                todo += self.refs(key[0], self.mods[key[0]].defs[key[1]])
        return seen

    def production_roots(self) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for m in self.pkg.values():
            for node in m.toplevel:
                out |= self.refs(m.name, node)
            for name, node in m.defs.items():
                if any(_is_register(d) for d in node.decorator_list):
                    out.add((m.name, name))
        for m in self.roots.values():
            for node in m.toplevel:
                out |= self.refs(m.name, node)
            out |= {(m.name, name) for name in m.defs}
        return out

    def unreached(self) -> set[str]:
        """Package defs no production root reaches, as 'subpkg.mod.def'."""
        reached = self.closure(self.production_roots())
        return {
            f"{m.name[len(PKG) + 1:]}.{name}"
            for m in self.pkg.values()
            for name in m.defs
            if (m.name, name) not in reached
        }


def _is_register(dec: ast.AST) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
    return name == "register"


def test_no_package_def_is_reachable_only_from_tests():
    allowed = set().union(*ALLOWED.values())
    stray = sorted(_Scan().unreached() - allowed)
    assert not stray, (
        "package defs no production root reaches (delete them, or add "
        f"them to ALLOWED with a reason): {stray}"
    )


def test_allow_list_is_not_stale():
    unreached = _Scan().unreached()
    stale = {
        group: sorted(names - unreached)
        for group, names in ALLOWED.items()
        if names - unreached
    }
    assert not stale, f"ALLOWED names reachable or gone: {stale}"
