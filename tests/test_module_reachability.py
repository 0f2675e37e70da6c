"""Every module under ``predictor_spark/`` is reached from a root, or is
on the allowlist below with the reference feature it serves and the test
that covers it.

The lint AST-scans imports, including function-local ones, from these
roots:

- ``__spark_entry__.py`` and its discovery rule: every ``plans/catalog*``
  module plus ``plans/champion``;
- ``predictor_spark/__init__.py`` and ``predictor_spark/__main__.py``;
- ``bench.py``, ``examples/``, ``tools/``, and ``perfbench/`` outside its
  tests.

Importing ``a.b.c`` runs ``a`` and ``a.b`` too, so a reached module's
parent packages are reached. ``from a.b import c`` reaches ``a.b.c``
when ``c`` is a module. A module no root reaches is code no registered
row, example, tool or benchmark runs: delete it, or allowlist it with the
test that keeps it honest. An allowlisted module is walked as a root, so
its parent packages and what it imports count as reached.
"""

from __future__ import annotations

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
_PKG = _REPO / "predictor_spark"

#: module -> (reference feature it serves, the test that covers it)
ALLOWLIST = {
    "predictor_spark.functions.registry": (
        "plugin registry (app/plugin_loader.py entry-point groups)",
        "tests/test_registry_mllib.py"),
    "predictor_spark.functions.sqlfuncs": (
        "the plugins' scalar helpers as session SQL functions",
        "tests/test_registry_mllib.py"),
    "predictor_spark.functions.udtfs": (
        "UDTF face of the extensibility surface (SURVEY 2.10)",
        "tests/test_registry_mllib.py"),
    "predictor_spark.plans.neat": (
        "NEAT optimizer plugin (optimizer_plugins/neat_optimizer.py)",
        "tests/test_neat.py"),
    "predictor_spark.plans.pipeline": (
        "the reference's main query, `predictor --load_config` (SURVEY 3.1)",
        "tests/test_pipeline_search.py"),
    "predictor_spark.plans.proto_r13": (
        "pre-swap plans the r13 live rows are pinned equal to",
        "tests/test_r13_prototypes.py"),
    "predictor_spark.plans.proto_r14": (
        "pre-swap plan the r14 live row is pinned equal to",
        "tests/test_r14_prototypes.py"),
    "predictor_spark.sources.plots": (
        "S11 plot sinks (pipeline_plugins/stl_plots.py)",
        "tests/test_plots_resource_log.py"),
    "predictor_spark.sources.resource_log": (
        "S12 resource-log sink (common/callbacks.py ResourceUsageLogger)",
        "tests/test_plots_resource_log.py"),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(_REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted(_PKG.rglob("*.py"))}


def root_files() -> list[Path]:
    plans = _PKG / "plans"
    return [
        _REPO / "__spark_entry__.py",
        *sorted(plans.glob("catalog*.py")),
        plans / "champion.py",
        _PKG / "__init__.py",
        _PKG / "__main__.py",
        _REPO / "bench.py",
        *sorted((_REPO / "examples").rglob("*.py")),
        *sorted((_REPO / "tools").rglob("*.py")),
        *sorted(p for p in (_REPO / "perfbench").rglob("*.py")
                if "tests" not in p.relative_to(_REPO / "perfbench").parts),
    ]


def imported_names(path: Path, package: str) -> set[str]:
    """Dotted names ``path`` imports anywhere in its body: ``import a.b``
    gives ``a.b``; ``from a import b`` gives ``a`` and ``a.b``. Relative
    imports resolve against ``package``."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = package.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def reached_modules(kept: tuple[str, ...] = ()) -> set[str]:
    """Modules the roots reach; ``kept`` modules are walked as roots too,
    so their parent packages and what they import count as reached."""
    modules = package_modules()
    todo = [(p, _module_name(p) if p.is_relative_to(_PKG) else "")
            for p in root_files()]
    todo += [(modules[m], m) for m in kept if m in modules]
    reached: set[str] = set()
    while todo:
        path, name = todo.pop()
        package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        for imp in [name, *imported_names(path, package)]:
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append((modules[mod], mod))
    return reached


def test_every_package_module_is_reached_or_allowlisted():
    unreached = set(package_modules()) - reached_modules(tuple(ALLOWLIST))
    assert sorted(unreached) == []


def test_allowlist_names_only_unreached_modules_with_their_tests():
    """A stale entry (the module is gone, or a root now reaches it) must
    leave the list, and each entry's covering test must exist."""
    modules, reached = package_modules(), reached_modules()
    for mod, (feature, test) in ALLOWLIST.items():
        assert mod in modules and mod not in reached, mod
        assert feature and (_REPO / test).is_file(), (mod, test)


def test_lint_follows_function_local_and_relative_imports(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("def f():\n    from .sib import g\n    import a.b.c\n")
    assert imported_names(src, "pkg.sub") == {
        "pkg.sub.sib", "pkg.sub.sib.g", "a.b.c"}
