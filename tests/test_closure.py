"""Every engine module is reached from an entry point.

The static import closure starts at the files below and follows every
`import`/`from ... import` statement (function-level ones included)
into the engine package, parent packages and `from pkg import submodule`
included. A module outside the closure is code no workload, runner or
benchmark can run; it goes, together with the tests of it alone.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_football_analytics_pipeline_spark"

ENTRY_POINTS = (
    "bench.py",
    "__spark_entry__.py",
    "scripts/parity.py",
    "perfbench/eventlog.py",
    "perfbench/football_wl.py",
    "perfbench/footgen.py",
    "perfbench/harness.py",
    "perfbench/regdata.py",
    "perfbench/registry_wl.py",
    "perfbench/run.py",
    f"{PKG}/pipeline/runner.py",  # the runner CLI (`python -m ...pipeline.runner`)
)

# Reached by no entry point, kept on purpose:
UNREACHED_BY_DESIGN = {
    # the row-at-a-time reference that
    # tests/test_expectations.py::test_dq_suite_fusion_matches_operator_composition
    # compares the fused `plans/quality.dq_expectations_suite` against
    f"{PKG}.operators.expectations",
}


def _engine_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py in the package."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            parts = os.path.relpath(path, ROOT)[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = path
    return out


def _imports(path: str, module: str | None, modules: dict[str, str]) -> set[str]:
    """Engine modules one file imports, with the packages they sit in."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    is_pkg = path.endswith("__init__.py")
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".") if module else []
                anchor = parts if is_pkg else parts[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def _closure() -> tuple[set[str], dict[str, str]]:
    modules = _engine_modules()
    seen: set[str] = set()
    todo: list[str] = []
    for rel in ENTRY_POINTS:
        path = os.path.join(ROOT, rel)
        assert os.path.isfile(path), f"entry point {rel} is gone; update ENTRY_POINTS"
        todo.extend(_imports(path, None, modules))
        if rel.startswith(PKG):
            todo.append(rel[:-3].replace("/", "."))
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(modules[mod], mod, modules) - seen)
    return seen, modules


def test_every_engine_module_is_reached_from_an_entry_point():
    reached, modules = _closure()
    unreached = sorted(set(modules) - reached - UNREACHED_BY_DESIGN)
    assert not unreached, (
        f"engine modules no entry point imports: {unreached}; delete them "
        "(and their tests) or wire them into an entry point"
    )


def test_kept_unreached_modules_exist_and_stay_unreached():
    reached, modules = _closure()
    for mod in UNREACHED_BY_DESIGN:
        assert mod in modules, f"{mod} is gone; drop it from UNREACHED_BY_DESIGN"
        assert mod not in reached, f"{mod} is reached now; drop it from UNREACHED_BY_DESIGN"
