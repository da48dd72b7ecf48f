"""Every package module is reached from a non-test entry point.

Walks `import` / `from ... import` statements with `ast` (module level and
lazy in-function imports alike, relative imports resolved) from the driver
entry, the benchmarks, the runners and the tools. A module only tests
import is code no workload runs: delete it with its test, or wire it in.
No Spark session needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dig_entity_resolution_spark"
ENTRY_POINTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "run_pipeline.py",
    "run_curation.py",
    "perfbench/*.py",
    "tools/*.py",
)
# The streaming ER twin: the north star keeps streaming identical to a
# batch run over the same data, and only its equivalence tests drive it.
ALLOWED_UNREACHED = {"streaming", "streaming.streaming_er"}


def _module_name(path: Path) -> tuple[str, bool]:
    parts = path.relative_to(ROOT).with_suffix("").parts
    is_pkg = parts[-1] == "__init__"
    return ".".join(parts[:-1] if is_pkg else parts), is_pkg


def _imported_names(path: Path) -> set[str]:
    name, is_pkg = _module_name(path)
    pkg_parts = name.split(".") if is_pkg else name.split(".")[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            # `from pkg import sub` names a submodule as often as a symbol
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached_modules() -> tuple[set[str], dict[str, Path]]:
    modules = {
        _module_name(f)[0]: f for f in sorted((ROOT / PKG).rglob("*.py"))
    }
    todo = [f for pat in ENTRY_POINTS for f in sorted(ROOT.glob(pat))]
    reached: set[str] = set()
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c also imports the packages a and a.b
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append(modules[mod])
    return reached, modules


def test_every_package_module_is_reached_from_an_entry_point():
    reached, modules = _reached_modules()
    assert f"{PKG}.queries" in reached  # the walk itself works
    unreached = sorted(m[len(PKG) + 1 :] for m in modules if m not in reached)
    test_only = sorted(set(unreached) - ALLOWED_UNREACHED)
    assert not test_only, f"package modules only tests reach: {test_only}"
    # an allow-listed module that becomes reachable leaves the list
    assert set(unreached) == ALLOWED_UNREACHED
