"""Every engine module must be reachable from a dedup entry point.

Walks ``photo_dedup_spark`` imports (module-level and function-local)
with ``ast`` from the CLI, pipeline, job-submission, benchmark and
``__spark_entry__`` entry points.  A module only tests import is dead
code: delete it with its tests, or wire it into an entry point.  No
Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "photo_dedup_spark"

ENTRY_FILES = [
    *(ROOT / PKG / f"{m}.py" for m in ("scan", "clean", "staged", "pipeline")),
    *(ROOT / "tools" / f"{t}.py" for t in ("submit_job", "make_pyfiles", "cc_equivalence")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "__spark_entry__.py",
]


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Engine modules *path* imports, with their parent packages."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            # ``from pkg import submodule`` imports the submodule too
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        if name == PKG or name.startswith(PKG + "."):
            parts = name.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in out if _module_file(n) is not None}


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = [m for f in ENTRY_FILES for m in _imports(f)]
    todo += [_module_name(f) for f in ENTRY_FILES if f.is_relative_to(ROOT / PKG)]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(_module_file(mod)))
    return seen


def test_every_engine_module_is_reached():
    every = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(every - reached_modules())
    assert not unreached, f"no entry point imports: {unreached}"
