"""Every engine module, and every public top-level function and class
in it, must be reachable from a dedup entry point.

Walks ``photo_dedup_spark`` imports (module-level and function-local)
with ``ast`` from the CLI, pipeline, job-submission, benchmark and
``__spark_entry__`` entry points, then looks up each public name among
the names those reached files use.  A module or function only tests
use is dead code: delete it with its tests, or wire it into an entry
point.  No Spark needed.
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


def _is_exempt(module: str, name: str) -> bool:
    """The ``*_py`` reference kernels in ``functions/`` that tests compare
    the Spark kernels against, and the ``corpus`` fixture generator."""
    return (module.startswith(f"{PKG}.functions.") and name.endswith("_py")) or (
        module == f"{PKG}.corpus"
    )


def _public_defs(path: Path) -> set[str]:
    tree = ast.parse(path.read_text(), str(path))
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    }


def _used_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_public_engine_function_is_used():
    reached = reached_modules()
    files = set(ENTRY_FILES) | {_module_file(m) for m in reached}
    used = set().union(*(_used_names(f) for f in files))
    unused = sorted(
        f"{mod}.{name}"
        for mod in reached
        for name in _public_defs(_module_file(mod))
        if name not in used and not _is_exempt(mod, name)
    )
    assert not unused, f"only tests use: {unused}"


def _config_fields() -> list[str]:
    tree = ast.parse((ROOT / PKG / "config.py").read_text())
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "DedupConfig"
    )
    return [
        n.target.id
        for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    ]


def _attributes_read(path: Path) -> set[str]:
    return {
        node.attr
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }


def test_every_config_field_is_read():
    """A ``DedupConfig`` field nothing reads is a dead option: it still
    folds into ``config_hash()``, so setting it invalidates every staged
    checkpoint while changing nothing."""
    config = ROOT / PKG / "config.py"
    files = (set(ENTRY_FILES) | {_module_file(m) for m in reached_modules()}) - {config}
    read = set().union(*(_attributes_read(f) for f in files))
    fields = _config_fields()
    assert fields, "no DedupConfig fields found"
    unread = sorted(set(fields) - read)
    assert not unread, f"DedupConfig fields no reached file reads: {unread}"
