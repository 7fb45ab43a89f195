"""Every package module is reached from a shipped entry point.

A static import walk (stdlib `ast`, no Spark session) starts from the
shipped roots — the contract entry, the two bench scripts, the jobs and
the perfbench harness — and follows every `import`/`from ... import`
into `index_search_monorepo_spark/`, function-level imports included.
A module that only tests import fails here: either wire it into a
shipped path or delete it with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "index_search_monorepo_spark"


def _roots() -> list[Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    roots += sorted((ROOT / "jobs").glob("*.py"))
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    return roots


def _module_path(name: str) -> Path | None:
    """The file of the package module `name`, or None outside the package."""
    if name != PKG and not name.startswith(PKG + "."):
        return None
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Dotted names `path` may import, each with its parent packages."""
    tree = ast.parse(path.read_text(), filename=str(path))
    here = _module_name(path) if path.is_relative_to(ROOT / PKG) else ""
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = here.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            # `from pkg import name` may name a submodule
            names.update(f"{base}.{a.name}" for a in node.names)
    out: set[str] = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = list(_roots())
    while todo:
        for name in _imported(todo.pop()):
            p = _module_path(name)
            if p is not None and name not in seen:
                seen.add(name)
                todo.append(p)
    return seen


def test_every_package_module_is_reached():
    all_modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(all_modules - reached_modules())
    assert unreached == [], f"modules no shipped entry point imports: {unreached}"
