"""Every package module is one the system runs, or is kept on purpose.

A static walk of the import graph (``ast`` only, no Spark) from the
production roots: the driver contract, ``bench.py``, the benchmark harness,
every query module under ``plans/`` and the pipeline tick. Imports inside
functions count, so ``registry.load_all``'s list and the lazy imports of the
operators are followed. A package module that nothing reaches fails the test
unless ``ALLOWLIST`` names it, with its COVERAGE.md row and why it is kept.
Delete a module that only tests run; its history stays in git.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "autonomous_orchestrator_ai_spark"

ROOTS = (
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "perfbench" / "run.py",
    REPO / "perfbench" / "workloads.py",
    REPO / PKG / "pipeline_driver.py",
    *sorted((REPO / PKG / "plans").glob("*.py")),
)

#: module -> (COVERAGE.md row, why it stays although nothing reaches it)
ALLOWLIST = {
    f"{PKG}.agent.llm": ("§2.12 D3/D4 LLM decision path", "ROADMAP direction 1 decides"),
    f"{PKG}.operators.multimodal": ("Scale machinery: Multimodal", "a1b210d kept"),
    f"{PKG}.operators.bmp_codec": ("Scale machinery: Multimodal (BMP)", "a1b210d kept"),
    f"{PKG}.operators.png_codec": ("Scale machinery: Multimodal (PNG)", "a1b210d kept"),
    f"{PKG}.operators.wav_codec": ("Scale machinery: Multimodal (WAV)", "a1b210d kept"),
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` imports, anywhere in the file. For
    ``from a.b import c`` both ``a.b`` and ``a.b.c`` are returned, since
    ``c`` may be a submodule."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    """Package modules reached from ``ROOTS``. A script outside the
    package may import its sibling files by bare name (``perfbench/run.py``
    imports ``workloads``); those are walked too."""
    package = _package_modules()
    reached: set[str] = set()
    seen: set[Path] = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            sibling = path.parent / f"{name}.py"
            if PKG not in path.parts and sibling.exists():
                todo.append(sibling)
                continue
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in package and mod not in reached:
                    reached.add(mod)
                    todo.append(package[mod])
    return reached


def test_every_package_module_is_reached_or_allowlisted():
    package = set(_package_modules())
    unreached = package - reached_modules()
    stray = sorted(unreached - set(ALLOWLIST))
    assert not stray, (
        f"package modules no production root imports: {stray}. "
        "Delete them, or add each to ALLOWLIST with its COVERAGE.md row "
        "and the reason it is kept."
    )


def test_allowlist_names_only_unreached_modules():
    """An allowlisted module that became reached, or was deleted, is a
    stale entry."""
    package = set(_package_modules())
    assert not set(ALLOWLIST) - package, "allowlisted modules that do not exist"
    assert not set(ALLOWLIST) & reached_modules(), "allowlisted modules that are reached"
