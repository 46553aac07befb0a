"""Rows built on the driver reach Spark as JVM local relations
(``functions.literals.local_relation``), not as ``spark.createDataFrame``
of a Python list. That call builds a Python RDD: every scan of it starts
``defaultParallelism`` Python worker tasks, each ~0.15-0.2 s of CPU before
it reads a row. Static (``ast`` only, no Spark).

A ``createDataFrame(`` call in package code fails the test unless
``ALLOWLIST`` names the top-level def that makes it, with why it stays.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "autonomous_orchestrator_ai_spark"

_MEDIA = (
    "kept, not run here: synthetic-media rows of the multimodal module, "
    "which no production root reaches (test_module_reach.ALLOWLIST)"
)

#: module.def -> why its createDataFrame call stays
ALLOWLIST = {
    f"{PKG}.functions.literals.local_relation": (
        "the one route: an Arrow table, which the JVM holds as a LocalRelation"
    ),
    f"{PKG}.operators.multimodal.synthetic_media": _MEDIA,
    f"{PKG}.operators.multimodal.synthetic_wav_media": _MEDIA,
    f"{PKG}.operators.multimodal.synthetic_bmp_media": _MEDIA,
    f"{PKG}.operators.multimodal.synthetic_png_media": _MEDIA,
}


def _is_create_dataframe(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == "createDataFrame") or (
        isinstance(f, ast.Name) and f.id == "createDataFrame"
    )


def create_dataframe_calls() -> Counter:
    """``module.def`` (``module.<module>`` at top level) -> how many
    ``createDataFrame(`` calls the package makes there."""
    calls: Counter = Counter()
    for path in sorted((REPO / PKG).rglob("*.py")):
        module = ".".join(path.relative_to(REPO).with_suffix("").parts)
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            calls[f"{module}.{owner}"] += sum(map(_is_create_dataframe, ast.walk(top)))
    return +calls


def test_package_builds_no_python_rdd_from_driver_rows():
    stray = sorted(set(create_dataframe_calls()) - set(ALLOWLIST))
    assert not stray, (
        f"createDataFrame calls outside the allowlist: {stray}. Build driver "
        "rows with functions.literals.local_relation, or add the def to "
        "ALLOWLIST with why it stays."
    )


def test_allowlist_names_only_defs_that_call_it():
    stale = sorted(set(ALLOWLIST) - set(create_dataframe_calls()))
    assert not stale, f"allowlisted defs that make no createDataFrame call: {stale}"
