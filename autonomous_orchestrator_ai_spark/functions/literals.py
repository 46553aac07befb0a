"""Driver-side constants (model weights, plane matrices) as ONE parsed SQL
literal.

``F.lit(list)`` builds an array Column one ``lit()`` per element, each a
py4j round trip: a 4,096-entry weight table costs ~37k gateway commands
and seconds of driver time on every plan build. Rendering the same values
as SQL text and parsing it with a single ``F.expr`` costs one command
whatever the length, and Catalyst folds both forms to the same literal.

Rendering is exact: ints as ``{v}L`` (bigint literals, bounds included),
floats as ``{v!r}D`` — Python's shortest repr round-trips bit-for-bit
through ``Double.parseDouble`` (``-0.0`` and subnormals included).
Non-finite floats have no SQL literal form and raise ``ValueError``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(v, elem_type: str) -> str:
    if elem_type == "bigint":
        return f"{int(v)}L"
    if elem_type == "double":
        x = float(v)
        if not math.isfinite(x):
            raise ValueError(f"non-finite double has no SQL literal: {x!r}")
        return f"{x!r}D"
    raise ValueError(f"unsupported literal element type: {elem_type!r}")


def sql_array(values: Sequence, elem_type: str) -> str:
    """``array(...)`` SQL text of ``values``; nested lists/tuples render as
    nested arrays. ``elem_type`` ('bigint' or 'double') is the leaf type."""
    return (
        "array("
        + ",".join(
            sql_array(v, elem_type)
            if isinstance(v, (list, tuple))
            else _render(v, elem_type)
            for v in values
        )
        + ")"
    )


def array_literal(values: Sequence, elem_type: str) -> Column:
    """``values`` as one ``array<elem_type>`` literal Column, built with a
    single ``F.expr`` parse. The cast keeps an empty list typed."""
    return F.expr(f"CAST({sql_array(values, elem_type)} AS array<{elem_type}>)")
