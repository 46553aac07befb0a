"""Driver-side constants (model weights, plane matrices) as ONE parsed SQL
literal, and driver-side rows as one JVM local relation.

``F.lit(list)`` builds an array Column one ``lit()`` per element, each a
py4j round trip: a 4,096-entry weight table costs ~37k gateway commands
and seconds of driver time on every plan build. Rendering the same values
as SQL text and parsing it with a single ``F.expr`` costs one command
whatever the length, and Catalyst folds both forms to the same literal.

Rendering is exact: ints as ``{v}L`` (bigint literals, bounds included),
floats as ``{v!r}D`` — Python's shortest repr round-trips bit-for-bit
through ``Double.parseDouble`` (``-0.0`` and subnormals included).
Non-finite floats have no SQL literal form and raise ``ValueError``.

``spark.createDataFrame(<python list>)`` builds a Python RDD
(``parallelize`` + ``applySchemaToPythonRDD``): every scan of it runs
``defaultParallelism`` Python worker tasks, each ~0.15-0.2 s of CPU before
it reads a row. ``local_relation`` ships the rows as one Arrow table
instead, which the JVM holds as a ``LocalRelation``: scanning it starts no
Python worker and no job. A ``VALUES`` text of the same rows is a
``LocalRelation`` too, but parsing and analysing the 4,097-row weight
table that way cost 0.24 s of JVM CPU per call against 0.025 s for Arrow
(PERF.md "What a Python worker task costs").
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


def local_relation(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a DataFrame of the
    DDL ``schema`` whose plan is one JVM ``LocalRelation``. Values are
    exact: ints and floats travel as int64 and float64, strings as UTF-8,
    ``None`` as NULL. Arrow's safe cast to ``schema`` raises on a value
    that does not fit (an int column given 2**31, a fractional float in a
    bigint column); zero rows give an empty frame of ``schema``."""
    import pyarrow as pa

    struct = StructType.fromDDL(schema)
    width = len(struct.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row must have {width} values for {schema!r}")
    columns = list(zip(*rows)) or [()] * width
    table = pa.Table.from_arrays(
        [pa.array(list(c)) for c in columns], names=struct.names
    )
    return spark.createDataFrame(table, struct)
