"""Declarative data-quality expectation engine (SURVEY.md §2.10, Q1-Q11).

The reference declares 15 Great-Expectations expectations over the curated
table (/root/reference/dq/expectations/customers_expectation_suite.json,
business view airflow/include/dq_rules.yml) and runs them through the GE
library. Here the same declarative suite compiles to **one Spark aggregate
pass**: every value-level expectation becomes a
``sum(violation_predicate::int)`` column in a single ``agg`` — at 100 TB
that's one scan + a constant-width reduce, instead of GE's
one-job-per-expectation. Schema-level expectations (exist / of_type) are
answered from ``df.schema`` without touching data.

Result dicts keep GE's shape (element_count / unexpected_count /
unexpected_percent / partial_unexpected_list — ge_checkpoint.yml:47-53) so
the reference's downstream consumers (pipeline_dag.py:183-204) would work
unchanged.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Suite model
# ---------------------------------------------------------------------------


@dataclass
class Expectation:
    """One declarative expectation (GE-compatible kwargs)."""

    expectation_type: str
    kwargs: dict = field(default_factory=dict)

    @property
    def column(self) -> str | None:
        return self.kwargs.get("column") or self.kwargs.get("column_A")


_NOW_RE = re.compile(r"^now(?:\s*-\s*(\d+)\s*(h|hours|d|days|m|minutes))?$")


def evaluate_param(value, now: datetime | None = None):
    """Evaluate GE-style dynamic parameters: 'now', 'now-24h', 'now-7d'.

    ``now`` is injected (deterministic tests/oracles) and defaults to
    wall-clock — the reference's freshness window (ge_checkpoint.yml:33-44)
    uses now-24h..now.
    """
    if not isinstance(value, str):
        return value
    m = _NOW_RE.match(value.strip().lower())
    if not m:
        return value
    now = now or datetime.now()
    if not m.group(1):
        return now
    n = int(m.group(1))
    unit = m.group(2)[0]
    delta = {"h": timedelta(hours=n), "d": timedelta(days=n), "m": timedelta(minutes=n)}[unit]
    return now - delta


# ---------------------------------------------------------------------------
# Compilation: expectation -> violation predicate (NULL-safe)
# ---------------------------------------------------------------------------
# GE semantics implemented: element_count = total rows; for value
# expectations other than not_be_null, NULL elements are not "unexpected"
# (GE skips nulls); unexpected_percent = unexpected/element_count*100.


def _violation(exp: Expectation, now: datetime | None) -> Column | None:
    """Violation predicate (TRUE = row violates), or None for schema-level
    expectations."""
    t = exp.expectation_type
    k = exp.kwargs
    col = F.col(k["column"]) if "column" in k else None

    if t == "expect_column_values_to_not_be_null":
        return col.isNull()
    if t == "expect_column_values_to_match_regex":
        return col.isNotNull() & ~col.rlike(k["regex"])
    if t == "expect_column_values_to_be_in_set":
        return col.isNotNull() & ~col.isin(list(k["value_set"]))
    if t == "expect_column_values_to_be_between":
        lo = evaluate_param(k.get("min_value"), now)
        hi = evaluate_param(k.get("max_value"), now)
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (col < F.lit(lo))
        if hi is not None:
            cond = cond | (col > F.lit(hi))
        return col.isNotNull() & cond
    if t == "expect_column_pair_values_A_to_be_greater_than_or_equal_to_B":
        a, b = F.col(k["column_A"]), F.col(k["column_B"])
        return a.isNotNull() & b.isNotNull() & (a < b)
    return None


def _compile_suite(
    df: DataFrame, suite: list[Expectation], now: datetime | None
) -> tuple[list[Column], dict[int, Column], dict[int, bool]]:
    """The one expectation compiler behind ``run_suite`` and
    ``suite_violation_counts``. Returns:

    - the columns of a single ``df.agg``: ``__element_count``, then one
      bigint unexpected count ``__viol_{i}`` per expectation;
    - the row predicate of each row-level expectation (for examples);
    - the verdict of each schema-level expectation (exist / of_type),
      resolved from ``df.schema``. A failed one counts every row as
      unexpected, which is 0 on an empty frame, so the verdict cannot be
      read back from the count."""
    dtypes = dict(df.dtypes)
    agg_cols: list[Column] = [F.count(F.lit(1)).alias("__element_count")]
    predicates: dict[int, Column] = {}
    schema_ok: dict[int, bool] = {}

    for i, exp in enumerate(suite):
        t = exp.expectation_type
        if t == "expect_column_to_exist":
            schema_ok[i] = exp.kwargs["column"] in dtypes
        elif t == "expect_column_values_to_be_of_type":
            expected = _normalize_type(exp.kwargs.get("type_", exp.kwargs.get("type")))
            actual = dtypes.get(exp.kwargs["column"])
            schema_ok[i] = actual is not None and _normalize_type(actual) == expected
        if i in schema_ok:
            viol = F.lit(0) if schema_ok[i] else F.count(F.lit(1))
        elif t == "expect_column_values_to_be_unique":
            c = F.col(exp.kwargs["column"])
            viol = F.count(c) - F.countDistinct(c)
        else:
            pred = _violation(exp, now)
            if pred is None:
                raise ValueError(f"unsupported expectation_type: {t}")
            predicates[i] = pred
            viol = F.coalesce(F.sum(pred.cast("int")), F.lit(0))
        agg_cols.append(viol.cast("bigint").alias(f"__viol_{i}"))
    return agg_cols, predicates, schema_ok


def run_suite(
    df: DataFrame,
    suite: list[Expectation],
    now: datetime | None = None,
    collect_examples: int = 0,
) -> dict:
    """Evaluate a suite in ONE aggregate job (+ optional bounded example
    collection for failing expectations).

    Returns the ge_results document shape (FIXTURES.md §4 /
    pipeline_dag.py:183-204): validations[0].results per expectation +
    statistics + summary.
    """
    agg_cols, predicates, schema_ok = _compile_suite(df, suite, now)
    stats = df.agg(*agg_cols).collect()[0].asDict()
    element_count = int(stats["__element_count"])

    results = []
    for i, exp in enumerate(suite):
        unexpected = int(stats[f"__viol_{i}"])
        success = schema_ok.get(i, unexpected == 0)
        pct = (unexpected / element_count * 100.0) if element_count else 0.0
        result = {
            "expectation_type": exp.expectation_type,
            "kwargs": exp.kwargs,
            "success": success,
            "result": {
                "element_count": element_count,
                "unexpected_count": unexpected,
                "unexpected_percent": pct,
                "partial_unexpected_list": [],
            },
        }
        results.append(result)

    if collect_examples:
        for i, exp in enumerate(suite):
            res = results[i]
            if res["success"] or i not in predicates:
                continue
            examples = [
                r[0]
                for r in df.filter(predicates[i])
                .select(exp.column)
                .limit(collect_examples)
                .collect()
            ]
            res["result"]["partial_unexpected_list"] = examples

    n_fail = sum(1 for r in results if not r["success"])
    n_total = len(results)
    return {
        "timestamp": (now or datetime.now()).isoformat(),
        "status": "success" if n_fail == 0 else "failure",
        "validations": [
            {
                "expectation_suite": "spark_native_suite",
                "success": n_fail == 0,
                "results": results,
                "statistics": {
                    "evaluated_expectations": n_total,
                    "successful_expectations": n_total - n_fail,
                    "unsuccessful_expectations": n_fail,
                    "success_percent": (n_total - n_fail) / n_total * 100.0 if n_total else 100.0,
                },
            }
        ],
        "summary": {
            "total_expectations": n_total,
            "success_count": n_total - n_fail,
            "failure_count": n_fail,
            "overall_success_rate": (n_total - n_fail) / n_total if n_total else 1.0,
        },
    }


def suite_violation_counts(
    df: DataFrame, suite: list[Expectation], now: datetime | None = None
) -> DataFrame:
    """DataFrame-native suite evaluation: one aggregate row unpivoted to
    (expectation_type, column, element_count, unexpected_count, success) —
    no driver-side collect, so it composes into larger plans and stays
    distributed at any scale. Schema-level expectations are resolved from
    ``df.schema`` and injected as literal columns in the same single-row
    aggregate."""
    agg_cols, _, _ = _compile_suite(df, suite, now)
    one_row = df.agg(*agg_cols)
    stack_args: list[str] = []
    for i, exp in enumerate(suite):
        col_name = (exp.column or "").replace("'", "")
        stack_args += [f"'{exp.expectation_type}'", f"'{col_name}'", f"__viol_{i}"]
    stack = F.expr(
        f"stack({len(suite)}, {', '.join(stack_args)}) AS (expectation_type, column_name, unexpected_count)"
    )
    return one_row.select(F.col("__element_count").alias("element_count"), stack).select(
        "expectation_type",
        "column_name",
        "element_count",
        "unexpected_count",
        (F.col("unexpected_count") == 0).alias("success"),
    )


def _normalize_type(t: str | None) -> str | None:
    if t is None:
        return None
    t = t.lower()
    aliases = {
        "datetime64[ns]": "timestamp",
        "timestamptype": "timestamp",
        "stringtype": "string",
        "str": "string",
        "int": "int",
        "integertype": "int",
        "int64": "bigint",
        "longtype": "bigint",
        "float64": "double",
        "doubletype": "double",
        "booleantype": "boolean",
        "bool": "boolean",
    }
    return aliases.get(t, t)


# ---------------------------------------------------------------------------
# Quality dimensions rollup (Q10) + remap (Q11)
# ---------------------------------------------------------------------------

#: Quality-dimension column groupings (reference dq_rules.yml:91-106).
DIMENSIONS: dict[str, list[str]] = {
    "completeness": ["expect_column_values_to_not_be_null", "expect_column_to_exist"],
    "validity": [
        "expect_column_values_to_match_regex",
        "expect_column_values_to_be_in_set",
        "expect_column_values_to_be_of_type",
    ],
    "consistency": ["expect_column_pair_values_A_to_be_greater_than_or_equal_to_B"],
    "timeliness": ["expect_column_values_to_be_between"],
    "uniqueness": ["expect_column_values_to_be_unique"],
}


def dimension_scores(ge_results: dict) -> dict:
    """Per-dimension success rates + overall score = mean of dimension
    scores (reference tests/test_dq.py:335-356)."""
    results = ge_results["validations"][0]["results"]
    scores: dict[str, float] = {}
    for dim, types in DIMENSIONS.items():
        matching = [r for r in results if r["expectation_type"] in types]
        if matching:
            scores[dim] = sum(1 for r in matching if r["success"]) / len(matching)
    overall = sum(scores.values()) / len(scores) if scores else 1.0
    return {"dimensions": scores, "overall_score": overall}


#: Business -> technical field aliases (reference dq_rules.yml:74-83).
FIELD_REMAP = {
    "customer_id": "id",
    "customer_name": "name",
    "customer_email": "email",
    "signup_date": "signup_timestamp",
    "event_date": "event_timestamp",
    "subscription_plan": "plan",
    "country_code": "country",
}
