"""Enrichment functions: region decode, email domain (reference F3/F4).

Reference: /root/reference/spark/jobs/ingest_transform.py:181-201; expected
pairs spec: tests/test_spark_jobs.py:115-141.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Exact reference mapping (ingest_transform.py:185-190).
COUNTRY_REGION_MAP: dict[str, str] = {
    "US": "North America", "CA": "North America", "MX": "North America",
    "GB": "Europe", "DE": "Europe", "FR": "Europe",
    "AU": "APAC", "JP": "APAC", "IN": "APAC",
    "BR": "South America",
}
DEFAULT_REGION = "Other"


def region_expr(country: Column | str = "country") -> Column:
    """Chained CASE WHEN decode — Catalyst constant-folds this into a single
    codegen'd expression; right for a 10-entry map (no shuffle, no join).

    Reference F3 builds the same thing via a SQL string (ingest_transform.py:
    185-195).
    """
    country = F.col(country) if isinstance(country, str) else country
    expr: Column | None = None
    for c, r in COUNTRY_REGION_MAP.items():
        expr = F.when(country == c, r) if expr is None else expr.when(country == c, r)
    assert expr is not None
    return expr.otherwise(F.lit(DEFAULT_REGION))


def email_domain(email: Column | str = "email") -> Column:
    """regexp_extract(email, "@(.+)", 1) (reference F4, ingest_transform.py:
    197-201; spec tests/test_spark_jobs.py:143-157)."""
    email = F.col(email) if isinstance(email, str) else email
    return F.regexp_extract(email, "@(.+)", 1)


def with_region(df: DataFrame, country_col: str = "country") -> DataFrame:
    return df.withColumn("region", region_expr(country_col))


def with_email_domain(df: DataFrame, email_col: str = "email") -> DataFrame:
    return df.withColumn("email_domain", email_domain(email_col))
