"""Scalar transforms P1–P16 from SURVEY.md §2.2, as pure Column helpers.

Each mirrors a transform the reference performs imperatively
(reference: Lead_Ingestion_CRM_SQLite.py:20–38,109–140;
webhook_app.py:23–32,51–62,161–164) but is expressed with built-in
``pyspark.sql.functions`` so the whole projection stays inside
Catalyst/whole-stage-codegen — zero Python UDFs, which is what makes
these safe in a 100 TB scan.

Spark 4 runs with ANSI mode ON: every parse/divide here uses the
``try_*`` variants so malformed input yields NULL (matching the
reference's warn-and-NULL behavior) instead of failing the job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Timestamp formats the reference's parser tries in order
# (Lead_Ingestion_CRM_SQLite.py:24-31): full ISO-8601 with fractional
# seconds + Z, then bare date.
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
ISO_FMT_MS = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
DATE_FMT = "yyyy-MM-dd"


def parse_multiformat_ts(col: Column | str) -> Column:
    """P8 — multi-format timestamp parse with NULL fallback.

    Mirrors convert_to_crm_timezone's try/except chain
    (Lead_Ingestion_CRM_SQLite.py:20–33): try full ISO w/ micros, then
    millis, then bare date; unparseable → NULL (never throws).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c, F.lit(ISO_FMT)),
        F.try_to_timestamp(c, F.lit(ISO_FMT_MS)),
        F.try_to_timestamp(c, F.lit(DATE_FMT)),
    )


def to_business_tz(col: Column | str, tz: str = "America/Mexico_City") -> Column:
    """P9 — UTC → business-timezone conversion
    (Lead_Ingestion_CRM_SQLite.py:17–18,35–38)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, tz)


def format_local(col: Column | str) -> Column:
    """P10 — presentation-edge timestamp → string
    (Lead_Ingestion_CRM_SQLite.py:38)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def tags_to_csv(col: Column | str) -> Column:
    """P11 — array → delimited string, NULL when empty/absent
    (Lead_Ingestion_CRM_SQLite.py:110: ','.join(tags) with [] → NULL-ish)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(c) > 0, F.array_join(c, ",")).otherwise(F.lit(None))


def bool_to_int(col: Column | str) -> Column:
    """P12 — null-preserving bool → int cast
    (Lead_Ingestion_CRM_SQLite.py:121)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("int")


def coalesce_nested(*cols: Column) -> Column:
    """P3 — coalescing nested extraction: first non-null of several
    struct/json paths (webhook_app.py:23–32 `_get_client_folder`)."""
    return F.coalesce(*cols)


def json_get_int(col: Column | str, path: str) -> Column:
    """P1/P2-style null-safe JSON field extraction → int.

    get_json_object returns NULL for missing paths, matching
    dict.get()'s None default (Lead_Ingestion_CRM_SQLite.py:111–140).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).try_cast("int")


def ratio(num: Column, den: Column) -> Column:
    """A4 helper — NULL-safe divide for conversion-rate measures
    (zero denominator → NULL, like DAX DIVIDE)."""
    return F.try_divide(num, den)


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact money/measure sum: accumulate in DECIMAL, return double.

    Summing doubles is order-dependent — a 1000-partition parallel sum
    and a single-threaded oracle disagree in the low decimals, and at
    100 TB the accumulated float error in currency totals is a real
    correctness bug (the reference's Postgres schema uses numeric for
    amount, reference README.md:84). Fixed-decimal accumulation is
    exact and associative, so every partitioning/merge order yields the
    identical result; the final cast to double is deterministic.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-sum average: decimal-sum ÷ count (deterministic double)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_divide(dsum(c, scale), F.count(c))
