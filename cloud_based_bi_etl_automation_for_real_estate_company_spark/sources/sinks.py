"""Batch sinks & bulk loads (S6/S10/S11).

- S10: the reference bulk-loads a one-time CRM support-DB export into
  `action_history` via the psql CLI (reference README.md:146–147) —
  here a schema-declared CSV/Parquet load into the silver zone.
- S11: Power BI Import-mode refresh 8×/day (reference README.md:511–513)
  becomes gold-table publication (``jobs.refresh_gold`` through
  ``operators.generations.publish``): recompute → write the next
  generation → flip the table's link → re-register views. Readers see
  pruned columnar gold instead of an in-memory VertiPaq copy, and
  never a half-written table.
- S6: the SQLite `INSERT OR REPLACE` sink (Lead_Ingestion_CRM_SQLite.py:
  141–148) — for JDBC parity a thin `df.write.jdbc` wrapper; the
  idiomatic path is upsert_merge + parquet (operators.snapshot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def bulk_load_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    """S10 — schema-declared CSV bulk load (no inference pass: one scan,
    malformed rows NULL out per-column under the permissive parser)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """S6 — JDBC table sink for parity with the reference's SQL sinks.
    (Untestable in this container — no database — but the call shape is
    the whole surface.)"""
    df.write.mode(mode).options(**options).jdbc(url, table)
