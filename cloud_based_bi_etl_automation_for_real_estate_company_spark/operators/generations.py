"""Generation-directory table maintenance — atomic snapshot refresh
without a table format's MERGE/commit log.

Problem: `mode("overwrite")` deletes files before the rewrite
finishes; a dashboard query running mid-refresh reads a half table.
The reference sidesteps this because Power BI copies data into its own
store at import time (reference README.md:511) — our readers hit the
files directly, so the swap must be atomic.

Mechanism: each refresh writes a complete snapshot into a fresh
``gen-<n>/`` directory, then atomically re-points a one-line manifest
(os.replace — POSIX-atomic on the same filesystem). Readers resolve
the manifest first, so they see either the old or the new generation,
never a mix. Old generations are retired only after a retention count,
letting in-flight readers finish (the same reader/writer isolation
idea a table format's snapshot log provides, minus the format
dependency; on object stores swap the rename for a conditional PUT).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_current.json"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST)


def generation_path(table_path: str, gen: int) -> str:
    """The directory holding generation ``gen`` of the table."""
    return os.path.join(table_path, f"gen-{gen}")


def current_generation(table_path: str) -> int | None:
    p = _manifest_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["generation"]


def write_generation(
    df: DataFrame,
    table_path: str,
    keep_generations: int = 2,
    partition_by: list[str] | None = None,
) -> int:
    """Write ``df`` as the next generation and atomically publish it.
    Returns the new generation number."""
    cur = current_generation(table_path)
    nxt = 0 if cur is None else cur + 1
    gen_dir = generation_path(table_path, nxt)
    # a generation is a complete snapshot: replace any leftover of a
    # crashed earlier attempt whole, whatever the session's overwrite mode
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(gen_dir)

    os.makedirs(table_path, exist_ok=True)
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"generation": nxt}, f)
    os.replace(tmp, _manifest_path(table_path))  # the atomic publish

    # retire generations beyond the retention window
    floor = nxt - keep_generations
    for name in os.listdir(table_path):
        if name.startswith("gen-") and int(name.split("-")[1]) < floor:
            shutil.rmtree(os.path.join(table_path, name), ignore_errors=True)
    return nxt


def read_current(spark: SparkSession, table_path: str) -> DataFrame:
    """Resolve the manifest, read that generation's parquet."""
    gen = current_generation(table_path)
    if gen is None:
        raise FileNotFoundError(f"no published generation under {table_path}")
    return spark.read.parquet(generation_path(table_path, gen))


def publish(
    df: DataFrame,
    table_path: str,
    view_name: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as the next generation of ``table_path``, read that
    generation back with the schema just written (no schema-inference
    job) and register it as the temp view ``view_name``."""
    gen = write_generation(df, table_path, partition_by=partition_by)
    out = df.sparkSession.read.schema(df.schema).parquet(
        generation_path(table_path, gen)
    )
    out.createOrReplaceTempView(view_name)
    return out
