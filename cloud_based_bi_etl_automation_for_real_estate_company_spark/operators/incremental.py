"""Incremental high-water-mark sync — "only new and updated since the
last run" (reference README.md:34: the backfill script re-syncs with
date-range params; Structured Streaming checkpoints do this natively
for streams; this is the batch analog).

The watermark is a single row persisted as JSON next to the target —
read at job start, filter pushed into the source scan (so parquet
row-group stats / partition pruning skip old data), advanced at job
end. Combined with upsert_merge this gives exactly-once batch
ingestion of a mutable source.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet
from .generations import publish
from .snapshot import upsert_merge


def read_watermark(path: str) -> str | None:
    p = os.path.join(path, "_watermark.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["high_water_mark"]


def write_watermark(path: str, value: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_watermark.json"), "w") as f:
        json.dump({"high_water_mark": value}, f)


def incremental_sync(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    keys: list[str],
    updated_col: str = "updated_at",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Pull rows with ``updated_col`` past the stored watermark, merge
    into the target snapshot (last-write-wins), advance the watermark.
    Returns the refreshed snapshot DataFrame.

    The > filter is a plain pushdown predicate — at scale it prunes
    partitions/row-groups instead of rescanning history.
    """
    hwm = read_watermark(target_path)
    fresh = source if hwm is None else source.filter(F.col(updated_col) > F.lit(hwm))

    order_by = [updated_col] + ([tiebreak_col] if tiebreak_col else [])
    data_path = os.path.join(target_path, "data")
    if os.path.exists(data_path):
        current = read_parquet(spark, data_path)
        merged = upsert_merge(current, fresh, keys, order_by)
    else:
        from .snapshot import latest_per_key

        merged = latest_per_key(fresh, keys, order_by)

    # the merge reads the current generation and publishes the next one,
    # so a reader of data_path sees the old snapshot or the new; the
    # watermark advances after the flip
    out = publish(merged, data_path)
    new_max = out.agg(F.max(updated_col)).collect()[0][0]
    if new_max is not None:
        write_watermark(target_path, str(new_max))
    return out
