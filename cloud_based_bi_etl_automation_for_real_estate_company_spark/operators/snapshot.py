"""A7/W1 — upsert & snapshot semantics as pure-Spark window rewrites.

The reference maintains "current state" two ways: SQLite
``INSERT OR REPLACE`` keyed on lead id
(reference Lead_Ingestion_CRM_SQLite.py:141–148) and a complete event
history from which current state is derivable
(reference README.md:93). With plain Parquet (no MERGE), the idiomatic
Spark equivalent is the latest-per-key window — one shuffle on the key,
fully distributed, no driver collect. At 100 TB the shuffle is on the
natural entity key (high cardinality → even partitions); AQE handles
stragglers from hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Keep the most-recent row per key. ``order_by`` columns sort
    descending, first-listed most significant; include a unique id last
    for determinism under timestamp ties.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_merge(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Batch upsert = union + latest-per-key (U2 merge of backfill with
    live stream, reference README.md:149). Last write wins, like
    INSERT OR REPLACE.
    """
    return latest_per_key(current.unionByName(updates), keys, order_by)


def cdc_apply(
    changes: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a Debezium-style change log to produce the current
    snapshot: the latest change per key wins (same single window
    shuffle as ``latest_per_key``), and a key whose LATEST change is a
    delete disappears from the snapshot entirely — the delete-aware
    generalization of the reference's INSERT OR REPLACE upsert
    (reference Lead_Ingestion_CRM_SQLite.py:141–148, which has no
    delete path; webhook_app.py:101–124 handles deletes as a separate
    event table instead).

    Ordering caveat, deliberate: a delete followed by a later
    re-insert resurrects the key — apply is by change order, not by
    op precedence.

    Incremental application (apply batch 1, then apply the snapshot ∪
    batch 2) equals full-log application ONLY when batches arrive in
    change order: the snapshot forgets tombstones, so a late change
    ordered BEFORE an already-applied delete would wrongly resurrect
    the key. For out-of-order sources, keep the change log and
    re-apply, or retain tombstones past the lateness horizon
    (watermark) before compacting. Property-tested for the ordered
    case in tests/test_snapshot.py.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_by])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )
