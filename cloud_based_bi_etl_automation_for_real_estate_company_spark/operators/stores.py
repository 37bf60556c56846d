"""Lifetime stores: the append-only parquet tables that incremental
operators grow batch by batch and read on every batch or query.

Families and their subdirectories under one ``store_path``:

- BM25/MLT postings (``postings``), minhash and soft-dedup signatures
  (``sigs``), paragraph hashes (``hashes``), NSW graph ANN (``graph``,
  ``vectors``) and the PSI/chi²/KS-W1 drift state (``hist``, ``cats``,
  ``centroids``);
- deletions of any family land in ``{store_path}/tombstones``.

Every subdirectory is a published table (``operators.generations``):
a link to its current generation. Four verbs, one rule set:

- :func:`append` — land a batch in a table's current generation,
  publishing generation 0 on first use.
- :func:`read_live` — the query/admission read: schema-guarded,
  single-footer (``mergeSchema`` off), minus tombstones. A missing
  store raises unless the caller bootstraps (``missing_ok``).
- :func:`delete` — append ids to the tombstone set. Readers anti-join
  it at once; compaction makes the delete physical. This is the
  delete-file design of Delta/Iceberg.
- :func:`compact` — a mergeSchema read of every table, a family
  rewrite published as each table's next generation, then an empty
  tombstone generation.

Read-order rule: :func:`read_live` resolves the tombstones BEFORE the
table, and :func:`compact` flips the tables BEFORE it clears the
tombstones. A reader that saw the cleared set therefore sees the
compacted tables, so no deleted row is ever resurrected, and queries
may run during a compaction. Appends and compactions of one store must
not overlap: an append that lands in a generation the compaction has
already read is lost when the table flips.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import hadoop_fs, read_parquet, resolve
from .generations import local_path, publish, publish_empty

# Tombstone sets broadcast into every reader's anti-join while their
# on-disk size stays below this (far under Spark's 8 GB broadcast
# ceiling); a larger takedown backlog is joined unhinted and the
# planner picks the strategy. Compaction clears the backlog.
TOMBSTONE_BROADCAST_MAX_BYTES = 16 << 20

# A compaction rewrite: (live tables, tombstone set) -> tables to publish.
Rewrite = Callable[[dict[str, DataFrame], DataFrame | None], dict[str, DataFrame]]


def read_store(
    spark,
    path: str,
    required: str | None = None,
    required_names: tuple[str, ...] = (),
    merge: bool = True,
) -> DataFrame:
    """Schema-guarded parquet read of one store table.

    - ``required`` (a DDL string) pins name AND type of the columns
      the caller's math depends on; a rename or type change raises
      here with the observed schema in the message.
    - ``required_names`` pins presence only (id / vector columns whose
      types are the caller's choice).
    - ``merge`` unions every file footer, so additive evolution
      surfaces NULL-backfilled columns instead of losing them. It is
      load-bearing only where dropping a newer column would destroy
      it — compaction rewrites — and costs a footer merge that grows
      with the file count, so query reads pass ``merge=False``.
      Those take the footer schema from the session's cache
      (:func:`session.read_parquet`) and launch no job after the
      first read; the guards check the cached schema.
    """
    from pyspark.sql.types import StructType

    if merge:
        df = spark.read.option("mergeSchema", "true").parquet(resolve(path))
    else:
        df = read_parquet(spark, path)
    have = {f.name: f.dataType for f in df.schema.fields}
    problems: list[str] = []
    if required:
        for f in StructType.fromDDL(required).fields:
            if f.name not in have:
                problems.append(
                    f"missing column {f.name} {f.dataType.simpleString()}"
                )
            elif have[f.name] != f.dataType:
                problems.append(
                    f"column {f.name}: expected {f.dataType.simpleString()},"
                    f" store has {have[f.name].simpleString()}"
                )
    for n in required_names:
        if n not in have:
            problems.append(f"missing column {n}")
    if problems:
        raise ValueError(
            f"store schema violation at {path}: "
            + "; ".join(problems)
            + f" (observed: {df.schema.simpleString()})"
        )
    return df


def read_tombstones(
    spark, store_path: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """The store's tombstoned ids as written, or None when nothing is
    deleted: the set was never written, or a compaction cleared it
    (a generation of zero bytes). Readers then skip the anti-join. The
    id column is guarded, so a tombstone set written under another id
    name fails loudly instead of anti-joining nothing.

    An id deleted twice appears twice. Every consumer is a
    ``left_anti`` join, which duplicates cannot change, so the set is
    not deduplicated: a read costs one scan for the broadcast and no
    shuffle. The set is broadcast-hinted while its on-disk bytes (one
    file listing, no Spark job) are below
    ``TOMBSTONE_BROADCAST_MAX_BYTES``: every consumer then streams the
    store side of its anti-join and never shuffles it. Above that the
    frame is returned unhinted. Size and frame come from one resolved
    generation."""
    path = resolve(f"{store_path}/tombstones")
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    size = fs.getContentSummary(jpath).getLength()
    if size == 0:
        return None
    tomb = read_store(
        spark, path, required_names=(id_col,), merge=False
    ).select(id_col)
    return F.broadcast(tomb) if size < TOMBSTONE_BROADCAST_MAX_BYTES else tomb


def read_live(
    spark,
    store_path: str,
    subdir: str,
    id_col: str | None = None,
    required: str | None = None,
    required_names: tuple[str, ...] = (),
    missing_ok: bool = False,
) -> DataFrame | None:
    """Guarded single-footer read of ``{store_path}/{subdir}`` minus the
    store's tombstones keyed on ``id_col``. ``id_col=None`` reads every
    row: stores without deletes, and NSW tables whose tombstoned nodes
    keep routing. A missing table raises, or returns None with
    ``missing_ok`` for callers that bootstrap an empty store."""
    path = f"{store_path}/{subdir}"
    # only a missing table reads False; a permissions or connectivity
    # failure raises, so "missing store" is the only way to bootstrap
    fs, jpath = hadoop_fs(spark, path)
    if missing_ok and not fs.exists(jpath):
        return None
    # tombstones first: the module's read-order rule
    tomb = read_tombstones(spark, store_path, id_col) if id_col else None
    df = read_store(
        spark, path, required=required, required_names=required_names,
        merge=False,
    )
    return df if tomb is None else df.join(tomb, id_col, "left_anti")


def append(df: DataFrame, store_path: str, subdir: str) -> None:
    """Append ``df`` to the current generation of
    ``{store_path}/{subdir}``; the first append publishes it as
    generation 0, so a reader never sees the table half-created."""
    path = local_path(f"{store_path}/{subdir}")
    if os.path.islink(path):
        df.write.mode("append").parquet(os.path.realpath(path))
    else:
        publish(df, path)


def delete(ids: DataFrame, store_path: str, id_col: str = "doc_id") -> None:
    """Record deletions against a store: ``ids``' distinct ``id_col``
    values append to ``{store_path}/tombstones``. Every
    :func:`read_live` anti-joins them at once (deleted rows vanish from
    results and from derived statistics); :func:`compact` drops the
    rows physically and clears the set.

    Replaying the same ids is harmless (the anti-join is idempotent),
    so an at-least-once delete feed needs no upstream dedup.
    Tombstones are by id and win over any row bearing that id —
    including one appended after the delete — until a compaction:
    re-adding a deleted id means compact first or mint a new id."""
    append(ids.select(id_col).distinct(), store_path, "tombstones")


def _plan_bytes(df: DataFrame) -> int | None:
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def _right_sized(frame: DataFrame, read: DataFrame, bytes_per_file: int) -> DataFrame:
    """``frame`` in files of about ``bytes_per_file``. Rewrites never
    grow a store, so the size estimate is the smaller of the rewrite's
    and the compaction read's plan statistics (a checkpointed rewrite
    reports a near-Long.MaxValue size that would explode the file
    count)."""
    sizes = [b for b in (_plan_bytes(frame), _plan_bytes(read)) if b is not None]
    est = min(sizes, default=bytes_per_file)
    return frame.repartition(min(max(1, -(-est // bytes_per_file)), 100_000))


def compact(
    spark,
    store_path: str,
    subdirs: dict[str, dict],
    rewrite: Rewrite | None = None,
    id_col: str | Callable[[DataFrame], str] | None = None,
    bytes_per_file: int = 128 << 20,
) -> None:
    """Rewrite a store's tables into right-sized files. ``subdirs`` maps
    each table to its :func:`read_store` guards; every table is read
    with mergeSchema (a single-footer read here would drop newer
    columns for good), and every table carrying the tombstone key
    (``id_col``, or a function of the first table's frame) is read
    minus tombstones. ``rewrite(live, tomb)`` returns the tables to
    publish (default: ``live`` as read); it also gets the tombstone set
    for tables keyed otherwise (NSW's edge table).

    Each returned table is published as its next generation; the
    tombstones are cleared after every table has flipped (the module's
    read-order rule), so a crash in between leaves only no-op
    tombstones. Tables flip one at a time: a reader of two (the NSW
    graph and its vectors) may pair a compacted one with an old one."""
    store_path = local_path(store_path)
    raw = {
        s: read_store(spark, f"{store_path}/{s}", **guards)
        for s, guards in subdirs.items()
    }
    key = id_col(next(iter(raw.values()))) if callable(id_col) else id_col
    tomb = read_tombstones(spark, store_path, key) if key else None
    live = {
        s: df.join(tomb, key, "left_anti")
        if tomb is not None and key in df.columns
        else df
        for s, df in raw.items()
    }
    out = rewrite(live, tomb) if rewrite is not None else live
    for s, frame in out.items():
        publish(_right_sized(frame, raw[s], bytes_per_file), f"{store_path}/{s}")
    if tomb is not None:
        publish_empty(f"{store_path}/tombstones")
