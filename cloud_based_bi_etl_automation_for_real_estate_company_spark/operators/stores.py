"""Lifetime stores: the append-only parquet tables that incremental
operators grow batch by batch and read on every batch or query.

Families and their subdirectories under one ``store_path``:

- BM25/MLT postings (``postings``), minhash and soft-dedup signatures
  (``sigs``), paragraph hashes (``hashes``), NSW graph ANN (``graph``,
  ``vectors``) and the PSI/chi²/KS-W1 drift state (``hist``, ``cats``,
  ``centroids``);
- deletions of any family land in ``{store_path}/tombstones``.

Three verbs, one rule set:

- :func:`read_live` — the query/admission read: schema-guarded,
  single-footer (``mergeSchema`` off), minus tombstones. A missing
  store raises unless the caller bootstraps (``missing_ok``).
- :func:`delete` — append ids to the tombstone set. Readers anti-join
  it at once; compaction makes the delete physical. This is the
  delete-file design of Delta/Iceberg.
- :func:`compact` — the quiet-window rewrite: mergeSchema read of
  every subdir, a family rewrite, a generation swap per subdir, and
  the tombstones cleared (:func:`clear_tombstones`) only after every
  swap.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import hadoop_fs, read_parquet

# Tombstone sets broadcast into every reader's anti-join while their
# on-disk size stays below this (far under Spark's 8 GB broadcast
# ceiling); a larger takedown backlog is joined unhinted and the
# planner picks the strategy. Compaction clears the backlog.
TOMBSTONE_BROADCAST_MAX_BYTES = 16 << 20

# A compaction rewrite: (live tables, tombstone set) -> tables to swap.
Rewrite = Callable[[dict[str, DataFrame], DataFrame | None], dict[str, DataFrame]]


def hadoop_path_exists(spark, path: str) -> bool:
    """Typed existence probe through the Hadoop FileSystem API (local,
    HDFS, S3A alike). Only a missing path reads False; a permissions
    or connectivity failure raises, so "missing store" stays the only
    way into a bootstrap branch."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


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
        df = spark.read.option("mergeSchema", "true").parquet(path)
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
    """The store's tombstoned ids as written, or None when nothing was
    ever deleted (readers then skip the anti-join). The id column is
    guarded, so a tombstone set written under another id name fails
    loudly instead of anti-joining nothing.

    An id deleted twice appears twice. Every consumer is a
    ``left_anti`` join, which duplicates cannot change, so the set is
    not deduplicated: a read costs one scan for the broadcast and no
    shuffle. The set is broadcast-hinted while its on-disk bytes (one
    file listing, no Spark job) are below
    ``TOMBSTONE_BROADCAST_MAX_BYTES``: every consumer then streams the
    store side of its anti-join and never shuffles it. Above that the
    frame is returned unhinted."""
    fs, jpath = hadoop_fs(spark, f"{store_path}/tombstones")
    if not fs.exists(jpath):
        return None
    tomb = read_store(
        spark,
        f"{store_path}/tombstones",
        required_names=(id_col,),
        merge=False,
    ).select(id_col)
    if fs.getContentSummary(jpath).getLength() < TOMBSTONE_BROADCAST_MAX_BYTES:
        tomb = F.broadcast(tomb)
    return tomb


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
    if missing_ok and not hadoop_path_exists(spark, path):
        return None
    df = read_store(
        spark, path, required=required, required_names=required_names,
        merge=False,
    )
    tomb = read_tombstones(spark, store_path, id_col) if id_col else None
    return df if tomb is None else df.join(tomb, id_col, "left_anti")


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
    ids.select(id_col).distinct().write.mode("append").parquet(
        f"{store_path}/tombstones"
    )


def clear_tombstones(spark, store_path: str) -> None:
    """Drop a store's tombstone set — strictly after every table that
    dropped the tombstoned rows is written (see :func:`compact`)."""
    fs, jpath = hadoop_fs(spark, f"{store_path}/tombstones")
    fs.delete(jpath, True)


def _local_store_path(store_path: str) -> str:
    """The generation swap is two local renames: refuse a non-local
    URI before anything is written (no orphaned ``__compacting``
    directory on an object store) and strip a file:// scheme."""
    scheme = urlparse(store_path).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"store compaction swaps generations with local "
            f"renames; store_path {store_path!r} (scheme {scheme!r}) "
            "is not a local filesystem path. Compact object-store / "
            "table-format deployments with their native atomic rewrite."
        )
    return urlparse(store_path).path if scheme == "file" else store_path


def _plan_bytes(df: DataFrame) -> int | None:
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def _swap(
    frame: DataFrame, store_path: str, subdir: str, bytes_per_file: int,
    read: DataFrame,
) -> None:
    """Write ``frame`` to ``{subdir}__compacting`` in right-sized files,
    then rename it over ``subdir``. ``frame`` may read the live
    directory: it is untouched until the renames. Rewrites never grow
    a store, so the size estimate is the smaller of the rewrite's and
    the compaction read's plan statistics (a checkpointed rewrite
    reports a near-Long.MaxValue size that would explode the file
    count)."""
    sizes = [b for b in (_plan_bytes(frame), _plan_bytes(read)) if b is not None]
    est = min(sizes, default=bytes_per_file)
    n_files = min(max(1, -(-est // bytes_per_file)), 100_000)
    live = os.path.join(store_path, subdir)
    tmp = os.path.join(store_path, f"{subdir}__compacting")
    frame.repartition(n_files).write.mode("overwrite").parquet(tmp)
    old = os.path.join(store_path, f"{subdir}__old")
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def compact(
    spark,
    store_path: str,
    subdirs: dict[str, dict],
    rewrite: Rewrite | None = None,
    id_col: str | Callable[[DataFrame], str] | None = None,
    bytes_per_file: int = 128 << 20,
) -> None:
    """Rewrite a store's tables into right-sized files in its quiet
    window. ``subdirs`` maps each table to its :func:`read_store`
    guards; every table is read with mergeSchema (a single-footer read
    here would drop newer columns for good), and every table carrying
    the tombstone key (``id_col``, or a function of the first table's
    frame) is read minus tombstones. ``rewrite(live, tomb)`` returns
    the tables to swap (default: ``live`` as read); it also gets the
    tombstone set for tables keyed otherwise (NSW's edge table).

    Swap contract: each table swaps by two local renames with a gap
    between them, so compaction must not run concurrently with the
    store's appends or queries — a bootstrap read inside the gap would
    treat the store as empty. Table-format deployments swap atomically.
    Tombstones are cleared strictly after every swap: a crash in
    between leaves tombstones for already-absent ids, a no-op for
    every reader, never a resurrected row."""
    store_path = _local_store_path(store_path)
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
        _swap(frame, store_path, s, bytes_per_file, raw[s])
    if tomb is not None:
        clear_tombstones(spark, store_path)
