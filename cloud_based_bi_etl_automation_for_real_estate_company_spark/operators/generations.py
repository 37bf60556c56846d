"""The one way a table is replaced: a generation behind a symlink.

A table path is a relative symlink to a hidden sibling directory
``.<name>-gen-<n>``. :func:`publish` writes the complete new contents
into ``.<name>-gen-<n+1>``, then flips the link: a new link at a
temporary name, renamed over the table path with ``os.replace``
(atomic on one POSIX filesystem). A reader sees the old table or the
new one, never an empty or a partial one — what Power BI gets from its
import copy (reference README.md:511), while our readers hit the files.
The generation before the current one is kept, so a reader that listed
its files can finish; older ones are removed.

Readers resolve the link before they list (``session.read_parquet``):
Spark records the files it lists under the path it was given, so a
frame listed through the link would look for them in the new
generation. A plain read of the link path works while nothing
publishes.

Link targets are relative, so a directory of tables moves whole. Local
filesystem only. A table path that is a plain directory was written
before generations: it is refused, not converted, and must be rebuilt.
A crashed publish leaves an unlinked generation that the next publish
overwrites whole.
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def local_path(path: str) -> str:
    """``path`` as a local filesystem path without a trailing slash.
    A non-local URI raises before anything is written; a file:// scheme
    is stripped."""
    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"tables are replaced by flipping a local symlink; path "
            f"{path!r} (scheme {scheme!r}) is not a local filesystem path. "
            "Replace object-store / table-format tables with their native "
            "atomic commit."
        )
    path = urlparse(path).path if scheme == "file" else path
    return path.rstrip("/") or path


def _next_generation(path: str) -> int:
    """One past the link's target; 0 for a table that does not exist."""
    if os.path.islink(path):
        return int(os.readlink(path).rsplit("-gen-", 1)[1]) + 1
    if os.path.lexists(path):
        raise ValueError(
            f"{path} is a plain directory, not a published table (it was "
            "written before tables were published as generations); "
            "remove it and rebuild the table"
        )
    return 0


def _flip(path: str, write) -> str:
    """Write the next generation of ``path`` with ``write(directory)``,
    point ``path`` at it in one rename, then remove the generations
    older than the one it replaced. Returns the directory."""
    path = local_path(path)
    gen = _next_generation(path)
    parent, name = os.path.split(path)
    gen_dir = os.path.join(parent, f".{name}-gen-{gen}")
    shutil.rmtree(gen_dir, ignore_errors=True)  # a crashed publish's leftover
    write(gen_dir)
    tmp = os.path.join(parent, f".{name}-link")
    if os.path.lexists(tmp):  # left by a crash between the two calls
        os.remove(tmp)
    os.symlink(os.path.basename(gen_dir), tmp)
    os.replace(tmp, path)
    old = re.compile(rf"\.{re.escape(name)}-gen-(\d+)")
    for entry in os.listdir(parent or "."):
        m = old.fullmatch(entry)
        if m and int(m.group(1)) < gen - 1:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    return gen_dir


def publish(
    df: DataFrame,
    path: str,
    view_name: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as the next generation of the table at ``path`` and
    flip the table to it. Returns the generation read back with the
    schema just written (no schema-inference job), registered as the
    temp view ``view_name`` when one is given."""
    # a generation is a complete snapshot, whatever the session's
    # partition overwrite mode
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    gen_dir = _flip(path, writer.parquet)
    out = df.sparkSession.read.schema(df.schema).parquet(gen_dir)
    if view_name:
        out.createOrReplaceTempView(view_name)
    return out


def publish_empty(path: str) -> None:
    """Flip the table at ``path`` to a generation with no files: a
    cleared set that readers see as zero bytes (``stores`` tombstones)."""
    _flip(path, os.makedirs)
