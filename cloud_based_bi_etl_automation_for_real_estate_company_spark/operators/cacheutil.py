"""The one owner of materialized-frame lifetimes.

A checkpoint nobody frees holds executor storage until JVM GC happens
to run, so every managed materialization goes through a :class:`Frames`
scope, which frees what it still holds on exit (error path too):

- ``frames.pin(df, eager=...)`` is ``df.localCheckpoint(eager=...)``;
- ``frames.pin(df, eager=True, replaces=(old, ...))`` is the loop-round
  step: the new frame materializes first, then ``old`` is freed;
- ``frames.pin(df, eager=True, count=True)`` returns ``(frame, rows)``:
  an ``Observation`` on the pinned plan is filled by the checkpoint's
  own job, so the row count costs no ``count()`` job of its own;
- ``frames.attach(result, *frames)`` hands frames a returned lazy
  ``result`` still reads to the caller, who frees them with
  :func:`release` (``result``) after the last action over it;
- ``frames.own(result)`` takes them over into this scope instead.

A checkpoint that is itself the returned lineage cut, with no owner to
end it, stays a direct ``localCheckpoint(eager=...)`` call.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# result frame -> RDDs holding the blocks of the frames it still reads
_ATTACHED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _blocks(df: DataFrame):
    """A checkpoint's analyzed plan is a ``LogicalRDD`` over the RDD
    holding its blocks."""
    return df._jdf.queryExecution().analyzed().rdd()


def _free(rdds) -> None:
    for rdd in rdds:
        rdd.unpersist(False)


def release(result: DataFrame | None) -> None:
    """Free the frames attached to ``result``; a no-op on None and on
    frames with nothing attached."""
    if result is not None:
        _free(_ATTACHED.pop(result, ()))


class Frames:
    """A scope owning the frames pinned through it (module docstring)."""

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame | None, object]] = []

    def __enter__(self) -> Frames:
        return self

    def __exit__(self, *exc) -> None:
        held, self._held = self._held, []
        _free(rdd for _, rdd in held)

    def pin(self, df: DataFrame, *, eager: bool, replaces=(), count=False):
        """Checkpoint ``df``, then free the held frames in ``replaces``
        (others, and None, are left alone; needs ``eager=True``). With
        ``count=True`` (needs ``eager=True``) return ``(frame, rows)``."""
        if (replaces or count) and not eager:
            raise ValueError("replaces= and count= need eager=True: a lazy "
                             "pin has not materialized yet")
        if count:
            seen = Observation()
            df = df.observe(seen, F.count(F.lit(1)).alias("rows"))
        out = df.localCheckpoint(eager=eager)
        keep, dead = [], []
        for f, rdd in self._held:
            if f is not None and any(f is r for r in replaces):
                dead.append(rdd)
            else:
                keep.append((f, rdd))
        self._held = keep + [(out, _blocks(out))]
        _free(dead)
        return (out, seen.get["rows"]) if count else out

    def attach(self, result: DataFrame, *frames: DataFrame | None) -> DataFrame:
        """Hand held ``frames`` (default: ``result`` itself; None is
        skipped) to ``result`` until :func:`release` (``result``)."""
        handed = []
        for fr in frames or (result,):
            if fr is None or any(fr is f for f, _ in handed):
                continue
            i = next((i for i, (f, _) in enumerate(self._held) if f is fr), None)
            if i is None:
                raise ValueError("attach: frame is not held by this scope")
            handed.append(self._held.pop(i))
        _ATTACHED.setdefault(result, []).extend(rdd for _, rdd in handed)
        return result

    def own(self, result: DataFrame) -> DataFrame:
        """Take over the frames attached to ``result``."""
        self._held.extend((None, rdd) for rdd in _ATTACHED.pop(result, ()))
        return result
