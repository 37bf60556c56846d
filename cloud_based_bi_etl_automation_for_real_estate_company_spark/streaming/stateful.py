"""Custom stateful streaming operators (ST5) built on
``applyInPandasWithState`` — Arrow-batched per-key state.

``streaming_lead_state`` maintains the live "current state per lead"
that the reference derives at query time from the step_changed history
(reference README.md:93): each micro-batch updates a (ts, step) pair
per lead and emits the new current row — a streaming materialization
of the A7 latest-per-key snapshot, so dashboards read fresh state
without re-scanning history.

State size: one small tuple per live lead; keys partition across
executors by hash, and the timeout knob can retire idle leads.

The ``*_drain_batch`` group-maps run the KMV, CUSUM, t-digest and
SpaceSaving sketch folds over whole batch groups; each backs a
registered query that the DuckDB oracle checks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LEAD_STATE_SCHEMA = StructType(
    [
        StructField("lead_id", LongType()),
        StructField("current_step", StringType()),
        StructField("updated_at", TimestampType()),
        StructField("n_events_seen", LongType()),
    ]
)

_STATE_SCHEMA = "ts double, step string, n bigint"

# the t-digest query half lives in operators.sketches — one copy for
# the batch operator and the drain
from ..operators.sketches import _tdigest_quantile_rows  # noqa: E402


# -- per-group sketch folds ------------------------------------------------
# Pure functions over one group's values, applied by the batch drains
# below.


def _kmv_finalize(kept: set, k: int):
    """Truncate a merged fraction set to the k smallest and apply the
    KMV estimator (exact below k, else (k-1)/u_(k)) — identical
    arithmetic to operators/sketches.kmv_stats."""
    us = sorted(kept)[:k]
    n_kept = len(us)
    theta = us[-1] if us else None
    est = float(n_kept) if n_kept < k else float(k - 1) / theta
    return us, n_kept, theta, est


def _cusum_fold(s: float, values, target: float) -> float:
    """Page's one-sided upward CUSUM scalar fold: S_k = max(0,
    S_{k-1} + (x_k - target)). IEEE-identical to the JVM
    ``greatest(0.0, acc + (x - t))`` tree on the same doubles."""
    for v in values:
        s = max(0.0, s + (float(v) - target))
    return s


def _update_lead_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keep the max-timestamp (ts, step) per lead plus an event count;
    emit the refreshed current row once per micro-batch."""
    (lead_id,) = key
    if state.exists:
        best_ts, best_step, n = state.get
    else:
        best_ts, best_step, n = float("-inf"), None, 0
    for pdf in pdfs:
        n += len(pdf)
        ts_s = pdf["ts"].astype("int64") / 1e9  # pandas ns → epoch seconds
        i = ts_s.idxmax()
        if ts_s[i] > best_ts:
            best_ts = float(ts_s[i])
            best_step = str(pdf["step"][i])
    state.update((best_ts, best_step, n))
    yield pd.DataFrame(
        {
            "lead_id": [lead_id],
            "current_step": [best_step],
            "updated_at": [pd.Timestamp(best_ts, unit="s")],
            "n_events_seen": [n],
        }
    )


def streaming_lead_state(events: DataFrame) -> DataFrame:
    """events(lead_id, ts, step) stream → live current-state stream.
    Update-mode output: one refreshed row per lead per micro-batch."""
    return (
        events.select("lead_id", "ts", "step")
        .groupBy("lead_id")
        .applyInPandasWithState(
            _update_lead_state,
            outputStructType=LEAD_STATE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream–stream interval join: each purchase pairs with the same
    user's clicks from the preceding ``window_minutes``. Watermarks on
    BOTH sides + the time-range predicate let Spark bound join state
    (a side's events are dropped once the other side's watermark passes
    the range) — the streaming analog of operators.range_join.

    Expects purchases(user_id, ts, purchase_id) and
    clicks(user_id, click_ts, click_id) streaming frames.
    """
    p = purchases.withWatermark("ts", watermark)
    c = clicks.withWatermark("click_ts", watermark)
    cond = (
        (p["user_id"] == c["user_id"])
        & (c["click_ts"] <= p["ts"])
        & (c["click_ts"] >= p["ts"] - F.make_dt_interval(mins=F.lit(window_minutes)))
    )
    return p.join(c, cond).select(
        p["user_id"], p["ts"], "purchase_id", "click_id", "click_ts"
    )


# -- batch drains of the sketch folds ---------------------------------------
# applyInPandas group-maps that run a fold over a whole batch group at
# once. The t-digest's re-clustering depends on how rows are batched,
# so its drain row is the rank-tolerance audit form. Each drain backs a
# registered gate query with a DuckDB oracle.


def kmv_drain_batch(
    df: DataFrame,
    key_col: str = "event_type",
    col: str = "user_id",
    k: int = 128,
) -> DataFrame:
    """Run the KMV state math (JVM-side ``_hash_frac`` then the
    ``_kmv_finalize`` merge) as a one-shot batch group-map. Returns the
    final row per key: (key, n_seen, n_kept, theta, estimate)."""
    from ..operators.sketches import _hash_frac

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_kept", LongType()),
            StructField("theta", DoubleType()),
            StructField("estimate", DoubleType()),
        ]
    )

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        kept: set = set()
        kept.update(pdf["__u"].values.tolist())
        us, n_kept, theta, est = _kmv_finalize(kept, k)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n_seen": [len(pdf)],
                "n_kept": [n_kept],
                "theta": [theta],
                "estimate": [est],
            }
        )

    return (
        df.filter(F.col(col).isNotNull())
        .select(key_col, _hash_frac(col).alias("__u"))
        .groupBy(key_col)
        .applyInPandas(drain, schema=out_schema)
    )


def cusum_drain_batch(
    daily: DataFrame,
    key_col: str = "series",
    day_col: str = "day",
    val_col: str = "v",
    target_col: str = "target",
    threshold_col: str = "threshold",
) -> DataFrame:
    """Run Page's CUSUM scalar fold (``_cusum_fold``) over each key's
    day-ordered batch rows. ``daily`` carries the per-key
    target/threshold as columns (constant within a key), so each key
    has its own in-control level. Returns the drained
    final row per key: (key, n_seen, cusum, alarm)."""
    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("cusum", DoubleType()),
            StructField("alarm", BooleanType()),
        ]
    )

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(day_col)
        # one row per (key, day) is the input contract: the zero-clamp
        # makes the fold order-sensitive, and ties in day_col would
        # fold in Arrow-batch (partition-dependent) order — fail loud
        # instead of returning a nondeterministic cusum
        if pdf[day_col].duplicated().any():
            raise ValueError(
                "cusum_drain_batch requires one row per key per "
                f"{day_col!r}; pre-aggregate to daily grain first"
            )
        target = float(pdf[target_col].iloc[0])
        s = _cusum_fold(0.0, pdf[val_col], target)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n_seen": [len(pdf)],
                "cusum": [float(s)],
                "alarm": [bool(s > float(pdf[threshold_col].iloc[0]))],
            }
        )

    return daily.groupBy(key_col).applyInPandas(drain, schema=out_schema)


def tdigest_drain_batch(
    df: DataFrame,
    key_col: str = "event_type",
    val_col: str = "value",
    delta: int = 100,
    qs: tuple = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Run the t-digest per-group math
    (``operators/sketches._tdigest_cluster`` then
    ``_tdigest_quantile_rows``) as a one-shot batch group-map.
    Returns one row per (key, q): (key, n_seen, n_centroids, q,
    est)."""
    import numpy as np

    from ..operators.sketches import _tdigest_cluster

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_centroids", LongType()),
            StructField("q", DoubleType()),
            StructField("est", DoubleType()),
        ]
    )

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[val_col].to_numpy(float)
        m, w = _tdigest_cluster(vals, np.ones(len(vals)), delta)
        qa, est, n_centroids = _tdigest_quantile_rows(m, w, qs)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]] * len(qa),
                "n_seen": [len(pdf)] * len(qa),
                "n_centroids": [n_centroids] * len(qa),
                "q": qa,
                "est": est,
            }
        )

    return (
        df.select(key_col, val_col)
        .groupBy(key_col)
        .applyInPandas(drain, schema=out_schema)
    )


# -- SpaceSaving heavy hitters (Metwally, Agrawal & El Abbadi 2005) ---------


def _spacesaving_fold(counts: dict, errs: dict, items, weights, m: int):
    """Fold (item, weight) pairs into a bounded SpaceSaving summary of
    at most ``m`` counters: known items accumulate; new items insert
    while room remains, else REPLACE the minimum counter, inheriting
    its count as the new item's error bound. Victims and iteration
    order are deterministic (min count, then lexicographic item; items
    folded in sorted order). Guarantees, in any fold order:
    est ≥ true, est − err ≤ true, and every item with true count >
    n/m is present — the properties the audit oracle checks."""
    for it, w in sorted(zip(items, weights)):
        w = int(w)
        if it in counts:
            counts[it] += w
        elif len(counts) < m:
            counts[it] = w
            errs[it] = 0
        else:
            victim = min(counts, key=lambda k: (counts[k], k))
            base = counts.pop(victim)
            errs.pop(victim)
            counts[it] = base + w
            errs[it] = base
    return counts, errs


def spacesaving_drain_batch(
    df: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    m: int = 64,
) -> DataFrame:
    """One-shot batch drain of a SpaceSaving summary: ``_spacesaving_fold``
    over each group's value_counts, NULL items dropped before the
    groupBy.
    Returns (key, item, est, err, n_seen)."""
    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("item", StringType()),
            StructField("est", LongType()),
            StructField("err", LongType()),
            StructField("n_seen", LongType()),
        ]
    )

    def drain(pdf: pd.DataFrame) -> pd.DataFrame:
        vc = pdf[item_col].astype(str).value_counts()
        counts, errs = _spacesaving_fold(
            {}, {}, vc.index.tolist(), vc.values.tolist(), m
        )
        its = sorted(counts)
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]] * len(its),
                "item": its,
                "est": [counts[i] for i in its],
                "err": [errs[i] for i in its],
                "n_seen": [len(pdf)] * len(its),
            }
        )

    return (
        df.select(key_col, item_col)
        .filter(F.col(item_col).isNotNull())
        .groupBy(key_col)
        .applyInPandas(drain, schema=out_schema)
    )
