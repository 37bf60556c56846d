"""Round 15 — incremental streaming drift-panel refresh (the r14
verdict's task 2 + the silver-replay ADVICE flag).

The round-14 ``stream_drift_dashboard`` sink recomputed BOTH panels
over the FULL accumulated silver every micro-batch — a per-trigger
full fact scan at 100 TB. The incremental sink maintains per-batch
count-spine deltas (``panel_state/{num,cat}_counts``, partition-owned
by ``__batch_id`` with dynamic overwrite), recomputes only the weeks
the unpublished batches touched plus their ``ref_weeks`` forward
reference horizon, and upserts into the published generation. These
tests pin:

- multi-batch incremental ≡ one-shot ``refresh_drift_dashboard``
  row-for-row (both panels), including under ``refresh_every``
  thinning;
- untouched historical weeks are CARRIED from the published
  generation, not recomputed (a tampered sentinel row survives);
- silver facts are NEVER re-read by the refresh (delete the whole
  silver store mid-stream; the panels still come out exact);
- a replayed micro-batch converges (silver row count and panels
  unchanged) — the round-14 ADVICE flag on the plain-append form;
- a hull-extending batch falls back to the full spine recompute
  (the PSI global-bucket coupling), overwriting the sentinel.
"""

from __future__ import annotations

import pytest

# round 16: slow tier — incremental-vs-oneshot replays; the t25_drift_dashboard_incr oracle row re-pins the parity every round
pytestmark = pytest.mark.slow

import datetime as dt
import json
import os
import shutil

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark import jobs
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.generations import (
    publish,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
    read_parquet,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
    drift_dashboard_batch,
)

SCHEMA = "event_type string, ts timestamp, value double"
BASE = dt.datetime(2024, 1, 1)  # a Monday — week boundaries align


def _week_rows(week: int, seed: int = 0, extra_value: float | None = None):
    """Deterministic one-week slice; values stay inside [0, 49] so the
    global hull is pinned by week 0 unless extra_value pushes it."""
    rows = [
        (
            "click",
            BASE + dt.timedelta(weeks=week, hours=i),
            float((i * 7 + seed) % 50),
        )
        for i in range(20)
    ] + [
        (
            "view",
            BASE + dt.timedelta(weeks=week, hours=i),
            float((i * 11 + seed) % 50),
        )
        for i in range(10)
    ]
    # pin the hull ends on the first slice
    if week == 0:
        rows += [
            ("click", BASE + dt.timedelta(hours=30), 0.0),
            ("click", BASE + dt.timedelta(hours=31), 49.0),
        ]
    if extra_value is not None:
        rows.append(
            ("view", BASE + dt.timedelta(weeks=week, hours=40), extra_value)
        )
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _panels(spark, gold):
    return {
        name: sorted(
            map(tuple, read_parquet(spark, f"{gold}/{name}").collect())
        )
        for name in ("drift_panel", "mix_panel")
    }


def _expected(spark, all_rows, tmp_path, tag):
    want = jobs.refresh_drift_dashboard(
        spark, _df(spark, all_rows), str(tmp_path / f"want_{tag}")
    )
    return {
        name: sorted(map(tuple, want[name].collect()))
        for name in ("drift_panel", "mix_panel")
    }


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_incremental_matches_oneshot_and_thinning(spark, tmp_path):
    """4 batches with refresh_every-style thinning (batch 2 lands
    without a refresh): every published state equals the one-shot
    recompute over the rows landed so far."""
    gold = str(tmp_path / "gold")
    batches = [_week_rows(0), _week_rows(1, seed=3), _week_rows(2, seed=5),
               _week_rows(1, seed=9)]  # batch 3 is LATE data for week 1
    landed: list = []
    for i, rows in enumerate(batches):
        landed += rows
        refresh = i != 2  # thin batch 2: spine lands, no publish
        drift_dashboard_batch(
            spark, _df(spark, rows), i, gold, refresh=refresh
        )
        if refresh:
            assert _panels(spark, gold) == _expected(
                spark, landed, tmp_path, f"b{i}"
            ), f"batch {i}"
    # the thinned batch's weeks were folded in by the NEXT refresh
    assert _panels(spark, gold) == _expected(spark, landed, tmp_path, "fin")


def test_untouched_weeks_carried_not_recomputed(spark, tmp_path):
    """Tamper an already-published row for an untouched week, then land
    a batch touching a FAR week: the sentinel must survive into the new
    generation — proof the refresh upserts only the touched horizon."""
    gold = str(tmp_path / "gold")
    for i in range(3):
        drift_dashboard_batch(spark, _df(spark, _week_rows(i, seed=i)), i, gold)
    # plant the sentinel: psi = 123.456 on the earliest drift row
    cur = read_parquet(spark, f"{gold}/drift_panel")
    wk0 = cur.agg(F.min("week_start")).collect()[0][0]
    tampered = cur.withColumn(
        "psi",
        F.when(
            (F.col("week_start") == F.lit(wk0))
            & (F.col("event_type") == "click"),
            F.lit(123.456),
        ).otherwise(F.col("psi")),
    ).localCheckpoint(eager=True)
    publish(tampered, f"{gold}/drift_panel")
    # batch 3 touches ONLY week 9 — horizon [9, 13] never reaches week 0
    drift_dashboard_batch(spark, _df(spark, _week_rows(9, seed=7)), 3, gold)
    got = (
        read_parquet(spark, f"{gold}/drift_panel")
        .filter(
            (F.col("week_start") == F.lit(wk0))
            & (F.col("event_type") == "click")
        )
        .collect()
    )
    assert len(got) == 1 and got[0]["psi"] == 123.456
    # and the touched week's row is present and correct vs one-shot
    all_rows = sum((_week_rows(i, seed=i) for i in range(3)), []) + _week_rows(
        9, seed=7
    )
    want = _expected(spark, all_rows, tmp_path, "w9")
    got_w9 = sorted(
        map(
            tuple,
            read_parquet(spark, f"{gold}/drift_panel")
            .filter(F.col("week_start") > F.lit(wk0))
            .collect(),
        )
    )
    want_w9 = sorted(t for t in want["drift_panel"] if t[1] > wk0)
    assert got_w9 == want_w9


def test_refresh_never_reads_silver(spark, tmp_path):
    """Delete the ENTIRE silver store between batches: the refresh
    still produces the exact one-shot panels — impossible if it
    rescanned the fact table (the 100 TB claim, executable)."""
    gold = str(tmp_path / "gold")
    batches = [_week_rows(0), _week_rows(1, seed=3), _week_rows(2, seed=5)]
    for i, rows in enumerate(batches[:2]):
        drift_dashboard_batch(spark, _df(spark, rows), i, gold)
    shutil.rmtree(os.path.join(gold, "events_silver"))
    drift_dashboard_batch(spark, _df(spark, batches[2]), 2, gold)
    assert _panels(spark, gold) == _expected(
        spark, sum(batches, []), tmp_path, "nosilver"
    )


def test_replayed_batch_converges(spark, tmp_path):
    """foreachBatch replay: running the same (batch_df, batch_id) step
    twice leaves silver, the spine state and both panels IDENTICAL —
    the dynamic-partition-overwrite idempotency contract."""
    gold = str(tmp_path / "gold")
    batches = [_week_rows(0), _week_rows(1, seed=3)]
    for i, rows in enumerate(batches):
        drift_dashboard_batch(spark, _df(spark, rows), i, gold)
    before = _panels(spark, gold)
    n_silver = spark.read.parquet(f"{gold}/events_silver").count()
    # replay batch 1 verbatim
    drift_dashboard_batch(spark, _df(spark, batches[1]), 1, gold)
    assert spark.read.parquet(f"{gold}/events_silver").count() == n_silver
    assert _panels(spark, gold) == before
    # the state file advanced is irrelevant; the published hull held
    with open(f"{gold}/panel_state/published.json") as f:
        st = json.load(f)
    assert st["lo"] == 0 and st["hi"] == 49


def test_hull_expansion_triggers_full_recompute(spark, tmp_path):
    """A batch extending the global value hull moves every week's PSI
    bucket edges — the refresh must detect it and recompute the WHOLE
    panel from the spine (the sentinel planted on an old week is
    overwritten with the correct value, unlike the carried case)."""
    gold = str(tmp_path / "gold")
    for i in range(2):
        drift_dashboard_batch(spark, _df(spark, _week_rows(i, seed=i)), i, gold)
    cur = read_parquet(spark, f"{gold}/drift_panel")
    wk0 = cur.agg(F.min("week_start")).collect()[0][0]
    publish(
        cur.withColumn("psi", F.lit(999.0)).localCheckpoint(eager=True),
        f"{gold}/drift_panel",
    )
    # hull-extending batch: value 500 > 49
    rows3 = _week_rows(2, seed=5, extra_value=500.0)
    drift_dashboard_batch(spark, _df(spark, rows3), 2, gold)
    all_rows = _week_rows(0, seed=0) + _week_rows(1, seed=1) + rows3
    assert _panels(spark, gold) == _expected(spark, all_rows, tmp_path, "hull")
    with open(f"{gold}/panel_state/published.json") as f:
        assert json.load(f)["hi"] == 500
    # sentinel gone — week-0 rows were recomputed
    got0 = (
        read_parquet(spark, f"{gold}/drift_panel")
        .filter(F.col("week_start") == F.lit(wk0))
        .collect()
    )
    assert all(r["psi"] != 999.0 for r in got0)
