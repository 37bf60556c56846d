"""Gold-layer dashboard measures over a hand-built silver corpus with
hand-computed goldens (SURVEY.md §5 item 3): funnel monotonicity,
ratio values, rollup total row, goal join, deleted-lead exclusion."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
    latest_per_key,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans import gold
from cloud_based_bi_etl_automation_for_real_estate_company_spark.schemas import (
    EVENT_LEAD_DELETED,
    SILVER_EVENT_SCHEMA,
)

T0 = dt.datetime(2025, 8, 1, 10, 0, 0)


def ev(i, lead_id, step, amount, email, event="lead.step.changed", minutes=0):
    """One silver row (``SILVER_EVENT_SCHEMA`` order) of office_a."""
    return (
        i, "office_a", event, "sig", True, 1, 200,
        T0 + dt.timedelta(minutes=minutes), lead_id, f"L{lead_id}",
        "open", step, 1, "Ventas",
        Decimal(str(amount)) if amount is not None else None,
        T0, T0 + dt.timedelta(minutes=minutes), email,
        "http://x", None, None, None, "{}",
    )


@pytest.fixture(scope="module")
def silver(spark):
    """10 leads across steps/agents; lead 9 deleted; lead 1 has two
    events (later one wins)."""
    rows = []

    rows.append(ev(1, 1, "Ingresados", 100.0, "a@x", minutes=1))
    rows.append(ev(2, 1, "Firmados", 1000.0, "a@x", minutes=5))  # wins
    rows.append(ev(3, 2, "Firmados", 3000.0, "a@x", minutes=2))
    rows.append(ev(4, 3, "Autorizados", 500.0, "b@x", minutes=2))
    rows.append(ev(5, 4, "Ingresados", 200.0, "b@x", minutes=2))
    rows.append(ev(6, 5, "Asesorados", 0.0, "b@x", minutes=2))
    rows.append(ev(7, 6, "Referidos", 0.0, None, minutes=2))
    rows.append(ev(8, 7, "Rechazados", 0.0, "a@x", minutes=2))
    rows.append(ev(9, 8, "Firmados", 2000.0, "b@x", minutes=2))
    rows.append(ev(10, 9, "Firmados", 9999.0, "a@x", minutes=2))
    rows.append(ev(11, 9, None, None, None, event="lead.deleted", minutes=9))
    return spark.createDataFrame(rows, SILVER_EVENT_SCHEMA)


def test_snapshot_excludes_deleted_and_picks_latest(silver):
    snap = gold.lead_snapshot(silver)
    by_id = {r["lead_id"]: r for r in snap.collect()}
    assert 9 not in by_id  # deleted lead gone (J5)
    assert by_id[1]["step"] == "Firmados"  # later event won (A7)
    assert len(by_id) == 8


def test_funnel_cumulative_monotone(silver):
    f = gold.funnel(gold.lead_snapshot(silver)).collect()[0]
    # 8 live leads, 1 rejected (no stage rank) → stage counts:
    # Referidos counts everything staged: leads 1..8 minus Rechazados=7
    assert f["Referidos"] == 7
    assert f["Asesorados"] == 6
    assert f["Ingresados"] == 5
    assert f["Autorizados"] == 4
    assert f["Firmados"] == 3
    assert f["Rechazados"] == 1
    vals = [f[s] for s in gold.STAGES]
    assert vals == sorted(vals, reverse=True)  # monotone funnel


def test_conversion_rates(silver):
    r = gold.conversion_rates(gold.lead_snapshot(silver)).collect()[0]
    assert r["firmados_vs_ingresados"] == 3 / 5
    assert r["aprobados_vs_ingresados"] == 4 / 5
    assert r["firmados_vs_aprobados"] == 3 / 4


def test_sales_totals(silver):
    s = gold.sales_totals(gold.lead_snapshot(silver)).collect()[0]
    assert s["monto_colocado"] == 6000.0  # 1000 + 3000 + 2000 (9999 deleted)
    assert s["ticket_promedio"] == 2000.0
    assert s["n_firmados"] == 3


def test_agent_table_total_row_and_blank_group(silver):
    rows = {r["asesor"]: r for r in gold.agent_table(gold.lead_snapshot(silver)).collect()}
    assert rows["Total"]["Firmados"] == 3
    assert rows["Total"]["monto_colocado"] == 6000.0
    assert "(En blanco)" in rows  # NULL-email lead surfaces like Power BI blank
    assert rows["a@x"]["monto_colocado"] == 4000.0
    assert rows["b@x"]["monto_colocado"] == 2000.0


def test_agent_ranking(silver):
    top = gold.agent_ranking(gold.lead_snapshot(silver)).collect()
    assert [r["user_email"] for r in top] == ["a@x", "b@x"]
    assert top[0]["monto_firmado"] == 4000.0


def test_goal_progress_join(spark, silver):
    goals = spark.createDataFrame(
        [("office_a", dt.date(2025, 8, 1), 12000.0)],
        "account string, month_start date, goal double",
    )
    g = gold.goal_progress(gold.lead_snapshot(silver), goals).collect()[0]
    assert g["placed"] == 6000.0
    assert g["pct_of_goal"] == 0.5


def test_slicer_filter(silver):
    snap = gold.lead_snapshot(silver, slicer=F.col("user_email") == "a@x")
    s = gold.sales_totals(snap).collect()[0]
    assert s["monto_colocado"] == 4000.0


def _anti_join_snapshot(silver):
    """The earlier three-shuffle form of ``gold.lead_snapshot``: a
    distinct of the deleted ids, a left-anti join of the live rows
    against it, then the latest row per lead."""
    deleted = silver.filter(F.col("event") == EVENT_LEAD_DELETED).select("lead_id").distinct()
    live = silver.filter(F.col("event") != EVENT_LEAD_DELETED).join(
        deleted, "lead_id", "left_anti"
    )
    return latest_per_key(live, ["lead_id"], ["received_at", "id"])


def test_one_shuffle_snapshot_equals_the_anti_join_form(spark, silver):
    """NULL lead ids, a delete with a NULL lead id, a lead updated
    after its delete, a ``received_at`` tie broken by ``id`` and NULL
    events: the one-window snapshot keeps exactly the rows the
    anti-join form keeps, from one shuffle."""
    d = EVENT_LEAD_DELETED
    edge = spark.createDataFrame(
        [
            ev(20, None, "Ingresados", 1.0, "n@x", minutes=1),
            ev(21, None, "Firmados", 2.0, "n@x", minutes=3),  # latest NULL-lead row
            ev(22, None, None, None, None, event=d, minutes=5),  # deletes nothing
            ev(23, 30, "Ingresados", 5.0, "a@x", minutes=1),
            ev(24, 30, None, None, None, event=d, minutes=2),
            ev(25, 30, "Firmados", 6.0, "a@x", minutes=4),  # after its delete
            ev(26, 31, "Ingresados", 7.0, "b@x", minutes=2),
            ev(27, 31, "Autorizados", 8.0, "b@x", minutes=2),  # tie: id 27 wins
            ev(28, 32, "Asesorados", 9.0, "b@x", minutes=1),
            ev(29, 32, "Firmados", 9.5, "b@x", event=None, minutes=9),
            ev(30, 33, "Firmados", 10.0, "b@x", event=None, minutes=1),
        ],
        SILVER_EVENT_SCHEMA,
    )
    for frame in (silver, edge, silver.unionByName(edge)):
        snap = gold.lead_snapshot(frame)
        assert snap.columns == frame.columns
        want = _anti_join_snapshot(frame).select(*frame.columns)
        assert set(snap.collect()) == set(want.collect())
    assert {r["id"] for r in gold.lead_snapshot(edge).collect()} == {21, 27, 28}
    plan = gold.lead_snapshot(silver)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
