"""Gold layer — the reference's Power BI analytics surface
(8 dashboards / 8+ calculated tables / 60+ DAX measures, reference
README.md:33,519–520) computed over the *actual CRM silver schema*
produced by sources.webhook, as composable DataFrame builders.

plans.measures proves each measure shape against the DuckDB oracle on
the big fixtures; this module assembles the same shapes into the real
dashboard semantics (Spanish labels per manager_example.png /
seller_example.png):

  - lead_snapshot     — A7 current state (deleted leads removed, J5)
  - funnel            — A1 SOLICITUDES / EMBUDO DE VENTAS
  - conversion_rates  — A4 MÉTRICAS (Firmados vs Ingresados, …)
  - sales_totals      — A2/A3 VENTAS (MONTO COLOCADO, TICKET PROMEDIO)
  - agent_table       — A8 seller grid + Total row
  - agent_ranking     — A6/W2 RANKING MONTO FIRMADO
  - goal_progress     — A5/J2 META MENSUAL/ANUAL gauges
  - monthly_trend     — A10/J1 gapless month × step counts
  - detail_listing    — A13 TABLA DE REGISTROS DETALLADOS

Every builder takes the silver events DataFrame (schema
schemas.SILVER_EVENT_SCHEMA) plus optional slicer predicates (A14) and
returns a DataFrame.

The funnel is cumulative — a signed lead counts in every earlier stage
(Referidos ⊇ … ⊇ Firmados), matching the funnel chart's monotone
counts in manager_example.png.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.transforms import davg, dsum, ratio
from ..schemas import EVENT_LEAD_DELETED

# Pipeline stages in funnel order (labels from the dashboards;
# SURVEY.md §2.3 vocabulary table).
STAGES = ("Referidos", "Asesorados", "Ingresados", "Autorizados", "Firmados")
STAGE_RANK = {s: i for i, s in enumerate(STAGES)}
REJECTED = "Rechazados"


def _stage_rank_col() -> Column:
    m = F.create_map(*[F.lit(x) for kv in STAGE_RANK.items() for x in kv])
    return m[F.col("step")]


def lead_snapshot(silver: DataFrame, slicer: Column | None = None) -> DataFrame:
    """Current state per lead (A7/W1) with deleted leads excluded (J5,
    webhook_app.py:101–124), in one shuffle: one window per ``lead_id``
    ranks a ``lead.deleted`` event first, then the live events by
    ``(received_at, id)`` descending. A lead whose first row is a
    delete is dropped; otherwise its first row is its current state.
    Rows with a NULL ``event`` are neither live nor deletes. A delete
    with a NULL ``lead_id`` removes nothing, and the live rows with a
    NULL ``lead_id`` keep their latest one (the NULL key is one group,
    as in ``operators.snapshot.latest_per_key``)."""
    event = F.col("event")
    kind = (
        F.when(
            event == EVENT_LEAD_DELETED,
            F.when(F.col("lead_id").isNotNull(), 2).otherwise(0),
        )
        .when(event.isNotNull(), 1)
        .otherwise(0)
    )
    w = Window.partitionBy("lead_id").orderBy(
        F.desc("__kind"), F.desc("received_at"), F.desc("id")
    )
    snap = (
        silver.withColumn("__kind", kind)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__kind") == 1))
        .drop("__kind", "__rn")
    )
    return snap.filter(slicer) if slicer is not None else snap


def funnel(snapshot: DataFrame) -> DataFrame:
    """A1 — cumulative stage counts: a lead at stage k counts in every
    stage ≤ k (monotone funnel, manager_example.png)."""
    ranked = snapshot.withColumn("__rank", _stage_rank_col())
    aggs = [
        F.count(F.when(F.col("__rank") >= F.lit(i), 1)).alias(stage)
        for i, stage in enumerate(STAGES)
    ]
    aggs.append(F.count(F.when(F.col("step") == REJECTED, 1)).alias(REJECTED))
    return ranked.agg(*aggs)


def conversion_rates(snapshot: DataFrame) -> DataFrame:
    """A4 — the MÉTRICAS ratio panel (NULL-safe divides)."""
    f = funnel(snapshot)
    return f.select(
        ratio(F.col("Firmados"), F.col("Ingresados")).alias("firmados_vs_ingresados"),
        ratio(F.col("Autorizados"), F.col("Ingresados")).alias("aprobados_vs_ingresados"),
        ratio(F.col("Ingresados"), F.col("Asesorados")).alias("ingresados_vs_asesorias"),
        ratio(F.col("Referidos"), F.col("Asesorados")).alias("referidos_vs_asesorias"),
        ratio(F.col("Firmados"), F.col("Autorizados")).alias("firmados_vs_aprobados"),
    )


def sales_totals(snapshot: DataFrame) -> DataFrame:
    """A2/A3 — VENTAS panel: placed amount + average ticket over
    signed deals (exact decimal sums)."""
    signed = snapshot.filter(F.col("step") == "Firmados")
    return signed.agg(
        dsum("amount").alias("monto_colocado"),
        davg("amount").alias("ticket_promedio"),
        F.count(F.lit(1)).alias("n_firmados"),
    )


def agent_table(snapshot: DataFrame) -> DataFrame:
    """A8 — per-agent measure grid with grand-total row
    (seller_example.png bottom table)."""
    ranked = snapshot.withColumn("__rank", _stage_rank_col())
    per = (
        ranked.rollup("user_email")
        .agg(
            F.grouping("user_email").alias("__g"),
            dsum(F.when(F.col("step") == "Firmados", F.col("amount"))).alias(
                "monto_colocado"
            ),
            *[
                F.count(F.when(F.col("__rank") >= F.lit(i), 1)).alias(stage)
                for i, stage in enumerate(STAGES)
            ],
            F.count(F.when(F.col("step") == REJECTED, 1)).alias(REJECTED),
        )
    )
    return per.select(
        F.when(F.col("__g") == 1, F.lit("Total"))
        .otherwise(F.coalesce(F.col("user_email"), F.lit("(En blanco)")))
        .alias("asesor"),
        "monto_colocado",
        *STAGES,
        REJECTED,
        ratio(F.col("Autorizados"), F.col("Ingresados")).alias("autorizados_vs_ingresados"),
        ratio(F.col("Firmados"), F.col("Ingresados")).alias("firmados_vs_ingresados"),
        ratio(F.col("Firmados"), F.col("Autorizados")).alias("firmados_vs_autorizados"),
    )


def agent_ranking(snapshot: DataFrame, k: int = 10) -> DataFrame:
    """A6/W2 — RANKING MONTO FIRMADO leaderboard."""
    from pyspark.sql import Window

    per_agent = (
        snapshot.filter(F.col("step") == "Firmados")
        .groupBy("user_email")
        .agg(dsum("amount").alias("monto_firmado"))
    )
    from ..operators.partitioning import sharded_topk

    return sharded_topk(
        per_agent, k, [F.desc("monto_firmado"), F.asc("user_email")]
    )


def goal_progress(snapshot: DataFrame, goals: DataFrame) -> DataFrame:
    """A5/J2 — META gauges: placed ÷ goal per (account, month).
    ``goals`` is the calculated-table stand-in:
    (account string, month_start date, goal double)."""
    placed = (
        snapshot.filter(F.col("step") == "Firmados")
        .groupBy("account", F.trunc("created_at_utc", "month").alias("month_start"))
        .agg(dsum("amount").alias("placed"))
    )
    return placed.join(F.broadcast(goals), ["account", "month_start"], "left").select(
        "account",
        "month_start",
        "placed",
        "goal",
        ratio(F.col("placed"), F.col("goal")).alias("pct_of_goal"),
    )


def monthly_trend(snapshot: DataFrame) -> DataFrame:
    """A10 — month × step counts for the stacked trend bar."""
    return (
        snapshot.groupBy(
            F.trunc("created_at_utc", "month").alias("month_start"), "step"
        )
        .agg(F.count(F.lit(1)).alias("n_leads"), dsum("amount").alias("amount"))
    )


def detail_listing(snapshot: DataFrame, limit: int = 100) -> DataFrame:
    """A13 — sorted detail records page."""
    return (
        snapshot.select(
            "lead_id",
            "title",
            "user_email",
            "step",
            "amount",
            "created_at_utc",
            "updated_at_utc",
        )
        .orderBy(F.desc("updated_at_utc"), F.asc("lead_id"))
        .limit(limit)
    )
