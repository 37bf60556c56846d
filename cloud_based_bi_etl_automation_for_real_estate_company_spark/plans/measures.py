"""The BI measure library — SURVEY.md §2.3 A1–A16, §2.4 J1–J5, §2.5 U1–U2,
§2.6 W1–W3 — re-expressed as idiomatic Spark DataFrame plans over the
driver fixture tables (mapping per FIXTURES.md §2: orders≈leads,
o_orderstatus≈pipeline step, o_totalprice≈amount, customer≈agent/asesor,
events≈step_changed event log).

Every public ``q_*`` function has signature ``(spark, sf_dir) -> DataFrame``
and a matching DuckDB oracle in ``ORACLES`` (same column names & types —
the driver hash-compares them). Conventions for oracle parity:

- every computed column is explicitly aliased identically on both sides;
- counts/ranks cast to BIGINT on both sides (Spark rank() is int,
  DuckDB's is bigint);
- NULL-safe division via ``try_divide`` ↔ ``CASE WHEN den=0 THEN NULL``;
- status vocabulary: 'O' (open/ingresado) → 'P' (in process/autorizado)
  → 'F' (signed/firmado), mirroring the reference funnel
  (reference README.md:528; manager_example.png).

Scale notes (100 TB): aggregations are single-shuffle hash aggs with
map-side partial aggregation; dimension joins (customer 1.5M rows at
SF100 ≪ facts) broadcast; the one window op that must see all rows per
key (W1 latest-per-key) partitions by the key so it shuffles once and
never collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.transforms import davg, dsum, ratio
from ..session import prewarm_python_workers, read_events, read_parquet
from .calendar import calendar_dim


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (lazy parquet scan; columns pruned per-plan).
    The footer schema comes from the session's cache
    (``session.read_parquet``), so only a table's first read in a
    session launches a schema-inference job.

    events.parquet has shipped ``ts`` as either TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) depending on fixture vintage; ``session.
    read_events`` adapts on the read schema so oracle values agree
    exactly either way.
    """
    # Pin session tz so timestamp bucketing (year/month/date_trunc) is
    # identical to the (tz-naive) DuckDB oracle regardless of host tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Size shuffles to the cluster, not the 200-partition default: a
    # vanilla session otherwise schedules 200 reducers per exchange
    # (pure task overhead below ~100 GB); AQE coalescing still applies
    # on top, and at real scale defaultParallelism tracks cluster size.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    prewarm_python_workers(spark, block=False)
    if name == "events":
        return read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# §2.3 Aggregations — the dashboard measures
# ---------------------------------------------------------------------------


def q_a1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — funnel stage counts (manager_example.png EMBUDO DE VENTAS;
    reference README.md:528). Stage ≈ event_type; leads ≈ distinct users.
    Single hash-agg shuffle on a low-cardinality key."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_leads"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_a2_total_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — TOTAL MONTO COLOCADO: SUM(amount) over signed deals
    (manager_example.png VENTAS; status 'F' ≈ Firmados)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "F").agg(
        dsum("o_totalprice").alias("total_amount"),
        F.count(F.lit(1)).alias("n_signed"),
    )


def q_a3_avg_ticket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — TICKET PROMEDIO: AVG(amount) of signed deals
    (manager_example.png / seller_example.png; README.md:520)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "F").agg(
        davg("o_totalprice").alias("avg_ticket")
    )


def q_a4_conversion_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — ratio-of-measures conversion rates (manager MÉTRICAS panel,
    e.g. FIRMADOS VS INGRESADOS; README.md:534). Conditional counts in
    one pass, NULL-safe division."""
    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_approved"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_signed"),
    )
    return agg.select(
        "n_open",
        "n_approved",
        "n_signed",
        ratio(F.col("n_signed"), F.col("n_open")).alias("signed_vs_open"),
        ratio(F.col("n_approved"), F.col("n_open")).alias("approved_vs_open"),
        ratio(F.col("n_signed"), F.col("n_approved")).alias("signed_vs_approved"),
    )


def _goals(spark: SparkSession) -> DataFrame:
    """A5/J2 — goal dimension (stand-in for the reference's calculated
    goal tables `oficina_a_Meta_Anual` / `Meta_Mensual_Asesores`,
    README.md:519). Loaded from a fixture file rather than a code
    literal — the reference's goal tables are refreshed data, not
    program constants, so editing targets must not mean editing code.
    Still a tiny dim → broadcast join."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "goals.jsonl",
    )
    return spark.read.schema("segment string, goal double").json(path)


def q_a5_goal_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/J2 — META gauges: SUM(amount) ÷ goal per office-segment
    (manager/seller gauges; README.md:519–520). Fact agg first, then
    broadcast join against the tiny goal dim."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    placed = (
        o.filter(F.col("o_orderstatus") == "F")
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(dsum("o_totalprice").alias("placed_amount"))
    )
    g = _goals(spark)
    return (
        placed.join(F.broadcast(g), "segment", "left")
        .select(
            "segment",
            "placed_amount",
            F.col("goal"),
            ratio(F.col("placed_amount"), F.col("goal")).alias("goal_progress"),
        )
    )


def q_a6_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W2 — RANKING MONTO FIRMADO: per-agent signed amount, rank,
    top 10 (manager_example.png ranking table; README.md:528).
    Deterministic tiebreak on the agent key."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    per_agent = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("total_signed"))
        .join(F.broadcast(c.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    from ..operators.partitioning import sharded_topk

    return sharded_topk(
        per_agent.select("c_custkey", "c_name", "total_signed"),
        10,
        [F.desc("total_signed"), F.asc("c_custkey")],
    )


def q_a7_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/W1 — latest-state-per-key: current lead state from the event
    log, emulating INSERT OR REPLACE (Lead_Ingestion_CRM_SQLite.py:
    141–148; README.md:93). The load-bearing window op: one shuffle on
    the key, no collect."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
    )


def q_a8_rollup_agent_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — seller table: per-segment measure grid + Total row
    (seller_example.png bottom table; manager DESEMPEÑO AGENTES).
    ROLLUP with grouping() → 'Total' label for oracle parity."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    )
    return (
        joined.rollup("c_mktsegment")
        .agg(
            F.grouping("c_mktsegment").alias("__g"),
            dsum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))).alias("placed_amount"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_approved"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_signed"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            F.when(F.col("__g") == 1, F.lit("Total"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            "placed_amount",
            "n_open",
            "n_approved",
            "n_signed",
            "n_total",
            ratio(F.col("n_signed"), F.col("n_open")).alias("signed_vs_open"),
        )
    )


def q_a9_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W3 — DISTRIBUCIÓN PORCENTUAL pie: share of each bank(≈brand)
    (manager_example.png). Percent-of-total via unpartitioned window
    over the *aggregated* (tiny) frame — the window never sees raw rows."""
    p = t(spark, sf_dir, "part")
    per_brand = p.groupBy("p_brand").agg(dsum("p_retailprice").alias("brand_amount"))
    w = Window.partitionBy()
    return per_brand.select(
        "p_brand",
        "brand_amount",
        (F.col("brand_amount")
         / F.sum(F.col("brand_amount").cast("decimal(18,2)")).over(w).cast("double")
         ).alias("pct_of_total"),
    )


def q_a10_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — monthly trend, month × status stacked bar
    (manager_example.png; README.md:33). date_trunc keeps grouping
    JVM-side; single hash agg."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.trunc(F.col("o_orderdate"), "month").alias("month_start"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("amount"),
        )
    )


def q_a11_origin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — ORIGEN DE CLIENTES grouped counts (manager_example.png)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("origin")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        davg("c_acctbal").alias("avg_balance"),
    )


def q_a12_agent_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — per-agent grouped measures incl. zero/(En blanco) groups
    (seller_example.png): left join keeps agents with no orders, whose
    measures must surface as 0-count/NULL-sum like Power BI's blank."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_signed"),
            dsum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))).alias("placed_amount"),
        )
    )


def q_a13_detail_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — TABLA DE REGISTROS DETALLADOS: sorted detail page
    (manager_example.png). Deterministic order + limit → stable page."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c.select("c_custkey", "c_name", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "c_name",
            "c_mktsegment",
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("amount"),
            F.col("o_orderdate").alias("created_at"),
        )
        .orderBy(F.desc("created_at"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_a14_slicer_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — slicer predicates: MES/AÑO/segment filters applied before
    every visual (README.md:528). Predicates fold into the parquet scan
    (PushedFilters) — the pruning the slicers imply is free."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.filter(
            (F.year("o_orderdate") == 1998)
            & (F.col("o_orderstatus") != "O")
        )
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              o.o_custkey == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("segment"),
                 F.month("o_orderdate").cast("int").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("amount"),
        )
    )


def q_a15_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — dynamic calendar dim generated from the fact date span
    (reference README.md:519). JVM-side sequence+explode, no driver loop."""
    o = t(spark, sf_dir, "orders")
    return calendar_dim(spark, "o_orderdate", "o_orderdate", o)


def q_a16_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — distinct-count measures (funnel counts are per-lead even
    though events repeat; README.md:93)."""
    ev = t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )


# ---------------------------------------------------------------------------
# §2.4 Joins / §2.5 set ops
# ---------------------------------------------------------------------------


def q_j1_gapless_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact × calendar join for gapless monthly trend: months with
    zero orders still appear (Power BI calendar relationship,
    README.md:519). Calendar dim is tiny → broadcast."""
    o = t(spark, sf_dir, "orders")
    cal = calendar_dim(spark, "o_orderdate", "o_orderdate", o)
    months = cal.select("month_start").distinct()
    monthly = (
        o.groupBy(F.trunc("o_orderdate", "month").alias("month_start"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        months.join(monthly, "month_start", "left")
        .select(
            "month_start",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


def q_j3_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — event log × snapshot enrichment (detail-table columns come
    from joining step events to lead attrs; README.md:95–118).
    Dim side broadcasts; at 100 TB the fact side never shuffles."""
    ev = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(c.select("c_custkey", "c_name", "c_mktsegment")),
                ev.user_id == F.col("c_custkey"), "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "c_name",
            "c_mktsegment",
        )
    )


def q_j5_active_anti_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — anti-join: exclude deleted leads from active funnels
    (webhook_app.py:101–124 lead_deleted; README.md:35). Users with an
    'error' event stand in for deleted leads."""
    ev = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    deleted = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return (
        c.join(deleted, c.c_custkey == deleted.user_id, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_u1_union_offices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — union of per-office slices for the company-wide view
    (3 per-office tables, webhook_app.py:20; store-once-partitioned is
    the scale answer, union shown for parity)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    office_a = joined.filter(F.col("n_regionkey") <= 2)
    office_b = joined.filter(F.col("n_regionkey") > 2)
    return (
        office_a.unionByName(office_b)
        .groupBy(F.col("n_name").alias("office"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_u5_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-style CDC apply over the event log: each event is a
    change for its user ('error' ≈ tombstone delete, everything else
    an upsert); the snapshot keeps each user's latest non-deleted
    state. One window shuffle — the delete-aware generalization of
    the A7/W1 upsert rewrite (operators/snapshot.py:cdc_apply)."""
    from ..operators.snapshot import cdc_apply

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_apply(ev, keys=["user_id"], order_by=["ts", "event_id"])


def q_u7_cdc_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → point-in-time compose: the state of every user AS OF
    2024-01-15 *after applying the change log* — i.e. the reference's
    action_history "state of the lead at time T" story
    (reference README.md:93) with delete semantics. Unlike
    w11_asof_snapshot (latest event wins regardless of kind), a user
    whose latest pre-T change is a tombstone ('error') is ABSENT from
    the as-of snapshot. Plan: the ts <= T filter pushes into the scan,
    then the same single cdc_apply window shuffle — time travel costs
    one pruned scan, no history table."""
    from ..operators.snapshot import cdc_apply

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
    )
    snap = cdc_apply(ev, keys=["user_id"], order_by=["ts", "event_id"])
    return snap.select(
        "user_id",
        F.col("event_type").alias("state_asof"),
        F.col("ts").alias("valid_from"),
    )


def q_u6_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over the orders fact — the
    dbt-test / Great-Expectations surface run as ONE conditional-count
    aggregation pass (operators/quality.py:check) plus the two
    rule-shapes that need their own plan: key uniqueness (hash-agg on
    the key) and referential integrity (broadcast anti-join). The
    report is five (expectation, n_violations, n_rows) rows — the
    runtime analog of the reference's ingest guards (whitelist, status
    checks) promoted to batch audit form."""
    from ..operators.quality import (
        check,
        in_range,
        in_set,
        not_null,
        references,
        unique_key,
    )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n_orders = o.count()
    base = check(
        o,
        [
            not_null("o_custkey"),
            in_set("o_orderstatus", ("O", "P", "F")),
            in_range("o_totalprice", 0.0, 200000.0),
        ],
    )
    dup = unique_key(o, ["o_orderkey"]).agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_violations")
    )
    orphan = references(o, "o_custkey", c, "c_custkey").agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_violations")
    )
    extra = dup.select(
        F.lit("unique_o_orderkey").alias("expectation"),
        "n_violations",
        F.lit(n_orders).alias("n_rows"),
    ).unionByName(
        orphan.select(
            F.lit("fk_o_custkey").alias("expectation"),
            "n_violations",
            F.lit(n_orders).alias("n_rows"),
        )
    )
    return base.unionByName(extra)


def q_u2_backfill_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/S8/ST2 — merge historical backfill with the live stream then
    dedup by event id, keeping the latest arrival (README.md:149;
    ON CONFLICT DO NOTHING ≈ webhook_app.py:48). Overlapping slices
    simulate replayed deliveries."""
    ev = t(spark, sf_dir, "events")
    backfill = ev.filter(F.dayofmonth("ts") <= 20)
    stream = ev.filter(F.dayofmonth("ts") >= 10)
    merged = backfill.unionByName(stream)
    w = Window.partitionBy("event_id").orderBy(F.desc("ts"))
    deduped = merged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_events")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same aliases/types; driver runs these at sf0.01)
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "a1_funnel": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_leads,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "a2_total_amount": """
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount, COUNT(*) AS n_signed
        FROM orders WHERE o_orderstatus = 'F'
    """,
    "a3_avg_ticket": """
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_ticket
        FROM orders WHERE o_orderstatus = 'F'
    """,
    "a4_conversion_ratios": """
        WITH agg AS (
            SELECT COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_approved,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_signed
            FROM orders)
        SELECT n_open, n_approved, n_signed,
               CASE WHEN n_open = 0 THEN NULL ELSE CAST(n_signed AS DOUBLE) / n_open END AS signed_vs_open,
               CASE WHEN n_open = 0 THEN NULL ELSE CAST(n_approved AS DOUBLE) / n_open END AS approved_vs_open,
               CASE WHEN n_approved = 0 THEN NULL ELSE CAST(n_signed AS DOUBLE) / n_approved END AS signed_vs_approved
        FROM agg
    """,
    "a5_goal_progress": """
        WITH goals(segment, goal) AS (VALUES
            ('AUTOMOBILE', 4000000.0), ('BUILDING', 6000000.0),
            ('FURNITURE', 5000000.0), ('HOUSEHOLD', 4500000.0),
            ('MACHINERY', 5500000.0)),
        placed AS (
            SELECT c.c_mktsegment AS segment, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS placed_amount
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY c.c_mktsegment)
        SELECT p.segment, p.placed_amount,
               CAST(g.goal AS DOUBLE) AS goal,
               p.placed_amount / g.goal AS goal_progress
        FROM placed p LEFT JOIN goals g USING (segment)
    """,
    "a6_leaderboard": """
        WITH per_agent AS (
            SELECT o.o_custkey, c.c_name, c.c_custkey,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_signed
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY o.o_custkey, c.c_name, c.c_custkey),
        ranked AS (
            SELECT c_custkey, c_name, total_signed,
                   CAST(ROW_NUMBER() OVER (ORDER BY total_signed DESC, c_custkey ASC) AS BIGINT) AS rnk
            FROM per_agent)
        SELECT c_custkey, c_name, total_signed, rnk FROM ranked WHERE rnk <= 10
    """,
    "a7_latest_per_key": """
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
    """,
    "a8_rollup_agent_table": """
        SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'Total'
                    ELSE c_mktsegment END AS segment,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS placed_amount,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_approved,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_signed,
               COUNT(*) AS n_total,
               CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus = 'O') = 0 THEN NULL
                    ELSE CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                         / COUNT(*) FILTER (WHERE o_orderstatus = 'O') END AS signed_vs_open
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY ROLLUP (c_mktsegment)
    """,
    "a9_percent_of_total": """
        WITH per_brand AS (
            SELECT p_brand, CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_amount
            FROM part GROUP BY p_brand)
        SELECT p_brand, brand_amount,
               brand_amount / CAST(SUM(CAST(brand_amount AS DECIMAL(18,2))) OVER () AS DOUBLE) AS pct_of_total
        FROM per_brand
    """,
    "a10_monthly_trend": """
        SELECT date_trunc('month', o_orderdate) AS month_start,
               o_orderstatus AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        FROM orders GROUP BY 1, 2
    """,
    "a11_origin_counts": """
        SELECT c_mktsegment AS origin,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_balance
        FROM customer GROUP BY 1
    """,
    "a12_agent_measures": """
        SELECT c.c_custkey, c.c_name,
               COUNT(o.o_orderkey) AS n_orders,
               COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_signed,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS placed_amount
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    "a13_detail_listing": """
        SELECT o.o_orderkey, c.c_name, c.c_mktsegment,
               o.o_orderstatus AS status,
               o.o_totalprice AS amount,
               o.o_orderdate AS created_at
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY created_at DESC, o_orderkey ASC
        LIMIT 100
    """,
    "a14_slicer_filtered": """
        SELECT c.c_mktsegment AS segment,
               CAST(month(o.o_orderdate) AS INT) AS month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) = 1998
          AND o.o_orderstatus <> 'O'
          AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1, 2
    """,
    "a15_calendar": """
        WITH bounds AS (
            SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
                   CAST(MAX(o_orderdate) AS DATE) AS d1
            FROM orders),
        days AS (
            SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
            FROM bounds)
        SELECT d,
               CAST(year(d) AS INT) AS year,
               CAST(month(d) AS INT) AS month,
               CAST(day(d) AS INT) AS day,
               date_trunc('month', d) AS month_start
        FROM days
    """,
    "a16_distinct_counts": """
        SELECT COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT event_type) AS n_event_types,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
        FROM events
    """,
    "j1_gapless_monthly": """
        WITH bounds AS (
            SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
                   CAST(MAX(o_orderdate) AS DATE) AS d1
            FROM orders),
        months AS (
            SELECT DISTINCT date_trunc('month',
                CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)) AS month_start
            FROM bounds),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month_start,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1)
        SELECT m.month_start,
               CAST(COALESCE(x.n_orders, 0) AS BIGINT) AS n_orders
        FROM months m LEFT JOIN monthly x USING (month_start)
    """,
    "j3_enriched_events": """
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               c.c_name, c.c_mktsegment
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    "j5_active_anti_deleted": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM events e
            WHERE e.event_type = 'error' AND e.user_id = c.c_custkey)
    """,
    "u1_union_offices": """
        WITH joined AS (
            SELECT c.*, n.n_name, n.n_regionkey
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        unioned AS (
            SELECT * FROM joined WHERE n_regionkey <= 2
            UNION ALL
            SELECT * FROM joined WHERE n_regionkey > 2)
        SELECT n_name AS office, COUNT(*) AS n_customers
        FROM unioned GROUP BY 1
    """,
    "u6_dq_checks": """
        WITH tot AS (SELECT COUNT(*) AS n FROM orders)
        SELECT 'not_null_o_custkey' AS expectation,
               CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
                   AS n_violations,
               CAST(n AS BIGINT) AS n_rows FROM tot
        UNION ALL
        SELECT 'in_set_o_orderstatus',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE NOT (o_orderstatus IN ('O','P','F')
                                OR o_orderstatus IS NULL)) AS BIGINT),
               CAST(n AS BIGINT) FROM tot
        UNION ALL
        SELECT 'in_range_o_totalprice',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE NOT ((o_totalprice >= 0.0 AND o_totalprice <= 200000.0)
                                OR o_totalprice IS NULL)) AS BIGINT),
               CAST(n AS BIGINT) FROM tot
        UNION ALL
        SELECT 'unique_o_orderkey',
               CAST(COALESCE((SELECT SUM(c) FROM (
                   SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
                   HAVING COUNT(*) > 1)), 0) AS BIGINT),
               CAST(n AS BIGINT) FROM tot
        UNION ALL
        SELECT 'fk_o_custkey',
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE o.o_custkey IS NOT NULL
                       AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
                   AS BIGINT),
               CAST(n AS BIGINT) FROM tot
    """,
    "u5_cdc_apply": """
        WITH changes AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        SELECT user_id, event_id, ts, event_type, op
        FROM changes WHERE rn = 1 AND op <> 'D'
    """,
    "u7_cdc_asof": """
        WITH changes AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        SELECT user_id, event_type AS state_asof, ts AS valid_from
        FROM changes WHERE rn = 1 AND op <> 'D'
    """,
    "u2_backfill_stream_merge": """
        WITH merged AS (
            SELECT * FROM events WHERE day(ts) <= 20
            UNION ALL
            SELECT * FROM events WHERE day(ts) >= 10),
        deduped AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY event_id ORDER BY ts DESC) AS rn
            FROM merged)
        SELECT event_type, COUNT(*) AS n_unique_events
        FROM deduped WHERE rn = 1 GROUP BY event_type
    """,
}

QUERIES = {
    "a1_funnel": q_a1_funnel,
    "a2_total_amount": q_a2_total_amount,
    "a3_avg_ticket": q_a3_avg_ticket,
    "a4_conversion_ratios": q_a4_conversion_ratios,
    "a5_goal_progress": q_a5_goal_progress,
    "a6_leaderboard": q_a6_leaderboard,
    "a7_latest_per_key": q_a7_latest_per_key,
    "a8_rollup_agent_table": q_a8_rollup_agent_table,
    "a9_percent_of_total": q_a9_percent_of_total,
    "a10_monthly_trend": q_a10_monthly_trend,
    "a11_origin_counts": q_a11_origin_counts,
    "a12_agent_measures": q_a12_agent_measures,
    "a13_detail_listing": q_a13_detail_listing,
    "a14_slicer_filtered": q_a14_slicer_filtered,
    "a15_calendar": q_a15_calendar,
    "a16_distinct_counts": q_a16_distinct_counts,
    "j1_gapless_monthly": q_j1_gapless_monthly,
    "j3_enriched_events": q_j3_enriched_events,
    "j5_active_anti_deleted": q_j5_active_anti_deleted,
    "u1_union_offices": q_u1_union_offices,
    "u2_backfill_stream_merge": q_u2_backfill_stream_merge,
    "u5_cdc_apply": q_u5_cdc_apply,
    "u6_dq_checks": q_u6_dq_checks,
    "u7_cdc_asof": q_u7_cdc_asof,
}
