"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship dashboard query; ``queries`` /
``oracle_sql`` expose every implemented operator from SURVEY.md §2
plus the training-data-pipeline extensions — 272 registered queries,
271 with DuckDB oracles, 1 rows-only: x_pca_project
(numpy eigh) — PERMANENTLY rows-only by round-6 decision: its
Parseval shadow ``x_pca_invariants`` checks centering/orthonormality
in SQL, and ``x_power_iteration`` proves the distributed eigen-math
cross-engine-exact in integer fixed-point. Round-5 graduations out
of rows-only: BPE encode (frozen merge artifact), BPE train (10
unrolled CTE rounds), MMR re-rank (k=5 greedy trajectory unrolled),
HLL rollup (exact-distinct + tolerance boolean), trained IVF
(recall-floor audit); SimHash graduated in round 4.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark import gate
from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans import (
    analytics,
    extensions,
    measures,
    scalars,
    temporal,
    warehouse,
    windows,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 step 2): the manager-dashboard
    funnel trend — events deduped by id, funnel stage counts and
    conversion ratios per day (A1 + A4 + A10 in one plan; daily
    buckets because the fixture's event stream spans ~30 days)."""
    ev = measures.t(spark, SMOKE_SF_DIR, "events")
    deduped = ev.dropDuplicates(["event_id"])
    monthly = (
        deduped.groupBy(F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(
            F.countDistinct("user_id").alias("n_leads"),
            F.count(F.when(F.col("event_type") == "signup", 1)).alias("n_signup"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
                "purchase_amount"
            ),
        )
    )
    return monthly.select(
        "*",
        F.try_divide(F.col("n_purchase"), F.col("n_click")).alias("purchase_vs_click"),
        F.try_divide(F.col("n_click"), F.col("n_view")).alias("click_vs_view"),
    )


# Registration order is the correctness gate's rotation: the first 50 names
# are the stalest per the CORRECTNESS_r*.json files beside this module.
_LATEST = gate.load_latest(os.path.dirname(os.path.abspath(__file__)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (warehouse, windows, extensions, measures, analytics, scalars, temporal):
        all_q.update(mod.QUERIES)
    return {n: all_q[n] for n in gate.staleness_order(all_q, _LATEST)}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(measures.ORACLES)
    out.update(analytics.ORACLES)
    out.update(scalars.ORACLES)
    out.update(temporal.ORACLES)
    out.update(windows.ORACLES)
    out.update(warehouse.ORACLES)
    out.update(extensions.ORACLES)
    return out
