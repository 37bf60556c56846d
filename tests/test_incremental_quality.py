"""Incremental high-water-mark sync and data-quality expectations."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    quality as Q,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.incremental import (
    incremental_sync,
    read_watermark,
)

SCHEMA = "id bigint, step string, updated_at timestamp"
T = dt.datetime


def test_incremental_sync_two_runs(spark, tmp_path):
    tgt = str(tmp_path / "leads")
    run1 = spark.createDataFrame(
        [
            (1, "Ingresados", T(2025, 1, 1)),
            (2, "Ingresados", T(2025, 1, 2)),
        ],
        SCHEMA,
    )
    out1 = incremental_sync(spark, run1, tgt, keys=["id"], tiebreak_col="id")
    assert out1.count() == 2
    assert read_watermark(tgt) == "2025-01-02 00:00:00"

    # run 2: one update past the watermark, one new lead, and a stale
    # record older than the watermark (simulating a full re-export —
    # must be filtered OUT by the high-water-mark pushdown)
    run2 = spark.createDataFrame(
        [
            (1, "Firmados", T(2025, 1, 5)),
            (3, "Ingresados", T(2025, 1, 4)),
            (2, "SHOULD_NOT_APPEAR", T(2025, 1, 1)),
        ],
        SCHEMA,
    )
    out2 = incremental_sync(spark, run2, tgt, keys=["id"], tiebreak_col="id")
    got = {r["id"]: r["step"] for r in out2.collect()}
    assert got == {1: "Firmados", 2: "Ingresados", 3: "Ingresados"}
    assert read_watermark(tgt) == "2025-01-05 00:00:00"


def test_quality_check_single_pass(spark):
    df = spark.createDataFrame(
        [
            (1, "Firmados", 100.0),
            (2, None, -5.0),
            (None, "Bogus", 50.0),
        ],
        "lead_id bigint, step string, amount double",
    )
    exps = [
        Q.not_null("lead_id"),
        Q.not_null("step"),
        Q.in_set("step", ["Firmados", "Ingresados"]),
        Q.in_range("amount", 0.0, 1e9),
    ]
    report = {r["expectation"]: r["n_violations"] for r in Q.check(df, exps).collect()}
    assert report == {
        "not_null_lead_id": 1,
        "not_null_step": 1,
        "in_set_step": 1,
        "in_range_amount": 1,
    }


def test_quality_unique_and_references(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (3, 99)], "id bigint, fk bigint"
    )
    dups = Q.unique_key(df, ["id"]).collect()
    assert len(dups) == 1 and dups[0]["id"] == 1

    dim = spark.createDataFrame([(10,), (11,), (12,)], "pk bigint")
    orphans = Q.references(df, "fk", dim, "pk").collect()
    assert len(orphans) == 1 and orphans[0]["fk"] == 99


def test_approx_distinct_within_tolerance(spark):
    """The at-scale alternates: approx_count_distinct / approx
    percentile land within rsd of exact (A16 scale note)."""
    ev = spark.range(100000).select(
        (F.col("id") % 5000).alias("k"), F.col("id").cast("double").alias("v")
    )
    row = ev.agg(
        F.countDistinct("k").alias("exact"),
        F.approx_count_distinct("k", 0.02).alias("approx"),
        F.expr("approx_percentile(v, 0.5)").alias("p50a"),
        F.expr("percentile(v, 0.5)").alias("p50"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["p50a"] - row["p50"]) / row["p50"] < 0.02
