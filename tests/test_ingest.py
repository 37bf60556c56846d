"""End-to-end batch ingestion pipeline test (SURVEY.md §5 item 3):
webhook JSONL corpus → bronze→silver→gold, asserting routing,
whitelist, dedup, quarantine, edge-case projection, and the dashboard
measure set against hand-computed goldens."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
    latest_per_key,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.schemas import (
    SILVER_EVENT_SCHEMA,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources import webhook as W


def test_pipeline_end_to_end(spark, webhook_corpus, tmp_path):
    path, exp = webhook_corpus
    raw = W.read_webhook_json(spark, path)

    assert W.quarantine(raw).count() == exp["n_quarantined"]

    events = W.unwrap_events(raw).dropDuplicates(["id"])
    assert events.count() == exp["n_valid_unique"]

    routes = W.route_events(events)
    assert routes["lead.step.changed"].count() == exp["n_step_changed"]
    assert routes["_unhandled"].count() == exp["n_unhandled"]
    # evil account never survives the whitelist
    assert events.filter(F.col("account") == "office_evil").count() == 0

    silver = W.project_silver(events.filter(F.col("event").isin(
        "lead.step.changed", "lead.creation", "lead.deleted",
        "client_folder.created")))
    out = str(tmp_path / "silver")
    W.write_silver(silver, out, 0)
    back = spark.read.parquet(out)
    # account/event are ordinary columns of the batch's files
    assert set(back.select("account").distinct().toPandas()["account"]) == {
        "office_a", "office_b", "office_c"}

    # edge-case row: client fallback + empty tags → NULL + bad ts → NULL
    edge = back.filter(F.col("client_folder_name") == "Fallback").collect()
    assert len(edge) == 1
    assert edge[0]["tags_csv"] is None
    assert edge[0]["updated_at_utc"] is None
    assert edge[0]["created_at_utc"] is not None  # bare-date form parsed

    # gold: funnel counts by step over the lead snapshot (A7 + A1)
    snap = latest_per_key(
        back.filter(F.col("event") != "lead.deleted"),
        keys=["lead_id"], order_by=["received_at", "id"],
    )
    funnel = snap.groupBy("step").agg(F.countDistinct("lead_id").alias("n"))
    assert funnel.collect()[0]["step"] == "Firmados"


def test_dedup_idempotent(spark, webhook_corpus):
    path, _ = webhook_corpus
    events = W.unwrap_events(W.read_webhook_json(spark, path))
    once = events.dropDuplicates(["id"])
    twice = once.dropDuplicates(["id"])
    assert once.count() == twice.count()


def test_project_silver_schema_is_the_declared_silver_schema(spark, tmp_path):
    """``refresh_gold`` reads silver with ``SILVER_EVENT_SCHEMA`` instead
    of inferring it, so what ``project_silver`` writes must match it in
    names, types and order. Resolved from the plan alone: no Spark job
    runs."""
    sc = spark.sparkContext
    group = f"silver-schema-{id(tmp_path)}"
    sc.setJobGroup(group, "project_silver schema")
    try:
        raw = W.read_webhook_json(spark, str(tmp_path))
        got = W.project_silver(W.unwrap_events(raw)).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in SILVER_EVENT_SCHEMA
    ]
    assert not sc.statusTracker().getJobIdsForGroup(group)
