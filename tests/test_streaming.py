"""Streaming semantics tests (SURVEY.md §5 item 4): watermark+dedup
through availableNow micro-batches; stream output == batch output on
the same input (replay determinism, ST2/ST4)."""

from __future__ import annotations

import pytest

# round 16: slow tier — streaming-sink soaks (micro-batch waits dominate); the x_*_drain oracle rows re-pin batch==stream parity every round
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources import webhook as W
from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
    stream_silver,
)


def test_stream_equals_batch(spark, webhook_corpus, tmp_path):
    path, exp = webhook_corpus
    batch_out = str(tmp_path / "batch")
    stream_out = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")

    batch, metrics = W.ingest_batch(spark, path, batch_out)
    assert metrics["n_rows"] == batch.count()
    assert metrics["n_accounts"] == 3
    q = stream_silver(spark, path, stream_out, ckpt, available_now=True)
    q.awaitTermination(120)

    stream = spark.read.parquet(stream_out)
    batch_ids = {r[0] for r in batch.select("id").collect()}
    stream_ids = {r[0] for r in stream.select("id").collect()}
    assert batch_ids == stream_ids
    # duplicate deliveries collapsed in both paths
    assert stream.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def test_stream_restart_is_incremental(spark, webhook_corpus, tmp_path):
    """Re-running with the same checkpoint must not reprocess (no new
    rows) — Structured Streaming's exactly-once bookkeeping."""
    path, _ = webhook_corpus
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    q1 = stream_silver(spark, path, out, ckpt, available_now=True)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    q2 = stream_silver(spark, path, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2


def test_http_receiver_post_to_silver_end_to_end(spark, tmp_path):
    """A REAL HTTP POST → spool → streaming silver: the live analogue
    of the reference's Flask receiver, end-to-end through the existing
    pipeline with no transport-specific Spark code."""
    import json
    import urllib.request

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.http_receiver import (
        WebhookReceiver,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
        stream_silver,
    )

    spool = str(tmp_path / "spool")
    rx = WebhookReceiver(spool).start()
    try:
        def post(path, payload, expect=200):
            req = urllib.request.Request(
                f"http://127.0.0.1:{rx.port}{path}",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status
            except urllib.error.HTTPError as e:
                return e.code

        def envelope(eid, event):
            data = {
                "id": eid,
                "title": f"Lead {eid}",
                "step": "Firmados",
                "status": "won",
                "amount": 123.0,
                "user_id": 7,
                "updated_at": "2025-09-30T18:00:00.000000Z",
            }
            return {
                "webhook_event": {
                    "id": eid,
                    "event": event,
                    "signature": "sig",
                    "has_succeeded": True,
                    "try_count": 1,
                    "last_returned_code": 200,
                    "data": data,
                }
            }

        # account comes from the URL path, like the reference's route
        assert post("/webhook/office_a", envelope(1, "lead.created")) == 200
        assert post("/webhook/office_a", envelope(1, "lead.created")) == 200  # retry
        assert post("/webhook/office_b", envelope(2, "lead.step.changed")) == 200
        assert post("/webhook/evil_office", envelope(3, "lead.created")) == 200
        assert post("/nonsense/route", envelope(4, "lead.created")) == 404
        assert rx.n_received == 4 and rx.n_rejected == 1
    finally:
        rx.stop()

    out = str(tmp_path / "silver")
    q = stream_silver(spark, spool, out, str(tmp_path / "ckpt"),
                      available_now=True)
    q.awaitTermination(120)
    silver = spark.read.parquet(out)
    rows = {(r["id"], r["account"]) for r in silver.select("id", "account").collect()}
    # retry deduped; non-whitelisted account filtered by the pipeline
    assert rows == {(1, "office_a"), (2, "office_b")}


def test_soft_dedup_admit_bootstrap_and_running_weights(spark, tmp_path):
    """Round-11 unit: soft_dedup_admit admits EVERYTHING (weights,
    never rejection), bootstraps an empty store (no-dup batch -> all
    singletons), and a later batch's near-dup of a stored doc joins
    the stored doc's cluster with running size 2."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        soft_dedup_admit,
    )

    store = str(tmp_path / "store")
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = spark.createDataFrame(
        [(1, text_a), (2, "one two three four five six seven eight")],
        "doc_id bigint, text string",
    )
    f1 = {r["doc_id"]: r for r in soft_dedup_admit(b1, store).collect()}
    assert set(f1) == {1, 2}
    assert f1[1]["cluster_id"] == 1 and f1[1]["n_cluster"] == 1
    assert f1[1]["weight"] == 1.0
    # batch 2: doc 10 is an exact near-dup of stored doc 1
    b2 = spark.createDataFrame(
        [(10, text_a), (11, "nine ten eleven twelve thirteen fourteen fifteen sixteen")],
        "doc_id bigint, text string",
    )
    f2 = {r["doc_id"]: r for r in soft_dedup_admit(b2, store).collect()}
    assert f2[10]["cluster_id"] == 1
    assert f2[10]["n_cluster"] == 2 and f2[10]["weight"] == 0.5
    assert f2[11]["cluster_id"] == 11 and f2[11]["weight"] == 1.0
