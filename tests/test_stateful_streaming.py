"""ST5/ST3 tests: the applyInPandasWithState lead-state operator, the
stream-stream interval join and watermark behaviour, driven through
real micro-batches (availableNow) and checked against their batch
equivalents."""

from __future__ import annotations

import json

import pytest

# round 16: slow tier — watermark/session-window soaks — wall-clock waits dominate
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
    latest_per_key,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.stateful import (
    streaming_lead_state,
)

SCHEMA = "lead_id bigint, ts timestamp, step string, event_type string"


@pytest.fixture()
def event_dir(tmp_path):
    rows = [
        (1, "2025-01-01 10:00:00", "Ingresados", "step"),
        (1, "2025-01-01 11:00:00", "Autorizados", "step"),
        (1, "2025-01-01 12:30:00", "Firmados", "step"),
        (2, "2025-01-01 10:15:00", "Ingresados", "step"),
        (2, "2025-01-01 10:45:00", "Rechazados", "step"),
        (3, "2025-01-01 12:00:00", "Ingresados", "step"),
    ]
    p = tmp_path / "ev"
    p.mkdir()
    with open(p / "a.jsonl", "w") as f:
        for lead_id, ts, step, et in rows:
            f.write(
                json.dumps(
                    {"lead_id": lead_id, "ts": ts, "step": step, "event_type": et}
                )
                + "\n"
            )
    return str(p)


def _read_stream(spark, path):
    return spark.readStream.schema(SCHEMA).json(path)


def test_streaming_lead_state_matches_batch_snapshot(spark, event_dir, tmp_path):
    stream = streaming_lead_state(_read_stream(spark, event_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("lead_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["lead_id"]: (r["current_step"], r["n_events_seen"])
        for r in spark.sql(
            "SELECT * FROM lead_state"
        ).collect()
    }
    batch = spark.read.schema(SCHEMA).json(event_dir)
    expect = {
        r["lead_id"]: r["step"]
        for r in latest_per_key(batch, ["lead_id"], ["ts"]).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expect
    assert got[1][1] == 3  # state counted every event for lead 1


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_stream_stream_interval_join(spark, tmp_path):
    """Streaming purchase⋈click interval join equals the batch
    range_join on the same input."""
    import json as _json

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.range_join import (
        range_join,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    pdir, cdir = tmp_path / "p", tmp_path / "c"
    pdir.mkdir(); cdir.mkdir()
    purchases = [
        {"user_id": 1, "ts": "2025-01-01 10:00:00", "purchase_id": 100},
        {"user_id": 1, "ts": "2025-01-01 12:00:00", "purchase_id": 101},
        {"user_id": 2, "ts": "2025-01-01 10:10:00", "purchase_id": 102},
    ]
    clicks = [
        {"user_id": 1, "click_ts": "2025-01-01 09:45:00", "click_id": 200},  # in window of 100
        {"user_id": 1, "click_ts": "2025-01-01 11:50:00", "click_id": 201},  # in window of 101
        {"user_id": 1, "click_ts": "2025-01-01 08:00:00", "click_id": 202},  # too old
        {"user_id": 2, "click_ts": "2025-01-01 10:05:00", "click_id": 203},  # in window of 102
        {"user_id": 2, "click_ts": "2025-01-01 10:15:00", "click_id": 204},  # after purchase
    ]
    (pdir / "p.jsonl").write_text("\n".join(_json.dumps(x) for x in purchases))
    (cdir / "c.jsonl").write_text("\n".join(_json.dumps(x) for x in clicks))

    P_SCHEMA = "user_id bigint, ts timestamp, purchase_id bigint"
    C_SCHEMA = "user_id bigint, click_ts timestamp, click_id bigint"
    ps = spark.readStream.schema(P_SCHEMA).json(str(pdir))
    cs = spark.readStream.schema(C_SCHEMA).json(str(cdir))

    out = stream_stream_interval_join(ps, cs, window_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssj").collect()
    }

    pb = spark.read.schema(P_SCHEMA).json(str(pdir))
    cb = spark.read.schema(C_SCHEMA).json(str(cdir))
    expect = {
        (r["purchase_id"], r["click_id"])
        for r in range_join(
            pb, cb, on=["user_id"], left_ts="ts", right_ts="click_ts",
            window_seconds=30 * 60,
        ).collect()
    }
    assert got == expect == {(100, 200), (101, 201), (102, 203)}


def test_streaming_session_window(spark, event_dir, tmp_path):
    """Streaming session_window aggregation (complete mode) equals the
    batch session_window on the same input."""
    stream = (
        _read_stream(spark, event_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("lead_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "lead_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["lead_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    batch = (
        spark.read.schema(SCHEMA).json(event_dir)
        .groupBy(F.session_window("ts", "30 minutes"), F.col("lead_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("lead_id", F.col("session_window.start").alias("ss"), "n")
    )
    expect = {(r["lead_id"], r["ss"]): r["n"] for r in batch.collect()}
    assert got == expect
    # lead 1: events at 10:00/11:00/12:30 → 3 separate sessions (gaps > 30m)
    assert sum(1 for (lid, _s) in got if lid == 1) == 3


def test_watermark_drops_late_rows_observably(spark, tmp_path):
    """ST3 hard-path: an event older than the advanced watermark is
    DROPPED from a windowed aggregation, and the drop is observable in
    the progress metrics (numRowsDroppedByWatermark) — the signal an
    operations dashboard alerts on when a feed starts delivering
    stale data."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p)

    # batch 1: events at noon + a sentinel far ahead (advances the
    # watermark to sentinel - 10 minutes at the NEXT batch)
    write_batch(
        "b1.json",
        [
            {"user_id": 1, "ts": "2024-01-01 12:00:00", "v": 1.0},
            {"user_id": 1, "ts": "2024-01-01 18:00:00", "v": 1.0},
        ],
    )
    stream = (
        spark.readStream.schema("user_id long, ts string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch 2: a straggler hours behind the watermark → must be dropped
    write_batch("b2.json", [{"user_id": 1, "ts": "2024-01-01 11:00:00", "v": 1.0}])
    q2 = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    dropped = 0
    for pr in q2.recentProgress:
        for op in pr.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    assert dropped >= 1
    # and the straggler's 11:00 window never reaches the sink
    final = spark.read.parquet(str(out))
    hours = {
        r["window"]["start"].hour for r in final.select("window").collect()
    }
    assert 11 not in hours


def test_spacesaving_drain_drops_null_items(spark):
    """Round-6 ADVICE: NULL items must be dropped before the fold (the
    streaming_kmv_distinct NULL rule), never counted as the literal
    string 'None' occupying a counter; n_seen counts non-NULL rows."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.stateful import (
        spacesaving_drain_batch,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", None), ("a", "y"), ("a", None)],
        "k string, item string",
    )
    rows = spacesaving_drain_batch(df, "k", "item", m=8).collect()
    items = {r["item"]: r for r in rows}
    assert set(items) == {"x", "y"}
    assert all(r["n_seen"] == 3 for r in rows)
    assert items["x"]["est"] == 2 and items["y"]["est"] == 1
