"""Latest-per-key / upsert-merge semantics (A7/W1 — the INSERT OR
REPLACE rewrite): ties, idempotence, last-write-wins."""

from __future__ import annotations

import datetime as dt

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
    latest_per_key,
    upsert_merge,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "lead_id bigint, updated_at timestamp, step string, seq bigint"
    )


def test_latest_per_key_picks_newest_with_tiebreak(spark):
    t1 = dt.datetime(2025, 1, 1)
    t2 = dt.datetime(2025, 1, 2)
    df = _df(
        spark,
        [
            (1, t1, "old", 1),
            (1, t2, "new", 2),
            (2, t2, "a", 3),
            (2, t2, "b", 4),  # timestamp tie → higher seq wins
        ],
    )
    out = {
        r["lead_id"]: r["step"]
        for r in latest_per_key(df, ["lead_id"], ["updated_at", "seq"]).collect()
    }
    assert out == {1: "new", 2: "b"}


def test_upsert_merge_last_write_wins(spark):
    t1, t2 = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 5)
    current = _df(spark, [(1, t1, "Ingresados", 1), (2, t1, "Ingresados", 2)])
    updates = _df(spark, [(1, t2, "Firmados", 3)])
    merged = upsert_merge(current, updates, ["lead_id"], ["updated_at", "seq"])
    out = {r["lead_id"]: r["step"] for r in merged.collect()}
    assert out == {1: "Firmados", 2: "Ingresados"}
    # idempotence: merging the same updates again changes nothing
    again = upsert_merge(merged, updates, ["lead_id"], ["updated_at", "seq"])
    assert sorted(again.collect()) == sorted(merged.collect())


def test_cdc_apply_delete_and_resurrect(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
        cdc_apply,
    )

    changes = spark.createDataFrame(
        [
            # key 1: insert → update: latest update wins
            (1, 1, "a", "U"),
            (1, 2, "b", "U"),
            # key 2: latest change is a delete: key vanishes
            (2, 1, "x", "U"),
            (2, 2, "x", "D"),
            # key 3: delete then later re-insert: resurrected
            (3, 1, "y", "D"),
            (3, 2, "z", "U"),
        ],
        "k bigint, seq bigint, payload string, op string",
    )
    got = {
        r["k"]: r["payload"]
        for r in cdc_apply(changes, keys=["k"], order_by=["seq"]).collect()
    }
    assert got == {1: "b", 3: "z"}


def test_cdc_apply_incremental_equals_full_for_ordered_batches(spark):
    """Snapshot ∪ next batch re-applied == full-log apply, provided
    batches respect change order (the compaction contract)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.snapshot import (
        cdc_apply,
    )

    schema = "k bigint, seq bigint, payload string, op string"
    b1 = spark.createDataFrame(
        [(1, 1, "a", "U"), (2, 1, "x", "U"), (2, 2, "x", "D"), (3, 1, "m", "U")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(1, 3, "c", "U"), (3, 4, "n", "D"), (4, 5, "q", "U")], schema
    )
    full = cdc_apply(b1.unionByName(b2), keys=["k"], order_by=["seq"])
    snap1 = cdc_apply(b1, keys=["k"], order_by=["seq"])
    incr = cdc_apply(snap1.unionByName(b2), keys=["k"], order_by=["seq"])
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, incr.collect()))
