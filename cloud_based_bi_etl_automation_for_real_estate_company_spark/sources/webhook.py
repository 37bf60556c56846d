"""Webhook event ingestion (S5/S7/S8/S9, P4–P7) — the Spark rewrite of
the reference's Flask receiver (reference webhook_app.py:152–182).

The reference handles one HTTP POST per event with a DB connection per
event; here events land as JSON lines (the durable transport a real
deployment would use — files or Kafka behind the HTTP edge) and are
processed declaratively:

  read (permissive, corrupt→quarantine column)
    → account whitelist filter (P5, webhook_app.py:155–156)
    → envelope unwrap (P7, webhook_app.py:161–164)
    → event dispatch by type (P4, webhook_app.py:167–176)
    → per-event projection (P1/P2/P3, webhook_app.py:51–62 etc.)
    → dedup by event id (S8, ON CONFLICT DO NOTHING, webhook_app.py:48)
    → one silver table with account and event as ordinary columns (S7
      rewrite of the 12 physical f"{account}_{event}" tables,
      webhook_app.py:37,...), landed one batch at a time in a
      ``__batch_id=<n>`` directory the batch owns (``write_silver``)

At scale: the parse+project pipeline is a single narrow stage (no
shuffle until dedup); dedup shuffles on the high-cardinality event id;
each batch writes one file per task of its last stage, and a retried
batch replaces its own files. The gold refresh reads all of silver, so
no reader prunes on account or event. A silver directory in the older
(account, event) partitioned layout cannot be read together with this
one (Spark refuses the mixed partition columns): start a new path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.transforms import parse_multiformat_ts, tags_to_csv
from ..schemas import (
    ALLOWED_ACCOUNTS,
    HANDLED_EVENTS,
    WEBHOOK_ENVELOPE_SCHEMA,
)

CORRUPT_COL = "_corrupt_record"


def read_webhook_json(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Read raw webhook JSON-lines; each line carries an ``account``
    field (the URL path parameter in the reference) plus the envelope.
    Malformed lines survive in the corrupt-record column (P6 rewrite of
    the content-type check, webhook_app.py:158–159).
    """
    # Fresh StructType per call — StructType.add mutates in place, which
    # would corrupt the shared module-level schema on repeated reads.
    schema = StructType(
        list(WEBHOOK_ENVELOPE_SCHEMA.fields)
        + [StructField("account", StringType()), StructField(CORRUPT_COL, StringType())]
    )
    reader = spark.readStream if streaming else spark.read
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine(raw: DataFrame) -> DataFrame:
    """Rows that failed JSON parsing — kept for audit, never dropped
    silently (the reference 400s them; we retain them).

    Spark refuses plans whose pruned column set is only the internal
    corrupt-record column; caching the parsed frame is the documented
    escape (the quarantine path is a tiny audit stream, so the cache
    is cheap and scoped to this lineage).
    """
    return raw.cache().filter(F.col(CORRUPT_COL).isNotNull()).select(
        "account", CORRUPT_COL
    )


def unwrap_events(raw: DataFrame) -> DataFrame:
    """P5 whitelist + P7 envelope unwrap + P16 flatten: one row per
    valid webhook event with envelope meta and payload side by side."""
    we = F.col("webhook_event")
    return (
        raw.filter(F.col(CORRUPT_COL).isNull())
        .filter(F.col("account").isin(*ALLOWED_ACCOUNTS))
        .filter(we.isNotNull())
        .select(
            we["id"].alias("id"),
            F.col("account"),
            we["event"].alias("event"),
            we["signature"].alias("signature"),
            we["has_succeeded"].alias("has_succeeded"),
            we["try_count"].alias("try_count"),
            we["last_returned_code"].alias("last_returned_code"),
            F.current_timestamp().alias("received_at"),
            we["data"].alias("data"),
            F.to_json(we).alias("raw_data"),
        )
    )


def route_events(events: DataFrame) -> dict[str, DataFrame]:
    """P4 event dispatch: one filtered branch per handled type plus the
    unhandled remainder (logged-and-skipped in the reference,
    webhook_app.py:175–176). Branches share the parsed lineage, so
    Spark computes the parse once per consumed branch."""
    routes = {
        ev: events.filter(F.col("event") == ev) for ev in HANDLED_EVENTS
    }
    routes["_unhandled"] = events.filter(~F.col("event").isin(*HANDLED_EVENTS))
    return routes


def project_silver(events: DataFrame) -> DataFrame:
    """P1/P2/P3 — project the envelope+payload onto the silver event
    schema: null-safe nested extraction, coalescing client-folder
    fallback, multi-format timestamp parse, money as decimal."""
    d = F.col("data")
    return events.select(
        "id",
        "account",
        "event",
        "signature",
        "has_succeeded",
        "try_count",
        "last_returned_code",
        "received_at",
        d["id"].alias("lead_id"),
        d["title"].alias("title"),
        d["status"].alias("status"),
        d["step"].alias("step"),
        d["step_id"].alias("step_id"),
        d["pipeline"].alias("pipeline"),
        d["amount"].cast("decimal(18,2)").alias("amount"),
        parse_multiformat_ts(d["created_at"]).alias("created_at_utc"),
        parse_multiformat_ts(d["updated_at"]).alias("updated_at_utc"),
        d["user"]["email"].alias("user_email"),
        d["permalink"].alias("permalink"),
        F.coalesce(d["client_folder"]["id"], d["client"]["id"]).alias(
            "client_folder_id"
        ),
        F.coalesce(d["client_folder"]["name"], d["client"]["name"]).alias(
            "client_folder_name"
        ),
        tags_to_csv(d["tags"]).alias("tags_csv"),
        "raw_data",
    )


def write_silver(events: DataFrame, path: str, batch_id: int) -> None:
    """S7/S8 — the one replay-safe batch writer: land ``events`` in the
    ``__batch_id=<batch_id>`` partition of ``path`` with DYNAMIC
    partition overwrite. A retry of the same batch overwrites its own
    partition instead of appending a second copy, so the sink converges
    under replay with no upstream exactly-once assumption (the
    reference's ``ON CONFLICT (id) DO NOTHING``, webhook_app.py:48).
    The ``stream_silver`` sink, ``ingest_batch`` and the three writes of
    ``drift_dashboard_batch`` all land through it. Every other column
    is written as is; ``__batch_id`` is bookkeeping that readers drop."""
    (
        events.withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def ingest_batch(
    spark: SparkSession, in_path: str, out_path: str
) -> tuple[DataFrame, dict]:
    """Full batch pipeline: read → unwrap → project → dedup → write.
    Returns (silver frame, pipeline metrics).

    Metrics ride on ``Observation`` — computed by the SAME job that
    writes the data (no second scan), the declarative replacement for
    the reference's per-request log lines (webhook_app.py:156,175).
    The load lands through ``write_silver`` as batch -1: stream batch
    ids count up from 0, so it never shares a partition with a stream
    batch on the same path, and a rerun (which re-reads the whole
    input) replaces the previous load.
    """
    from pyspark.sql import Observation

    raw = read_webhook_json(spark, in_path)
    obs = Observation("ingest")
    silver = (
        project_silver(unwrap_events(raw))
        .dropDuplicates(["id"])
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("created_at_utc").isNull(), 1)).alias(
                "n_bad_created_at"
            ),
            # observed metrics forbid DISTINCT aggregates; HLL sketch is
            # exact at this cardinality and legal in CollectMetrics
            F.approx_count_distinct(F.col("account")).alias("n_accounts"),
        )
    )
    write_silver(silver, out_path, -1)
    return silver, obs.get
