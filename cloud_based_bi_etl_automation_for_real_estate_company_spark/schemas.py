"""Declared schemas for the CRM domain — the fixed-schema DDL surfaces
of the reference, as Spark StructTypes.

Sources: the 28-column leads DDL (reference
Lead_Ingestion_CRM_SQLite.py:75–106), the webhook envelope
(webhook_app.py:161–164), the per-event silver tables
(reference README.md:71–134), and the accounts whitelist
(webhook_app.py:20).

Input JSON is projected onto these via from_json — absent fields are
NULL by construction, matching dict.get()'s None default
(Lead_Ingestion_CRM_SQLite.py:111–140).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# webhook_app.py:20 — per-office account whitelist (anonymized names).
ALLOWED_ACCOUNTS = ("office_a", "office_b", "office_c")

# webhook_app.py:167–176 — handled event types.
EVENT_STEP_CHANGED = "lead.step.changed"
EVENT_LEAD_CREATED = "lead.creation"
EVENT_LEAD_DELETED = "lead.deleted"
EVENT_FOLDER_CREATED = "client_folder.created"
HANDLED_EVENTS = (
    EVENT_STEP_CHANGED,
    EVENT_LEAD_CREATED,
    EVENT_LEAD_DELETED,
    EVENT_FOLDER_CREATED,
)

# Nested client-folder object (webhook_app.py:23–32): may arrive under
# `client_folder` or `client` — P3 coalescing handles the fallback.
_client_folder = StructType(
    [StructField("id", LongType()), StructField("name", StringType())]
)

# Lead payload (Lead_Ingestion_CRM_SQLite.py:75–106 columns; nested
# user/client objects per webhook_app.py:57,74).
LEAD_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("title", StringType()),
        StructField("pipeline", StringType()),
        StructField("step", StringType()),
        StructField("step_id", IntegerType()),
        StructField("status", StringType()),
        StructField("amount", DoubleType()),
        StructField("probability", DoubleType()),
        StructField("currency", StringType()),
        StructField("starred", BooleanType()),
        StructField("remind_date", StringType()),
        StructField("remind_time", StringType()),
        StructField("next_action_at", StringType()),
        StructField("created_at", StringType()),
        StructField("estimated_closing_date", StringType()),
        StructField("updated_at", StringType()),
        StructField("description", StringType()),
        StructField("html_description", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField("created_from", StringType()),
        StructField("closed_at", StringType()),
        StructField("attachment_count", IntegerType()),
        StructField("created_by_id", LongType()),
        StructField("user_id", LongType()),
        StructField(
            "user", StructType([StructField("email", StringType())])
        ),
        StructField("permalink", StringType()),
        StructField("client_folder", _client_folder),
        StructField("client", _client_folder),
        StructField("team_id", LongType()),
        StructField("team_name", StringType()),
    ]
)

# Webhook envelope (webhook_app.py:161–164, meta fields :51–53).
WEBHOOK_ENVELOPE_SCHEMA = StructType(
    [
        StructField(
            "webhook_event",
            StructType(
                [
                    StructField("id", LongType()),
                    StructField("event", StringType()),
                    StructField("signature", StringType()),
                    StructField("has_succeeded", BooleanType()),
                    StructField("try_count", IntegerType()),
                    StructField("last_returned_code", IntegerType()),
                    StructField("data", LEAD_SCHEMA),
                ]
            ),
        )
    ]
)

# Silver event-log schema (union of README.md:71–134 column tables),
# stored as one table instead of 12 physical tables (S7 rewrite of
# webhook_app.py:37,70,103,129); readers pass it instead of inferring.
SILVER_EVENT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("account", StringType()),
        StructField("event", StringType()),
        StructField("signature", StringType()),
        StructField("has_succeeded", BooleanType()),
        StructField("try_count", IntegerType()),
        StructField("last_returned_code", IntegerType()),
        StructField("received_at", TimestampType()),
        StructField("lead_id", LongType()),
        StructField("title", StringType()),
        StructField("status", StringType()),
        StructField("step", StringType()),
        StructField("step_id", IntegerType()),
        StructField("pipeline", StringType()),
        StructField("amount", DecimalType(18, 2)),
        StructField("created_at_utc", TimestampType()),
        StructField("updated_at_utc", TimestampType()),
        StructField("user_email", StringType()),
        StructField("permalink", StringType()),
        StructField("client_folder_id", LongType()),
        StructField("client_folder_name", StringType()),
        StructField("tags_csv", StringType()),
        StructField("raw_data", StringType()),
    ]
)
