"""The paper's live ingest path in the default tier: HTTP POST → spool
→ ``stream_silver`` → ``refresh_gold``, checked against a Python
recomputation of every gold table, plus the single-pass refresh guard,
a live receiver beside a running stream, the dedup-state checkpoint
compatibility of ``stream_silver``, a sink that fails after landing
its batch, and partial or non-object spool lines."""

from __future__ import annotations

import calendar
import datetime as dt
import http.client
import json
import os
import subprocess
import sys
import time
from decimal import Decimal

import pytest
from pyspark.errors import StreamingQueryException

from cloud_based_bi_etl_automation_for_real_estate_company_spark import jobs
from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.gold import (
    REJECTED,
    STAGE_RANK,
    STAGES,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.schemas import (
    ALLOWED_ACCOUNTS,
    EVENT_LEAD_CREATED,
    EVENT_LEAD_DELETED,
    EVENT_STEP_CHANGED,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import read_parquet
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources import webhook as W
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.http_receiver import (
    WebhookReceiver,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming import (
    pipeline,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
    stream_silver,
)

GOLD_TABLES = (
    "lead_snapshot",
    "funnel",
    "conversion_rates",
    "sales_totals",
    "agent_table",
    "agent_ranking",
    "monthly_trend",
    "detail_listing",
)
SESSION_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.partitionOverwriteMode",
)


def _session_conf(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in SESSION_KEYS}


# -- posts -----------------------------------------------------------------


def _post(eid, account, event, lead, step=None, amount=None, email=None,
          created="2025-08-04", updated="2025-09-01"):
    data = {"id": lead}
    if event != EVENT_LEAD_DELETED:
        data.update(
            title=f"Lead {lead}",
            step=step,
            amount=amount,
            user={"email": email} if email else None,
            created_at=created,
            updated_at=updated,
        )
    body = {
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
    return {"id": eid, "account": account, "body": json.dumps(body), "event": event,
            "data": data}


def _malformed(account, body):
    return {"id": None, "account": account, "body": body}


C, S = EVENT_LEAD_CREATED, EVENT_STEP_CHANGED


def _round_one():
    """office_c has exactly one lead (301), deleted in round two."""
    posts = [
        _post(1, "office_a", C, 101, "Ingresados", 1000.5, "a1@x.com"),
        _post(2, "office_a", C, 102, "Asesorados", 2500.25, "a1@x.com"),
        _post(3, "office_a", C, 103, "Asesorados", 800.0, "a2@x.com",
              created="2025-07-30"),
        _post(4, "office_b", C, 201, "Firmados", 4000.0, "b1@x.com"),
        _post(5, "office_b", C, 202, "Rechazados", 300.0, "b1@x.com"),
        _post(6, "office_b", C, 203, "Referidos", 150.75, None),
        _post(7, "office_c", C, 301, "Autorizados", 1200.0, "c1@x.com"),
        _post(8, "office_a", S, 103, "Ingresados", 800.0, "a2@x.com",
              created="2025-07-30", updated="2025-09-03"),
        _post(9, "office_b", C, 204, "Firmados", 999.99, "b2@x.com",
              created="2025-09-12"),
        _post(10, "office_evil", C, 901, "Firmados", 5.0, "evil@x.com"),
        _malformed("office_a", "{this is not json"),
        _post(11, "office_a", C, 105, "Referidos", 10.0, "a3@x.com"),
        _post(12, "office_b", C, 205, "Autorizados", 75.5, "b2@x.com"),
    ]
    posts.insert(3, dict(posts[0]))  # provider retry inside the round
    return posts


def _round_two():
    return [
        _post(13, "office_c", EVENT_LEAD_DELETED, 301),  # office_c's only lead
        _post(14, "office_a", S, 101, "Autorizados", 1000.5, "a1@x.com",
              updated="2025-09-20"),
        _post(15, "office_a", S, 102, "Firmados", 2600.0, "a1@x.com",
              updated="2025-09-21"),
        _post(16, "office_a", C, 104, "Firmados", 999.99, "a2@x.com",
              created="2025-09-05", updated="2025-09-22"),
        _post(17, "office_b", EVENT_LEAD_DELETED, 202),
        _post(4, "office_b", C, 201, "Firmados", 4000.0, "b1@x.com"),  # retry of round one
        _malformed("office_b", "[1]"),
        _post(18, "office_evil", S, 901, "Firmados", 6.0, "evil@x.com"),
        _post(19, "office_a", S, 105, "Asesorados", 10.0, "a3@x.com",
              updated="2025-09-23"),
        _post(20, "office_b", S, 203, "Asesorados", 150.75, None,
              updated="2025-09-24"),
        _post(21, "office_a", C, 106, "Ingresados", 420.0, "a3@x.com",
              created="2025-10-01", updated="2025-10-02"),
        _malformed("office_a", ""),
        _post(22, "office_b", S, 205, "Firmados", 75.5, "b2@x.com",
              updated="2025-09-25"),
        _post(23, "office_a", S, 106, "Rechazados", 420.0, "a3@x.com",
              created="2025-10-01", updated="2025-10-03"),
        _post(24, "office_b", C, 206, "Ingresados", 50.0, "b1@x.com"),
        _post(25, "office_a", C, 107, "Firmados", 12.34, "a4@x.com"),
    ]


def _spool(path, name, posts):
    """Write the well-formed posts as the receiver spools them."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for p in posts:
            if p["id"] is not None:
                f.write(json.dumps({"account": p["account"], **json.loads(p["body"])}) + "\n")


def _send(port, item) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", f"/webhook/{item['account']}", body=item["body"],
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


# -- expected gold ------------------------------------------------------------


def _ts(day: str) -> dt.datetime:
    """A UTC calendar day as ``collect()`` returns it: a naive datetime
    in the Python process's local time zone."""
    return dt.datetime.fromtimestamp(calendar.timegm(dt.date.fromisoformat(day).timetuple()))


def _ratio(a, b):
    return None if not b else a / b


def _money(xs):
    xs = [x for x in xs if x is not None]
    return float(sum(xs, Decimal(0))) if xs else None


def _expected(rounds):
    """Every gold table recomputed from the posts (``plans.gold``
    semantics: first delivery of an event id wins, deleted leads
    dropped, latest event per lead by (round, event id))."""
    valid = {}
    for r, posts in enumerate(rounds):
        for p in posts:
            if p["id"] is not None and p["account"] in ALLOWED_ACCOUNTS:
                valid.setdefault(p["id"], (r, p))
    deleted = {p["data"]["id"] for _, p in valid.values() if p["event"] == EVENT_LEAD_DELETED}
    latest = {}
    for eid, (r, p) in valid.items():
        lead = p["data"]["id"]
        if p["event"] == EVENT_LEAD_DELETED or lead in deleted:
            continue
        if lead not in latest or (r, eid) > latest[lead][0]:
            latest[lead] = ((r, eid), p)
    snap = [
        {
            "lead_id": lead,
            "account": p["account"],
            "title": p["data"]["title"],
            "step": p["data"]["step"],
            "amount": Decimal(str(p["data"]["amount"])).quantize(Decimal("0.01")),
            "user_email": (p["data"]["user"] or {}).get("email"),
            "created": dt.date.fromisoformat(p["data"]["created_at"]),
            "day_created": _ts(p["data"]["created_at"]),
            "day_updated": _ts(p["data"]["updated_at"]),
        }
        for lead, (_, p) in latest.items()
    ]

    def counts(rows):
        ranks = [STAGE_RANK.get(x["step"]) for x in rows]
        return (
            *[sum(1 for k in ranks if k is not None and k >= i) for i in range(len(STAGES))],
            sum(1 for x in rows if x["step"] == REJECTED),
        )

    def firmados(rows):
        return [x["amount"] for x in rows if x["step"] == "Firmados"]

    f = dict(zip(STAGES + (REJECTED,), counts(snap)))
    signed = firmados(snap)
    emails = {x["user_email"] for x in snap}
    agents = {"Total": (_money(signed), *counts(snap))}
    for e in emails:
        rows = [x for x in snap if x["user_email"] == e]
        agents["(En blanco)" if e is None else e] = (_money(firmados(rows)), *counts(rows))
    ranking = sorted(
        ((_money(firmados(rows)), e) for e in emails
         if (rows := [x for x in snap if x["user_email"] == e and x["step"] == "Firmados"])),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    months = {}
    for x in snap:
        key = (x["created"].replace(day=1), x["step"])
        months.setdefault(key, []).append(x["amount"])
    return {
        "silver_ids": set(valid),
        "lead_snapshot": sorted(
            (x["lead_id"], x["account"], x["step"], x["amount"], x["user_email"]) for x in snap
        ),
        "funnel": [tuple(f[s] for s in STAGES + (REJECTED,))],
        "conversion_rates": [(
            _ratio(f["Firmados"], f["Ingresados"]),
            _ratio(f["Autorizados"], f["Ingresados"]),
            _ratio(f["Ingresados"], f["Asesorados"]),
            _ratio(f["Referidos"], f["Asesorados"]),
            _ratio(f["Firmados"], f["Autorizados"]),
        )],
        "sales_totals": [(
            _money(signed),
            _ratio(_money(signed), len(signed)),
            len(signed),
        )],
        "agent_table": sorted(
            (k, v[0], *v[1:],
             _ratio(v[4], v[3]), _ratio(v[5], v[3]), _ratio(v[5], v[4]))
            for k, v in agents.items()
        ),
        "agent_ranking": [(e, m, i + 1) for i, (m, e) in enumerate(ranking)],
        "monthly_trend": sorted(
            (m, step, len(xs), _money(xs)) for (m, step), xs in months.items()
        ),
        "detail_listing": sorted(
            (x["lead_id"], x["title"], x["user_email"], x["step"], x["amount"],
             x["day_created"], x["day_updated"])
            for x in snap
        ),
    }


def _got(out):
    """The published gold frames in the shape of ``_expected``."""

    def rows(name, cols):
        return [tuple(r[c] for c in cols) for r in out[name].collect()]

    return {
        "lead_snapshot": sorted(
            rows("lead_snapshot", ("lead_id", "account", "step", "amount", "user_email"))
        ),
        "funnel": rows("funnel", STAGES + (REJECTED,)),
        "conversion_rates": rows("conversion_rates", (
            "firmados_vs_ingresados", "aprobados_vs_ingresados",
            "ingresados_vs_asesorias", "referidos_vs_asesorias",
            "firmados_vs_aprobados",
        )),
        "sales_totals": rows("sales_totals", ("monto_colocado", "ticket_promedio", "n_firmados")),
        "agent_table": sorted(rows("agent_table", (
            "asesor", "monto_colocado", *STAGES, REJECTED,
            "autorizados_vs_ingresados", "firmados_vs_ingresados",
            "firmados_vs_autorizados",
        ))),
        "agent_ranking": sorted(
            rows("agent_ranking", ("user_email", "monto_firmado", "rnk")), key=lambda t: t[2]
        ),
        "monthly_trend": sorted(rows("monthly_trend", ("month_start", "step", "n_leads", "amount"))),
        "detail_listing": sorted(rows("detail_listing", (
            "lead_id", "title", "user_email", "step", "amount",
            "created_at_utc", "updated_at_utc",
        ))),
    }


def _drain(q) -> None:
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None


def _snapshot_accounts(table_path: str) -> set[str]:
    return {
        d.split("=", 1)[1] for d in os.listdir(table_path) if d.startswith("account=")
    }


# -- tests -------------------------------------------------------------------


def test_webhook_rounds_to_gold_match_recomputation(spark, tmp_path):
    """Two receiver → drain → refresh rounds. Round two deletes
    office_c's only lead, so the refresh must drop office_c's snapshot
    partition from the new generation."""
    spool, silver, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    gold_path = str(tmp_path / "gold")
    before = _session_conf(spark)
    rounds = []
    for posts in (_round_one(), _round_two()):
        rounds.append(posts)
        rx = WebhookReceiver(spool).start()
        try:
            status = [_send(rx.port, p) for p in posts]
        finally:
            rx.stop()
        assert status == [400 if p["id"] is None else 200 for p in posts]
        _drain(stream_silver(spark, spool, silver, ckpt, available_now=True))
        want = _expected(rounds)
        got_ids = [r.id for r in spark.read.parquet(silver).select("id").collect()]
        assert sorted(got_ids) == sorted(want["silver_ids"])
        got = _got(jobs.refresh_gold(spark, silver, gold_path))
        for name in GOLD_TABLES:
            assert got[name] == want[name], (name, got[name], want[name])
    assert _session_conf(spark) == before

    # office_c had a partition after round one; none is left after round two
    snap_accounts = {a for _, a, *_ in want["lead_snapshot"]}
    assert "office_c" not in snap_accounts
    snapshot = os.path.join(gold_path, "lead_snapshot")
    assert os.readlink(snapshot) == ".lead_snapshot-gen-1"
    assert _snapshot_accounts(snapshot) == snap_accounts


def test_refresh_gold_builds_the_snapshot_once(spark, tmp_path):
    """Regression guard for the single-pass refresh: silver is read
    with its declared schema, the snapshot is built in one shuffle and
    pinned once, and every table publishes from that pin, so the
    refresh runs 17 jobs on this input (19 when the snapshot was
    published and read back before the measures, 48 when each table
    rebuilt it from silver). The tables publish from pool threads, and
    the caller's job group must hold every one of those jobs too. The
    caller's session conf is untouched."""
    raw, silver = str(tmp_path / "raw"), str(tmp_path / "silver")
    _spool(raw, "events.json", _round_one() + _round_two())
    W.ingest_batch(spark, raw, silver)
    before = _session_conf(spark)
    sc = spark.sparkContext
    group = f"refresh-gold-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "refresh_gold job count")
    try:
        jobs.refresh_gold(spark, silver, str(tmp_path / "gold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 17, n_jobs
    assert _session_conf(spark) == before


def test_a_gold_frame_built_before_a_refresh_reads_after_it(spark, tmp_path):
    """List, replace, execute: a ``read_parquet`` frame of a gold table
    keeps reading the generation it resolved, which the next refresh
    retains, while a new read sees the new table."""
    raw, silver = str(tmp_path / "raw"), str(tmp_path / "silver")
    gold_path = str(tmp_path / "gold")
    funnel = os.path.join(gold_path, "funnel")
    _spool(raw, "events.json", _round_one())
    W.ingest_batch(spark, raw, silver)
    want = jobs.refresh_gold(spark, silver, gold_path)["funnel"].collect()
    frame = read_parquet(spark, funnel)
    # the rerun's batch replaces the first one with both rounds
    _spool(raw, "events.json", _round_one() + _round_two())
    W.ingest_batch(spark, raw, silver)
    jobs.refresh_gold(spark, silver, gold_path)
    assert read_parquet(spark, funnel).collect() != want
    assert frame.collect() == want


def _silver_ids(spark, path) -> list[int]:
    # a running stream may be writing its first batch: read only after
    # one landed (a batch's directory appears whole, by one rename)
    if not os.path.isdir(path) or not any(
        d.startswith("__batch_id=") for d in os.listdir(path)
    ):
        return []
    return [r.id for r in spark.read.parquet(path).select("id").collect()]


def test_live_receiver_and_stream_lose_no_acknowledged_event(spark, tmp_path):
    """A receiver that keeps running beside a continuous
    ``stream_silver``: POSTs arrive in two bursts, the second after the
    stream has landed the first. Every acknowledged valid event reaches
    silver once, without stopping the receiver (a spool file the stream
    has listed is never appended to again)."""
    spool, silver, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    want = _expected([_round_one(), _round_two()])["silver_ids"]
    rx = WebhookReceiver(spool).start()
    q = stream_silver(spark, spool, silver, ckpt, available_now=False)
    try:
        for posts in (_round_one(), _round_two()):
            status = [_send(rx.port, p) for p in posts]
            assert status == [400 if p["id"] is None else 200 for p in posts]
            burst = {p["id"] for p in posts} & want
            deadline = time.monotonic() + 30
            while not burst <= set(_silver_ids(spark, silver)):
                assert time.monotonic() < deadline, "burst not in silver"
                q.processAllAvailable()
                time.sleep(0.2)
        q.processAllAvailable()
        ids = _silver_ids(spark, silver)
        assert len(ids) == len(set(ids))
        assert set(ids) == want
        assert q.exception() is None
    finally:
        q.stop()
        rx.stop()


# a receiver in its own process that never rotates its in-progress
# file, so only a later receiver's start can publish it
_RECEIVER = """
import sys, time
sys.path.insert(0, sys.argv[1])
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources import http_receiver
http_receiver.ROTATE_S = 3600.0
rx = http_receiver.WebhookReceiver(sys.argv[2]).start()
print(rx.port, flush=True)
time.sleep(600)
"""


def test_a_killed_receivers_acknowledged_events_reach_silver(spark, tmp_path):
    """A receiver acknowledges 20 POSTs and is SIGKILLed before it
    publishes its in-progress file. The next receiver's start publishes
    it, so the drain lands every acknowledged event."""
    spool, silver, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", _RECEIVER, root, spool], stdout=subprocess.PIPE, text=True
    )
    posts = [
        _post(700 + i, "office_a", C, 1700 + i, "Ingresados", 10.0 + i, "k@x.com")
        for i in range(20)
    ]
    try:
        port = int(proc.stdout.readline())
        assert [_send(port, p) for p in posts] == [200] * 20
    finally:
        proc.kill()
        proc.wait()
        proc.stdout.close()
    WebhookReceiver(spool).start().stop()
    _drain(stream_silver(spark, spool, silver, ckpt, available_now=True))
    assert sorted(_silver_ids(spark, silver)) == [p["id"] for p in posts]


def _legacy_stream_silver(spark, spool, out, ckpt):
    """``stream_silver`` as it ran before its state sizing, with its
    old 1-hour ``received_at`` watermark: the dedup state takes the
    session's ``spark.sql.shuffle.partitions``. Its sink lands each
    batch through today's ``write_silver`` with the batch's id, so only
    the restored state width differs from ``stream_silver``."""
    raw = W.read_webhook_json(spark, spool, streaming=True)
    silver = (
        W.project_silver(W.unwrap_events(raw))
        .withWatermark("received_at", "1 hour")
        .dropDuplicates(["id"])
    )
    return (
        silver.writeStream.foreachBatch(lambda df, b: W.write_silver(df, out, b))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def _state_partitions(ckpt) -> int:
    return sum(d.isdigit() for d in os.listdir(os.path.join(ckpt, "state", "0")))


def _silver_rows(spark, path):
    """Silver's event rows, without the arrival time and the batch that
    landed them (both differ between two runs over the same input)."""
    skip = ("received_at", "__batch_id")
    cols = [c for c in spark.read.parquet(path).columns if c not in skip]
    return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())


def test_stream_silver_restarts_a_checkpoint_sized_by_the_old_code(spark, tmp_path):
    """A checkpoint whose dedup state has 32 partitions (the session's
    shuffle width, as ``stream_silver`` used to create it) and a
    watermark restarts under the core-sized, watermark-free
    ``stream_silver`` with its recorded width: a
    provider retry of an id seen before the restart is still dropped,
    and silver equals one clean run over the same input."""
    spool, out, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    key = "spark.sql.shuffle.partitions"
    caller = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        _spool(spool, "a.json", _round_one())
        _drain(_legacy_stream_silver(spark, spool, out, ckpt))
        assert _state_partitions(ckpt) == 32

        # round two re-delivers event 4 from round one
        _spool(spool, "b.json", _round_two())
        _drain(stream_silver(spark, spool, out, ckpt, available_now=True))
        assert spark.conf.get(key) == "32"
        assert _state_partitions(ckpt) == 32
        ids = [r.id for r in spark.read.parquet(out).select("id").collect()]
        assert len(ids) == len(set(ids))
        assert set(ids) == _expected([_round_one(), _round_two()])["silver_ids"]

        clean_out, clean_ckpt = str(tmp_path / "clean"), str(tmp_path / "clean_ckpt")
        _drain(stream_silver(spark, spool, clean_out, clean_ckpt, available_now=True))
        assert spark.conf.get(key) == "32"
        # a new checkpoint gets one state partition per core
        assert _state_partitions(clean_ckpt) == spark.sparkContext.defaultParallelism
        assert _silver_rows(spark, out) == _silver_rows(spark, clean_out)
    finally:
        spark.conf.set(key, caller)


def test_a_sink_that_fails_after_landing_its_batch_replays_once(spark, tmp_path, monkeypatch):
    """Injected fault: the foreachBatch sink raises after ``write_silver``
    has landed batch 0, so the batch is never committed. A restart on
    the same checkpoint replays batch 0, which overwrites the partition
    it landed instead of appending it again: silver equals one clean
    run over the same input, each id once."""
    spool, out, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    _spool(spool, "a.json", _round_one() + _round_two())
    land = pipeline.write_silver

    def land_then_fail(*args):
        land(*args)
        raise RuntimeError("sink failed after landing its batch")

    monkeypatch.setattr(pipeline, "write_silver", land_then_fail)
    q = stream_silver(spark, spool, out, ckpt, available_now=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert spark.read.parquet(out).count()  # the failed batch did land
    monkeypatch.setattr(pipeline, "write_silver", land)

    _drain(stream_silver(spark, spool, out, ckpt, available_now=True))
    ids = [r.id for r in spark.read.parquet(out).select("id").collect()]
    assert len(ids) == len(set(ids))
    assert set(ids) == _expected([_round_one(), _round_two()])["silver_ids"]
    clean_out, clean_ckpt = str(tmp_path / "clean"), str(tmp_path / "clean_ckpt")
    _drain(stream_silver(spark, spool, clean_out, clean_ckpt, available_now=True))
    assert _silver_rows(spark, out) == _silver_rows(spark, clean_out)


def test_partial_and_non_object_spool_lines_go_to_quarantine(spark, tmp_path):
    """A spool file whose last line was cut off mid-write and which
    holds a JSON line that is not an object: silver gets exactly the
    valid ids, and both bad lines are counted in quarantine."""
    spool, out, ckpt = (str(tmp_path / d) for d in ("spool", "silver", "ckpt"))
    posts = _round_one()
    _spool(spool, "a.json", posts)
    line = json.dumps({"account": "office_a", **json.loads(_post(99, "office_a", C, 199)["body"])})
    with open(os.path.join(spool, "a.json"), "a") as f:
        f.write("[1]\n")
        f.write(line[: len(line) // 2])  # no newline: the write was cut off
    _drain(stream_silver(spark, spool, out, ckpt, available_now=True))
    ids = [r.id for r in spark.read.parquet(out).select("id").collect()]
    assert sorted(ids) == sorted(_expected([posts])["silver_ids"])
    assert W.quarantine(W.read_webhook_json(spark, spool)).count() == 2
