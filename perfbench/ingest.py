"""``ingest`` workload: the paper's webhook → silver → gold path, in
refresh rounds.

Each round starts a fresh ``WebhookReceiver``, POSTs one seeded batch
open-loop at ``RATE`` events/s from one client thread, stops the
receiver, drains the spool with ``stream_silver(available_now=True)``
on one checkpoint and runs ``refresh_gold``. Silver, the dedup state
and gold accumulate across rounds, like the reference's 8×/day refresh
cadence.

The receiver is restarted every round on purpose: a live receiver
appending to a spool file the stream has already listed loses events
(ROADMAP item 2), which would make the failed-operation share random.

Round 1 is the warm-up, with ``WARMUP_BATCH`` events, and counts toward
``setup_s``; its events are checked like every other round's.
"""

from __future__ import annotations

import glob
import http.client
import json
import os
import sys
import time
import traceback
from decimal import Decimal

import numpy as np

import datagen
from run import median, percentile
from spans import attribute_jobs, job_totals, parse_event_log, subtree_jobs

BATCH = 200  # POSTs per timed round
# The warm-up round is smaller: it only has to run every code path once,
# and its cost is paid again by every run of the benchmark.
WARMUP_BATCH = 40
RATE = 400.0  # POSTs per second, open loop
N_LEADS = 150  # Zipf-skewed lead ids are capped here
MIN_TIMED_ROUNDS = 1
CENT = Decimal("0.01")

LAYER_PREFIXES = ("http_receiver.", "generator.", "streaming.", "webhook.", "jobs.", "sinks.")


def post_open_loop(port: int, items: list[dict], rate: float) -> list[dict]:
    """POST every item on a fixed schedule (item i is due at i/rate s),
    from this thread, one connection per request (the stdlib receiver
    speaks HTTP/1.0). Latency is measured from when the POST was due,
    so a stall also delays the requests queued behind it."""
    out = []
    t0 = time.perf_counter()
    for i, item in enumerate(items):
        due = t0 + i / rate
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        sent = time.perf_counter()
        status = None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            conn.request(
                "POST",
                f"/webhook/{item['account']}",
                body=item["body"],
                headers={"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            resp.read()
            status = resp.status
            conn.close()
        except OSError:
            traceback.print_exc(file=sys.stderr)
        done = time.perf_counter()
        out.append(
            {"status": status, "lag": sent - due, "ack": done - due, "acked_at": time.time()}
        )
    return out


class Ingest:
    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.rng = np.random.default_rng(run.seed)
        self.batch = WARMUP_BATCH if run.tiny else BATCH
        self.rounds: list[dict] = []
        self.next_id = 0
        self.rejected = 0
        self.received = 0

    def posted(self) -> list[dict]:
        """Every item POSTed so far, in posting order."""
        return [item for rec in self.rounds for item in rec["items"]]

    def setup(self) -> float:
        run = self.run
        for sub in ("spool", "silver", "gold", "checkpoint"):
            os.makedirs(run.path(sub), exist_ok=True)
        t0 = time.perf_counter()
        spark = run.start_spark()
        self.tr.spark = spark
        self.one_round(timed=False)
        return time.perf_counter() - t0

    def one_round(self, timed: bool) -> None:
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.jobs import refresh_gold
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.http_receiver import (
            WebhookReceiver,
        )
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
            stream_silver,
        )

        run, tr, spark = self.run, self.tr, self.run.spark
        items = datagen.webhook_batch(
            self.rng, self.next_id, self.batch if timed else WARMUP_BATCH,
            self.posted(), N_LEADS,
        )
        self.next_id = max([self.next_id] + [it["id"] for it in items if "id" in it])
        rec = {"timed": timed, "round": len(self.rounds), "items": items}
        with tr.span("round", timed=timed) as rs:
            rec["span"] = rs
            with tr.span("http_receiver.post"):
                receiver = WebhookReceiver(run.path("spool")).start()
                try:
                    acks = post_open_loop(receiver.port, items, RATE)
                finally:
                    receiver.stop()
            self.received += receiver.n_received
            self.rejected += receiver.n_rejected
            rec["acks"] = acks
            for item, ack in zip(items, acks):
                want = 400 if item["kind"] == "malformed" else 200
                run.op(ack["status"] == want)
            with tr.span("streaming.drain") as ds:
                q = None
                try:
                    q = stream_silver(
                        spark, run.path("spool"), run.path("silver"), run.path("checkpoint")
                    )
                    q.awaitTermination()
                    ok = q.exception() is None
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                run.op(ok)
            with tr.span("jobs.refresh_gold"):
                try:
                    refresh_gold(spark, run.path("silver"), run.path("gold"))
                    ok = True
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                run.op(ok)
        rec["published"] = rs["end"]
        rec["last_ack"] = max(a["acked_at"] for a in acks)
        if tr.enabled and q is not None:
            # every micro-batch of the drain; the last one is the empty
            # closing batch of an availableNow trigger
            ds["progress"] = tr.note(
                lambda: [
                    p if isinstance(p, dict) else json.loads(p.json)
                    for p in q.recentProgress
                ]
            )
        self.rounds.append(rec)

    # -- correctness ----------------------------------------------------------
    def expected(self):
        """Recompute silver ids, the funnel and the agent table in Python
        from what was posted (``plans.gold`` semantics: latest event per
        lead by (round, id), deleted leads dropped, cumulative stages)."""
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.gold import (
            REJECTED,
            STAGE_RANK,
            STAGES,
        )

        valid = {
            item["id"]: (r, item)
            for r, rec in enumerate(self.rounds)
            for item in rec["items"]
            if item["kind"] == "valid"
        }
        deleted = {it["lead"] for _, it in valid.values() if it["event"] == "lead.deleted"}
        latest: dict[int, tuple] = {}
        for eid, (r, it) in valid.items():
            if it["event"] == "lead.deleted" or it["lead"] in deleted:
                continue
            key = (r, eid)
            if it["lead"] not in latest or key > latest[it["lead"]][0]:
                latest[it["lead"]] = (key, it)
        snap = [it for _, it in latest.values()]

        def row(rows):
            ranks = [STAGE_RANK.get(it["step"]) for it in rows]
            return (
                sum((Decimal(str(it["amount"])) for it in rows if it["step"] == "Firmados"), Decimal(0)),
                *[sum(1 for x in ranks if x is not None and x >= i) for i in range(len(STAGES))],
                sum(1 for it in rows if it["step"] == REJECTED),
            )

        funnel = row(snap)[1:]
        agents = {"Total": row(snap)}
        for email in {it["email"] for it in snap}:
            agents[email] = row([it for it in snap if it["email"] == email])
        return set(valid), funnel, agents

    def verify(self) -> None:
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.gold import (
            REJECTED,
            STAGES,
        )

        run, spark = self.run, self.run.spark
        ids, funnel, agents = self.expected()
        silver = [r.id for r in spark.read.parquet(run.path("silver")).select("id").collect()]
        self.silver_rows = len(silver)
        ok_ids = len(silver) == len(set(silver)) and set(silver) == ids
        run.check("silver:ids_equal_unique_whitelisted_posts", ok_ids)
        f = spark.read.parquet(run.path("gold", "funnel")).collect()
        got_funnel = tuple(f[0][s] for s in STAGES + (REJECTED,)) if len(f) == 1 else None
        if run.inject_wrong and got_funnel:
            got_funnel = (got_funnel[0] + 1,) + got_funnel[1:]
        ok_funnel = got_funnel == funnel
        run.check("gold:funnel_equals_recomputation", ok_funnel)
        got_agents = {
            r["asesor"]: (
                Decimal(r["monto_colocado"] or 0).quantize(CENT),
                *[r[s] for s in STAGES],
                r[REJECTED],
            )
            for r in spark.read.parquet(run.path("gold", "agent_table")).collect()
        }
        ok_agents = got_agents == agents
        if not ok_agents:
            for key in sorted(set(got_agents) | set(agents)):
                if got_agents.get(key) != agents.get(key):
                    print(f"# agent_table {key}: gold={got_agents.get(key)} want={agents.get(key)}", file=sys.stderr)
        run.check("gold:agent_table_equals_recomputation", ok_agents)
        malformed = sum(1 for it in self.posted() if it["kind"] == "malformed")
        run.check("webhook:quarantined_equals_malformed_posts", self.rejected == malformed)
        # a wrong table is a failed refresh; a lost or extra id a failed drain
        run.failed += (not ok_ids) + (not ok_funnel) + (not ok_agents)
        run.failed += self.rejected != malformed

    def metrics(self, setup_s: float) -> dict:
        timed = [r for r in self.rounds if r["timed"]]
        return {
            "setup_s": setup_s,
            "cycle_s": median(r["span"]["end"] - r["span"]["start"] for r in timed),
            "latency_p50_s": median(
                r["published"] - a["acked_at"]
                for r in timed
                for item, a in zip(r["items"], r["acks"])
                if item["kind"] == "valid"
            ),
        }


def run(run) -> dict:
    w = Ingest(run)
    run.state = w
    setup_s = w.setup()
    t0 = time.perf_counter()
    n = 0
    while n < MIN_TIMED_ROUNDS or time.perf_counter() - t0 < run.seconds:
        w.one_round(timed=True)
        n += 1
    for rec in w.rounds:
        s = rec["span"]
        print(
            f"# round {rec['round']}: cycle={s['end'] - s['start']:.2f}"
            f" freshness={rec['published'] - rec['last_ack']:.2f}",
            file=sys.stderr,
        )
    w.verify()
    silver = glob.glob(run.path("silver", "**", "*.parquet"), recursive=True)
    w.files = {
        "silver_files": len(silver),
        "silver_bytes": sum(map(os.path.getsize, silver)),
        "gold_files": len(glob.glob(run.path("gold", "**", "*.parquet"), recursive=True)),
    }
    return w.metrics(setup_s)


def layers(run, e2e: dict) -> dict:
    """Per-layer metrics of the timed rounds, medians over rounds."""
    w = run.state
    spans = run.tracer.spans
    attribute_jobs(spans, parse_event_log(run.path("eventlog")))
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    per_round = []
    for rec in w.rounds:
        if not rec["timed"]:
            continue
        kids = {c["name"]: c for c in children.get(rec["span"]["id"], [])}
        drain, refresh = kids["streaming.drain"], kids["jobs.refresh_gold"]
        prog = drain.get("progress") or []
        dur = [p.get("durationMs", {}) for p in prog]
        state = [op for p in prog for op in p.get("stateOperators", [])]
        last_state = (prog[-1].get("stateOperators") or [{}]) if prog else [{}]
        n_in = sum(p.get("numInputRows", 0) for p in prog)
        dropped_dups = sum(
            (op.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0) for op in state
        )
        dj = job_totals(subtree_jobs(spans, drain))
        rj = job_totals(subtree_jobs(spans, refresh))
        acks = [a["ack"] for a in rec["acks"]]
        per_round.append(
            {
                "http_receiver.ack_p50_ms": 1000.0 * median(acks),
                "http_receiver.ack_p95_ms": 1000.0 * percentile(acks, 95),
                "generator.lag_ms": 1000.0 * max(a["lag"] for a in rec["acks"]),
                "streaming.drain_s": drain["end"] - drain["start"],
                "streaming.batches": float(len(prog)),
                "streaming.input_rows": float(n_in),
                "streaming.add_batch_ms": float(sum(d.get("addBatch", 0) for d in dur)),
                "streaming.query_planning_ms": float(sum(d.get("queryPlanning", 0) for d in dur)),
                "streaming.wal_commit_ms": float(sum(d.get("walCommit", 0) for d in dur)),
                "streaming.state_rows": float(sum(op.get("numRowsTotal", 0) for op in last_state)),
                "streaming.state_bytes": float(
                    sum(op.get("memoryUsedBytes", 0) for op in last_state)
                ),
                "streaming.drain_jobs": dj["jobs"],
                "streaming.drain_tasks": dj["tasks"],
                "webhook.deduped": float(dropped_dups),
                "jobs.refresh_s": refresh["end"] - refresh["start"],
                "jobs.refresh_jobs": rj["jobs"],
                "jobs.refresh_tasks": rj["tasks"],
            }
        )
    out = {k: median(m[k] for m in per_round) for k in per_round[0]}
    n_events = max(1, w.silver_rows)
    out.update(
        {
            "http_receiver.received": float(w.received),
            "http_receiver.rejected": float(w.rejected),
            "webhook.quarantined": float(w.rejected),
            "sinks.silver_files": float(w.files["silver_files"]),
            "sinks.silver_bytes_per_event": w.files["silver_bytes"] / n_events,
            "sinks.gold_files": float(w.files["gold_files"]),
            "trace.cycle_s": e2e["cycle_s"],
            "trace.bookkeeping_s": run.tracer.bookkeeping_s / len(w.rounds),
        }
    )
    return out
